"""core.materialize: the engine's one lineage cut. Every eager
materialization goes through it (so the reliable-mode conf reaches them
all), and fixpoint loops release the generation a round replaces."""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import tempfile

from test_oracle import SF_DIR

import __spark_entry__ as entry_mod
from clif_spark.operators import core
from clif_spark.operators import graph as G

_PKG = pathlib.Path(core.__file__).resolve().parents[1]


def test_no_lineage_cut_bypasses_materialize():
    """``localCheckpoint(``/``.checkpoint(`` appear in the package only
    inside operators/core.py: a raw call elsewhere would ignore
    ``CHECKPOINT_DIR_CONF`` and never be released."""
    raw = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    home = _PKG / "operators" / "core.py"
    hits = [f"{p.relative_to(_PKG)}:{i}"
            for p in sorted(_PKG.rglob("*.py")) if p != home
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if raw.search(line)]
    assert hits == []


def test_reliable_mode_reaches_query_cuts_outside_graph(spark):
    """With ``CHECKPOINT_DIR_CONF`` set, a registry query whose only
    cut is outside operators/graph (web_robots_parse: the robots-body
    relation) writes reliable checkpoints under the directory and
    returns the rows of a local-mode run."""
    q = entry_mod.queries()["web_robots_parse"]
    base = sorted(map(tuple, q(spark, SF_DIR).collect()))
    cdir = tempfile.mkdtemp(prefix="clif_query_ckpt_")
    spark.conf.set(core.CHECKPOINT_DIR_CONF, cdir)
    try:
        got = sorted(map(tuple, q(spark, SF_DIR).collect()))
        written = [f for _, _, files in os.walk(cdir) for f in files]
    finally:
        spark.conf.unset(core.CHECKPOINT_DIR_CONF)
        shutil.rmtree(cdir, ignore_errors=True)
    assert written, "no checkpoint data written"
    assert got == base


def test_pagerank_reliable_generations_do_not_grow_with_iterations(spark):
    """In reliable mode each rank round deletes the directory of the
    round it replaced: 3 and 6 iterations leave the same number of
    checkpoint directories (edges, nodes and the final ranks)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a")],
        "src string, dst string")

    def dirs_left(iterations):
        cdir = tempfile.mkdtemp(prefix="clif_rank_ckpt_")
        spark.conf.set(core.CHECKPOINT_DIR_CONF, cdir)
        try:
            G.pagerank(edges, iterations=iterations).collect()
            return sum(len(dirs) for _, dirs, _ in os.walk(cdir))
        finally:
            spark.conf.unset(core.CHECKPOINT_DIR_CONF)
            shutil.rmtree(cdir, ignore_errors=True)

    assert dirs_left(3) == dirs_left(6)


def test_connected_components_local_generations_do_not_grow(spark,
                                                            monkeypatch):
    """In local mode each label round unpersists the round it replaced:
    a 6-chain and a 12-chain (twice the rounds) leave the same number of
    persisted RDDs — the undirected edges and the final labels. Every
    materialization is held here, so only an explicit release (not the
    context cleaner's garbage collection) can drop one."""
    made, real = [], core.materialize

    def spy(df):
        made.append(real(df))
        return made[-1]

    monkeypatch.setattr(core, "materialize", spy)
    monkeypatch.setattr(G, "materialize", spy)
    sc = spark.sparkContext

    def persisted_after(n):
        made.clear()
        chain = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                      "src long, dst long")
        _, rounds = G.connected_components(chain, return_rounds=True)
        assert rounds >= n
        cached = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        return sum(m._jdf.queryExecution().analyzed().rdd().id() in cached
                   for m in made)

    assert persisted_after(6) == persisted_after(12) == 2
