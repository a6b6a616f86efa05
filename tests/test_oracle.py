"""Differential oracle harness — a local replica of the driver's correctness
gate: run every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compare row count, column names, and
order-insensitive values.

Representation fidelity (the r5 lesson): the driver hashes both sides after
a *pandas* materialization, so a DuckDB HUGEINT (int128, the type of a bare
integer SUM) coerces to float64 and hashes as ``3.0`` against Spark's ``3``
— rows and schema green, hash red. The r3 q18 fix pinned one instance; r5
grew four more (a17/a18/w13/dedup_repeated_ngrams). This harness therefore
(a) materializes BOTH sides through pandas (``toPandas()`` / ``.df()``) and
normalizes them with one shared function, so any representation drift the
driver would flag also fails here, and (b) carries a registry-wide DESCRIBE
gate banning HUGEINT/UHUGEINT from every oracle's output schema — the
class, not the instance.

Runs at sf0.001 for speed (the driver gate runs sf0.01; set
CLIF_TEST_SF_DIR to point elsewhere).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("CLIF_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _norm(v):
    """Canonical string for one cell AFTER pandas materialization.

    Both sides pass through pandas first, so the job here is only to make
    equal pandas values compare equal (numpy scalars vs Python scalars,
    list vs ndarray) while PRESERVING the int-vs-float distinction — that
    distinction is exactly the HUGEINT artifact the driver's hash catches,
    and collapsing it would blind the local gate again.
    """
    if v is None:
        return "\x00NULL"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{bool(v)}"
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            # NaN and NULL are ONE class, like the driver: pandas
            # materialization already conflates them asymmetrically
            # (DuckDB .df() renders a NULL BOOLEAN as NaN in an object
            # column where Spark keeps None — pipeline_resp_support,
            # driver-green in r5), so distinguishing them here would fail
            # queries the driver passes.
            return "\x00NULL"
        # But keep the float marker: int 402 vs float 402.0 must NOT
        # collide, or the local gate misses oracle type artifacts (DuckDB
        # HUGEINT → float64 through pandas) that the driver's hash catches
        # (a17/a18/w13/ngrams went red in r5 on exactly this).
        return f"f:{v:.10g}"
    if isinstance(v, np.integer):
        return str(int(v))
    try:
        if v != v:  # pandas NaT (scalar NaN-like); arrays handled above
            return "\x00NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _pdf_rowset(pdf):
    """Order-insensitive canonical form of a pandas frame: sort columns by
    name (the driver's compare does the same), then rows."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted(
        tuple(_norm(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns


def test_no_hugeint_in_any_oracle_schema(duck):
    """Class-wide gate for the q18/a17/a18/w13/ngrams bug family: DuckDB
    types a bare integer SUM as HUGEINT (int128), which pandas renders as
    float64 and the driver's hash then rejects against Spark's int64. No
    oracle may emit HUGEINT/UHUGEINT anywhere in its output schema —
    wrap the offending aggregate in CAST(... AS BIGINT)."""
    offenders = {}
    for name, sql in sorted(ORACLES.items()):
        desc = duck.execute(f"DESCRIBE {sql}").fetchall()
        bad = [(col, typ) for col, typ, *_ in desc
               if "HUGEINT" in typ.upper()]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle output schemas contain HUGEINT — add CAST(... AS BIGINT): "
        f"{offenders}")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    # shared session-wide build (conftest, r18): the plan-regression
    # suite reads the SAME DataFrame's plan instead of re-executing
    # every lifecycle query a second time
    from conftest import build_query_cached

    sdf = build_query_cached(spark, name)
    spdf = sdf.toPandas()
    scols = list(sdf.columns)
    if name not in ORACLES:
        assert len(spdf) >= 0  # rows-only check, mirroring the driver
        return
    dpdf = duck.execute(ORACLES[name]).df()
    dcols = list(dpdf.columns)
    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch spark={scols} duck={dcols}")
    assert len(spdf) == len(dpdf), (
        f"{name}: row count spark={len(spdf)} duck={len(dpdf)}")
    sset, dset = _pdf_rowset(spdf), _pdf_rowset(dpdf)
    mismatches = [(a, b) for a, b in zip(sset, dset) if a != b]
    assert not mismatches, f"{name}: first diffs {mismatches[:3]}"


def test_q3_preagg_shape_matches_oracle(spark, duck, monkeypatch):
    """The driver only ever gates q3's small-orders (broadcast star) shape;
    the fact-sized shape — revenue pre-aggregated by l_orderkey below a
    shuffle join — must face the same oracle here. Forcing the gate's
    statistic makes the pre-agg shape run at test SF."""
    real_getsize = os.path.getsize
    monkeypatch.setattr(
        "clif_spark.queries.tpch.os.path.getsize",
        lambda p: (99 << 30) if p.endswith("orders.parquet")
        else real_getsize(p))
    name = "q3_shipping_priority"
    sdf = QUERIES[name](spark, SF_DIR)
    plan = sdf._jdf.queryExecution().optimizedPlan().toString()
    assert "rev_micros" in plan  # precondition: gate really switched shapes
    spdf = sdf.toPandas()
    dpdf = duck.execute(ORACLES[name]).df()
    assert sorted(spdf.columns) == sorted(dpdf.columns)
    assert len(spdf) == len(dpdf)
    assert _pdf_rowset(spdf) == _pdf_rowset(dpdf)


def test_verify_head_hygiene():
    """Rotation-policy regression gate (VERDICT r8 items 2 + 8): the
    driver verifies the first 50 registry entries per round, so the
    computed head must (a) be exactly 50 names, (b) reference only real
    registry entries, (c) contain no duplicates, and (d) contain NO
    rows-only queries (oracle is None): the gate can only record 'err:
    no_oracle' for those, wasting the slot; their driver-hashed contract
    twins are the gateable artifact and rotate in their place. Every
    hand-kept re-gate name must be a real oracle-gated query — a typo
    would silently drop a re-gate."""
    from clif_spark.queries import (_REGATE, collect_registry,
                                    latest_green_rounds, verify_head)

    reg = collect_registry()
    head = verify_head(reg, latest_green_rounds(), _REGATE)
    assert len(head) == 50
    assert len(set(head)) == len(head)
    missing = [n for n in head if n not in reg]
    assert not missing, f"head names not in registry: {missing}"
    rows_only = [n for n in head if reg[n].oracle is None]
    assert not rows_only, f"rows-only queries in the gate head: {rows_only}"
    bad_regate = [n for n in _REGATE
                  if n not in reg or reg[n].oracle is None]
    assert not bad_regate, f"re-gates without an oracle row: {bad_regate}"
    # and the head genuinely leads the registry iteration order the
    # driver consumes
    assert list(reg)[:50] == head


def _stub_registry(names, rows_only=()):
    from clif_spark.queries import QueryDef

    return {n: QueryDef(n, None, None if n in rows_only else "SELECT 1")
            for n in names}


def test_verify_head_ordering():
    """verify_head's rule on a hand-built registry, no Spark: re-gates
    lead in list order; the rest go oldest latest-green round first
    (never green = round 0) with ties in registry order; rows-only
    queries never enter; the cut is 50 names with its streams moved to
    the tail; no ledger at all gives registry order."""
    from clif_spark.queries import verify_head

    names = ([f"b{i:02d}" for i in range(60)]
             + ["stream_x", "rows_only", "stream_y", "fresh", "never"])
    reg = _stub_registry(names, rows_only={"rows_only"})
    green = {n: 12 for n in names}
    green.update({"b05": 11, "b07": 11, "stream_y": 11, "fresh": 18})
    del green["never"]
    head = verify_head(reg, green, ["fresh", "b30"])

    assert len(head) == 50
    assert head[:2] == ["fresh", "b30"]
    assert head[2:5] == ["never", "b05", "b07"]
    # the round-12 ties follow in registry order
    assert head[5:10] == ["b00", "b01", "b02", "b03", "b04"]
    assert "rows_only" not in head
    assert head[-1] == "stream_y"
    assert not any(n.startswith("stream_") for n in head[:-1])
    assert "stream_x" not in head  # round 12, past the cut

    # streams inside the cut keep their relative order at its tail
    reg = _stub_registry(["stream_b", "a", "stream_a", "b"])
    assert verify_head(reg, {}, []) == ["a", "b", "stream_b", "stream_a"]

    # empty ledger: registry order (rows-only still excluded)
    reg = _stub_registry(names, rows_only={"rows_only"})
    assert verify_head(reg, {}, []) == names[:50]


def test_latest_green_rounds_reads_only_green_ledger_rows(tmp_path):
    """A green row has rows, schema and hash matching and no err; a
    later red row does not erase an earlier green one; files that are
    not CORRECTNESS_r<N>.json are ignored; no ledger at all is {}."""
    import json

    from clif_spark.queries import latest_green_rounds

    def row(ok, err=None):
        return {"rows_match": ok, "schema_match": ok, "hash_match": ok,
                "spark_rows": 1, "oracle_rows": 1, "err": err}

    assert latest_green_rounds(tmp_path) == {}
    ledger = {"CORRECTNESS_r03.json": {"a": row(True), "b": row(True)},
              "CORRECTNESS_r11.json": {"a": row(False), "b": row(True),
                                       "c": row(None, "no_oracle")},
              "CORRECTNESS_r99.json.bak": {"a": row(True)}}
    for fname, rows in ledger.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    assert latest_green_rounds(tmp_path) == {"a": 3, "b": 11}


def test_query_df_cache_keeps_only_the_live_session(spark, monkeypatch):
    """The shared test build cache belongs to one session: a build
    through a second session object drops the first session's entries
    instead of keeping both (an id(spark) key kept them, and could
    serve them to a new session that reused the id)."""
    import conftest

    monkeypatch.setattr(conftest, "_QUERY_DF_CACHE", {})
    monkeypatch.setattr(conftest, "_QUERY_DF_OWNER", None, raising=False)
    other = spark.newSession()
    name = "p1_p3_project_rename"
    conftest.build_query_cached(spark, name)
    conftest.build_query_cached(other, name)
    cached = [df for df, _ in conftest._QUERY_DF_CACHE.values()]
    assert len(cached) == 1
    assert cached[0].sparkSession is other


def test_registry_query_keeps_the_callers_session_confs(spark):
    """A registered query builds on the caller's session as it is: the
    engine confs are applied where a session is built or handed in, never
    per query, so a conf the caller set (bench.py's AQE-off below 1 GB)
    survives the build."""
    from clif_spark.queries import REGISTRY

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        REGISTRY["q1_pricing_summary"].fn(spark, SF_DIR)
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)


def test_driver_adapter_configures_a_foreign_session(spark):
    """The driver hands in its own default-conf session (ANSI on, no
    nanosAsLong). ``__spark_entry__.queries()`` applies the engine confs
    to it, and the query's ``pq`` views are registered on that session,
    not on whichever session is active — so a second session object
    gets the same result as the fixture session."""
    from conftest import build_query_cached

    name = "pipeline_vitals"
    other = spark.newSession()
    other.conf.set("spark.sql.ansi.enabled", "true")
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    got = _pdf_rowset(QUERIES[name](other, SF_DIR).toPandas())
    want = _pdf_rowset(build_query_cached(spark, name).toPandas())
    assert got == want
    assert other.conf.get("spark.sql.ansi.enabled") == "false"


def test_pq_query_rebuilds_after_its_view_is_dropped(spark):
    """``pq`` asks the caller's session catalog whether its view exists
    instead of remembering registrations in a process-wide table: after
    the caller drops the view, rebuilding a ``pq`` query registers it
    again rather than handing back a name the session no longer knows
    (TABLE_OR_VIEW_NOT_FOUND)."""
    from clif_spark.queries import REGISTRY, pq

    name = "pipeline_vitals"
    other = spark.newSession()
    want = _pdf_rowset(REGISTRY[name].fn(other, SF_DIR).toPandas())
    other.catalog.dropTempView(pq(other, SF_DIR, "events"))
    got = _pdf_rowset(REGISTRY[name].fn(other, SF_DIR).toPandas())
    assert got == want
