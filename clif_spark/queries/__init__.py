"""Query registry: every SURVEY §2 operator (and each north-star extension)
exposed as a named (Spark callable, DuckDB oracle SQL) pair for the driver's
differential correctness gate (__spark_entry__.py contract).

Determinism discipline (why results hash-match the oracle bit-for-bit):
- Sums of doubles are order-dependent under parallel aggregation, so every
  money/measure sum goes through ``dsum``: fixed-point accumulation in
  integer micros (associative, order-independent, native 64-bit speed),
  final rounding done in integer space so both engines emit identical bits.
- Timestamps are returned as epoch microseconds (bigint) or formatted
  strings — never raw timestamp objects — because both engines floor
  identically to micros (io.py notes the nanos story).
- Integer-ish outputs are cast to bigint on the Spark side (Spark's
  year()/size()/rank() return 32-bit ints; DuckDB's return BIGINT).
- Every window orderBy carries a unique tiebreaker column (SURVEY §7.4.1).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # included in bench.py
    # DuckDB SQL bench.py times as the reference side when ``oracle`` is
    # None — for a headliner whose CORRECTNESS artifact is a contract
    # twin (rows-only path) but whose logical query still has a
    # like-for-like SQL formulation to race. Never used by the gate.
    bench_ref_sql: str | None = None


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None, headline: bool = False,
          bench_ref_sql: str | None = None):
    """Register an engine query. ``oracle`` is ANSI SQL for DuckDB over the
    driver-registered views; None marks a rows-only check (non-SQL ops)."""

    def deco(fn):
        REGISTRY[name] = QueryDef(name, fn, oracle, headline, bench_ref_sql)
        return fn

    return deco


# --- deterministic numeric helpers (Spark side) -----------------------------
#
# Money/measure sums must be order-independent (parallel partial aggregation
# reorders float additions) and must hash-match the DuckDB oracle bit-for-bit.
# Strategy: fixed-point accumulation in integer micros — round each value to
# 6 decimal places as a BIGINT (floor(x*1e6 + 0.5), identical IEEE ops in both
# engines), sum natively (64-bit adds, associative), then final-round in
# *integer space* so no cross-engine double-rounding tie can flip a digit.
#
# Why not DECIMAL: Spark's Decimal with precision > 18 leaves the compact-long
# representation and allocates a JVM BigDecimal per row per aggregate —
# measured 2.0 s vs 0.45 s for TPC-H Q1's seven aggregates at sf0.1. DuckDB
# sums int64 natively either way; fixed-point keeps both engines on their
# fast paths *and* bit-identical.
#
# Domain bound (documented, checked nowhere): per-group Σ|x| must stay below
# 2^63/1e6 ≈ 9.2e12. TPC-H revenue sums reach ~1e15 only past SF ~10k per
# group; for such domains use dsum_exact (decimal accumulation, ~2.5× slower).

_MICROS = 1_000_000


def _micros_sum(col: Column) -> Column:
    return F.sum(F.floor(col * F.lit(float(_MICROS)) + F.lit(0.5)).cast("long"))


def _digit_round(micros: Column, scale: int) -> Column:
    """Half-up rounding of an integer-micros value to ``scale`` decimals,
    returned as double. All ops (long→double convert, divide, floor) are IEEE
    and produce identical bits in Spark and DuckDB."""
    if scale >= 6:
        return (micros / F.lit(float(_MICROS))).cast("double")
    q = 10 ** (6 - scale)
    return (F.floor((micros + F.lit(q // 2)) / F.lit(float(q)))
            / F.lit(float(10 ** scale))).cast("double")


def dsum(col: Column | str, scale: int = 2,
         checked: bool = False) -> Column:
    """Order-independent sum of a double column via integer-micros fixed
    point; see module comment for determinism + domain-bound rationale.

    Loss characteristics (both deliberate; the second is checkable):
    - values are quantized to 1e-6 per ROW before summing — a value with
      |x| < 0.5e-6 contributes exactly zero (acceptable for money/measure
      domains; not for accumulating physical micro-quantities);
    - the accumulator is a plain BIGINT: per-group Σ|x| beyond ~9.2e12
      wraps silently under Spark's non-ANSI SUM (DuckDB's promotes to
      HUGEINT, so the oracle gate catches it in tested domains).
      tests/test_properties.py pins dsum == dsum_exact at the largest
      shipped SF.

    ``checked=True`` is the LIBRARY-CALLER mode: the micros accumulate in
    DECIMAL(38,0) (exact at any realistic cardinality) and an
    ``assert_true`` guard raises a loud runtime error if the total
    exceeds the BIGINT range the unchecked path would silently wrap in —
    a wrong answer becomes a failed job. Identical results to the
    unchecked path inside the domain (same per-row quantization, same
    rounding); ~dsum_exact's cost outside codegen'd long arithmetic.
    Oracle-gated queries keep the unchecked fast path (their domains are
    property-pinned; the gate's HUGEINT promotion covers them)."""
    col = F.col(col) if isinstance(col, str) else col
    if not checked:
        return _digit_round(_micros_sum(col), scale)
    micros_dec = F.sum(
        F.floor(col * F.lit(float(_MICROS)) + F.lit(0.5))
         .cast("decimal(38,0)"))
    bound = F.lit(2 ** 63 - 1).cast("decimal(38,0)")
    guard = F.assert_true(
        micros_dec.isNull() | (F.abs(micros_dec) <= bound),
        F.lit("dsum(checked=True): |sum of integer micros| exceeds the "
              "BIGINT accumulator range (~9.2e12 in value terms); the "
              "unchecked path would wrap silently — use dsum_exact for "
              "this domain"))
    # when() forces the guard's evaluation before the cast is served;
    # guard is NULL whenever the assertion passes
    return _digit_round(
        F.when(guard.isNull(), micros_dec.cast("long")), scale)


def dmean(col: Column | str, scale: int = 6) -> Column:
    """Order-independent mean: micros sum / count, half-up to ``scale``."""
    col = F.col(col) if isinstance(col, str) else col
    mean_micros = F.floor(_micros_sum(col) / F.count(col) + F.lit(0.5))
    return _digit_round(mean_micros, scale)


def dsum_exact(col: Column | str, scale: int = 2) -> Column:
    """Decimal-accumulation variant for domains exceeding dsum's ~9.2e12
    per-group bound (exact to 6dp over any realistic cardinality; ~2.5×
    slower — BigDecimal per row once precision exceeds 18)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(col.cast("decimal(30,6)")).cast("double"), scale)


def _sql_micros_sum(expr: str) -> str:
    return f"SUM(CAST(FLOOR(({expr}) * 1000000.0 + 0.5) AS BIGINT))"


def _sql_digit_round(micros: str, scale: int) -> str:
    if scale >= 6:
        return f"CAST(({micros}) / 1000000.0 AS DOUBLE)"
    q = 10 ** (6 - scale)
    return (f"CAST(FLOOR((({micros}) + {q // 2}) / {float(q)})"
            f" / {float(10 ** scale)} AS DOUBLE)")


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB mirror of dsum (same fixed-point arithmetic, term for term)."""
    return _sql_digit_round(_sql_micros_sum(expr), scale)


def sql_dmean(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of dmean."""
    mean_micros = f"FLOOR({_sql_micros_sum(expr)} / COUNT({expr}) + 0.5)"
    return _sql_digit_round(mean_micros, scale)


def pq(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Resolved table reference for one-shot Spark SQL queries.

    Headline (benched) queries are issued as a single ``spark.sql`` call:
    the logical/physical plan is identical to the DataFrame composition, but
    plan *construction* happens entirely JVM-side in one round trip. The
    DataFrame API builds one py4j call per expression — measured ~1 s of
    pure driver chatter for TPC-H Q1's ~50 expressions, triple the query's
    actual execution time at sf0.1.

    The reference is a per-(sf_dir, table) temp view, registered once per
    session, rather than a ``parquet.`path``` literal: path references
    re-resolve the parquet footer schema during analysis of EVERY freshly
    built plan (~0.2-0.4 s for a 6-table join), while a temp view keeps the
    resolved relation in the catalog — the same setup the DuckDB oracle gets
    (the driver pre-registers its tables as views). Catalog state is
    metadata only; scans still re-read the files each execution. The view
    is registered on the caller's ``spark``, the session that runs the
    SQL, whenever that session's catalog lacks it: temp views are per
    session (one on any other session is invisible to it), and a view
    the caller dropped is registered again."""
    safe = "".join(c if c.isalnum() else "_" for c in f"{sf_dir}_{table}")
    name = f"tv_{safe}"
    if not spark.catalog.tableExists(name):
        spark.read.parquet(f"{sf_dir}/{table}.parquet") \
             .createOrReplaceTempView(name)
    return name


def narrow_width(spark: SparkSession) -> int:
    """Partition width for CPU-heavy *narrow* work (shingling, hashing,
    per-doc regex): ``min(defaultParallelism, spark.sql.shuffle.partitions)``.

    Rationale: shuffle.partitions is the session owner's data-sized
    parallelism declaration (bench sizes it to input bytes; production sizes
    it to the cluster), while defaultParallelism is the raw core count. A
    repartition wider than the declared width buys no throughput on small
    inputs and pays real scheduler cost — measured on this host, an empty
    32-task stage costs ~400 ms wall while an 8-task one costs ~100 ms; at
    cluster scale the min() keeps narrow work at core-count width, since
    shuffle.partitions is sized >= cores there."""
    return min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )


def us(col: Column | str) -> Column:
    """Timestamp -> epoch microseconds (bigint); DuckDB mirror is epoch_us().

    The cast makes this total over both timestamp flavors: parquet wall-clock
    timestamps (isAdjustedToUTC=false) arrive as TIMESTAMP_NTZ, which
    ``unix_micros`` rejects. Under the session's pinned UTC timezone
    (session.py) the NTZ->LTZ cast reinterprets the same wall-clock instant,
    so the result equals DuckDB's epoch_us() bit for bit; for LTZ inputs the
    cast is a no-op."""
    col = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(col.cast("timestamp"))


# The driver's correctness gate verifies the first 50 registry entries
# per round, and every round writes its rows to CORRECTNESS_r<N>.json
# beside the package. The head is computed from that ledger; the only
# hand-kept input is _REGATE: queries whose execution path or oracle
# text changed since their latest green row. Empty it once a green row
# for them lands.
_REGATE = [
    # strongly_connected_components lost its unused trim-probe branch
    # and fused its two colorings; its fixture reads the links once
    "web_host_scc", "web_bowtie_classes",
    # triangle_counts' broadcast gate moved to core.fits_broadcast
    "web_cocitation_triangles",
    # operators.graph: convergence certificates ride the checkpoint
    # jobs (observe), CC reads its edges once, PageRank/HITS hoist
    # their out-degree/weight totals and node relation; the four
    # PageRank forms are one pagerank, and HITS lost its unused
    # periodic-checkpoint branch
    "web_host_components", "web_host_kcore",
    "web_crawl_depth", "web_crawl_frontier", "web_host_hits",
    "web_hits_warm_start", "web_host_pagerank",
    "web_pagerank_personalized", "web_pagerank_warm_start",
    "web_pagerank_weighted", "web_pagerank_weighted_warm",
    "web_pagerank_weighted_personalized", "web_mirror_sets",
    "web_mirror_sets_incremental", "dedup_entity_clusters",
    "dedup_entity_persisted", "dedup_entity_store_takedown",
    "dedup_entity_store_compacted", "dedup_entity_incremental",
    "stream_er_maintain",
    # dedup.connected_components retired for the graph operator
    "dedup_clusters", "dedup_semantic_contract",
    # the planted web inputs are one SQL text read by both engines and
    # functions.url builds SQL text (every web.py row and the two
    # streaming rows that reuse its fixtures)
    "io_warc_roundtrip", "text_html_extract", "text_url_canonicalize",
    "pipeline_web_ingest", "stream_web_ingest", "web_host_stats",
    "web_robots_filter", "web_robots_parse", "web_robots_wildcards",
    "web_sitemap_parse", "web_sitemap_index", "web_robots_agent_fallback",
    "web_robots_crawl_delay", "warc_record_pairing", "web_link_graph",
    "web_anchor_text", "web_host_bm25f", "web_bm25f_incremental",
    "web_bm25f_takedown", "web_bm25f_compacted", "web_registered_domain",
    "pipeline_crawl_corpus", "stream_crawl_corpus", "pipeline_wet_export",
    "pipeline_wat_export", "web_cdx_index", "web_cdx_point_lookup",
    "web_cdx_member_contract", "web_robots_sitemap_discovery",
    "text_main_content", "web_cdx_revisit", "web_warc_revisit_roundtrip",
    "web_recrawl_plan", "stream_cdx_maintain", "stream_bm25f_maintain",
    # every lineage cut goes through core.materialize; loops release
    "ann_ivf_trained_recall_bound", "curation_dsir_importance",
    "dedup_image_phash_incremental", "dedup_image_store_takedown",
    "dedup_incremental_persisted", "dedup_prefix_filter_join",
    "dedup_semantic_incremental", "dedup_store_takedown",
    "mm_video_h264_skip", "o5_global_sorted_index",
    "semantic_store_drift_recall", "semantic_store_rebuild_contract",
    "semantic_store_takedown", "stream_image_sig_maintain",
    "stream_incremental_dedup", "stream_partitioned_upsert",
    "stream_semantic_maintain", "text_bpe_roundtrip",
    "u11_partitioned_upsert",
    # dedup.minhash_near_dups lost its unused option and verify path
    "dedup_minhash_recall_bound", "pipeline_llm_curation",
]
VERIFY_HEAD_SIZE = 50
_LEDGER_DIR = Path(__file__).resolve().parents[2]
_LEDGER_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")


def latest_green_rounds(ledger_dir: Path = _LEDGER_DIR) -> dict[str, int]:
    """Round of each query's latest green CORRECTNESS row: rows, schema
    and hash all match and ``err`` is null."""
    latest: dict[str, int] = {}
    for path in ledger_dir.iterdir():
        m = _LEDGER_NAME.fullmatch(path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            green = (row["rows_match"] and row["schema_match"]
                     and row["hash_match"] and row["err"] is None)
            if green and rnd > latest.get(name, 0):
                latest[name] = rnd
    return latest


def verify_head(registry: dict[str, QueryDef], latest_green: dict[str, int],
                regate: list[str]) -> list[str]:
    """The driver's verify head: ``regate`` names first, then the other
    oracle-gated queries by the round of their latest green row, oldest
    first (never green counts as round 0; ties keep registry order),
    cut at VERIFY_HEAD_SIZE with the multi-second ``stream_*`` startups
    moved to its tail. Rows-only queries (no oracle) never enter: the
    gate can only record 'no_oracle' for them."""
    gated = [n for n, q in registry.items() if q.oracle is not None]
    lead = [n for n in regate if n in gated]
    rest = sorted((n for n in gated if n not in lead),
                  key=lambda n: latest_green.get(n, 0))
    head = (lead + rest)[:VERIFY_HEAD_SIZE]
    return ([n for n in head if not n.startswith("stream_")]
            + [n for n in head if n.startswith("stream_")])


def collect_registry() -> dict[str, QueryDef]:
    """Import all query modules and return the populated registry with
    the driver's verify head (``verify_head`` over the CORRECTNESS
    ledger) first and everything else after it in registration order."""
    from clif_spark.queries import (  # noqa: F401
        curation,
        llm,
        pipelines,
        relational,
        scalars,
        stats,
        streaming,
        temporal,
        tpch,
        web,
        windows,
    )

    head = verify_head(REGISTRY, latest_green_rounds(), _REGATE)
    return {n: REGISTRY[n] for n in head + list(REGISTRY)}
