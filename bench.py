"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end (plan + execute + collect). A small warm-up
query first absorbs one-time JVM/codegen startup so per-query numbers
reflect steady-state execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clif_spark.queries import collect_registry
from clif_spark.session import build_session


def main() -> None:
    import re

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = m.group(1) if m else "0"
    registry = collect_registry()
    headliners = [q for q in registry.values() if q.headline]

    # Size shuffle parallelism by the input, not the core count: at bench
    # scale (~10 MB lineitem) 32 reducers per stage is pure task-scheduling
    # overhead (measured 2x total slowdown vs 8). Production clusters size
    # this by data volume (AQE coalescing handles the rest); the same rule
    # applied here picks ~8 for sf0.1.
    table_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    parts = max(2, min(cpus, table_bytes // (2 << 20)))
    # Local-microbench I/O confs, applied ONLY here (session.py keeps the
    # production defaults): with the whole working set in page cache and
    # shuffles of a few MB, lz4 compression and locality waits are pure
    # latency — measured ~0.5 s across the 10 headliners at sf0.1. At
    # cluster scale compression is network-bound-win and stays on.
    local_io_confs = {
        "spark.shuffle.compress": "false",
        "spark.shuffle.spill.compress": "false",
        "spark.rdd.compress": "false",
        "spark.broadcast.compress": "false",
        "spark.locality.wait": "0",
    }
    # Scan-split sizing (r13 A/B): the biggest scan should saturate the
    # cores. With the 128 MiB default a 1.5 GB lineitem leg scans as
    # ~12 tasks on 32 cores — measured 13% off q5 (6.19 -> 5.36 s) and
    # q3 (3.42 -> 2.97 s) at sf10, no harm at sf0.1. Sized by the
    # largest table / cores, clamped to [16 MiB, 128 MiB]; production
    # keeps the 128 MiB default (a 1000-executor cluster has the
    # parallelism without smaller splits).
    biggest = max(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    local_io_confs["spark.sql.files.maxPartitionBytes"] = str(
        min(128 << 20, max(16 << 20, biggest // cpus)))
    if table_bytes < (1 << 30):
        # AQE's job is runtime re-planning of *large* shuffles (skew splits,
        # partition coalescing). Below ~1 GB of input with shuffle
        # parallelism already sized to the data and broadcasts hinted, its
        # stage-by-stage materialization only adds latency. Production
        # scale keeps it on (session.py default); the session conf set
        # here holds for every query, which never re-apply engine confs.
        local_io_confs["spark.sql.adaptive.enabled"] = "false"
    spark = build_session(app_name="clif-spark-bench",
                          shuffle_partitions=parts,
                          extra_confs=local_io_confs)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM classloading + JIT for the physical operators the
    # headliners use (shuffle, hash-agg, window, broadcast join, explode,
    # hash functions) so per-query numbers reflect steady-state execution.
    warm = spark.range(10000).selectExpr(
        "id", "md5(cast(id as string)) AS h", "id % 7 AS k")
    warm.groupBy("k").count().collect()
    warm.selectExpr("*", "row_number() OVER (PARTITION BY k ORDER BY h) AS rn") \
        .join(spark.range(7).selectExpr("id AS k"), "k").collect()
    spark.range(100).selectExpr(
        "explode(sequence(1, 10)) AS e").distinct().collect()

    # Steady-state protocol: EIGHT untimed warm rounds over the FULL
    # headliner set — C2 keeps compiling shared operator code across the
    # whole suite. Four rounds sufficed for the r6-era suite (per-round
    # totals in a fresh JVM: 14.4, 5.5, 5.6, 5.9, 4.6 s), but q1's
    # seven-aggregate fused codegen loop measured a LONGER plateau on
    # the r11 suite (solo warm-curve min-of-30: 0.857 -> 0.296 s,
    # plateauing near rep ~20; the r10/r11 q1 'regression' flagged in
    # VERDICT was exactly this warm-phase shortfall, not a plan change —
    # same floor re-measured on unchanged tpch.py code in a SLOW calib
    # phase). Eight suite rounds x 11 queries lands every headliner past
    # its plateau. Then per query time three fresh executions of freshly
    # built plans — no DataFrame reuse, so planning, shuffles and scans
    # all re-run — and report the min (the standard noise-rejecting
    # estimator; this host's CPU is visibly bimodal ±40% under
    # virtualization).
    for _ in range(8):
        for q in headliners:
            q.fn(spark, sf_dir).collect()
    # Timed reps are INTERLEAVED (3 full passes over the suite, min per
    # query across passes) rather than 3 consecutive runs per query: this
    # host's slow-CPU phases last minutes, so consecutive reps all land in
    # the same phase while pass-interleaving gives each query three shots
    # spread across the whole measurement window — same work, strictly
    # better min-estimator under phase noise.
    best: dict[str, float] = {q.name: float("inf") for q in headliners}
    for _ in range(3):
        for q in headliners:
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).collect()
            best[q.name] = min(best[q.name], time.perf_counter() - t0)
    timings = {name: round(v, 3) for name, v in best.items()}

    total = round(sum(timings.values()), 3)

    # DuckDB reference side, run in the SAME process right after the Spark
    # reps: every recorded bench is a same-phase ratio by construction (this
    # host's CPU is bimodal with minutes-long phases — BASELINE.md — so
    # totals recorded in different runs are not comparable, but a ratio
    # taken seconds apart is). Protocol mirrors the Spark side: one warm
    # pass, then 3 interleaved timed passes, min per query.
    duck = {}
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(f"PRAGMA threads={cpus}")
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                t = f[:-len(".parquet")]
                path = os.path.join(sf_dir, f)
                if os.path.isdir(path):  # multi-executor part-file layout
                    path = os.path.join(path, "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{path}')")
        # reference SQL: the gate oracle, or (for a rows-only headliner
        # whose correctness artifact is a contract twin) the explicit
        # like-for-like bench_ref_sql — e.g. the Arrow ANN path races
        # the same DuckDB query its fold twin is gated on
        ref_sql = {q.name: (q.oracle or q.bench_ref_sql)
                   for q in headliners if q.oracle or q.bench_ref_sql}

        # WATCHDOG: the iterative-fixpoint headliner's reference is a
        # recursive CTE that DNFs at scale (web_host_components: DuckDB
        # loses 14-17x at sf1 and never returns at sf10) — a reference
        # query gets this budget, then is interrupted and recorded in
        # duckdb_dnf instead of hanging the whole bench.
        import threading

        def timed_ref(sql, budget_s=60.0):
            timer = threading.Timer(budget_s, con.interrupt)
            timer.start()
            t0 = time.perf_counter()
            try:
                con.execute(sql).fetchall()
                return time.perf_counter() - t0
            except Exception:  # duckdb.InterruptException on timeout
                return None
            finally:
                timer.cancel()

        dnf = [name for name, sql in ref_sql.items()
               if timed_ref(sql) is None]  # warm pass doubles as probe
        duck = {name: float("inf") for name in ref_sql
                if name not in dnf}
        for _ in range(3):
            for name, sql in ref_sql.items():
                if name in dnf:
                    continue
                t = timed_ref(sql)
                if t is None:
                    dnf.append(name)
                    duck.pop(name, None)
                else:
                    duck[name] = min(duck[name], t)
        duck = {name: round(v, 3) for name, v in duck.items()}
    except Exception as exc:  # reference side must never fail the bench
        print(f"duckdb reference side skipped: {exc}", file=sys.stderr)
        duck, dnf = {}, []
    duckdb_total = round(sum(duck.values()), 3) if duck else None

    # Host-state calibration: a fixed pure-CPU loop (200k chained md5).
    # This VM's CPU is bimodal (±40% minutes apart, BASELINE.md); the
    # constant lets a reader normalize a recorded total against the mode
    # the run landed in (~100 ms fast mode, ~150+ ms slow mode).
    import hashlib
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(200000):
        h = hashlib.md5(h).digest()
    calib_ms = round((time.perf_counter() - t0) * 1000, 1)
    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "calib_ms": calib_ms,
        # Scaling observability (VERDICT r17 item 2): the honored core
        # count and the DATA-sized shuffle parallelism actually chosen.
        # At small SFs parts << cpus by design (parallelism follows the
        # input, ~8 partitions for ~15 MB at sf0.1), so a c8-vs-c32
        # comparison measures the same ~8-way work — these two keys let
        # a reader see that rather than suspect the env var is ignored.
        # Work exceeds 8-way parallelism only from ~sf1 up.
        "cpus": cpus,
        "shuffle_partitions": int(parts),
        "max_partition_bytes": int(
            local_io_confs["spark.sql.files.maxPartitionBytes"]),
        # Scale context for readers of a single-SF record: the same-phase
        # ratio falls with scale because the per-query scheduling floor is
        # fixed while useful work grows (BASELINE.md round 6: 3.7x at
        # sf0.1, 1.7x at sf1, 0.52x at sf10 — Spark wins outright at sf10).
        "scale_note": "ratio is floor-dominated at small SF; see "
                      "BASELINE.md round-6 curve (sf10 same-phase: 0.52x, "
                      "Spark wins)",
    }
    if duckdb_total is not None:
        out["duckdb_total"] = duckdb_total
        out["duckdb_queries"] = duck
        if dnf:
            # reference queries that blew the 60 s watchdog budget
            # (e.g. the recursive-CTE race at scale) — excluded from
            # BOTH sides of the ratio so it stays like-for-like
            out["duckdb_dnf"] = sorted(dnf)
        if duckdb_total > 0:  # sub-ms oracles can round to 0.0 at tiny SFs
            comparable = round(sum(timings[n] for n in duck), 3)
            out["ratio_vs_duckdb"] = round(comparable / duckdb_total, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
