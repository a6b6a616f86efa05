"""q5 dim pre-join A/B (VERDICT r13 item 9): the registered q5 joins
the fact pipeline against supplier, nation and region as THREE
broadcast hash joins; the candidate folds them into ONE pre-joined
ASIA-filtered dim (s_suppkey, s_nationkey, n_name) so the lineitem leg
probes a single broadcast — two fewer broadcast exchanges and probe
passes over the fact rows, and non-ASIA suppliers are eliminated at the
first dim probe instead of the last.

Protocol (the house A/B discipline): ONE session, arms INTERLEAVED so
both sample the same host phase (bimodal CPU, BASELINE.md), min-of-N
per arm, results asserted equal before timing.

Usage: python scripts/q5_prejoin_ab.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clif_spark.queries import collect_registry, pq, sql_dsum
from clif_spark.queries.tpch import _bcast_if_small
from clif_spark.session import build_session


def variant(spark, sf_dir):
    return spark.sql(f"""
        WITH sdim AS (
          SELECT s.s_suppkey, s.s_nationkey, n.n_name
          FROM {pq(spark, sf_dir, 'supplier')} s
          JOIN {pq(spark, sf_dir, 'nation')} n ON s.s_nationkey = n.n_nationkey
          JOIN {pq(spark, sf_dir, 'region')} r ON n.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
        )
        SELECT * FROM (
          SELECT /*+ REPARTITION(1), {_bcast_if_small(sf_dir, 'orders', 'o')}{_bcast_if_small(sf_dir, 'customer', 'c')}BROADCAST(sd) */
                 sd.n_name AS nation,
                 {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
          FROM {pq(spark, sf_dir, 'lineitem')} l
          JOIN {pq(spark, sf_dir, 'orders')} o ON l.l_orderkey = o.o_orderkey
          JOIN {pq(spark, sf_dir, 'customer')} c ON o.o_custkey = c.c_custkey
          JOIN sdim sd
            ON l.l_suppkey = sd.s_suppkey
           AND c.c_nationkey = sd.s_nationkey
          WHERE o.o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
            AND o.o_orderdate <  TIMESTAMP_NTZ '1998-01-01 00:00:00'
          GROUP BY sd.n_name
        ) ORDER BY revenue DESC, nation
    """)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/clif_sf10"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    reg = collect_registry()
    spark = build_session(app_name="q5-prejoin-ab")
    spark.sparkContext.setLogLevel("ERROR")

    arms = {
        "registered": lambda: reg["q5_local_supplier_volume"]
        .fn(spark, sf_dir),
        "prejoin-dim": lambda: variant(spark, sf_dir),
    }
    # equality first, then warm both arms
    a = [tuple(r) for r in arms["registered"]().collect()]
    b = [tuple(r) for r in arms["prejoin-dim"]().collect()]
    assert a == b, f"arms disagree: {a[:3]} vs {b[:3]}"
    print("arms agree:", len(a), "rows", flush=True)

    best = {arm: float("inf") for arm in arms}
    for _ in range(reps):
        for arm, fn in arms.items():  # interleaved: same-phase ratio
            t0 = time.perf_counter()
            fn().collect()
            best[arm] = min(best[arm], time.perf_counter() - t0)
    print({arm: round(t, 3) for arm, t in best.items()}, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
