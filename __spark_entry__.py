"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real definitions live in ``clif_spark.queries`` (one registered query +
oracle per SURVEY.md §2 operator and per north-star extension); this module
just adapts the registry to the driver's shape. The driver builds its own
default-conf session (ANSI on, no nanosAsLong), so this boundary is where
``configure`` applies the engine's session confs; registered queries do not
apply them again.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clif_spark.queries import collect_registry  # noqa: E402
from clif_spark.session import configure  # noqa: E402

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7.2 Phase 0): the vitals device-histogram
    analysis (`code/RCLIF_vitals.Rmd:210-223`) recast on the events table —
    scan -> not-null filter -> broadcast vocab join -> case_when classify ->
    group count -> order desc. Exercises S6, P5, J1, F1, A1, O2 in one plan.
    """
    from pyspark.sql import functions as F

    from clif_spark import io
    from clif_spark.functions.scalars import classify
    from clif_spark.operators import core, profile

    configure(spark)
    ev = io.load_table(spark, _SF0001, "events")
    vocab = io.read_vocab(
        spark,
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "conversion"), ("signup", "conversion"),
         ("error", "fault")],
        ["event_type", "event_category"],
    )
    enriched = core.vocab_join(ev, vocab, on="event_type", how="left")
    enriched = core.filter_not_null(enriched, "event_category")
    device_class = classify(
        [
            (F.col("event_category") == "fault", "needs_triage"),
            ((F.col("event_category") == "conversion") & (F.col("value") >= 100),
             "high_value"),
            (F.col("event_category") == "conversion", "standard_value"),
        ],
        default="ambient",
    )
    return profile.group_count(
        enriched.withColumn("device_class", device_class),
        ["device_class", "event_category"],
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star
    extensions). Each callable takes (spark, sf_dir), applies the engine
    confs to ``spark`` and returns a DataFrame whose column names/types
    match its oracle exactly."""
    return {name: lambda spark, sf_dir, fn=q.fn: fn(configure(spark), sf_dir)
            for name, q in collect_registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (omitted for non-SQL-expressible
    ops, e.g. simhash over xxhash64 — driver records a rows-only check)."""
    return {name: q.oracle for name, q in collect_registry().items()
            if q.oracle is not None}
