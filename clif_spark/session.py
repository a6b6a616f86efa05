"""SparkSession construction + runtime configuration for the CLIF-Spark engine.

The reference (kaveriC/CLIF) runs single-node eager R with hand-managed memory
(`/root/reference/code/RCLIF_dialysis.Rmd:14` memory.limit; chunked ingest at
`code/RCLIF_vitals.Rmd:23-24`). None of that carries over: Spark's unified memory
manager + input-split parallelism + AQE replace it. What this module pins down is
*semantics* the engine depends on:

- ``spark.sql.ansi.enabled=false`` — R's ``as.numeric("junk") -> NA`` maps to
  ``cast('double') -> NULL`` (SURVEY §1.5); Spark 4 defaults ANSI on, which would
  raise instead.
- ``spark.sql.session.timeZone=UTC`` — the reference formats epoch seconds with no
  explicit TZ (`code/RCLIF_vitals.Rmd:60`); we fix UTC everywhere so oracle
  comparisons are deterministic (SURVEY §7.4.4).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the driver's events table stores
  TIMESTAMP(NANOS) which Spark cannot read natively; we read nanos as long and
  normalize to TimestampType (micros) in `clif_spark.io`.
- AQE on (skew-join splitting + shuffle coalescing) — encounter/user keys are
  skewed in EHR data; at 100 TB this is the difference between a straggler task
  and a balanced stage. bench.py turns it off below 1 GB of input, where its
  stage-by-stage materialization only adds latency.

The confs are applied where a session enters the engine, never per query:
``build_session`` sets them through the builder, and ``configure`` sets
them on a session we did not build (the correctness driver owns its own
SparkSession and hands it to ``__spark_entry__``). Registered queries read
whatever the caller's session holds, so a conf the caller set after that
point stands.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable SQL confs every engine entry point applies.
RUNTIME_CONFS: dict[str, str] = {
    # R-like cast semantics: junk -> NULL, not error (SURVEY §2.8 F11, §7.4.3).
    "spark.sql.ansi.enabled": "false",
    # Deterministic timestamp policy (SURVEY §7.4.4).
    "spark.sql.session.timeZone": "UTC",
    # Driver testdata events.ts is parquet TIMESTAMP(NANOS).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: skew-join splitting, shuffle-partition coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the (rare, documented) pandas-UDF paths — multimodal decode.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches for the mapInArrow/mapInPandas paths: the
    # per-batch framing + Python dispatch overhead is fixed, and the
    # payload-heavy consumers (ANN matmul, WARC parse) do one vectorized
    # pass per batch — 64k rows x a 64-float embedding is ~33 MB, well
    # inside worker memory (measured ~10% off the sf10 ANN row vs the
    # 10k default).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # ...but the record cap alone is payload-blind (ADVICE r11): 64k
    # rows of multi-MB WARC/JPEG blobs would make one multi-GB batch.
    # The byte cap closes a batch when EITHER condition is met (Spark
    # reads both), so embedding-shaped rows still ride 64k-row batches
    # (~33 MB < cap) while blob-heavy mapInArrow/mapInPandas stages are
    # bounded at ~64 MiB regardless of row count. Pinned by
    # tests/test_plans.py::test_arrow_batch_byte_cap.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 << 20),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to a session we did not build
    (idempotent); ``__spark_entry__`` calls it on the driver's session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable in this deployment; engine code paths degrade
            # gracefully (io.py converts ts columns defensively).
            pass
    return spark


def build_session(
    app_name: str = "clif-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session sized for this container (tests/bench).

    On a real cluster the caller owns master/resources; only the SQL confs in
    ``RUNTIME_CONFS`` matter there. ``extra_confs`` lets a harness (bench.py)
    layer static confs that must be set before the JVM starts — they are NOT
    part of the engine's semantic surface.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("CLIF_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    # getOrCreate applies the builder's modifiable SQL confs to an
    # already-running session too, so no separate configure pass
    return builder.getOrCreate()
