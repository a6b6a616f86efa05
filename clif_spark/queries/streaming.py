"""Streaming queries (SURVEY §2.10 / Phase 5), differentially tested.

Each query executes a genuine Structured Streaming plan (file source ->
watermark -> stateful op -> memory sink) to completion with an
``availableNow`` trigger, then returns the settled result — which must equal
the batch answer, so the ordinary DuckDB oracle applies. This is the
streaming/batch unification Spark promises, used as a correctness gate.

Window starts are returned as epoch micros (bigint) per registry policy.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clif_spark import io, streaming
from clif_spark.operators.core import materialize
from clif_spark.queries import query, us
from clif_spark.queries import llm as _llm
from clif_spark.queries import relational as _rel
from clif_spark.queries import stats
from clif_spark.queries import web as _web


@query(
    "stream_tumbling_agg",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS w_start,
           event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 2)
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_agg(spark, sf_dir):
    """Watermarked 1h tumbling count+sum per event_type, run as a real
    stream (availableNow) and settled — must equal the batch grouping."""
    ev = streaming.read_events_stream(spark, sf_dir)
    out = streaming.run_to_memory(streaming.tumbling_agg(ev))
    return out.select(us(F.col("w.start")).alias("w_start"), "event_type",
                      "n", "sum_value")


@query(
    "stream_sliding_agg",
    oracle="""
    WITH starts AS (
      SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour'])
               AS w_start,
             event_type
      FROM events
    )
    SELECT epoch_us(w_start) AS w_start, event_type, COUNT(*) AS n
    FROM starts
    GROUP BY 1, 2
    """,
)
def stream_sliding_agg(spark, sf_dir):
    """2h windows sliding by 1h: every event lands in exactly two windows
    (the batch mirror enumerates both starts per event)."""
    ev = streaming.read_events_stream(spark, sf_dir)
    out = streaming.run_to_memory(streaming.sliding_agg(ev))
    return out.select(us(F.col("w.start")).alias("w_start"), "event_type", "n")


@query(
    "stream_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark, sf_dir):
    """Per-user 30-minute-gap session windows computed incrementally —
    the streaming twin of the dialysis episode derivation (W1). The oracle
    is the classic gaps-and-islands SQL; session start identifies a session
    (Spark's session end = last_ts + gap, an implementation representation,
    is not compared)."""
    ev = streaming.read_events_stream(spark, sf_dir)
    out = streaming.run_to_memory(streaming.session_agg(ev))
    return out.select("user_id", us(F.col("w.start")).alias("session_start"),
                      "n_events")


@query(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(COALESCE(value, 0.0)) AS DOUBLE), 2) AS sum_value,
           epoch_us(MAX(ts)) AS last_ts_us,
           false AS closed
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user running
    count/sum/last-seen accumulators with processing-time timeout eviction.
    On the bounded replay every user emits exactly one open-state update row,
    which must equal the batch per-user aggregate."""
    ev = streaming.read_events_stream(spark, sf_dir)
    out = streaming.run_to_memory(streaming.running_user_stats(ev),
                                  output_mode="update")
    return out.select("user_id", "n_events",
                      F.round("sum_value", 2).alias("sum_value"),
                      "last_ts_us", "closed")


@query(
    "stream_click_to_buy",
    oracle="""
    SELECT b.user_id,
           COUNT(*) AS n_attributed,
           COUNT(DISTINCT b.event_id) AS n_buys
    FROM events c
    JOIN events b
      ON b.user_id = c.user_id
     AND b.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= b.ts - INTERVAL '1 hour' AND c.ts <= b.ts
    GROUP BY b.user_id
    """,
)
def stream_click_to_buy(spark, sf_dir):
    """Stream-stream interval join (J8's streaming twin): clicks joined to
    purchases of the same user within a 1-hour attribution window, both
    sides watermarked so buffered join state is evictable. Run as a real
    availableNow stream into memory, then aggregated per user (join runs
    in the stream; the count is batch, like stream_dedup_counts)."""
    ev = streaming.read_events_stream(spark, sf_dir)
    clicks = (ev.filter(F.col("event_type") == "click")
                .select("user_id", F.col("ts").alias("click_ts"),
                        F.col("event_id").alias("click_id")))
    buys = (ev.filter(F.col("event_type") == "purchase")
              .select(F.col("user_id"), F.col("ts").alias("buy_ts"),
                      F.col("event_id").alias("buy_id")))
    joined = streaming.stream_stream_join(
        clicks, buys, key="user_id", left_ts="click_ts", right_ts="buy_ts")
    settled = streaming.run_to_memory(joined, output_mode="append")
    return (settled.groupBy("user_id")
                   .agg(F.count(F.lit(1)).alias("n_attributed"),
                        F.countDistinct("buy_id").alias("n_buys")))


@query(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_counts(spark, sf_dir):
    """Stateful streaming dedup on (user_id, event_type) — first arrival
    wins — then a per-type count of the survivors, which must equal the
    batch COUNT(DISTINCT user_id). Run as two chained availableNow passes
    (dedup emits an append stream the aggregation consumes in batch)."""
    ev = streaming.read_events_stream(spark, sf_dir)
    deduped = streaming.run_to_memory(
        streaming.stream_dedup(ev, ["user_id", "event_type"]),
        output_mode="append")
    return (deduped.groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("n_users")))


@query(
    "stream_static_enrich",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS w_start,
           CAST(user_id % 5 AS BIGINT) AS tier,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment — the lookup-join every streaming
    pipeline starts with: the event stream joins a STATIC dimension (no
    watermark needed on the static side; it broadcasts into every
    micro-batch), then a watermarked tumbling aggregate per enriched
    attribute. The oracle derives the same tier arithmetically — the join
    must be semantically invisible. At scale the static side refreshes by
    swapping the broadcast per batch; state is bounded by the window
    aggregate alone."""

    ev = streaming.read_events_stream(spark, sf_dir)
    dim = (io.load_table(spark, sf_dir, "events")
           .select("user_id").distinct()
           .withColumn("tier", (F.col("user_id") % 5).cast("long")))
    joined = ev.join(F.broadcast(dim), "user_id")
    agg = (joined.withWatermark("ts", "1 hour")
                 .groupBy(F.window("ts", "1 hour").alias("w"), "tier")
                 .agg(F.count(F.lit(1)).alias("n")))
    out = streaming.run_to_memory(agg)
    return out.select(us(F.col("w.start")).alias("w_start"), "tier", "n")


@query(
    "stream_dedup_bounded_state",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_bounded_state(spark, sf_dir):
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark — the
    production form of stream_dedup_counts): duplicate suppression is only
    guaranteed within the watermark horizon, which is exactly what lets the
    state store EVICT keys older than the horizon instead of growing with
    every distinct key forever. The replay's horizon (365d) covers the whole
    bounded corpus, so the settled result must still equal the batch
    COUNT(DISTINCT) — the gate proves the bounded API drops no in-horizon
    duplicates and loses no firsts."""
    ev = streaming.read_events_stream(spark, sf_dir)
    deduped = streaming.run_to_memory(
        streaming.stream_dedup(ev, ["user_id", "event_type"],
                               watermark="365 days"),
        output_mode="append")
    return (deduped.groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("n_users")))


#: Streaming flowsheet synthesis exprs (the §3.1 shapes over the events
#: STREAM — integer-closed-form, mirrored verbatim by the oracle).
_SFLOW_NAME = """
    CASE WHEN event_id % 5 IN (0, 4) THEN 'BLOOD PRESSURE'
         WHEN event_id % 5 = 1 THEN 'PULSE'
         WHEN event_id % 5 = 2 THEN 'RESP RATE'
         ELSE 'UNMAPPED THING' END
"""
_SFLOW_VALUE = """
    CASE WHEN event_id % 5 IN (0, 4) THEN
           CONCAT(CAST(100 + event_id % 60 AS STRING), '/',
                  CAST(60 + event_id % 40 AS STRING))
         WHEN event_id % 5 = 1 THEN
           CASE WHEN event_id % 7 = 0 THEN 'junk'
                ELSE CAST(60 + event_id % 100 AS STRING) END
         ELSE CAST(10 + event_id % 20 AS STRING) END
"""


@query(
    "stream_vitals_hourly",
    oracle=f"""
    -- Batch mirror of the STREAMING vitals recomposition: synth flowsheet
    -- -> vocab map -> BP split into sbp/dbp rows -> hourly per-vital agg.
    -- Window starts as pure integer epoch buckets (positive epochs).
    WITH flow AS (
      SELECT CAST(1700000000 + event_id * 60 AS BIGINT) AS rec,
           ({_SFLOW_NAME}) AS flo_meas_name,
           ({_SFLOW_VALUE}) AS meas_value
      FROM events
    ),
    mapped AS (
      SELECT f.*, v.vital_name
      FROM flow f
      JOIN (VALUES ('BLOOD PRESSURE', 'blood_pressure'),
                   ('PULSE', 'heart_rate'), ('RESP RATE', 'resp_rate'))
           AS v(flo_meas_name, vital_name)
        ON f.flo_meas_name = v.flo_meas_name
    ),
    longform AS (
      SELECT rec, 'sbp' AS vital_name,
             TRY_CAST(str_split(meas_value, '/')[1] AS DOUBLE) AS vv
      FROM mapped WHERE vital_name = 'blood_pressure'
      UNION ALL
      SELECT rec, 'dbp',
             TRY_CAST(str_split(meas_value, '/')[2] AS DOUBLE)
      FROM mapped WHERE vital_name = 'blood_pressure'
      UNION ALL
      SELECT rec, vital_name, TRY_CAST(meas_value AS DOUBLE)
      FROM mapped WHERE vital_name <> 'blood_pressure'
    )
    SELECT CAST((rec // 3600) * 3600 * 1000000 AS BIGINT) AS w_start,
           vital_name, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(vv AS DECIMAL(30,6))) AS DOUBLE), 2)
             AS sum_value
    FROM longform
    GROUP BY 1, 2
    """,
)
def stream_vitals_hourly(spark, sf_dir):
    """The §3.1 vitals flow AS A STREAM (SURVEY §2.10 meets §3): the
    events stream is projected into a flowsheet (closed-form synth),
    vocab-mapped via a stream-static broadcast join, blood-pressure
    readings explode into sbp/dbp rows (1->N on a stream), junk casts to
    NULL, and a watermarked 1h tumbling aggregate counts and sums each
    vital — run to completion with availableNow and settled against the
    batch mirror. Stateful pieces: the window aggregate's state is
    bounded by the watermark; the vocab side is a broadcast dimension."""
    ev = streaming.read_events_stream(spark, sf_dir)
    flow = ev.selectExpr(
        "timestamp_seconds(1700000000 + event_id * 60) AS rec",
        f"({_SFLOW_NAME}) AS flo_meas_name",
        f"({_SFLOW_VALUE}) AS meas_value")
    vocab = spark.createDataFrame(
        [("BLOOD PRESSURE", "blood_pressure"), ("PULSE", "heart_rate"),
         ("RESP RATE", "resp_rate")], ["flo_meas_name", "vital_name"])
    mapped = flow.join(F.broadcast(vocab), "flo_meas_name")
    longform = mapped.select(
        "rec",
        F.explode(
            F.when(
                F.col("vital_name") == "blood_pressure",
                F.array(
                    F.struct(
                        F.lit("sbp").alias("vital_name"),
                        F.split("meas_value", "/").getItem(0)
                        .cast("double").alias("vv")),
                    F.struct(
                        F.lit("dbp").alias("vital_name"),
                        F.split("meas_value", "/").getItem(1)
                        .cast("double").alias("vv")))
            ).otherwise(
                F.array(F.struct(
                    F.col("vital_name").alias("vital_name"),
                    F.col("meas_value").cast("double").alias("vv"))))
        ).alias("e"))
    agg = (longform
           .select("rec", F.col("e.vital_name").alias("vital_name"),
                   F.col("e.vv").alias("vv"))
           .withWatermark("rec", "2 hours")
           .groupBy(F.window("rec", "1 hour"), "vital_name")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.sum(F.col("vv").cast("decimal(30,6)"))
                        .cast("double"), 2).alias("sum_value")))
    out = streaming.run_to_memory(agg)
    return out.select(us(F.col("window.start")).alias("w_start"),
                      "vital_name", "n", "sum_value")


@query(
    "stream_session_episodes",
    oracle="""
    -- Batch mirror of the STREAMING dialysis-episode derivation (§3.3 as
    -- a stream): synth flowsheet -> vocab-keep CRRT rows -> per-user
    -- 30-min-gap sessions via gaps-and-islands. Spark's session_window
    -- merges an event landing EXACTLY at gap distance (empirically
    -- pinned: [t, t+1800] extends), so a new episode starts strictly
    -- beyond 1800 s. Episode end = last event + gap (Spark's window.end
    -- representation), emitted so the interval-table shape [start, end]
    -- is what the gate hashes.
    WITH flow AS (
      SELECT user_id, CAST(1700000000 + event_id * 60 AS BIGINT) AS rec
      FROM events WHERE event_id % 2 = 1
    ),
    flagged AS (
      SELECT user_id, rec,
             CASE WHEN lag(rec) OVER w IS NULL
                  OR rec - lag(rec) OVER w > 1800 THEN 1 ELSE 0 END
               AS is_new
      FROM flow WINDOW w AS (PARTITION BY user_id ORDER BY rec)
    ),
    sess AS (
      SELECT user_id, rec,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY rec
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, 'crrt' AS therapy,
           CAST(MIN(rec) * 1000000 AS BIGINT) AS w_start,
           CAST((MAX(rec) + 1800) * 1000000 AS BIGINT) AS w_end,
           COUNT(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
)
def stream_session_episodes(spark, sf_dir):
    """The §3.3 dialysis episode derivation AS A STREAM (reference batch
    form: `code/RCLIF_dialysis.Rmd:54-61,90-100` — point flowsheet rows
    folded into [start, stop] treatment episodes): the events stream
    becomes a synthesized therapy flowsheet (closed-form rec timestamps,
    60 s grid), a stream-static broadcast vocab join keeps only the CRRT
    rows (the reference's flo_meas_name filter), and a
    watermarked per-user session_window(30 min) folds point readings
    into [start, end] episode intervals — the native incremental form of
    the batch gaps-and-islands derivation, with session state evicted
    once the watermark passes a session's close. Settled availableNow
    result must equal the batch mirror; the exact-gap boundary (readings
    1800 s apart MERGE) is the deliberately sharp edge: CRRT rows are
    odd event_ids on a 60 s grid, so same-user diffs are multiples of
    120 s and exact-1800 pairs occur in the shipped data (measured: 10
    at sf0.001, 28 at sf0.01) — a half-open-vs-closed divergence
    between engines flips rows the hash gate sees."""
    ev = streaming.read_events_stream(spark, sf_dir)
    flow = ev.selectExpr(
        "user_id",
        "timestamp_seconds(1700000000 + event_id * 60) AS rec",
        "CASE WHEN event_id % 2 = 1 THEN 'CRRT BLOOD FLOW' "
        "ELSE 'SOME OTHER THING' END AS flo_meas_name")
    vocab = spark.createDataFrame([("CRRT BLOOD FLOW", "crrt")],
                                  ["flo_meas_name", "therapy"])
    mapped = flow.join(F.broadcast(vocab), "flo_meas_name")
    agg = (mapped.withWatermark("rec", "2 hours")
           .groupBy(F.session_window("rec", "30 minutes").alias("w"),
                    "user_id", "therapy")
           .agg(F.count(F.lit(1)).alias("n")))
    out = streaming.run_to_memory(agg)
    return out.select("user_id", "therapy",
                      us(F.col("w.start")).alias("w_start"),
                      us(F.col("w.end")).alias("w_end"), "n")


# Oracle SHARED with u7_merge_with_deletes: batch and streaming gates
# must converge to the same relation by construction, not by parallel
# maintenance of two SQL strings.
@query("stream_cdc_apply", oracle=_rel.CDC_PLANTED_MERGE_ORACLE)
def stream_cdc_apply(spark, sf_dir):
    """The u7 MERGE as a CONTINUOUSLY MAINTAINED TABLE
    (streaming.apply_cdc_stream): every event expands into its CDC
    records (v1 insert, v2 update for %3 keys, v3 tombstone for %7),
    hash-scattered across four part-files and replayed as four
    micro-batches (availableNow + maxFilesPerTrigger=1) — so records
    for the same key arrive across batches OUT of version order. Each
    batch folds into a copy-on-write snapshot version + atomic pointer
    flip; tombstones are retained (logical delete) so a batch-1 delete
    still suppresses a batch-3 late update, and the read view filters
    them. The settled table must equal the batch MERGE bit-for-bit —
    the convergence property that makes CDC apply safe to run
    incrementally at all."""
    import tempfile

    ev = io.load_table(spark, sf_dir, "events")
    recs = (ev.selectExpr(
        "event_id", "user_id", "event_type", "value",
        """explode(filter(array(
             named_struct('version', CAST(1 AS BIGINT),
                          'v', value, 'del', false, 'keep', true),
             named_struct('version', CAST(2 AS BIGINT),
                          'v', value * 2, 'del', false,
                          'keep', event_id % 3 = 0),
             named_struct('version', CAST(3 AS BIGINT),
                          'v', value, 'del', true,
                          'keep', event_id % 7 = 0)
           ), x -> x.keep)) AS r""")
        .select("event_id", F.col("r.version").alias("version"),
                "user_id", "event_type", F.col("r.v").alias("value"),
                F.col("r.del").alias("is_delete")))
    # Per-invocation scratch, like the table root below: a deterministic
    # shared path let two concurrent runs against the same sf_dir
    # overwrite each other's part-files mid-replay (missing-file or
    # mixed-generation batches under maxFilesPerTrigger).
    scratch = tempfile.mkdtemp(prefix="clif_stream_cdc_src_")
    recs.repartition(4).write.mode("overwrite").parquet(scratch)
    stream = (spark.readStream.schema(recs.schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    root = tempfile.mkdtemp(prefix="clif_cdc_tbl_")
    streaming.apply_cdc_stream(stream, root, ["event_id"], ["version"])
    return (streaming.read_cdc_snapshot(spark, root)
            .select("event_id", "version", "user_id", "event_type",
                    "value"))


@query("stream_countmin_merge", oracle=stats._CMS_ORACLE)
def stream_countmin_merge(spark, sf_dir):
    """Count-Min over a STREAM: the (r, bucket) counters build as a
    streaming aggregation whose state store merges each micro-batch's
    partial sketch — sketch mergeability under incremental processing,
    the property that lets a production pipeline keep a live frequency
    sketch without reprocessing history.

    The source table ships as ONE parquet file, under which
    maxFilesPerTrigger=1 would degenerate to a single trigger and never
    exercise the merge — so the query first splits the table into four
    part-files in a scratch dir; availableNow + maxFilesPerTrigger=1
    then replays them as four micro-batches whose partials MUST merge
    in state. The settled sketch must equal the batch-built one, so the
    shared probe report faces the SAME oracle as a21_countmin_heavy."""
    import tempfile

    batch_ev = io.load_table(spark, sf_dir, "events")
    # Per-invocation scratch (same concurrent-overwrite race as the CDC
    # source fixed above — shared md5-of-sf_dir paths are an anti-class).
    scratch = tempfile.mkdtemp(prefix="clif_stream_cms_")
    (batch_ev.repartition(4)
             .write.mode("overwrite").parquet(scratch))
    ev = (spark.readStream.schema(batch_ev.schema)
               .option("maxFilesPerTrigger", 1).parquet(scratch))
    settled = streaming.run_to_memory(stats._cms_sketch(ev))
    return stats._cms_probe_report(batch_ev, settled)


@query(
    "stream_video_demux",
    oracle="""
    -- The MP4 demux as a STREAMING transform: same closed form as
    -- mm_video_frame_stats (every-second-frame stats of the synthesized
    -- containers), but the Spark side computes it through readStream ->
    -- mapInPandas micro-batches. A stateless 1->N extraction must be
    -- replay-partition-invariant: the settled union over micro-batches
    -- equals the batch answer row for row.
    WITH vids AS (
      SELECT doc_id AS d, 3 + doc_id % 6 AS n,
             (doc_id % 15 = 0) AS uni
      FROM documents WHERE doc_id % 3 = 0
    ),
    frames AS (
      SELECT d, k.k AS frame_idx,
             CASE WHEN uni THEN 16 ELSE 16 + (d + k.k) % 32 END AS sz
      FROM vids, generate_series(0, 8) AS k(k)
      WHERE k.k < n AND k.k % 2 = 0
    ),
    fbytes AS (
      SELECT d, frame_idx, sz,
             (7 * d + 13 * frame_idx + i.i) % 256 AS v
      FROM frames, generate_series(0, 46) AS i(i) WHERE i.i < sz
    )
    SELECT d AS doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST((40 * frame_idx) // (1 + d % 3) AS BIGINT) AS pts_ms,
           CAST(sz AS BIGINT) AS n_bytes,
           CAST(SUM(v) AS BIGINT) AS byte_sum
    FROM fbytes GROUP BY d, frame_idx, sz
    """,
)
def stream_video_demux(spark, sf_dir):
    """Multimodal × streaming composition: the real MP4 sample-table
    demux (multimodal.extract_video_frames — stsz/stsc/stco/stts walk,
    mdat slicing, stride sampling) runs INSIDE Structured Streaming as a
    stateless mapInPandas over binary-payload micro-batches — the shape
    of a production media-ingest pipeline (files land, frames fan out,
    downstream featurizers consume). Append mode, no state: the settled
    union over four replayed part-files must equal the batch demux
    bit-for-bit, which is exactly what the shared mm_video_frame_stats
    closed-form oracle checks."""
    import tempfile

    from clif_spark import multimodal

    d = io.load_table(spark, sf_dir, "documents")
    payload = multimodal.synth_video_payload(d)
    scratch = tempfile.mkdtemp(prefix="clif_stream_vid_")
    payload.repartition(4).write.mode("overwrite").parquet(scratch)
    stream = (spark.readStream.schema(payload.schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    frames = multimodal.extract_video_frames(stream, stride=2)
    return streaming.run_to_memory(frames, output_mode="append",
                                   state_partitions=None)


def _stream_incr_oracle() -> str:
    from clif_spark.queries import llm as _llm

    return _llm._persisted_incr_oracle()


def _land_deliveries(deliveries, prefix: str):
    """Write each (ordinal, DataFrame) delivery as ONE parquet file in
    a fresh scratch dir, mtimes pinned a minute apart in ordinal order
    — Spark's file source replays oldest-first, so the drain order
    (which store lifecycles genuinely depend on: delivery 2 must
    screen against an already-grown store) is deterministic. The ONE
    landing helper for every maintenance stream in this module; the
    drain-order pinning must not drift between them. Returns
    (scratch_dir, schema) — deliveries must share a schema."""
    import os
    import shutil
    import tempfile
    import time

    scratch = tempfile.mkdtemp(prefix=prefix)
    now = time.time()
    schema = None
    for ordinal, df in deliveries:
        schema = df.schema
        tmp = tempfile.mkdtemp(prefix=prefix + "part_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp)
                    if f.startswith("part-") and f.endswith(".parquet"))
        dst = os.path.join(scratch, f"delivery{ordinal}.parquet")
        shutil.copy(os.path.join(tmp, part), dst)
        os.utime(dst,
                 (now - 600 + 60 * ordinal, now - 600 + 60 * ordinal))
    return scratch, schema


def _drain_then_replay_probe(spark, schema, scratch, sink,
                             ckpt_prefix: str,
                             replay: dict | None = None) -> None:
    """ONE stream execution + the fresh-checkpoint REDELIVERY PROBE in
    batch form (r18, VERDICT r17 item 5): drain the landed deliveries
    through foreachBatch exactly as before, then redeliver the ENTIRE
    landing dir to the same sink as one batch read. Every maintenance
    stream's replay pin lives in its SINK (the applied-through
    watermark / delivered-through pointer consulted per ordinal, the
    raise when ``replay['on']``), not in the streaming engine — a
    fresh-checkpoint second stream exercised Spark's file source (which
    redelivers unconditionally, not our code) plus the identical sink
    path, at the cost of a full multi-second stream startup and one
    micro-batch per file. The batch redelivery feeds the sink the same
    rows (all ordinals present; the sink iterates ordinals in sorted
    order, which the per-file micro-batches also guaranteed via pinned
    mtimes), so the skip logic is pinned with the same strength at a
    fraction of the cost. ``replay['on']`` is flipped before the probe
    when the sink carries the explicit must-skip raise."""
    import tempfile

    ckpt = tempfile.mkdtemp(prefix=ckpt_prefix)
    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    q = (stream.writeStream.foreachBatch(sink)
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())
    q.awaitTermination()
    if replay is not None:
        replay["on"] = True
    sink(spark.read.schema(schema).parquet(scratch), -1)


@query("stream_incremental_dedup", oracle=_stream_incr_oracle())
def stream_incremental_dedup(spark, sf_dir):
    """Ingest-time dedup as a STREAM — the production composition of the
    round-8 persisted-signature store: deliveries ARRIVE as files on a
    watched directory; each micro-batch (availableNow +
    maxFilesPerTrigger=1, one delivery per file with mtimes pinned so
    the file source replays them in delivery order) runs the
    screen-then-admit cycle inside foreachBatch — signatures computed
    once per delivery (materialized), screened against the store's
    CURRENT version (signature-sized scan, never corpus text), results
    appended to a parquet sink, then admitted as a new store version
    (upsert_cdc_snapshot copy-on-write). The settled sink must equal the
    batch twin dedup_incremental_persisted bit-for-bit — ONE shared
    oracle — which pins the whole incremental contract: per-delivery
    cost, store growth between deliveries (delivery 2's matches against
    admitted delivery-1 docs), and replay convergence."""
    import tempfile

    from clif_spark import dedup

    d = io.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    deliveries = []
    d1 = (d.filter(F.col("doc_id") % 10 == 0).select(
              (F.col("doc_id") + 200000).alias("doc_id"),
              F.concat("text", F.lit(" extra trailing token"))
               .alias("text"))
          .unionByName(
              d.filter(F.col("doc_id") % 10 == 5).select(
                  (F.col("doc_id") + 200000).alias("doc_id"),
                  F.concat(F.lit("novel content block "),
                           F.col("doc_id").cast("string"),
                           F.lit(" stands entirely alone")).alias("text"))))
    d2 = (d.filter(F.col("doc_id") % 10 == 1).select(
              (F.col("doc_id") + 300000).alias("doc_id"),
              F.concat("text", F.lit(" extra trailing token"))
               .alias("text"))
          .unionByName(
              d.filter(F.col("doc_id") % 10 == 0).select(
                  (F.col("doc_id") + 400000).alias("doc_id"),
                  F.concat("text", F.lit(" extra trailing token"))
                   .alias("text"))))
    deliveries = [(1, d1), (2, d2)]

    root = tempfile.mkdtemp(prefix="clif_sigstore_stream_")
    dedup.signature_store_admit(
        dedup.minhash_signature_rows(d), root, version=0)

    scratch, schema = _land_deliveries(
        [(tag, df.withColumn("delivery", F.lit(tag).cast("long")))
         for tag, df in deliveries],
        "clif_stream_incr_src_")

    out_dir = tempfile.mkdtemp(prefix="clif_stream_incr_out_")
    ckpt = tempfile.mkdtemp(prefix="clif_stream_incr_ckpt_")

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tag = int(batch_df.agg(F.max("delivery")).first()[0])
        sigs = materialize(dedup.minhash_signature_rows(
            batch_df.select("doc_id", "text")))
        bspark = batch_df.sparkSession
        # Replay-safe sink (the idempotent_parquet_sink recipe): each
        # batch OWNS a __batch_id partition and dynamic overwrite
        # replaces exactly that partition on redelivery — a micro-batch
        # retried after a crash between this write and the checkpoint
        # commit lands identically instead of duplicating rows (the
        # store admit below is already idempotent keep-latest; the sink
        # must match it for the settled output to equal the batch twin
        # bit-for-bit under replay).
        (dedup.signature_store_screen(bspark, sigs, root, threshold=0.5)
              .withColumn("delivery", F.lit(tag).cast("long"))
              .select("delivery", "old_id", "new_id", "jaccard")
              .withColumn("__batch_id", F.lit(batch_id))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__batch_id")
              .parquet(out_dir))
        dedup.signature_store_admit(sigs, root, version=tag)

    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    q = (stream.writeStream.foreachBatch(sink)
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.read.parquet(out_dir)
            .select("delivery", "old_id", "new_id", "jaccard"))


def _agg_maintenance_oracle() -> str:
    from clif_spark.queries import sql_dmean, sql_dsum

    return f"""
    SELECT event_type, COUNT(*) AS n_events,
           {sql_dsum('value', 2)} AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value,
           {sql_dmean('value', 6)} AS mean_value
    FROM events GROUP BY event_type
    """


@query("u9_incremental_agg_maintenance", oracle=_agg_maintenance_oracle())
def u9_incremental_agg_maintenance(spark, sf_dir):
    """Materialized-view maintenance as a relation
    (streaming.fold_agg_snapshot): the events table arrives as THREE
    deliveries (event_id % 3); each delivery's per-key PARTIAL
    aggregates (count, integer-micros sum, min, max — the decomposable
    classes) fold additively into a persisted aggregate store holding
    one row per key, and the final read must equal the batch GROUP BY
    over all events bit-for-bit (sums and means in the dsum/dmean
    fixed-point discipline, so no fold order can flip a digit).

    Delivery 2 is deliberately RE-FOLDED at its own ordinal between
    deliveries: an additive fold is not idempotent, so the skip guard
    (pointer ordinal, apply_cdc_stream's redelivery rule) is what makes
    replay safe — if it ever rots, delivery 2 double-counts and every
    aggregate misses the oracle.

    Scale: each fold costs O(delivery partials + store keys); the
    recompute it replaces is O(all events ever). The store is the CDC
    snapshot format, so time travel shows the aggregate as of any
    delivery and compaction applies unchanged."""
    import tempfile

    from clif_spark.queries import _digit_round, _micros_sum

    ev = io.load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="clif_aggstore_")

    def partials(delivery_df):
        return delivery_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            _micros_sum(F.col("value")).alias("sum_micros"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"))

    for k in range(3):
        p = partials(ev.filter(F.col("event_id") % 3 == k))
        streaming.fold_agg_snapshot(
            p, root, keys=["event_type"], version=k,
            add_cols=["n_events", "sum_micros"],
            min_cols=["min_value"], max_cols=["max_value"],
            lineage="events-agg")
        if k == 1:  # redelivery of delivery 1: MUST be skipped
            assert streaming.fold_agg_snapshot(
                p, root, keys=["event_type"], version=k,
                add_cols=["n_events", "sum_micros"],
                min_cols=["min_value"], max_cols=["max_value"],
                lineage="events-agg") is None
    store = streaming.read_cdc_snapshot(spark, root)
    mean_micros = F.floor(F.col("sum_micros") / F.col("n_events")
                          + F.lit(0.5))
    return store.select(
        "event_type", "n_events",
        _digit_round(F.col("sum_micros"), 2).alias("sum_value"),
        "min_value", "max_value",
        _digit_round(mean_micros, 6).alias("mean_value"))


@query("stream_agg_maintenance", oracle=_agg_maintenance_oracle())
def stream_agg_maintenance(spark, sf_dir):
    """u9's fold as the PRODUCTION stream: deliveries arrive as files
    (events split by event_id % 3, mtimes pinned for deterministic
    replay order); each micro-batch computes its per-key PARTIAL
    aggregates and folds them into the persisted aggregate store via
    fold_agg_snapshot(version=batch_id) inside foreachBatch — the
    batch_id-as-ordinal makes the additive fold replay-safe (a
    redelivered micro-batch is skipped by the pointer guard, which is
    mandatory because addition double-counts). The settled store read
    must equal the batch GROUP BY over all events — ONE shared oracle
    with u9, pinning that the stream composition preserves the fold's
    exactness (dsum/dmean fixed-point discipline end to end)."""
    import tempfile

    ev = io.load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    scratch, schema = _land_deliveries(
        [(k, ev.filter(F.col("event_id") % 3 == k)) for k in range(3)],
        "clif_aggstream_src_")

    root = tempfile.mkdtemp(prefix="clif_aggstore_stream_")
    ckpt = tempfile.mkdtemp(prefix="clif_aggstream_ckpt_")

    from clif_spark.queries import _micros_sum

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        p = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            _micros_sum(F.col("value")).alias("sum_micros"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"))
        streaming.fold_agg_snapshot(
            p, root, keys=["event_type"], version=batch_id,
            add_cols=["n_events", "sum_micros"],
            min_cols=["min_value"], max_cols=["max_value"],
            lineage="events-agg-stream")

    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    q = (stream.writeStream.foreachBatch(sink)
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())
    q.awaitTermination()

    from clif_spark.queries import _digit_round

    store = streaming.read_cdc_snapshot(spark, root)
    mean_micros = F.floor(F.col("sum_micros") / F.col("n_events")
                          + F.lit(0.5))
    return store.select(
        "event_type", "n_events",
        _digit_round(F.col("sum_micros"), 2).alias("sum_value"),
        "min_value", "max_value",
        _digit_round(mean_micros, 6).alias("mean_value"))


@query("stream_partitioned_upsert",
       oracle=_rel.U11_PARTITIONED_MERGE_ORACLE)
def stream_partitioned_upsert(spark, sf_dir):
    """u11's partitioned MERGE as a CONTINUOUSLY MAINTAINED TABLE: the
    two deliveries land as parquet shards and drain as micro-batches
    (availableNow + maxFilesPerTrigger=1), each folded by
    ``streaming.upsert_partitioned_snapshot`` inside foreachBatch —
    only the batch's touched partitions are merged and rewritten, the
    production shape of a partitioned lake table fed by a delivery
    stream. Keep-latest-by-version makes the fold idempotent AND
    batch-order independent, so no replay ledger is needed (unlike the
    additive agg fold) and the settled table equals the one-shot batch
    MERGE via the SHARED u11 oracle regardless of which shard drains
    first."""
    import tempfile

    o = io.load_table(spark, sf_dir, "orders")
    d1 = o.select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.lit(1).cast("long").alias("version"),
        F.col("o_totalprice").alias("val"),
        F.lit(False).alias("is_delete"),
        F.col("o_orderpriority").alias("prio"))
    touched = ["1-URGENT", "3-MEDIUM"]
    d2 = (o.filter(F.col("o_orderpriority").isin(touched))
          .select(F.col("o_orderkey").cast("long").alias("k"),
                  F.lit(2).cast("long").alias("version"),
                  (F.col("o_totalprice") * 2).alias("val"),
                  (F.col("o_orderkey") % 10 == 0).alias("is_delete"),
                  F.col("o_orderpriority").alias("prio")))
    scratch = tempfile.mkdtemp(prefix="clif_stream_part_src_")
    d1.coalesce(1).write.mode("append").parquet(scratch)
    d2.coalesce(1).write.mode("append").parquet(scratch)
    root = tempfile.mkdtemp(prefix="clif_stream_part_tbl_") + "/store"
    ckpt = tempfile.mkdtemp(prefix="clif_stream_part_ckpt_")

    def sink(batch_df, batch_id):
        streaming.upsert_partitioned_snapshot(
            batch_df, root, ["k"], ["version"], "prio")

    stream = (spark.readStream.schema(d1.schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    q = (stream.writeStream.foreachBatch(sink)
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())
    q.awaitTermination()
    return (streaming.read_partitioned_snapshot(spark, root)
            .select("k", "version", "val", "prio"))


@query("stream_lsm_keep_best", oracle=_rel.U12_LSM_KEEP_BEST_ORACLE)
def stream_lsm_keep_best(spark, sf_dir):
    """u12's LSM store fed by a DELIVERY STREAM: the four deliveries
    land as parquet shards and drain as micro-batches (availableNow +
    maxFilesPerTrigger=1), each appended as one immutable segment by
    ``streaming.append_lsm_segment`` inside foreachBatch — O(delivery)
    disk work per micro-batch, the write-optimized shape a continuous
    recrawl feed needs. The delivery ordinal rides IN the shard
    (``__v`` column, one value per shard), not on Spark's batch_id —
    redelivery of a shard after a checkpoint reset must map to the
    same segment, and batch ids do not survive that. After the stream
    settles, a full compaction folds the segments; the read must equal
    the SHARED one-shot keep-best oracle (settled-equals-batch, and
    compaction invariance rides the same gate)."""
    import tempfile

    dv = _rel._u12_deliveries(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="clif_stream_lsm_src_")
    for ver in (1, 2, 3, 4):
        (dv[ver].withColumn("__v", F.lit(ver).cast("long"))
         .coalesce(1).write.mode("append").parquet(scratch))
    root = tempfile.mkdtemp(prefix="clif_stream_lsm_tbl_") + "/store"
    ckpt = tempfile.mkdtemp(prefix="clif_stream_lsm_ckpt_")
    schema = dv[1].withColumn("__v", F.lit(1).cast("long")).schema
    order = ["score", "best_doc"]

    def sink(batch_df, batch_id):
        # one shard per micro-batch -> exactly one ordinal; tiny
        # driver-side read (a single long), not a hot-path collect
        vers = [r[0] for r in
                batch_df.select("__v").distinct().collect()]
        for ver in sorted(vers):
            streaming.append_lsm_segment(
                batch_df.filter(F.col("__v") == ver).drop("__v"),
                root, int(ver))

    stream = (spark.readStream.schema(schema)
                   .option("maxFilesPerTrigger", 1).parquet(scratch))
    q = (stream.writeStream.foreachBatch(sink)
               .option("checkpointLocation", ckpt)
               .trigger(availableNow=True).start())
    q.awaitTermination()
    streaming.compact_lsm(spark, root, ["k"], order)
    return streaming.read_lsm(spark, root, ["k"], order)


@query("stream_cdx_maintain", oracle=_web.CDX_INDEX_ORACLE)
def stream_cdx_maintain(spark, sf_dir):
    """The capture index as a CONTINUOUSLY MAINTAINED store — the live
    crawl->index->recrawl loop closed: WARC shards arrive as
    micro-batches (availableNow file stream over the shard blobs),
    each batch parses through the SAME row derivation as the one-shot
    build (web._cdx_rows) and folds into a standing LSM store as one
    immutable segment per shard (O(delivery) disk work; the delivery
    ordinal is the shard's file_id riding IN the data, not Spark's
    batch_id, so a checkpoint reset maps redeliveries to the same
    segments). The settled store, ranked at read time, must equal the
    one-shot batch index under the SHARED CDX oracle
    (settled-equals-batch — the streaming/batch unification gate).

    REPLAY IDEMPOTENCE is pinned in-row: after the first stream
    settles, a second stream with a FRESH checkpoint redelivers every
    shard; every append must skip on the existing segment dirs, so the
    gate would flag any duplicate capture row. The in-block rank is
    computed over the standing store at read time (_cdx_rank) — ranks
    are a property of the whole index, which is exactly why the store
    holds unranked rows.

    100 TB shape: per delivery the work is parse + one segment write —
    independent of standing-index size; the rank window is the only
    whole-index pass and it is the READ side's cost, amortized across
    lookups (and prunable by cdx_shard). This is how Common Crawl's
    index actually grows: per-crawl index shards beside the standing
    collection."""
    import tempfile

    from clif_spark import warc

    files, _ = _web._cdx_files_and_index(spark, sf_dir)
    nshards = _web._shard_count(io.load_table(spark, sf_dir,
                                              "documents"))
    scratch = tempfile.mkdtemp(prefix="clif_stream_cdx_src_")
    # one parquet file per shard-ish (hash partitioning may co-locate
    # a pair — the sink folds every fid present in its batch)
    files.repartition(nshards, "file_id") \
         .write.mode("overwrite").parquet(scratch)
    root = tempfile.mkdtemp(prefix="clif_stream_cdx_tbl_") + "/store"
    schema = "file_id long, content binary"

    def sink(batch_df, batch_id):
        fids = sorted(r[0] for r in
                      batch_df.select("file_id").distinct().collect())
        for fid in fids:
            rows = _web._cdx_rows(
                warc.parse_warc(batch_df.filter(F.col("file_id")
                                                == fid)))
            streaming.append_lsm_segment(
                rows.withColumn("is_delete", F.lit(False)),
                root, int(fid) + 1)

    # one stream execution + batch-form redelivery probe (r18): the
    # idempotence pin is append_lsm_segment's skip on existing segment
    # dirs + the shared oracle flagging any duplicate capture row —
    # both exercised identically by the batch redelivery
    _drain_then_replay_probe(spark, schema, scratch, sink,
                             "clif_stream_cdx_ckpt_")
    idx = streaming.read_lsm(spark, root,
                             ["file_id", "record_offset"],
                             ["surt_key"])
    return _web._cdx_rank(idx).select(
        "surt_key", "ts", "uri", "digest", "resp_len", "file_id",
        "record_offset", "cdx_shard", "shard_rank")


@query("stream_bm25f_maintain", oracle=_web._HOST_BM25F_ORACLE)
def stream_bm25f_maintain(spark, sf_dir):
    """web_bm25f_incremental's posting maintenance as the PRODUCTION
    stream — the crawl -> index -> retrieve live loop running the way
    CDX/funnel/dedup maintenance already do: crawl deliveries land as
    parquet files (documents split by doc parity, mtimes pinned for
    deterministic drain order) and drain as micro-batches
    (availableNow + maxFilesPerTrigger=1); each batch tokenizes ONLY
    its own pages through the SAME partial-count derivation as the
    batch row (web._bm25f_counts — body and anchor fields, anchors
    unfiltered by target host) and folds into the standing posting
    store via fold_agg_snapshot inside foreachBatch. The delivery
    ordinal rides IN the data (a ``__v`` column pinned at file
    creation, the stream_lsm_keep_best rule) — Spark batch_ids do not
    survive a checkpoint reset, and an ADDITIVE store double-counts
    on any replay bug — and the sink consults the store's
    delivered-through pointer (streaming.agg_delivered_through) to
    skip every already-applied ordinal: the feed is monotone by
    construction, which is exactly the caller-side knowledge that
    resolves the fold's deliberate below-pointer ambiguity. REPLAY
    IDEMPOTENCE is pinned in-row: after the stream settles, a second
    stream with a FRESH CHECKPOINT redelivers every file — every
    ordinal must skip on the pointer (the sink raises if one folds).
    The settled store scores through the IDENTICAL _bm25f_score leg
    under the SHARED whole-corpus batch oracle — settled-equals-batch,
    bit-for-bit.

    100 TB shape: per delivery one tokenize of the delivery + one
    posting-relation-sized fold exchange, never O(corpus history);
    the store is the CDC snapshot format (compaction/time-travel
    unchanged)."""
    import tempfile

    d = io.load_table(spark, sf_dir, "documents")
    # mtimes pinned by the landing helper: the file source drains in
    # mtime order, so the monotone-feed contract the pointer-skip
    # relies on holds
    scratch, schema = _land_deliveries(
        [(k, d.filter(F.col("doc_id") % 2 == k)
              .withColumn("__v", F.lit(k).cast("long")))
         for k in (0, 1)],
        "clif_bm25f_stream_src_")

    root = tempfile.mkdtemp(prefix="clif_bm25f_stream_store_")
    lin = "bm25f-postings-stream"
    replay = {"on": False}

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # one file per micro-batch -> one ordinal; tiny driver-side
        # read (a single long), not a hot-path collect
        vers = sorted(r[0] for r in
                      batch_df.select("__v").distinct().collect())
        for ver in vers:
            done = streaming.agg_delivered_through(root, lin)
            if done is not None and ver <= done:
                continue  # redelivery after checkpoint reset
            if replay["on"]:
                raise RuntimeError(
                    "stream_bm25f_maintain: fresh-checkpoint "
                    "redelivery folded instead of skipping — the "
                    "additive store would double-count")
            part = batch_df.filter(F.col("__v") == ver).drop("__v")
            bc, ac = _web._bm25f_counts(part)
            partial = (bc.withColumn("field", F.lit("body"))
                       .unionByName(ac.withColumn("field",
                                                  F.lit("anchor"))))
            streaming.fold_agg_snapshot(
                partial, root, keys=["host", "term", "field"],
                version=int(ver), add_cols=["c"], lineage=lin)

    # one stream execution + batch-form redelivery probe (r18,
    # VERDICT r17 item 5): the must-skip raise fires in the sink on any
    # ordinal that applies during the probe — same pin, no second
    # stream startup
    _drain_then_replay_probe(spark, schema, scratch, sink,
                             "clif_bm25f_stream_ckpt_", replay)

    stored = streaming.read_cdc_snapshot(spark, root)
    return _web._bm25f_score(
        stored.filter(F.col("field") == "body")
              .select("host", "term", "c"),
        stored.filter(F.col("field") == "anchor")
              .select("host", "term", "c"),
        materialized=True)


@query("stream_er_maintain", oracle=_rel.DEDUP_ENTITY_INC_ORACLE)
def stream_er_maintain(spark, sf_dir):
    """dedup_entity_persisted's store maintenance as the PRODUCTION
    stream — entity resolution joins CDX / crawl-funnel / dedup /
    BM25F as a continuously maintained loop: record deliveries land as
    parquet files (the two delta deliveries, ordinals riding IN the
    data as ``__v``; mtimes pinned for deterministic drain) and drain
    as micro-batches (availableNow + maxFilesPerTrigger=1); each batch
    runs the SAME screen -> merge -> admit leg as the batch row
    (relational._er_store_delivery — blocked verify delta-vs-store,
    star-edge label merge, changed-rows-only upsert) inside
    foreachBatch. Replay safety is the store itself: the upsert is
    keep-latest (idempotent) and labels merge monotonically, but the
    sink still SKIPS already-applied ordinals via the store's max
    stored ``__v`` — re-running a delivery's levenshtein verify is
    wasted work even when harmless — and REPLAY IDEMPOTENCE is pinned
    in-row: a second stream from a FRESH CHECKPOINT redelivers every
    file and every ordinal must skip (the sink raises if one
    applies). The settled store's report must equal the full
    recompute over everything ever delivered — the SHARED oracle with
    dedup_entity_persisted/incremental (settled-equals-batch for
    standing cluster state).

    100 TB shape: per micro-batch O(delta x hit blocks) verify +
    delta/changed-sized upsert against store parquet only — the
    screen never re-reads records-seen from the source."""
    import tempfile

    from clif_spark.operators import graph as G

    recs = _rel._entity_recs(spark, sf_dir)
    comp0 = (G.connected_components(
                 _rel._entity_match_edges(recs, recs, symmetric=True))
             .withColumnRenamed("node", "rid"))
    labeled = (recs.join(comp0, "rid", "left")
               .select("rid", "name",
                       F.coalesce("component", F.col("rid"))
                        .alias("cluster")))
    root = tempfile.mkdtemp(prefix="clif_er_stream_store_")
    _rel._er_store_admit(labeled, root, 0)

    v4, trunc, fresh = _rel._entity_delta_families(spark, sf_dir)
    scratch, schema = _land_deliveries(
        [(ver, df.withColumn("__v", F.lit(ver).cast("long")))
         for ver, df in ((1, v4), (2, trunc.unionByName(fresh)))],
        "clif_er_stream_src_")

    replay = {"on": False}

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        vers = sorted(r[0] for r in
                      batch_df.select("__v").distinct().collect())
        for ver in vers:
            # applied-through watermark over RAW stored rows (ADVICE
            # r16): a live-row max would not advance on a delivery that
            # writes only tombstones and would re-apply it after a
            # checkpoint reset
            done = (streaming.read_cdc_snapshot(
                        spark, root, include_tombstones=True)
                    .agg(F.max("__v")).first()[0])
            if done is not None and ver <= done:
                continue  # redelivery after checkpoint reset
            if replay["on"]:
                raise RuntimeError(
                    "stream_er_maintain: fresh-checkpoint redelivery "
                    "re-applied instead of skipping")
            _rel._er_store_delivery(
                spark,
                batch_df.filter(F.col("__v") == ver).drop("__v"),
                root, int(ver))

    # one stream execution + batch-form redelivery probe (r18,
    # VERDICT r17 item 5): the must-skip raise fires in the sink on any
    # ordinal that applies during the probe — same pin, no second
    # stream startup
    _drain_then_replay_probe(spark, schema, scratch, sink,
                             "clif_er_stream_ckpt_", replay)

    return _rel._er_store_report(spark, root)


@query("stream_semantic_maintain", oracle=_llm.SEMANTIC_INC_ORACLE)
def stream_semantic_maintain(spark, sf_dir):
    """dedup_semantic_incremental's store maintenance as the PRODUCTION
    stream — the last standing store without a foreachBatch twin
    (MinHash, ER, BM25F, CDX, funnel and agg stores all have one):
    embedding deliveries land as parquet files (the two planted-copy
    deliveries, ordinals riding IN the data as ``__v``; mtimes pinned
    for deterministic drain) and drain as micro-batches (availableNow
    + maxFilesPerTrigger=1); each batch runs the SAME screen -> admit
    leg as the batch row against the FROZEN cells
    (similarity.semantic_store_screen/admit — no per-delivery k-means,
    no corpus re-scan), with an in-sink pin that the screen actually
    hit (every planted copy must find its source, so zero hits =
    broken screen leg, raise). Replay safety: the upsert is
    keep-latest (idempotent), but the sink still SKIPS already-applied
    ordinals via the RAW-row ``max(__v)`` watermark
    (read_cdc_snapshot(include_tombstones=True) — the ADVICE r16
    primitive: a live-row max would miss tombstone-only deliveries),
    and REPLAY IDEMPOTENCE is pinned in-row: a second stream from a
    FRESH CHECKPOINT redelivers every file and every ordinal must
    skip (the sink raises if one applies). The settled store must
    satisfy the SHARED screen contract (both deliveries' copies screen
    to their sources at cosine 1.0 — delivery 2's expected sources ARE
    delivery 1's admitted rows, so a dropped admission flips the
    hash), and the settled live count must equal corpus + both
    deliveries exactly (pinned in-row — a lost or duplicated admission
    raises before the driver ever hashes).

    100 TB shape: per micro-batch O(delivery x hit-cell members)
    screen + delivery-sized upsert; cell structure trains once at
    build, never per delivery."""
    import tempfile

    from clif_spark import similarity

    e = (io.load_table(spark, sf_dir, "embeddings")
         .select("vec_id", "embedding"))
    root = tempfile.mkdtemp(prefix="clif_sem_stream_store_")
    similarity.semantic_store_build(e, root, k=8, max_iter=3)

    d1 = materialize(_llm._semantic_planted(e, 100000))
    d2 = materialize(_llm._semantic_planted(e, 200000))
    scratch, schema = _land_deliveries(
        [(ver, df.withColumn("__v", F.lit(ver).cast("long")))
         for ver, df in ((1, d1), (2, d2))],
        "clif_sem_stream_src_")

    replay = {"on": False}

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        vers = sorted(r[0] for r in
                      batch_df.select("__v").distinct().collect())
        for ver in vers:
            # applied-through watermark over RAW stored rows (build
            # admits at __v=0, deliveries at 1..): tombstone-only
            # deliveries must still advance it
            done = (streaming.read_cdc_snapshot(
                        spark, root, include_tombstones=True)
                    .agg(F.max("__v")).first()[0])
            if done is not None and ver <= done:
                continue  # redelivery after checkpoint reset
            if replay["on"]:
                raise RuntimeError(
                    "stream_semantic_maintain: fresh-checkpoint "
                    "redelivery re-applied instead of skipping")
            delta = materialize(
                batch_df.filter(F.col("__v") == ver).drop("__v"))
            hits = similarity.semantic_store_screen(spark, delta, root)
            if hits.limit(1).isEmpty():
                raise RuntimeError(
                    "stream_semantic_maintain: screen leg found no "
                    "hits for a planted-copy delivery — the frozen-"
                    "cell screen is broken")
            similarity.semantic_store_admit(spark, delta, root,
                                            version=int(ver))

    # one stream execution + batch-form redelivery probe (r18,
    # VERDICT r17 item 5): the must-skip raise fires in the sink on any
    # ordinal that applies during the probe — same pin, no second
    # stream startup
    _drain_then_replay_probe(spark, schema, scratch, sink,
                             "clif_sem_stream_ckpt_", replay)

    # settled-count pin: corpus + exactly one row per planted copy —
    # a lost or duplicated admission raises before the driver hashes
    n_live = streaming.read_cdc_snapshot(spark, root).count()
    n_expected = e.count() + d1.count() + d2.count()
    if n_live != n_expected:
        raise RuntimeError(
            f"stream_semantic_maintain: settled store holds {n_live} "
            f"live rows, expected {n_expected} (corpus + both "
            f"deliveries) — an admission was lost or duplicated")

    r1 = _llm._semantic_screen_contract(
        d1, similarity.semantic_store_screen(spark, d1, root), 1)
    r2 = _llm._semantic_screen_contract(
        d2, similarity.semantic_store_screen(spark, d2, root), 2)
    return r1.unionByName(r2)


@query("stream_image_sig_maintain",
       oracle=_llm.IMAGE_SIG_INC_ORACLE)
def stream_image_sig_maintain(spark, sf_dir):
    """dedup_image_phash_incremental's store maintenance as the
    PRODUCTION stream, completing the image family's lifecycle verbs
    (build/screen/admit/takedown/compact/stream — the shape every
    other store family has): signature deliveries land as parquet
    files (the upscale-copy and perturbed-copy families, ordinals
    riding IN the data as ``__v``) and drain as micro-batches; each
    batch runs the SAME screen -> admit leg as the batch row
    (dedup.chunk_sig_store_screen/admit — broadcast band-join against
    store scans only, images never re-read) inside foreachBatch.

    The wrinkle this stream adds over its siblings: the screen
    VERDICT is delivery-time state (after later admissions a
    re-screen would also hit the delivery's own stored rows and the
    later families), so the sink PERSISTS each delivery's screen
    result into a results store (keyed on the hit triple, keep-latest
    idempotent) — the production shape, where per-delivery dedup
    verdicts are an output table, not a transient. Replay: raw-row
    ``max(__v)`` watermark over the SIGNATURE store
    (include_tombstones — the ADVICE r16 primitive), fresh-checkpoint
    second stream must skip every ordinal (sink raises). The settled
    RESULTS store must equal the batch row's two screens under the
    SHARED oracle — settled-equals-batch for the verdict table.

    100 TB shape: per micro-batch one broadcast band-join + two
    delivery-sized folds; signatures ~1e-4 of corpus bytes."""
    import tempfile

    from clif_spark import dedup

    base, copies, bumped = _llm._image_families(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="clif_imgsig_stream_")
    dedup.chunk_sig_store_admit(
        _llm._image_sig(base), root, 0, id_col="doc_id")
    res_root = tempfile.mkdtemp(prefix="clif_imgsig_res_")

    d1 = _llm._image_sig(copies)
    d2 = _llm._image_sig(bumped)
    scratch, schema = _land_deliveries(
        [(ver, df.withColumn("__v", F.lit(ver).cast("long")))
         for ver, df in ((1, d1), (2, d2))],
        "clif_imgsig_stream_src_")

    replay = {"on": False}

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        vers = sorted(r[0] for r in
                      batch_df.select("__v").distinct().collect())
        for ver in vers:
            done = (streaming.read_cdc_snapshot(
                        spark, root, include_tombstones=True)
                    .agg(F.max("__v")).first()[0])
            if done is not None and ver <= done:
                continue  # redelivery after checkpoint reset
            if replay["on"]:
                raise RuntimeError(
                    "stream_image_sig_maintain: fresh-checkpoint "
                    "redelivery re-applied instead of skipping")
            delta = materialize(
                batch_df.filter(F.col("__v") == ver).drop("__v"))
            hits = (dedup.chunk_sig_store_screen(spark, delta, root,
                                                 id_col="doc_id")
                    .select(F.lit(int(ver)).cast("long")
                             .alias("delivery"),
                            "new_id", "old_id", "hamming",
                            F.lit(False).alias("is_delete")))
            streaming.upsert_cdc_snapshot(
                hits, res_root,
                keys=["delivery", "new_id", "old_id"],
                order=["hamming", "new_id"], lineage="imgsig-results")
            dedup.chunk_sig_store_admit(delta, root, int(ver),
                                        id_col="doc_id")

    # one stream execution + batch-form redelivery probe (r18,
    # VERDICT r17 item 5): the must-skip raise fires in the sink on any
    # ordinal that applies during the probe — same pin, no second
    # stream startup
    _drain_then_replay_probe(spark, schema, scratch, sink,
                             "clif_imgsig_stream_ckpt_", replay)

    return (streaming.read_cdc_snapshot(spark, res_root)
            .select("delivery", "new_id", "old_id", "hamming"))
