"""Structured Streaming surface (SURVEY §2.10, build plan Phase 5).

The reference is pure batch; streaming enters through the driver's ``events``
table and the 100 TB north star. Everything here is the stock Structured
Streaming API — the same DataFrame operators as batch (watermark + windowed
aggregation, session windows, stateful dedup), so each streaming op has an
exact batch/SQL equivalent and can be differentially tested: run the stream
with an ``availableNow`` trigger into a memory sink, then compare the settled
result against the DuckDB oracle on the same parquet.

Semantics mapping back to the reference:
- session windows  == the dialysis episode derivation (W1,
  `code/RCLIF_dialysis.Rmd:87-100`) computed incrementally;
- tumbling/sliding aggregates == the group-count profiles (A1/A2) per
  time bucket;
- stateful dedup == U3 whole-row dedup (`code/RCLIF_labs.Rmd:75`) with
  bounded state via watermark.

Scale notes: streaming state (windows, sessions, dedup keys) lives in the
executor state store keyed by the groupBy key — the same partitioning story
as batch windows (entity-keyed, skew-aware). Watermarks bound state growth;
``complete`` output mode below is only for the bounded test corpus, real
deployments use append + watermark.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of the events table (S1's streaming twin).

    The file source needs an explicit schema (no inference mid-stream); we
    take it from a batch read of the same path, including the
    TIMESTAMP(NANOS) -> long -> micros normalization io.load_table applies.
    ``maxFilesPerTrigger`` paces replay for multi-batch tests.
    """
    path = f"{sf_dir}/events.parquet"
    batch_schema = spark.read.parquet(path).schema
    # The file stream source requires a *directory* base path; select the
    # single table file with a glob filter.
    reader = (spark.readStream.schema(batch_schema)
              .option("pathGlobFilter", "events.parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(sf_dir)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # Wall-clock (isAdjustedToUTC=false) parquet timestamps arrive as
        # TIMESTAMP_NTZ, which event-time watermarks reject. Under the
        # session's pinned UTC zone (session.py) the cast reinterprets the
        # same wall-clock instant, so windows/watermarks line up exactly
        # with the batch oracles.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_agg(events: DataFrame, window: str = "1 hour",
                 watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window count+sum per event_type.

    Late data beyond ``watermark`` is dropped; state for closed windows is
    evicted. Decimal-accumulated sum for cross-engine determinism.
    """
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.col("value").cast("decimal(30,6)"))
                          .cast("double"), 2).alias("sum_value")))


def sliding_agg(events: DataFrame, window: str = "2 hours",
                slide: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Watermarked sliding-window count per event_type: each event lands in
    window_duration/slide overlapping windows."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n")))


def session_agg(events: DataFrame, gap: str = "30 minutes",
                watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows: a session extends while successive events
    arrive within ``gap``. The incremental form of the dialysis episode
    derivation (W1) / windows.sessionize."""
    return (events.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events")))


def stream_dedup(events: DataFrame, keys: list[str],
                 watermark: str | None = None) -> DataFrame:
    """Stateful streaming dedup: first arrival per key wins (U3's streaming
    twin). With a watermark, state is bounded via
    dropDuplicatesWithinWatermark (keys recur only within the lateness
    horizon); without one, state grows with distinct keys (test corpora only).
    """
    if watermark:
        return (events.withWatermark("ts", watermark)
                      .dropDuplicatesWithinWatermark(keys))
    return events.dropDuplicates(keys)


def stream_stream_join(left: DataFrame, right: DataFrame, key: str,
                       left_ts: str, right_ts: str,
                       lookback: str = "1 hour",
                       watermark: str = "1 hour") -> DataFrame:
    """Watermarked stream-stream inner join: a right-stream row matches
    left-stream rows with the same key whose timestamp falls in
    ``[right_ts - lookback, right_ts]`` (the attribution-window shape:
    clicks preceding a purchase).

    Both sides carry watermarks and the join condition bounds event time in
    BOTH directions, which is what lets Spark evict buffered state — an
    unbounded condition would grow the state store forever. On a bounded
    availableNow replay the settled result equals the batch interval join
    (J8's streaming twin), which is the differential gate."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = ((lw[key] == rw[key])
            & (lw[left_ts] >= rw[right_ts] - F.expr(f"INTERVAL {lookback}"))
            & (lw[left_ts] <= rw[right_ts]))
    return lw.join(rw, cond, "inner").drop(rw[key])


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete",
                  name: str | None = None,
                  state_partitions: int | None = 4) -> DataFrame:
    """Execute a streaming plan to completion on the available data and
    return the settled result as a batch DataFrame.

    ``availableNow`` processes everything currently in the source then stops
    — the deterministic replay mode that makes streaming ops oracle-testable.
    ``complete`` mode emits every window (append would hold back windows the
    final watermark never passes); fine for bounded test data, not for
    production sinks.

    ``state_partitions`` bounds ``spark.sql.shuffle.partitions`` for the
    stream's lifetime (restored after): every stateful operator materializes
    one state-store instance — checkpoint directory, delta files, commit —
    per shuffle partition, so a 32-partition default pays 32 store setups to
    process a test corpus. The partition count is captured in the checkpoint
    at first start, so this only shapes queries launched here; production
    jobs (durable checkpoints, real key cardinality) size it to the cluster.
    """
    spark = stream_df.sparkSession
    qname = name or f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="clif_stream_ckpt_")
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (stream_df.writeStream.format("memory").queryName(qname)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        if state_partitions is not None and prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(qname)


def running_user_stats(events: DataFrame,
                       timeout_minutes: int | None = None) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count / value sum / last-seen, emitted on every update,
    with optional processing-time-timeout eviction.

    This is the escape hatch for stateful logic the built-in window/dedup
    operators cannot express (per-key accumulators, custom eviction, model
    state). State is one small tuple per user in the state store — the same
    entity-keyed partitioning as every other per-user operator — and batches
    cross the Python boundary through Arrow.

    ``timeout_minutes``: production deployments pass a horizon so idle keys
    emit a final ``closed`` row and free their state. Leave ``None`` for
    bounded/availableNow replays — with a timeout armed, the runtime keeps
    scheduling timeout-check batches and an availableNow query never
    terminates.

    Output: (user_id, n_events, sum_value, last_ts_us, closed).
    """
    import pandas as pd  # local import: only this operator needs pandas
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("user_id long, n_events long, sum_value double, "
                  "last_ts_us long, closed boolean")
    state_schema = "n long, s double, last long"

    def update(key, pdf_iter, state):
        if state.hasTimedOut:
            n, s, last = state.get
            state.remove()
            yield pd.DataFrame([{"user_id": key[0], "n_events": n,
                                 "sum_value": s, "last_ts_us": last,
                                 "closed": True}])
            return
        n, s, last = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
            # datetime64[ns] -> epoch micros
            last = max(last, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, s, last))
        if timeout_minutes is not None:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame([{"user_id": key[0], "n_events": n,
                             "sum_value": s, "last_ts_us": last,
                             "closed": False}])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_minutes is not None else GroupStateTimeout.NoTimeout)
    return (events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout))


def idempotent_parquet_sink(path: str):
    """Replay-safe foreachBatch body: exactly-once FILE output on top of
    Structured Streaming's at-least-once batch delivery.

    The contract: the checkpoint guarantees each micro-batch is delivered
    with a stable ``batch_id``, but a crash between the sink write and the
    commit re-delivers the SAME batch — a bare append would duplicate it.
    Writing each batch into its own ``__batch_id=N`` partition with dynamic
    partition overwrite makes re-delivery REPLACE that batch's own output
    and touch nothing else: f(batch, id) is idempotent, so
    at-least-once delivery × idempotent sink = exactly-once files. This is
    the standard production recipe wherever the destination lacks
    transactions (plain parquet/object storage); transactional sinks
    (Delta, JDBC upsert on batch_id) achieve the same with a MERGE.
    """
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn("__batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__batch_id")
         .parquet(path))

    return _sink


def write_stream_parquet(stream_df: DataFrame, path: str, checkpoint: str,
                         output_mode: str = "append",
                         idempotent: bool = False,
                         processing_time: str | None = None):
    """foreachBatch parquet sink: each micro-batch lands as a batch write,
    giving access to batch-only APIs inside the writer (the standard
    production sink shape).

    ``idempotent=True`` routes through ``idempotent_parquet_sink`` (replay
    -safe, exactly-once files). ``processing_time`` selects a continuous
    processing-time trigger (e.g. ``"1 second"``) instead of the default
    drain-and-stop ``availableNow`` — the long-running-service mode; the
    checkpoint carries source offsets so a restart resumes, not rereads.
    """
    if idempotent:
        sink = idempotent_parquet_sink(path)
    else:
        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(path)

    writer = (stream_df.writeStream.foreachBatch(sink)
              .outputMode(output_mode)
              .option("checkpointLocation", checkpoint))
    if processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- streaming CDC apply (the u7 MERGE as a continuously maintained table) ---

def _cdc_pointer_read(root: str) -> tuple[int, str, str, int] | None:
    """(last applied batch_id, snapshot dir, checkpoint id, lineage epoch)
    from root/_LATEST, or None. The epoch is a globally monotone counter
    bumped on every LINEAGE SWITCH (pointer checkpoint id changes): batch
    ids restart at 0 per lineage, so (batch_id, ckpt) alone is NOT a
    unique version-dir key once a lineage is revisited (A->B->A would
    reuse v0_<A>) — the epoch disambiguates without touching the
    per-lineage ordinal that redelivery detection needs. Legacy 3-line
    pointers read back as epoch 0."""
    import os

    ptr = os.path.join(root, "_LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    bid, vdir = lines[0], lines[1]
    ckpt_id = lines[2] if len(lines) > 2 else ""
    epoch = int(lines[3]) if len(lines) > 3 else 0
    return int(bid), vdir, ckpt_id, epoch


def _cdc_pointer_write(root: str, batch_id: int, vdir: str,
                       ckpt_id: str, epoch: int = 0) -> None:
    """Atomic pointer update: write a temp file, then os.replace — readers
    always see a complete pointer (POSIX rename atomicity), never a torn
    one. The pointer is the ONLY mutable object in the format. It records
    the CHECKPOINT IDENTITY alongside the batch id because batch ids are
    only monotone within one checkpoint lineage — a fresh feed attached
    to an existing table restarts at 0 and must NOT be skipped as a
    redelivery — and the LINEAGE EPOCH so version-dir names stay unique
    across lineage revisits (see _cdc_pointer_read)."""
    import os

    tmp = os.path.join(root, f"_LATEST.tmp.{batch_id}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(f"{batch_id}\n{vdir}\n{ckpt_id}\n{epoch}\n")
    os.replace(tmp, os.path.join(root, "_LATEST"))


def _vdir_name(batch_id: int, ckpt_id: str, epoch: int) -> str:
    """Version-dir name: ``v{batch_id}_{ckpt[:6]}`` for the table's first
    lineage epoch (the historical layout — every pre-epoch dir remains
    addressable), ``v{batch_id}_{ckpt[:6]}e{epoch}`` afterwards. The
    epoch suffix is what makes the name globally unique when a lineage
    is REVISITED after an interleaved one (A->B->A): without it the
    second A epoch's v0 would mode('overwrite') the first A epoch's v0 —
    clobbering a supposedly immutable historical dir out from under lazy
    readers and time travel."""
    sfx = ckpt_id[:6] if epoch == 0 else f"{ckpt_id[:6]}e{epoch}"
    return f"v{batch_id}_{sfx}"


def _next_version(meta: tuple[int, str, str, int] | None,
                  ckpt_id: str) -> tuple[int, int]:
    """(batch_id, epoch) for the next upsert under ``ckpt_id``: same
    lineage continues its ordinal within its epoch; a lineage SWITCH
    restarts the ordinal at 0 in a fresh (globally monotone) epoch; a
    fresh table starts at (0, 0)."""
    if meta is None:
        return 0, 0
    if meta[2] == ckpt_id:
        return meta[0] + 1, meta[3]
    return 0, meta[3] + 1


def apply_cdc_stream(cdc_stream: DataFrame, root: str,
                     keys: list[str], order: list[str],
                     tombstone_col: str = "is_delete",
                     checkpoint: str | None = None):
    """Maintain a keyed snapshot table under ``root`` from a CDC record
    stream (the streaming twin of ``operators.core.merge_with_deletes``):
    each micro-batch folds into the standing snapshot by version order
    via foreachBatch, producing a new immutable version directory plus an
    atomic pointer flip — a minimal copy-on-write table format for
    destinations without transactions.

    Correctness decisions that matter:
    - **Tombstones are RETAINED in the stored snapshot** (logical delete),
      filtered only at read time (``read_cdc_snapshot``). Physical
      deletion would lose the suppression record: a v3 tombstone applied
      in batch 1 must still beat a v2 update arriving in batch 3 —
      out-of-order cross-batch arrival is the norm for CDC feeds. (Same
      reason log-compacted queues and transactional formats retain
      deletes for a retention window; compaction can drop a tombstone
      once the feed is known to have passed its version.)
    - **Replay-safe two ways**: the pointer records the last applied
      batch_id, so a redelivered batch (crash between sink and
      checkpoint commit) is skipped; and even a double-apply is a no-op
      because keep-latest-by-version is idempotent.
    - Each batch rewrites the snapshot (bounded corpora / tests). At
      100 TB, partition the snapshot and rewrite only touched partitions
      — or use a transactional table format; the MERGE semantics here
      are exactly what its MERGE executes.
    """
    import os

    from clif_spark.operators import core as _core

    import hashlib

    os.makedirs(root, exist_ok=True)
    ckpt = checkpoint or tempfile.mkdtemp(prefix="clif_cdc_ckpt_")
    ckpt_id = hashlib.md5(ckpt.encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        meta = _cdc_pointer_read(root)
        if (meta is not None and meta[2] == ckpt_id
                and batch_id <= meta[0]):
            # Redelivered batch (crash between sink and checkpoint
            # commit) — already folded in. Only SAME-checkpoint ids are
            # comparable: a fresh feed attached to an existing table
            # restarts at 0 and must apply (keep-latest-by-version makes
            # re-merging identical records a no-op anyway).
            return
        stamped = batch_df.withColumn(
            tombstone_col,
            F.coalesce(F.col(tombstone_col), F.lit(False)))
        base = (spark.read.parquet(meta[1]) if meta is not None
                else stamped.limit(0))
        merged = _core.upsert_keep_latest(base, stamped, keys, order)
        # EVERY version dir carries the lineage suffix (not just the
        # first batch of a new lineage) PLUS the lineage epoch: batch ids
        # are stream-checkpoint ordinals, only monotone within one
        # lineage, so an unsuffixed v{id} from feed B would OVERWRITE
        # feed A's immutable v{id} history — and a REVISITED lineage
        # (A->B->A, or a recreated checkpoint restarting at 0) would
        # reuse its own old names without the epoch (_vdir_name).
        epoch = (meta[3] if meta is not None and meta[2] == ckpt_id
                 else (meta[3] + 1 if meta is not None else 0))
        vdir = os.path.join(root, _vdir_name(batch_id, ckpt_id, epoch))
        merged.write.mode("overwrite").parquet(vdir)
        _cdc_pointer_write(root, batch_id, vdir, ckpt_id, epoch)

    q = (cdc_stream.writeStream.foreachBatch(_sink)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def upsert_cdc_snapshot(batch_df: DataFrame, root: str,
                        keys: list[str], order: list[str],
                        tombstone_col: str = "is_delete",
                        lineage: str = "batch",
                        allow_missing_columns: bool = False) -> str:
    """BATCH twin of ``apply_cdc_stream``'s sink: fold ONE DataFrame into
    a snapshot table under ``root`` using the identical on-disk format
    (immutable ``v{id}_{lineage}`` version dirs + the atomic ``_LATEST``
    pointer), so ``read_cdc_snapshot`` / ``compact_cdc_snapshot`` / time
    travel all work unchanged on tables maintained this way. The callers
    that want this shape have periodic DELIVERIES rather than a CDC
    stream — e.g. the persisted-signature dedup store
    (dedup.signature_store_*), where each admitted delivery is one batch
    upsert.

    Version ids are allocated monotonically within the lineage
    (pointer batch_id + 1; 0 for a new lineage), and the fold is
    keep-latest-by-``order`` — idempotent under re-application of an
    identical batch, same as the streaming sink. Returns the new
    version directory path.

    Lineage change does NOT reset the table: whenever a pointer exists,
    the CURRENT snapshot is the merge base — only the batch-id counter
    restarts at 0 for the new lineage (exactly ``apply_cdc_stream``'s
    sink, whose ``base = read(meta[1]) if meta`` is unconditional).
    Getting this wrong silently drops every live row the moment a batch
    delivery folds into a stream-maintained store or an admit switches
    lineage strings — the checkpoint identity exists to scope
    REDELIVERY detection (batch ids are only monotone within one
    lineage), never to partition the data.

    Copy-on-write matters here beyond crash safety: a lazy DataFrame
    bound to the PREVIOUS version (read_cdc_snapshot resolves the pointer
    eagerly) keeps reading that immutable dir after the upsert — the
    screen-then-admit pattern depends on exactly this isolation.

    ``allow_missing_columns`` opts in to ADDITIVE schema evolution: a
    batch carrying a NEW column folds in with the existing rows taking
    NULL for it (upsert_keep_latest's rule). The default stays strict —
    a batch MISSING a column fails loudly, because keep-latest would
    otherwise permanently NULL that column for every updated key
    (silent data destruction; see operators/core.py).
    """
    import hashlib
    import os

    os.makedirs(root, exist_ok=True)
    ckpt_id = hashlib.md5(f"batch:{lineage}".encode()).hexdigest()[:16]
    spark = batch_df.sparkSession
    meta = _cdc_pointer_read(root)
    stamped = batch_df.withColumn(
        tombstone_col, F.coalesce(F.col(tombstone_col), F.lit(False)))
    # Existing table: ALWAYS merge onto the current snapshot. The
    # lineage id only scopes the version counter — a new lineage
    # restarts its ordinal at 0 in a fresh epoch (_next_version; its
    # ids aren't comparable to the old ones), it does not orphan the
    # live rows — and the epoch keeps a revisited lineage from reusing
    # its own historical version-dir names (_vdir_name).
    batch_id, epoch = _next_version(meta, ckpt_id)
    base = (spark.read.parquet(meta[1]) if meta is not None
            else stamped.limit(0))
    from clif_spark.operators import core as _core

    merged = _core.upsert_keep_latest(
        base, stamped, keys, order,
        allow_missing_columns=allow_missing_columns)
    vdir = os.path.join(root, _vdir_name(batch_id, ckpt_id, epoch))
    merged.write.mode("overwrite").parquet(vdir)
    _cdc_pointer_write(root, batch_id, vdir, ckpt_id, epoch)
    return vdir


def read_cdc_snapshot(spark: SparkSession, root: str,
                      tombstone_col: str = "is_delete",
                      version: int | None = None,
                      include_tombstones: bool = False) -> DataFrame:
    """Live rows of an apply_cdc_stream table: resolve the atomic pointer
    (or a pinned ``version`` — TIME TRAVEL, since every applied batch
    leaves an immutable ``v{batch_id}`` directory until compaction), read
    that version, filter out logical deletes.

    ``include_tombstones=True`` returns the RAW stored rows (tombstone
    column intact) — the read a maintenance job needs when deriving an
    applied-through watermark from a version column carried in the
    data: a delivery whose upsert writes ONLY tombstones would not
    advance a live-row max and would re-apply after a checkpoint reset
    (ADVICE r16; the keep-latest pointer tracks its own upsert counter,
    not the caller's delivery ordinal, so the data is the only place
    the ordinal lives)."""
    import os

    meta = _cdc_pointer_read(root)
    if meta is None:
        raise FileNotFoundError(f"no CDC snapshot pointer under {root}")
    if version is not None:
        # Versions resolve within the CURRENT lineage EPOCH only (the
        # pointer's checkpoint id + epoch) — serving another lineage's
        # v{N}, or the same lineage's v{N} from before an interleaved
        # feed, would silently time-travel a DIFFERENT history. Older
        # epochs' dirs may still exist on disk but are not addressable
        # here by design.
        if version == meta[0]:
            # the CURRENT version is always addressable at exactly the
            # path the pointer names — compaction may have rewritten
            # it under any suffix (_compacted, the drop-zero _z), and
            # probing name patterns here would have to track every
            # suffix the compactor can mint
            vdir = meta[1]
        else:
            name = _vdir_name(version, meta[2], meta[3])
            vdir = os.path.join(root, name)
            if not os.path.exists(vdir):
                vdir = os.path.join(root, f"{name}_compacted")
            if not os.path.exists(vdir):
                raise FileNotFoundError(
                    f"no version v{version} in the current lineage "
                    f"under {root} (compacted away, skipped as a "
                    f"redelivery, or written by an earlier feed "
                    f"lineage)")
    else:
        vdir = meta[1]
    raw = spark.read.parquet(vdir)
    if include_tombstones:
        return raw
    return raw.filter(~F.col(tombstone_col)).drop(tombstone_col)


def compact_cdc_snapshot(spark: SparkSession, root: str,
                         tombstone_col: str = "is_delete",
                         drop_zero_cols: list[str] | None = None) -> int:
    """Drop retained tombstones and expire history: rewrite the CURRENT
    version with its tombstone rows physically removed (they have served
    their suppression purpose once the feed is known to have delivered
    everything up to this point — the caller asserts that by invoking
    compaction, exactly the contract of a log-compaction retention
    horizon), flip the pointer to the compacted version, and delete the
    older version directories. Time travel before the compaction point is
    gone afterwards — the storage-reclaim trade every table format makes.

    ``drop_zero_cols``: ALSO physically remove live rows whose listed
    columns are ALL zero — the fold-store complement: an additive store
    that supports TAKEDOWN (negated-count folds) accumulates exactly-
    zeroed keys that readers must filter (``c > 0``) but that never
    leave the parquet; repeated takedowns grow dead rows without bound.
    A zeroed key is re-admittable at any time (a fresh positive fold
    recreates it — unlike a tombstone there is no suppression role to
    preserve), so dropping it is safe under the same delivered-through
    contract as the tombstone drop. Pass the store's ``add_cols``.

    Returns the number of rows removed (tombstones + zeroed). CAUTIONS
    (documented, not enforced): compacting while the CDC feed can still
    deliver a record OLDER than a dropped tombstone's version re-opens
    the resurrection window that retained tombstones exist to close; and
    the pre-compaction version dir is removed with NO retention grace,
    so an in-flight reader holding a lazy DataFrame bound to it will
    fail on collect — single-writer, re-resolve-before-read discipline
    (a real table format keeps a retention window for exactly this).
    """
    import os
    import shutil

    def _sweep(keep: str) -> None:
        for name in os.listdir(root):
            p = os.path.join(root, name)
            if (name.startswith("v") and p != keep and os.path.isdir(p)):
                shutil.rmtree(p)

    meta = _cdc_pointer_read(root)
    if meta is None:
        raise FileNotFoundError(f"no CDC snapshot pointer under {root}")
    last_bid, vdir, ckpt_id, epoch = meta
    already = "_compacted" in os.path.basename(vdir)
    dead_pred = F.col(tombstone_col)
    if drop_zero_cols:
        import functools
        import operator

        # dead = tombstoned OR every listed aggregate exactly zero.
        # NULL-safe equality: a NULL aggregate (e.g. a pre-evolution
        # row under allow_missing_columns) is NOT zero — plain == would
        # NULL-propagate through ~dead_pred and silently DELETE the row
        dead_pred = dead_pred | functools.reduce(
            operator.and_,
            [F.col(c).eqNullSafe(F.lit(0)) for c in drop_zero_cols])
    if already:
        # Idempotent: already compacted, no new batches since. Still run
        # the stale-dir sweep — a prior compaction that crashed after the
        # pointer flip but before deletion would otherwise leak its old
        # version dirs forever; re-invocation completes the cleanup.
        # Zeroed rows can only survive here if THAT compaction ran
        # without drop_zero_cols (a fold in between writes a fresh
        # uncompacted dir) — one store-sized count over the two
        # predicate columns decides (the store is key-count sized,
        # never corpus-sized; still a data read, not footer-only).
        if not drop_zero_cols or \
                spark.read.parquet(vdir).filter(dead_pred).count() == 0:
            _sweep(vdir)
            return 0
    snap = spark.read.parquet(vdir)
    # suffix stays unique per rewrite even when re-compacting an
    # already-compacted dir (the drop-zero-after-plain-compaction case)
    cdir = f"{vdir}_z" if already else f"{vdir}_compacted"
    # ONE full scan: write the filtered output first, then derive the
    # removed count from the two row counts (parquet counts are
    # footer-metadata jobs, not data reads).
    snap.filter(~dead_pred).write.mode("overwrite").parquet(cdir)
    n_dead = snap.count() - spark.read.parquet(cdir).count()
    _cdc_pointer_write(root, last_bid, cdir, ckpt_id, epoch)
    _sweep(cdir)
    return n_dead


def fold_agg_snapshot(partials: DataFrame, root: str, keys: list[str],
                      version: int,
                      add_cols: list[str],
                      min_cols: list[str] | None = None,
                      max_cols: list[str] | None = None,
                      lineage: str = "agg") -> str | None:
    """Incremental AGGREGATE maintenance — the materialized-view fold:
    merge one delivery's per-key partial aggregates into a persisted
    aggregate table in the CDC snapshot format (immutable ``v{id}``
    dirs + atomic pointer, so read/compact/time-travel apply
    unchanged). ``add_cols`` merge by SUM (counts, integer-micros
    sums), ``min_cols``/``max_cols`` by MIN/MAX — the decomposable
    aggregate classes whose partials compose associatively; derived
    metrics (mean = sum/n) belong at read time, never in the store.

    UNLIKE the keep-latest upsert, an additive fold is NOT idempotent —
    re-applying a delivery double-counts — so replay safety here is
    the skip guard alone: ``version`` is the caller's strictly
    increasing delivery ordinal; a fold AT the pointer's last-applied
    ordinal (same lineage) is the crash-replay redelivery (sink ran,
    caller's commit didn't) and is SKIPPED, returning None, while a
    fold BELOW it RAISES — with only the last ordinal recorded, an
    older version is indistinguishable between "redelivered long ago"
    and "genuinely new, arrived out of order", and silently skipping
    the latter is undetectable data loss on a caller ordinal bug.
    This is apply_cdc_stream's redelivery rule with the both-ways
    safety net removed, which is why the guard is mandatory rather
    than advisory and why the ambiguous case must be loud.

    Tombstoned keys (retired via the upsert machinery's is_delete
    rows) are EXCLUDED from the fold two-sidedly: their stored row is
    carried through untouched (never summed into an aggregate — a
    tombstone's NULL/stale partials must not poison a live total) and
    incoming partials for them are dropped (a retired key stays
    retired until explicitly re-admitted). ``compact_cdc_snapshot``
    physically removes them as usual.

    Scale: the store holds one row per KEY (not per event) — folding a
    delivery costs O(delivery partials + store keys); the full-history
    recompute this replaces costs O(all events ever). At 100 TB
    partition the store on the key and rewrite only touched
    partitions. Rows carry ``is_delete = false`` so the snapshot stays
    compact/read compatible."""
    import hashlib
    import os

    os.makedirs(root, exist_ok=True)
    ckpt_id = hashlib.md5(f"agg:{lineage}".encode()).hexdigest()[:16]
    spark = partials.sparkSession
    meta = _cdc_pointer_read(root)
    if meta is not None and meta[2] == ckpt_id:
        if version == meta[0]:
            return None  # redelivered last fold: already counted
        if version < meta[0]:
            raise ValueError(
                f"fold_agg_snapshot: delivery ordinal {version} is below "
                f"the last applied ordinal {meta[0]} for lineage "
                f"'{lineage}' — either a deep redelivery (re-applying "
                f"would double-count) or a genuinely new out-of-order "
                f"delivery (skipping would lose it). The fold cannot "
                f"tell; fix the caller's ordinal assignment.")
        epoch = meta[3]
    else:
        epoch = meta[3] + 1 if meta is not None else 0
    incoming = partials.withColumn("is_delete", F.lit(False))
    if meta is not None:
        base = spark.read.parquet(meta[1])
        dead = base.filter(F.col("is_delete"))
        live_src = (base.filter(~F.col("is_delete"))
                        .unionByName(incoming.join(
                            dead.select(*keys), list(keys), "left_anti")))
    else:
        dead = None
        live_src = incoming
    aggs = ([F.sum(c).alias(c) for c in add_cols]
            + [F.min(c).alias(c) for c in (min_cols or [])]
            + [F.max(c).alias(c) for c in (max_cols or [])])
    merged = (live_src.groupBy(*keys).agg(*aggs)
              .withColumn("is_delete", F.lit(False)))
    if dead is not None:
        merged = merged.unionByName(dead.select(*merged.columns))
    vdir = os.path.join(root, _vdir_name(version, ckpt_id, epoch))
    merged.write.mode("overwrite").parquet(vdir)
    _cdc_pointer_write(root, version, vdir, ckpt_id, epoch)
    return vdir


def agg_delivered_through(root: str, lineage: str = "agg") -> int | None:
    """The fold store's last-applied delivery ordinal for ``lineage``
    (None before the first fold, or if the standing pointer belongs to
    a different lineage) — the RESTART primitive for maintenance jobs:
    after a streaming-checkpoint reset the whole feed redelivers, and
    a caller whose ordinals ride IN the data and arrive MONOTONE (new
    deliveries only ever append higher ordinals) can resolve
    fold_agg_snapshot's deliberate below-pointer ambiguity — under
    that feed contract every ordinal <= the pointer has been applied,
    so the job skips it and folds only the rest. fold_agg_snapshot
    itself must keep RAISING there (it cannot know the feed is
    monotone, and silently skipping a genuinely new out-of-order
    ordinal is undetectable data loss); the caller that OWNS the
    ordinal assignment can, and this is how it asks."""
    import hashlib

    meta = _cdc_pointer_read(root)
    ckpt_id = hashlib.md5(f"agg:{lineage}".encode()).hexdigest()[:16]
    if meta is None or meta[2] != ckpt_id:
        return None
    return meta[0]


# --- partitioned snapshot store (the "rewrite only touched partitions"
# form the CDC snapshot docstrings promise at 100 TB) ---------------------


def upsert_partitioned_snapshot(batch_df: DataFrame, root: str,
                                keys: list[str], order: list[str],
                                part_col: str,
                                tombstone_col: str = "is_delete") -> list:
    """MERGE one delivery into a HIVE-PARTITIONED snapshot table,
    rewriting ONLY the partitions the delivery touches — the
    O(touched partitions) form that the whole-table copy-on-write CDC
    snapshot (upsert_cdc_snapshot) documents as its 100 TB evolution.
    Returns the list of touched partition values.

    How the plan stays partition-bounded end to end:
    - touched partitions come off the delivery (one distinct over the
      batch — partition-count sized, the only driver-side collect);
    - the merge base is the store read under a LITERAL ``isin`` filter,
      so Spark prunes the scan to touched partition directories at
      planning time (PartitionFilters in the scan node —
      tests/test_streaming.py asserts it);
    - the write is dynamic partition overwrite: only partitions present
      in the output are replaced, every untouched directory's FILES are
      left byte-identical on disk (asserted too).

    Semantics match the CDC family: keep-latest by ``order`` per key
    (idempotent under redelivery — no replay ledger needed, unlike the
    additive fold), tombstones RETAINED in the stored rows and filtered
    at read time (read_partitioned_snapshot), so an out-of-order update
    arriving in a later delivery still loses to a retained tombstone.

    Trade vs the versioned store, stated: no immutable version dirs, no
    time travel, no lazy-reader isolation — dynamic overwrite mutates
    touched partitions in place (per-partition job-commit atomicity
    only). That is the standard lake trade; callers needing history
    keep the versioned form.

    A key MOVING partitions (the partition value of an update differs
    from the stored row's) is NOT merged against its old row — the old
    partition is not in the touched set. Partition columns must be
    immutable per key (the usual table-format constraint); choose them
    so (date, tenant, hash bucket), never a mutable attribute.
    """
    import os

    spark = batch_df.sparkSession
    from clif_spark.operators import core as _core

    stamped = batch_df.withColumn(
        tombstone_col,
        F.coalesce(F.col(tombstone_col), F.lit(False)))
    touched = [r[0] for r in
               stamped.select(part_col).distinct().collect()]
    if os.path.exists(root) and any(
            n.startswith(f"{part_col}=") for n in os.listdir(root)):
        # read the merge base under the DELIVERY's schema: partition
        # values come off directory names, and Spark's type inference
        # does not cover every partition type (a boolean round-trips as
        # string) — applying the user schema parses them back to the
        # delivery's type, so the isin prune and the merge union
        # typecheck on every delivery, not just the first
        base = (spark.read.schema(stamped.schema).parquet(root)
                .filter(F.col(part_col).isin(touched))
                .select(*stamped.columns))
    else:
        base = stamped.limit(0)
    merged = _core.upsert_keep_latest(base, stamped, keys, order)
    # the merge output must be MATERIALIZED before the write — Spark
    # (correctly) refuses to overwrite a path that is still being read
    # by the same plan's lineage. The cut is touched-partition sized,
    # i.e. exactly the rewrite set.
    merged = _core.materialize(merged)
    (merged.write
           .mode("overwrite")
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy(part_col)
           .parquet(root))
    return touched


def read_partitioned_snapshot(spark: SparkSession, root: str,
                              tombstone_col: str = "is_delete",
                              part_col: str | None = None,
                              partitions: list | None = None) -> DataFrame:
    """Live rows of a partitioned snapshot: optional partition pin
    (``part_col`` + ``partitions`` — a literal isin the planner prunes
    to directories), read-time tombstone filter — the partitioned twin
    of read_cdc_snapshot."""
    df = spark.read.parquet(root)
    if partitions is not None:
        if part_col is None:
            raise ValueError("partitions requires part_col")
        df = df.filter(F.col(part_col).isin(partitions))
    return df.filter(~F.col(tombstone_col)).drop(tombstone_col)


def compact_partitioned_snapshot(spark: SparkSession, root: str,
                                 part_col: str,
                                 tombstone_col: str = "is_delete") -> int:
    """Physically drop retained tombstones from a partitioned snapshot,
    rewriting ONLY the partitions that contain one — the partitioned
    twin of compact_cdc_snapshot, with the same caller contract (invoke
    once the feed is known to have delivered everything up to the
    dropped tombstones' versions; single-writer; no retention grace for
    in-flight readers of the rewritten partitions). Returns the number
    of tombstone rows removed.

    Cost shape: finding dirty partitions is one scan under a pushed
    ``tombstone = true`` filter (parquet stats skip clean row groups
    wholesale), the rewrite touches dirty partitions only (dynamic
    overwrite), and clean partitions' files stay byte-identical. A
    partition whose rows are ALL tombstones vanishes from the rewrite
    output — dynamic overwrite cannot replace a partition it does not
    produce, so its directory is removed explicitly (hive %-escaped
    names unescaped for the comparison)."""
    import os
    import shutil
    import urllib.parse

    from clif_spark.operators import core as _core

    snap = spark.read.parquet(root)
    # collect each partition value TWICE — typed (for the isin prune)
    # and as Spark's own string rendering (cast to string matches the
    # hive directory name for bool/date/numeric partition columns,
    # where Python's str() does not: True vs 'true') — so the dead-dir
    # comparison below uses the engine's rendering, not Python's.
    dirty_rows = (snap.filter(F.col(tombstone_col))
                  .select(F.col(part_col).alias("__v"),
                          F.col(part_col).cast("string").alias("__s"))
                  .distinct().collect())
    if not dirty_rows:
        return 0
    dirty = [r["__v"] for r in dirty_rows]
    # materialized before the overwrite (the plan must not read the path
    # it rewrites); the tombstone count rides that job
    sub, m = _core.materialize_observed(
        snap.filter(F.col(part_col).isin(dirty)),
        n_tomb=F.count_if(F.col(tombstone_col)))
    n_tomb = m["n_tomb"]
    cleaned = sub.filter(~F.col(tombstone_col))
    survivors = {r[0] for r in
                 cleaned.select(F.col(part_col).cast("string"))
                 .distinct().collect()}
    (cleaned.write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(root))
    gone = {r["__s"] for r in dirty_rows} - survivors
    if gone:
        for name in os.listdir(root):
            if not name.startswith(f"{part_col}="):
                continue
            val = urllib.parse.unquote(name.split("=", 1)[1])
            if val in gone:
                shutil.rmtree(os.path.join(root, name))
    return n_tomb


# --- LSM-style segment store (O(delivery) writes for high-churn
# keep-best maintenance) --------------------------------------------------

# The copy-on-write CDC snapshot rewrites O(store) per delivery; the
# partitioned store rewrites O(touched partitions) — both degrade to a
# full rewrite when every delivery's keys spray across the whole key
# space (the high-churn keep-best-document-per-URL shape: each crawl
# delivery updates URLs everywhere). The LSM form inverts the trade:
# appends cost O(delivery) — one immutable segment directory per
# delivery, nothing rewritten — reads merge the segments with a
# keep-best reduce (read amplification = segment count), and compaction
# periodically folds all segments into one base to bound it. This is
# the standard log-structured trade (write-optimized vs the CoW family's
# read-optimized), stated per function below.


def _lsm_ckpt(lineage: str) -> str:
    import hashlib

    return hashlib.md5(f"lsm:{lineage}".encode()).hexdigest()[:12]


def _lsm_meta_path(root: str) -> str:
    import os

    return os.path.join(root, "_lsm_meta.json")


def _lsm_meta_read(root: str) -> dict:
    import json
    import os

    p = _lsm_meta_path(root)
    if not os.path.exists(p):
        return {"ckpt": None, "folded": []}
    with open(p) as fh:
        try:
            return json.load(fh)
        except json.JSONDecodeError as exc:
            raise ValueError(
                f"LSM store meta at {p} is corrupt ({exc}). The meta is "
                f"the folded/dropped_through ledger; without it replayed "
                f"deliveries could resurrect tombstoned keys, so the "
                f"store fails loud rather than guess. Writes go through "
                f"os.replace, so this indicates external damage — "
                f"restore the file or rebuild the store.") from exc


def _lsm_meta_write(root: str, meta: dict) -> None:
    """Atomically publish the store meta: write a sibling tmp file and
    ``os.replace`` it over ``_lsm_meta.json`` (atomic on POSIX). A
    truncate-in-place rewrite could be caught mid-write by a crash,
    corrupting the folded/dropped_through ledger and silently
    re-opening the tombstone-resurrection window append_lsm_segment
    exists to guard (ADVICE r12)."""
    import json
    import os

    p = _lsm_meta_path(root)
    tmp = p + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, p)


def _lsm_segments(root: str, ckpt: str) -> list[str]:
    import os

    if not os.path.isdir(root):
        return []
    return sorted(
        os.path.join(root, n) for n in os.listdir(root)
        if (n.startswith("seg-") or n.startswith("base-")
            or n.startswith("run-"))
        and n.endswith(f"-{ckpt}")
        and os.path.exists(os.path.join(root, n, "_SUCCESS")))


def _lsm_dir_version(path: str) -> int:
    """Max delivery version covered by a store dir: seg-<v> and
    base-<v> carry it second; tiered run-<tier>-<maxv> carries it
    third (the tier folds preserve the max so full compaction can
    advance the tombstone-drop horizon correctly over runs)."""
    import os

    parts = os.path.basename(path).split("-")
    return int(parts[2] if parts[0] == "run" else parts[1])


def _lsm_dir_tier(path: str) -> int:
    """Size-tier of a store dir: fresh segments are tier 0, a
    run-<tier>- dir carries its tier, the base never tier-folds
    (returned as -1 so schedulers skip it)."""
    import os

    parts = os.path.basename(path).split("-")
    if parts[0] == "seg":
        return 0
    if parts[0] == "run":
        return int(parts[1])
    return -1


def append_lsm_segment(batch_df: DataFrame, root: str, version: int,
                       tombstone_col: str = "is_delete",
                       lineage: str = "lsm",
                       bloom_key: str | None = None) -> str | None:
    """Append one delivery as an immutable LSM segment — O(delivery)
    disk work, NOTHING rewritten (the whole point of the form). Rows
    are stamped with ``__seg`` = the delivery ordinal so the read-side
    keep-best can break order ties toward the later DELIVERY (without
    it, two equal-order rows for one key from different deliveries
    would tie nondeterministically).

    Replay safety, mirroring the family's rules:
    - redelivery of a version whose segment directory still exists is
      SKIPPED (returns None) — the segment IS the applied record;
    - a version already folded away by compaction is recognized from
      the store meta's folded list and skipped the same way;
    - an UNKNOWN version at or below the TOMBSTONE-DROP horizon
      (``dropped_through`` — advanced by FULL compactions only) RAISES:
      the full fold dropped tombstones under the "everything delivered
      up to the dropped versions" contract, so a genuinely new old
      delivery arriving now could resurrect tombstoned keys — loud
      beats silent corruption (fold_agg_snapshot's reasoning). Below a
      PARTIAL fold's horizon, unknown versions APPEND normally —
      partial folds retain tombstones, so the order-based merge stays
      correct for them (that is exactly why the partial form is
      contract-free).
    Out-of-order versions are otherwise fine — the merge is by
    ``order`` at read time, not by apply order (unlike the additive
    fold, which is why that one needs the strict ordinal guard and
    this one does not).

    ``bloom_key=col`` additionally records a per-segment Bloom bitmap
    over the delivery's ``col`` values in the store meta (one
    O(delivery) aggregate) — the manifest entry ``read_lsm(key_eq=)``
    point lookups prune segments with; folds carry it forward. Opt-in
    per store: pass it consistently (the leading read key) or not at
    all; bloom-less segments are conservatively kept by every read."""
    import os

    ckpt = _lsm_ckpt(lineage)
    os.makedirs(root, exist_ok=True)
    seg = os.path.join(root, f"seg-{version:08d}-{ckpt}")
    if os.path.exists(os.path.join(seg, "_SUCCESS")):
        return None
    meta = _lsm_meta_read(root)
    if meta["ckpt"] == ckpt:
        if version in meta["folded"]:
            return None
        if version <= meta.get("dropped_through", 0):
            raise ValueError(
                f"append_lsm_segment: version {version} is at or below "
                f"the tombstone-drop horizon "
                f"{meta.get('dropped_through', 0)} for lineage "
                f"'{lineage}' but was never applied — a full "
                f"compaction already dropped tombstones up to that "
                f"horizon, so appending it now could resurrect "
                f"tombstoned keys. Fix the caller's ordinal "
                f"assignment or compact later.")
    stamped = (batch_df
               .withColumn(tombstone_col,
                           F.coalesce(F.col(tombstone_col), F.lit(False)))
               .withColumn("__seg", F.lit(version).cast("long")))
    stamped.write.mode("overwrite").parquet(seg)
    if bloom_key is not None:
        # hash the WRITTEN files, not the input lineage: a
        # non-deterministic input (sample/rand upstream) re-evaluated
        # for the bloom could disagree with the rows the write
        # persisted, turning the filter's proof-of-absence into a
        # false negative (the fold paths already read their artifact)
        spark = stamped.sparkSession
        meta = _lsm_meta_read(root)
        meta.setdefault("blooms", {})[os.path.basename(seg)] = \
            _lsm_bloom_build(spark.read.parquet(seg), bloom_key)
        _lsm_meta_write(root, meta)
    return seg


def _lsm_segment_stats(seg: str, col: str):
    """(min, max) of ``col`` over one segment dir, read from the
    parquet FOOTER statistics — no Spark job, no data pages touched
    (at 100 TB this is a handful of footer GETs per segment, the same
    metadata a production LSM keeps in its manifest). Returns None
    when any file lacks usable stats for the column — the caller must
    then keep the segment (pruning may only ever be a no-op, never
    wrong). Parquet string stats may be stored truncated, but the
    format requires truncation to widen the bounds, so intersection
    tests against them stay conservative."""
    import glob
    import os

    import pyarrow.parquet as papq

    files = glob.glob(os.path.join(seg, "*.parquet"))
    if not files:
        return None
    lo = hi = None
    for f in files:
        md = papq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


#: Bloom hash count shared by the build and probe sides (and with the
#: dedup bloom machinery's default — the same filter math).
_LSM_BLOOM_K = 5


def _lsm_bloom_build(df: DataFrame, key_col: str,
                     m_bits: int | None = None) -> dict:
    """Per-segment Bloom bitmap over ``key_col`` — the manifest entry
    that lets point lookups skip segments whose RANGE covers the key
    but which never stored it (high-churn stores: every segment's
    min/max straddles most keys, so footer stats alone prune nothing).
    Reuses the dedup bloom machinery: xxhash64 under k fixed seeds mod
    m, one map-side-combined ``bit_or`` aggregate. Keys hash through
    CAST AS STRING so the probe literal can never type-drift from the
    stored column (int vs bigint hash differently under xxhash64).

    Sizing: next power of two >= 16 bits/key (k=5 -> ~0.1% false
    positives), floored at 1024 and capped at 2^20 bits (128 KiB of
    words — beyond that the FP rate degrades gracefully and pruning
    only ever degrades to a no-op, never to a wrong read). The words
    land in ``_lsm_meta.json`` as a sparse {word: bits} map — segment
    metadata, not data; a production store would keep them as sidecar
    manifest entries exactly like the footer stats.

    The ``collect()`` here is BOUNDED by construction: m/64 <= 16384
    rows of two longs."""
    from clif_spark.dedup import _bloom_positions

    if m_bits is None:
        n = df.select(key_col).distinct().count()
        m_bits = 1 << max(10, min(20, (16 * max(n, 1) - 1).bit_length()))
    fp = df.select(F.col(key_col).cast("string").alias("fp"))
    pos = fp.select(F.explode(
        _bloom_positions(F.col("fp"), m_bits, _LSM_BLOOM_K)).alias("pos"))
    words = (pos.select((F.col("pos") / 64).cast("long").alias("word"),
                        F.expr("shiftleft(1L, cast(pos % 64 as int))")
                         .alias("mask"))
             .groupBy("word").agg(F.bit_or("mask").alias("bits"))
             .collect())
    return {"m": m_bits, "k": _LSM_BLOOM_K,
            "words": {str(r["word"]): r["bits"] for r in words}}


def _lsm_bloom_positions_of(spark: SparkSession, value, m_bits: int,
                            k: int, key_type) -> list[int]:
    """The probe value's k bit positions, computed by the ENGINE's own
    xxhash64 (one single-row job) — build and probe share one hash
    implementation, so they can never drift (reimplementing xxhash64
    driver-side would be a second source of truth). The literal is
    cast to the STORED key column's type BEFORE the string cast,
    mirroring the build side's CAST(col AS STRING) exactly — without
    it an int probe against a double key hashes '42' while the store
    hashed '42.0' and the holding segment is silently pruned."""
    from clif_spark.dedup import _bloom_positions

    row = spark.range(1).select(
        _bloom_positions(
            F.lit(value).cast(key_type).cast("string"), m_bits, k)
        .alias("p")).first()
    return [int(p) for p in row["p"]]


def _lsm_bloom_excludes(bloom: dict, positions: list[int]) -> bool:
    """True iff the bitmap PROVES absence (some probed bit unset) —
    the only direction a Bloom filter may assert. Word values are the
    engine's signed 64-bit longs; Python's arithmetic shift reads
    their two's-complement bits correctly for indices 0..63."""
    words = bloom["words"]
    for pos in positions:
        bits = words.get(str(pos // 64), 0)
        if not (int(bits) >> (pos % 64)) & 1:
            return True
    return False


def _lsm_blooms_after_fold(spark: SparkSession, meta: dict,
                           retired: list[str], out_dir: str,
                           key_col: str) -> dict:
    """The meta's bloom map after a fold: retired segments' entries
    drop, and — iff any retired source carried a bloom (i.e. the
    caller opted into blooms for this store) — the fold artifact gets
    a fresh bitmap built from its own written rows (exact: masked
    rows dropped by the fold leave the new filter too)."""
    import os

    blooms = dict(meta.get("blooms", {}))
    names = {os.path.basename(s) for s in retired}
    had = any(n in blooms for n in names)
    for n in names:
        blooms.pop(n, None)
    if had:
        blooms[os.path.basename(out_dir)] = _lsm_bloom_build(
            spark.read.parquet(out_dir), key_col)
    return blooms


def read_lsm(spark: SparkSession, root: str, keys: list[str],
             order: list[str], tombstone_col: str = "is_delete",
             lineage: str = "lsm",
             key_range: tuple | None = None,
             as_of: int | None = None,
             key_eq=None) -> DataFrame:
    """Live rows of an LSM store: union every segment, keep per key the
    row sorting LAST by (``order``, ``__seg``) — the delivery-ordinal
    tie-break — then filter tombstones. Read amplification is the
    segment count (each segment is one scan leg of the union);
    compact_lsm bounds it. One hash exchange on the key, exactly
    upsert_keep_latest's shape — at 100 TB the union legs scan in
    parallel and the reduce is the same shuffle a one-table keep-best
    pays anyway.

    ``key_range=(lo, hi)`` is SEGMENT SKIPPING on the leading key
    (inclusive bounds): segments whose parquet-footer min/max on
    ``keys[0]`` cannot intersect the range are dropped from the union
    BEFORE any data page is read — the manifest-style prune that cuts
    the between-compactions read penalty without waiting for a fold.
    Bit-identical to the unpruned read filtered to the range: a key in
    range appears in a segment only if that segment's stats straddle
    it, so every row (including tombstones) that the keep-best merge
    for an in-range key needs survives the prune; a segment without
    usable stats is conservatively kept.

    ``key_eq=v`` is a POINT LOOKUP on the leading key: segments whose
    per-segment Bloom bitmap (recorded at append/fold time via
    ``append_lsm_segment(bloom_key=...)``) PROVES the key absent are
    skipped before any data page is read, then the footer-stats prune
    and the row filter apply as for ``key_range=(v, v)``. This is the
    high-churn complement to the stats prune: when every segment's
    min/max straddles most keys (spray workloads), ranges prune
    nothing while blooms still cut the scan set to the segments that
    ever STORED the key. Bit-identical to the unpruned read filtered
    to equality — a bloom may only prove absence (zero false
    negatives, the dedup_bloom_screen contract), and a segment
    without a recorded bloom is conservatively kept. Mutually
    exclusive with ``key_range``.

    ``as_of=N`` is a SNAPSHOT (time-travel) read: the live rows as
    they stood after delivery N — only rows with ``__seg`` <= N enter
    the keep-best, and seg- dirs for later deliveries are pruned from
    the union without touching their data (segment immutability is
    what makes snapshots free: history is never rewritten, only
    folded). Validity horizon: COMPACTION EXPIRES OLD SNAPSHOTS — a
    fold keeps only the rows that win across its folded set, so a
    version masked by a later folded delivery is gone; reads at
    ``as_of`` below the max folded version therefore RAISE (snapshot
    expired) rather than return a silently incomplete state — the
    same expiry contract Iceberg/Delta attach to snapshot removal. At
    or above the horizon the snapshot is exact for every store form
    (folds preserve ``__seg`` stamps and only drop rows masked by
    versions at or below the horizon)."""
    from clif_spark.operators import windows as _w

    if key_eq is not None and key_range is not None:
        raise ValueError("read_lsm: key_eq and key_range are mutually "
                         "exclusive — a point lookup IS the degenerate "
                         "range; pass one")
    ckpt = _lsm_ckpt(lineage)
    segs = _lsm_segments(root, ckpt)
    if not segs:
        raise ValueError(f"read_lsm: no segments under {root}")
    if as_of is not None:
        import os

        meta = _lsm_meta_read(root)
        horizon = (max(meta["folded"])
                   if meta["ckpt"] == ckpt and meta["folded"] else 0)
        if as_of < horizon:
            raise ValueError(
                f"read_lsm: snapshot as_of={as_of} is below the fold "
                f"horizon {horizon} for lineage '{lineage}' — "
                f"compaction keeps only the rows that win across the "
                f"folded set, so states older than the horizon are "
                f"unrecoverable (expired snapshot). Read at or above "
                f"the horizon, or schedule compaction to retain the "
                f"history you need.")
        segs = [s for s in segs
                if not os.path.basename(s).startswith("seg-")
                or _lsm_dir_version(s) <= as_of]
        # fold artifacts survive the dir prune (they may hold rows at
        # or below as_of); the row filter below bounds their content
    if key_eq is not None:
        import os

        blooms = _lsm_meta_read(root).get("blooms", {})
        # the stored key column's type, from parquet footers only (no
        # data pages): probe literals cast through it so their string
        # form can never drift from the build side's. Read it from the
        # UNPRUNED segment list — an as_of prune may have emptied
        # `segs` (snapshot below every delivery, no fold artifacts
        # yet), and that case must fall through to the empty-relation
        # branch below, not die here on a path-less read
        ktype = (spark.read.parquet(*_lsm_segments(root, ckpt))
                 .schema[keys[0]].dataType)
        pos_cache: dict[tuple, list[int]] = {}
        kept = []
        for s in segs:
            b = blooms.get(os.path.basename(s))
            if b is not None:
                mk = (b["m"], b["k"])
                if mk not in pos_cache:
                    pos_cache[mk] = _lsm_bloom_positions_of(
                        spark, key_eq, b["m"], b["k"], ktype)
                if _lsm_bloom_excludes(b, pos_cache[mk]):
                    continue
            kept.append(s)
        segs = kept
        key_range = (key_eq, key_eq)  # stats prune + row filter below
    if key_range is not None:
        lo, hi = key_range
        kept = []
        for s in segs:
            stats = _lsm_segment_stats(s, keys[0])
            if stats is None or not (stats[1] < lo or stats[0] > hi):
                kept.append(s)
        segs = kept
    if not segs:
        # every dir pruned (no key can intersect, or the snapshot
        # predates the first delivery): an empty relation with the
        # read schema — read the store schema from any segment dir
        all_segs = _lsm_segments(root, ckpt)
        empty = spark.read.parquet(*all_segs).limit(0)
        best = _w.dedup_keep_last(empty, keys,
                                  list(order) + ["__seg"])
        return best.filter(~F.col(tombstone_col)) \
                   .drop(tombstone_col, "__seg")
    merged = spark.read.parquet(*segs)
    if key_range is not None:
        merged = merged.filter(
            F.col(keys[0]).between(F.lit(key_range[0]),
                                   F.lit(key_range[1])))
    if as_of is not None:
        merged = merged.filter(F.col("__seg") <= F.lit(as_of))
    best = _w.dedup_keep_last(merged, keys, list(order) + ["__seg"])
    return best.filter(~F.col(tombstone_col)) \
               .drop(tombstone_col, "__seg")


def compact_lsm(spark: SparkSession, root: str, keys: list[str],
                order: list[str], tombstone_col: str = "is_delete",
                lineage: str = "lsm", keep_recent: int = 0) -> int:
    """Fold segments into one base segment, bounding read
    amplification. Two forms, chosen by ``keep_recent``:

    - FULL (``keep_recent=0``, default): fold everything, dropping
      masked rows AND tombstones — after a full fold no older segment
      remains for a tombstone to mask, so retaining it would only cost
      reads. Caller contract (same as compact_cdc_snapshot): invoke
      once the feed has delivered everything at or below the folded
      versions; the meta's ``dropped_through`` advances and
      append_lsm_segment fails loud on unknown versions below it.
    - PARTIAL (``keep_recent=K>0``): fold only the OLDEST segments,
      leaving the K newest untouched; tombstone WINNERS are RETAINED
      in the base (a still-unseen out-of-order delivery below the fold
      must keep losing to them), so this form is CONTRACT-FREE — run
      it on any schedule, with deliveries still in flight. This is the
      leveled-compaction shape every production LSM runs between rare
      full folds.

    Both forms: winning rows KEEP their original ``__seg`` stamps, so
    post-compaction ties against newer segments resolve exactly as
    they would have uncompacted — compaction is invariant to the read
    (unit-pinned, and the gated u12 row runs a mid-sequence partial
    fold under the same global oracle). The folded version list is
    recorded in the store meta so folded redeliveries skip. Returns
    the number of segments folded (0 = nothing to fold; single-writer,
    like the whole family).

    Cost: one merged read over the folded set + one O(its live keys)
    write, amortized over the many O(delivery) appends it enables —
    the classic LSM schedule (thresholds belong to the caller's
    scheduler, not the store)."""
    import os
    import shutil

    ckpt = _lsm_ckpt(lineage)
    segs = _lsm_segments(root, ckpt)
    seg_only = [s for s in segs
                if os.path.basename(s).startswith("seg-")]
    if keep_recent > 0:
        # newest K seg- dirs stay; existing base and tier runs always fold
        seg_only = sorted(seg_only, key=_lsm_dir_version)
        keep = set(seg_only[len(seg_only) - keep_recent:]
                   if keep_recent < len(seg_only) else seg_only)
        fold = [s for s in segs if s not in keep]
    else:
        fold = segs
    if not any(os.path.basename(s).startswith(("seg-", "run-"))
               for s in fold):
        return 0  # nothing to fold (empty, just a base, or all kept)
    meta = _lsm_meta_read(root)
    versions = [_lsm_dir_version(s) for s in fold]
    from clif_spark.operators import windows as _w

    merged = spark.read.parquet(*fold)
    best = _w.dedup_keep_last(merged, keys, list(order) + ["__seg"])
    if keep_recent == 0:
        best = best.filter(~F.col(tombstone_col))
    base = os.path.join(root, f"base-{max(versions):08d}-{ckpt}")
    gen = 0
    while os.path.exists(base):
        # the natural target name can collide with the CURRENT base
        # (folding it forward when no newer version exists, or a
        # crash-replay of this very fold) — and that base is one of the
        # fold's SOURCES, which must stay visible until the fold is
        # published. Uniquify with an extra dash field instead of
        # deleting: _lsm_dir_version reads the second field either way.
        gen += 1
        base = os.path.join(root,
                            f"base-{max(versions):08d}-{gen:02d}-{ckpt}")
    tmp = base + ".tmp"
    best.write.mode("overwrite").parquet(tmp)
    # publish FIRST, retire after (ADVICE r12): a crash between the
    # rename and the rmtrees leaves both the fold and its sources
    # visible, which the keep-best merge reads correctly (winners keep
    # their __seg stamps, so duplicated rows tie to the same winner;
    # tombstone winners dropped from a FULL fold's base still mask
    # from the surviving source segment until it is retired). The old
    # delete-then-rename order lost every folded row if the process
    # died in between — the .tmp dir is invisible to _lsm_segments.
    os.rename(tmp, base)
    folded = sorted(set(meta["folded"]) | set(versions))
    dropped_through = (max(versions) if keep_recent == 0
                       else meta.get("dropped_through", 0))
    # ledger before retirement too: once the meta lists the folded
    # versions, a redelivery skips even if a crash strands a source dir
    _lsm_meta_write(root, {"ckpt": ckpt, "folded": folded,
                           "dropped_through": dropped_through,
                           "blooms": _lsm_blooms_after_fold(
                               spark, meta, fold, base, keys[0])})
    for s in fold:
        shutil.rmtree(s)
    return len(fold)


def maintain_lsm(spark: SparkSession, root: str, keys: list[str],
                 order: list[str], tombstone_col: str = "is_delete",
                 lineage: str = "lsm", fanout: int = 4) -> int:
    """SIZE-TIERED compaction scheduling — the policy production LSMs
    run between rare full folds, here as a store-owned scheduler
    instead of caller-picked ``keep_recent`` values: whenever a tier
    accumulates ``fanout`` members, its OLDEST ``fanout`` fold into
    one next-tier run (``run-<tier>-<maxv>``), cascading while any
    tier is full. Invariants:

    - tier folds are CONTRACT-FREE, exactly like compact_lsm's partial
      form: tombstone winners are RETAINED (a still-unseen
      out-of-order delivery below the fold must keep losing to them),
      the tombstone-drop horizon never moves, and winners keep their
      ``__seg`` stamps so reads are fold-invariant;
    - folded delivery versions join the store meta's folded ledger, so
      a redelivery of a version whose segment now lives inside a run
      is skipped exactly as if the segment dir still existed;
    - the base (a FULL fold's artifact) never tier-folds — full
      compaction already subsumes it.

    Why this beats both naive schedules: folding everything each
    delivery rewrites O(store) per delivery (the CoW trap the LSM form
    exists to escape); never folding grows read amplification
    linearly. Size-tiering bounds live dirs at < fanout per tier,
    O(fanout * log_fanout(deliveries)) read legs total, while each
    delivery's rows are rewritten only once per tier they pass through
    — O(log_fanout(deliveries)) total write amplification, the classic
    LSM trade. Returns the number of tier folds performed (0 = every
    tier below fanout)."""
    import os
    import shutil

    from clif_spark.operators import windows as _w

    if fanout < 2:
        raise ValueError(
            f"maintain_lsm: fanout must be >= 2, got {fanout} — with "
            f"fanout=1 every tier containing a single run satisfies "
            f"the fold threshold, so the scheduler would refold one "
            f"run into ever-higher tiers forever (ADVICE r12).")
    ckpt = _lsm_ckpt(lineage)
    folds = 0
    while True:
        by_tier: dict[int, list[str]] = {}
        for s in _lsm_segments(root, ckpt):
            t = _lsm_dir_tier(s)
            if t >= 0:
                by_tier.setdefault(t, []).append(s)
        full = [t for t, ds in by_tier.items() if len(ds) >= fanout]
        if not full:
            return folds
        t = min(full)
        members = sorted(by_tier[t], key=_lsm_dir_version)[:fanout]
        merged = spark.read.parquet(*members)
        best = _w.dedup_keep_last(merged, keys, list(order) + ["__seg"])
        maxv = max(_lsm_dir_version(s) for s in members)
        out = os.path.join(root, f"run-{t + 1:02d}-{maxv:08d}-{ckpt}")
        tmp = out + ".tmp"
        best.write.mode("overwrite").parquet(tmp)
        if os.path.exists(out):
            # crash-replay leftover from a fold that published but died
            # before retiring its members: the members are all still
            # present (single-writer), so the leftover run's rows are a
            # subset of the fresh fold in tmp — safe to clear for the
            # rename
            shutil.rmtree(out)
        # publish FIRST, retire after (ADVICE r12, same reasoning as
        # compact_lsm): a crash between rename and the member rmtrees
        # leaves run + members visible, which the keep-best merge reads
        # correctly; the old order lost every folded row
        os.rename(tmp, out)
        meta = _lsm_meta_read(root)
        folded = sorted(set(meta["folded"])
                        | {_lsm_dir_version(s) for s in members
                           if os.path.basename(s).startswith("seg-")})
        _lsm_meta_write(root, {"ckpt": ckpt, "folded": folded,
                               "dropped_through":
                                   meta.get("dropped_through", 0),
                               "blooms": _lsm_blooms_after_fold(
                                   spark, meta, members, out, keys[0])})
        for s in members:
            shutil.rmtree(s)
        folds += 1
