"""Core relational operators (SURVEY §2.2 P1-P11, §2.3 J1-J6).

Thin, composable ``DataFrame -> DataFrame`` functions. Projections/filters are
deliberately expressed through the stock DataFrame API so Catalyst's
ColumnPruning / PushDownPredicates rules see them unchanged (SURVEY §4) — the
value these wrappers add is the *engine idioms* the optimizer does not supply:
broadcast hints for vocab dims, semi-join rewrites, regex-safe fuzzy matching.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- projections ------------------------------------------------------------

def project(df: DataFrame, cols: Sequence[str | Column]) -> DataFrame:
    """P1: column projection (`select`, `code/RCLIF_vitals.Rmd:49`)."""
    return df.select(*cols)


def drop_cols(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """P2: column drop (`select(-c(...))`, `code/RCLIF_medications.Rmd:134`)."""
    return df.drop(*cols)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P3: rename old->new (`rename`, `code/RCLIF_medications.Rmd:43-48`)."""
    return df.withColumnsRenamed(mapping)


def rename_positional(df: DataFrame, names: Sequence[str]) -> DataFrame:
    """P4: rename-by-position (`colnames(df) <- c(...)`,
    `code/RCLIF_dialysis.Rmd:61`)."""
    return df.toDF(*names)


# --- predicates -------------------------------------------------------------

def filter_not_null(df: DataFrame, *cols: str) -> DataFrame:
    """P5/P6: drop rows with NULL in any listed column
    (`filter(!is.na(x))`, `code/RCLIF_vitals.Rmd:42`; `drop_na`,
    `code/RCLIF_demographics.Rmd:115`)."""
    return df.dropna(subset=list(cols))


def filter_in(df: DataFrame, col: str, values: Sequence) -> DataFrame:
    """P7: IN-list predicate (`%in%`, `code/RCLIF_vitals.Rmd:109`)."""
    return df.filter(F.col(col).isin(list(values)))


def filter_castable(df: DataFrame, col: str, to: str = "double") -> DataFrame:
    """P11: keep rows whose value casts cleanly — the reference's
    warning-as-filter idiom (`as.numeric` drop at `code/RCLIF_adt.Rmd:33`).
    Uses try_cast semantics so it is ANSI-mode safe."""
    return df.filter(F.col(col).try_cast(to).isNotNull())


def filter_time_range(df: DataFrame, col: str, start, end) -> DataFrame:
    """P10: half-open time-range predicate (`code/RCLIF_vitals.Rmd:217-218`).
    With date-partitioned layout this prunes partitions for free."""
    return df.filter((F.col(col) >= F.lit(start)) & (F.col(col) < F.lit(end)))


# --- joins ------------------------------------------------------------------

def vocab_join(fact: DataFrame, vocab: DataFrame, on: str | list[str],
               how: str = "left") -> DataFrame:
    """J1/J3: fact ⟕ small controlled-vocabulary dim with an explicit
    broadcast hint (`left_join(vocab)`, `code/RCLIF_vitals.Rmd:41`;
    full join `:124`). Dims are ≤110 rows in the reference — broadcast keeps
    the plan a narrow pipeline at any fact-side scale."""
    return fact.join(F.broadcast(vocab), on=on, how=how)


#: Broadcast gate bounds: rows, and raw key payload bytes per broadcast
#: side (the built hash relation inflates ~2-4x over raw bytes, keeping
#: the executors' copies well under broadcast-pressure territory).
BROADCAST_MAX_ROWS = 1_000_000
BROADCAST_MAX_KEY_BYTES = 64 << 20


def fits_broadcast(rel: DataFrame, key_cols: Sequence[str]) -> bool:
    """Size gate for broadcasting an already-materialized relation (or
    relations it bounds). A checkpointed LogicalRDD inherits its upstream
    plan's size estimate — unknown (Long.Max) for regex/explode lineage —
    so with AQE off the planner picks SortMergeJoin even for a 20-row
    fixture. Decide from the TRUE row count AND the true key payload
    (ADVICE r17: a row-count proxy alone can admit hundreds of MB of long
    string keys): string keys count ``octet_length`` bytes, other keys 8.
    One agg job over ``rel``. Above either bound the caller keeps the
    honest SMJ (web-scale relations exceed any broadcast cap)."""
    dtypes = dict(rel.dtypes)
    key_bytes = sum(
        (F.octet_length(F.col(c)) if dtypes[c] == "string" else F.lit(8)
         for c in key_cols), F.lit(0))
    n, nbytes = rel.agg(F.count(F.lit(1)), F.sum(key_bytes)).first()
    return (n <= BROADCAST_MAX_ROWS
            and (nbytes or 0) <= BROADCAST_MAX_KEY_BYTES)


def composite_join(left: DataFrame, right: DataFrame, keys: Sequence[str],
                   how: str = "left") -> DataFrame:
    """J2/J5: big-big equi-join on an explicit composite key
    (5-column key at `code/RCLIF_medications.Rmd:62-63`; the engine never
    relies on implicit natural-join keys — SURVEY §7.4.7). Shuffles both
    sides on the key; pre-bucketed layout makes it exchange-free."""
    return left.join(right, on=list(keys), how=how)


def semi_join(left: DataFrame, keys: DataFrame, on: str | list[str]) -> DataFrame:
    """J4: left-semi filter (`semi_join`, `code/RCLIF_medications.Rmd:146`)."""
    return left.join(keys, on=on, how="left_semi")


def anti_join(left: DataFrame, keys: DataFrame, on: str | list[str]) -> DataFrame:
    """Complement of J4 — in the engine surface though absent from the
    reference (SURVEY §2.3 'Absent')."""
    return left.join(keys, on=on, how="left_anti")


def fuzzy_vocab_match(names: DataFrame, name_col: str,
                      vocab: DataFrame, term_col: str,
                      n_words: int = 2) -> DataFrame:
    """J6: the reference's rowwise regex med-match re-expressed as a join
    (`match_meds`, `code/RCLIF_medications.Rmd:111-125`).

    Semantics: a vocab term matches a name when the term appears,
    case-insensitively, at a word boundary within the name's first
    ``n_words`` words. Scale shape: callers pass *distinct* names (the
    reference applies the same trick via A6 at `:98-100`), the vocab side is
    broadcast, and the regex runs as the join condition — a broadcast
    nested-loop over (distinct names × tiny vocab), then hash-join back to
    facts. Terms are \\Q..\\E-quoted so regex metacharacters in vocab entries
    cannot alter the pattern (SURVEY §7.4.6).
    """
    first_words = F.concat_ws(" ", F.slice(F.split(F.col(name_col), " "), 1, n_words))
    pattern = F.concat(F.lit(r"(?i)\b\Q"), F.col(term_col), F.lit(r"\E\b"))
    return (names.withColumn("__first_words", first_words)
                 .join(F.broadcast(vocab),
                       F.rlike(F.col("__first_words"), pattern))
                 .drop("__first_words"))


# --- sorts / limits ----------------------------------------------------------

def sort(df: DataFrame, cols: Sequence[str | Column], ascending: bool = True) -> DataFrame:
    """O1/O2: global sort (`arrange`, `code/RCLIF_vitals.Rmd:61`). A global
    sort is a range exchange; for sink ordering prefer
    io.write_table(sort_within_partitions=...) at scale (SURVEY §7.4.8)."""
    if ascending:
        return df.orderBy(*cols)
    return df.orderBy(*[F.col(c).desc() if isinstance(c, str) else c.desc() for c in cols])


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Ordered LIMIT — Spark plans TakeOrderedAndProject: per-partition heap
    + single driver merge; no global sort materialization. Callers must
    include a tiebreaker column for deterministic results."""
    return df.orderBy(*order).limit(k)


def upsert_keep_latest(base: DataFrame, updates: DataFrame,
                       keys: Sequence[str],
                       order: Sequence[str | Column],
                       allow_missing_columns: bool = False) -> DataFrame:
    """U5 (engine ext.): incremental refresh as a relation — MERGE's
    insert-or-replace semantics without a transactional table format:
    union the incoming batch with the current snapshot and keep, per key,
    the row that sorts LAST by ``order`` (a version/extract timestamp the
    caller must provide — SURVEY §7.4.1's explicit-order rule; ties must
    be broken by a unique column).

    This is the engine's answer to the reference's month-over-month
    re-extract workflow (full recompute there; here the new extract folds
    into the standing table). Scale shape: one hash exchange on the key —
    with both sides bucketed by ``keys`` (io.write_bucketed_table) the
    merge is exchange-free; at 100 TB prefer partition-pruned updates
    (write only touched date partitions) over whole-table merges.
    """
    from clif_spark.operators import windows as _w

    # Strict schemas by default: a schema-drifted batch missing a column
    # would otherwise win the keep-latest dedup and permanently NULL that
    # column for every updated key — silent data destruction where a loud
    # unionByName mismatch catches the drift. Opt in explicitly for
    # genuine additive evolution (pair with io.read_parquet merge_schema).
    merged = base.unionByName(updates,
                              allowMissingColumns=allow_missing_columns)
    return _w.dedup_keep_last(merged, keys, order)


def merge_with_deletes(base: DataFrame, updates: DataFrame,
                       keys: Sequence[str],
                       order: Sequence[str | Column],
                       tombstone_col: str = "is_delete") -> DataFrame:
    """U7 (engine ext.): full MERGE semantics — insert, replace, AND
    delete — without a transactional table format. ``updates`` carries a
    boolean ``tombstone_col``; the winner per key is still the row that
    sorts last by ``order`` (upsert_keep_latest's contract), and a key
    whose WINNING row is a tombstone leaves the snapshot entirely. A
    tombstone only deletes if nothing newer resurrects the key — i.e.
    delete-then-reinsert in one batch resolves by ``order``, exactly the
    CDC replay rule.

    ``base`` needs no tombstone column (a standing snapshot has no
    deletes by construction); it is stamped FALSE before the union. A
    NULL tombstone in ``updates`` means upsert (COALESCE to FALSE) so
    sparse CDC feeds don't delete by accident.

    Scale shape: identical to upsert_keep_latest — one hash exchange on
    the key (none when both sides are bucketed by ``keys``); the
    tombstone filter is a post-dedup narrow predicate, so deletes cost
    nothing beyond the merge itself. At 100 TB the same
    partition-pruned-updates advice applies.
    """
    from clif_spark.operators import windows as _w

    if tombstone_col not in updates.columns:
        raise ValueError(
            f"updates must carry a boolean {tombstone_col!r} column")
    if tombstone_col in base.columns:
        # A base that still carries tombstones is a RAW retained-delete
        # snapshot (apply_cdc_stream stores those); silently stamping it
        # FALSE would resurrect every deleted key with stale data. Make
        # the caller filter first (streaming.read_cdc_snapshot does).
        raise ValueError(
            f"base already has a {tombstone_col!r} column — filter its "
            f"retained tombstones out first (read_cdc_snapshot), or pass "
            f"a different tombstone_col")
    stamped_base = base.withColumn(tombstone_col, F.lit(False))
    stamped_updates = updates.withColumn(
        tombstone_col, F.coalesce(F.col(tombstone_col), F.lit(False)))
    merged = _w.dedup_keep_last(
        stamped_base.unionByName(stamped_updates), keys, order)
    return merged.filter(~F.col(tombstone_col)).drop(tombstone_col)


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  compare: list[str]) -> DataFrame:
    """Classify every key between two table snapshots: 'added' (key only
    in new), 'removed' (only in old), 'changed' (present in both with
    any compared column differing, NULL-safely), or 'unchanged' — the
    regression-diff / CDC-audit primitive behind incremental-pipeline
    validation (the read-side complement of the upsert writer).

    One full outer join on the key; the change predicate uses
    null-safe equality (eqNullSafe) so NULL -> value and value -> NULL
    transitions count as changes instead of vanishing into SQL
    three-valued logic. Output: (*keys, change, old/new compare cols).
    At scale this is the canonical co-partitionable join — bucket both
    snapshots by the key and the exchange disappears.
    """
    # presence is tracked with explicit marker columns: a NULL compare
    # column in a present row would otherwise read as "absent"
    o = old.select(*keys, *[F.col(c).alias(f"old_{c}") for c in compare],
                   F.lit(True).alias("__in_old"))
    n = new.select(*keys, *[F.col(c).alias(f"new_{c}") for c in compare],
                   F.lit(True).alias("__in_new"))
    j = o.join(n, keys, "full_outer")
    same = None
    for c in compare:
        eq = F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        same = eq if same is None else same & eq
    change = (F.when(F.col("__in_old").isNull(), "added")
               .when(F.col("__in_new").isNull(), "removed")
               .when(same if same is not None else F.lit(True),
                     "unchanged")
               .otherwise("changed"))
    return (j.withColumn("change", change)
             .drop("__in_old", "__in_new"))


def with_audit(df: DataFrame, name: str | None = None, **metrics: Column):
    """Attach pipeline audit counters that ride the SAME action — the
    production alternative to sprinkling ``count()`` calls (each of which
    is a full extra pass; at 100 TB a three-stage pipeline with per-stage
    counts would quadruple the I/O). ``df.observe`` evaluates the metric
    expressions inside the existing plan; the values materialize when the
    caller's one action runs and are read from the returned Observation
    handle afterwards.

    Returns (df, observation). Metrics must be aggregates over the rows
    flowing PAST this point (count/sum/min/max/count_if — anything
    Catalyst can fold into an AggregatingAccumulator); defaults to a bare
    row count when none are given.

    Contract note: metrics reflect the rows the plan ACTUALLY processed —
    under limit pushdown or pruned scans that can legitimately be fewer
    than a standalone count() of the same relation would report. That is
    the audit you want (what this run saw), not corpus cardinality.
    """
    from pyspark.sql import Observation

    if not metrics:
        metrics = {"n_rows": F.count(F.lit(1))}
    obs = Observation(name)
    exprs = [v.alias(k) for k, v in metrics.items()]
    return df.observe(obs, *exprs), obs


# --- materialization ---------------------------------------------------------

#: Session conf naming a directory (HDFS/object store in production)
#: for RELIABLE checkpoints, which survive executor loss. Unset (the
#: default, and the bench) every cut is a local checkpoint.
CHECKPOINT_DIR_CONF = "spark.clif.checkpointDir"


def materialize(df: DataFrame) -> DataFrame:
    """The engine's one eager lineage cut: ``checkpoint`` under
    ``CHECKPOINT_DIR_CONF`` when set, ``localCheckpoint`` otherwise. A
    cut costs a job and the plan's statistics, so it earns its place
    only when the relation is read more than once downstream, pins a
    store version before that store is written, or cuts a loop's
    lineage. A changed conf re-points the SparkContext on the next call
    (``setCheckpointDir`` appends a UUID subdirectory, so the context's
    directory is compared by its parent)."""
    spark = df.sparkSession
    cdir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    if cdir:
        sc = spark.sparkContext
        hpath = sc._jvm.org.apache.hadoop.fs.Path
        want = hpath(cdir)
        want = want.getFileSystem(
            sc._jsc.hadoopConfiguration()).makeQualified(want).toString()
        cur = sc._jsc.sc().getCheckpointDir()
        if cur.isEmpty() or hpath(cur.get()).getParent().toString() != want:
            sc.setCheckpointDir(cdir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize_observed(df: DataFrame, *cols: str,
                         **metrics: Column) -> tuple[DataFrame, dict]:
    """``materialize`` whose one job also computes ``metrics`` (``with_audit``
    aggregates over ``df``'s rows) — a count or convergence certificate
    without a second action. Returns the relation, projected to ``cols``
    when given, and the metric values."""
    df, obs = with_audit(df, **metrics)
    if cols:
        df = df.select(*cols)
    return materialize(df), obs.get


def release(*dfs: DataFrame | None) -> None:
    """Free what ``materialize`` wrote for each of ``dfs`` — a local
    checkpoint's executor blocks, a reliable checkpoint's directory —
    launching no job. Fixpoint loops call it on the generation a round
    replaced once nothing lazy still reads it; anything else (None, an
    input, a projection over a materialization) is skipped."""
    for df in dfs:
        plan = None if df is None else df._jdf.queryExecution().analyzed()
        if plan is None or plan.getClass().getSimpleName() != "LogicalRDD":
            continue
        rdd = plan.rdd()
        rdd.unpersist(False)
        path = rdd.getCheckpointFile()
        if path.isDefined():
            sc = df.sparkSession.sparkContext
            p = sc._jvm.org.apache.hadoop.fs.Path(path.get())
            p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)


def global_sorted_index(df: DataFrame, order: Sequence[str | Column],
                        index_col: str = "global_rank",
                        num_partitions: int | None = None) -> DataFrame:
    """O5 (engine ext.): dense GLOBAL rank (0..N-1) by a total order —
    the scalable form of ``row_number() OVER (ORDER BY ...)``, whose
    naive window is a single-task global sort. This is the primitive
    behind every fixed-size sorted artifact (real CDX shards are
    "global sort, then cut every 3M lines"; TFRecord/shard manifests
    are the same shape): block id = rank // block_size afterwards.

    How it scales (and why each piece is there):
    - ``repartitionByRange(order)`` + ``sortWithinPartitions``: the
      one real exchange; partitions are contiguous, even-sized key
      ranges (sampled boundaries);
    - ``materialize``: MATERIALIZES the partitioning before
      anything reads it twice — the offsets pass and the stamping pass
      must see byte-identical partition assignment, and a re-executed
      range exchange may RESAMPLE boundaries (correctness, not just
      determinism: stale offsets would mis-rank silently). At scale
      this is the write-then-index discipline — you were going to
      materialize the sorted artifact anyway;
    - per-partition counts: one partition-count-sized collect (the
      offsets), broadcast back;
    - one narrow Arrow pass stamps ``offset[pid] + arange(rows)`` —
      vectorized, no shuffle, no per-row Python (the documented
      mapInArrow boundary). The pure-Catalyst alternative (window over
      spark_partition_id + broadcast-join offsets) pays a SECOND full
      shuffle on pid; the arrow stamp is why this form wins at 100 TB.

    The (row -> rank) mapping is partition-independent — a total order
    (callers must include a unique tiebreaker, SURVEY §7.4.1) fully
    determines every rank — so the result is exact and the oracle gate
    can hash it."""
    spark = df.sparkSession
    n = num_partitions or max(
        2, spark.sparkContext.defaultParallelism)
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    rp = materialize(df.repartitionByRange(n, *cols)
                     .sortWithinPartitions(*cols))
    counts = (rp.select(F.spark_partition_id().alias("__pid"))
                .groupBy("__pid").count().collect())
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets[int(r["__pid"])] = acc
        acc += int(r["count"])
    boff = spark.sparkContext.broadcast(offsets)
    # a COPY: StructType.add mutates in place, which would graft the
    # index column onto the input DataFrame's own schema object
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(rp.schema.fields)
        + [T.StructField(index_col, T.LongType())])

    def stamp(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = boff.value.get(pid, 0)
        seen = 0
        for b in batches:
            idx = pa.array(
                range(base + seen, base + seen + b.num_rows),
                type=pa.int64())
            seen += b.num_rows
            yield b.append_column(index_col, idx)

    return rp.mapInArrow(stamp, out_schema)
