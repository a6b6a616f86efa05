"""Physical-plan regression tests: the scale properties SURVEY §4 promises
(pushdown, pruning, broadcast dims, partial aggregation, no row-Python in
the hot path) asserted on the actual executed plans, so a refactor that
silently de-optimizes a plan fails CI rather than only showing up at 100 TB.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("CLIF_TEST_SF_DIR", "/root/testdata/sf0.001")
QUERIES = entry_mod.queries()


def plan_of(spark, name: str, fresh: bool = False) -> str:
    # shared session-wide build (conftest, r18): reuse the DataFrame
    # the oracle suite already built — building a lifecycle query
    # EXECUTES its whole store/stream lifecycle just to read the final
    # plan string, and the registry-wide parameterization paid that
    # twice per session. ``fresh=True`` bypasses the cache for tests
    # that mutate planner inputs (monkeypatched statistics, conf
    # overrides) and legitimately expect a DIFFERENT plan.
    from conftest import cached_plan_of

    if fresh:
        df = QUERIES[name](spark, SF_DIR)
        return df._jdf.queryExecution().executedPlan().toString()
    return cached_plan_of(spark, name)


def test_q1_pushdown_pruning_partial_agg(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # date predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: 7 needed columns only — untouched wide columns absent
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read and "l_orderkey" not in read
    # map-side combine before the exchange
    assert "partial_sum" in plan


def test_q6_all_predicates_pushed(spark):
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_vocab_joins_broadcast(spark):
    for name in ("j1_vocab_broadcast_star", "q3_shipping_priority",
                 "q5_local_supplier_volume"):
        assert "BroadcastHashJoin" in plan_of(spark, name), name


def test_fuzzy_match_broadcasts_vocab(spark):
    # J6: the regex join must be broadcast nested-loop over *distinct* names
    # x tiny vocab, never a shuffled cartesian
    plan = plan_of(spark, "j6_fuzzy_vocab_match")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_row_python_udfs(spark, name):
    """Builtin-first policy (SURVEY §2.9): no row-at-a-time Python UDF in any
    registered query. Arrow-batched pandas paths (the documented multimodal
    decode stubs) appear as MapInPandas/ArrowEvalPython and are allowed."""
    assert "BatchEvalPython" not in plan_of(spark, name), name


def test_bucketed_join_and_agg_skip_shuffle(spark):
    """The bucketing claim on real plans: same-key same-count bucketed
    tables join with no Exchange on either side, and a groupBy on the
    bucket key aggregates without a shuffle."""
    from clif_spark import io

    users = spark.range(0, 1000).selectExpr("id AS user_id",
                                            "id % 7 AS segment")
    facts = spark.range(0, 5000).selectExpr("id AS event_id",
                                            "id % 1000 AS user_id",
                                            "cast(id % 97 as double) AS v")
    io.write_bucketed_table(users, "tb_users", "user_id", buckets=8)
    io.write_bucketed_table(facts, "tb_facts", "user_id", buckets=8)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: at test sizes the planner would rather
        # broadcast (and mark the scan "Bucketed: false"); at the 100 TB
        # scale this layout targets, neither side is broadcastable.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        u, f = spark.table("tb_users"), spark.table("tb_facts")

        joined = f.join(u, "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5000

        agg = f.groupBy("user_id").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan
        assert agg.count() == 1000

        # control: the same join from unbucketed data DOES shuffle, so the
        # assertion above is meaningful
        plain = (facts.join(users, "user_id")
                 ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" in plain or "Broadcast" in plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS tb_users")
        spark.sql("DROP TABLE IF EXISTS tb_facts")


def test_round3_tpch_broadcasts(spark):
    """Round-3 TPC-H shapes: every dimension side broadcasts (q7's two
    nation roles, q8's five dims, q10/q14/q19's hinted dims), so the only
    exchanges are fact-spine shuffles and final aggregates."""
    for name, n_bhj in (("q7_nation_volume", 3), ("q8_market_share", 5),
                        ("q10_returned_items", 1), ("q14_promo_revenue", 1),
                        ("q19_disjunctive_filter", 1)):
        plan = plan_of(spark, name)
        got = plan.count("BroadcastHashJoin")
        assert got >= n_bhj, f"{name}: {got} BroadcastHashJoin < {n_bhj}"
        assert "CartesianProduct" not in plan, name


def test_q18_semi_join_and_q22_anti_join(spark):
    """The subquery shapes plan as the joins they should: Q18's IN-aggregate
    becomes a (left-)semi join against the HAVING aggregate, Q22's
    NOT EXISTS becomes an anti join against orders."""
    assert "Semi" in plan_of(spark, "q18_large_volume_customer")
    assert "Anti" in plan_of(spark, "q22_global_sales_opportunity")


def test_q17_threshold_join_no_reaggregation_per_row(spark):
    """Q17's correlated average is decorrelated to ONE per-part aggregate
    (two HashAggregates: partial+final) joined back — not recomputed per
    probe row, and the brand filter reaches both lineitem-scan pushdowns'
    join keys via the part dimension."""
    plan = plan_of(spark, "q17_small_qty_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_j10_levenshtein_broadcast_nlj(spark):
    """J10: the edit-distance vocab match must be a broadcast nested-loop
    over the dim-sized vocab — same contract as J6, never a shuffled
    cartesian."""
    plan = plan_of(spark, "j10_levenshtein_vocab_match")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_j9_salted_join_no_broadcast_of_fact(spark):
    """J9: the salted join is a real shuffle join on (key, salt) — salting
    exists precisely for the case broadcast can't handle, so the fact side
    must not be broadcast, and no cartesian may appear."""
    plan = plan_of(spark, "j9_salted_skew_join")
    assert "CartesianProduct" not in plan


def test_orders_broadcast_is_statistics_gated(spark, monkeypatch):
    """q3/q5's extra BROADCAST(o) must appear only when orders' on-disk
    size is under the threshold (at the test SF it is), and must vanish —
    reverting the lineitem join to a shuffle join — when statistics say
    orders is fact-sized. The gate is what keeps the microbench plan from
    being a 100 TB footgun."""
    from clif_spark.queries import tpch

    plan_small = plan_of(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan_small

    real_getsize = os.path.getsize
    monkeypatch.setattr(
        "clif_spark.queries.tpch.os.path.getsize",
        lambda p: (99 << 30) if p.endswith("orders.parquet")
        else real_getsize(p))
    assert tpch._bcast_if_small(SF_DIR, "orders", "o") == ""
    # With the hint gone, the decision falls to Catalyst's own size stats;
    # at test SF those still (correctly) pick broadcast, so simulate
    # fact-sized relations by disabling the auto threshold too. The s/n/r
    # dims keep broadcasting — their explicit hints override the threshold
    # — while the unhinted orders⨝lineitem must fall back to a shuffle
    # join (SortMerge or ShuffledHash, either is scale-sane).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_big = plan_of(spark, "q5_local_supplier_volume",
                           fresh=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert ("SortMergeJoin" in plan_big) or ("ShuffledHashJoin" in plan_big)
    assert "BroadcastHashJoin" in plan_big  # the hinted dims still ride one


def test_q3_preagg_shape_is_statistics_gated(spark, monkeypatch):
    """q3 has two statistics-gated shapes: broadcast star with the agg on
    top (small orders) and lineitem revenue pre-aggregated by l_orderkey
    BELOW a shuffle join (fact-sized orders). The pre-agg shape is the one
    that survives 100 TB — the exchange carries 16-byte (key, micros)
    pairs instead of joined-width rows and no fact-sized broadcast hash
    relation is built — so pin that the gate actually switches to it."""
    plan_small = plan_of(spark, "q3_shipping_priority")
    assert "rev_micros" not in plan_small  # agg-on-top shape at test SF

    real_getsize = os.path.getsize
    monkeypatch.setattr(
        "clif_spark.queries.tpch.os.path.getsize",
        lambda p: (99 << 30) if p.endswith("orders.parquet")
        else real_getsize(p))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_big = plan_of(spark, "q3_shipping_priority", fresh=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # pre-agg below the join: the micros partial exists, and the orders
    # join runs as a shuffle join (either scale-sane physical choice)
    assert "rev_micros" in plan_big
    assert ("SortMergeJoin" in plan_big) or ("ShuffledHashJoin" in plan_big)


def test_bcast_gate_sums_directory_part_files(tmp_path):
    """A table written by a multi-executor job is a DIRECTORY of part
    files; the gate must sum the parts, not read the directory inode's
    ~4KB st_size (which would broadcast a fact-sized table)."""
    from clif_spark.queries import tpch

    big = tmp_path / "orders.parquet"
    nested = big / "shipdate=1995"          # partitioned layout
    nested.mkdir(parents=True)
    (big / "part-00000.parquet").write_bytes(b"x" * (20 << 20))
    (nested / "part-00001.parquet").write_bytes(b"x" * (20 << 20))
    assert tpch._bcast_if_small(str(tmp_path), "orders", "o") == ""

    small = tmp_path / "nation.parquet"
    small.mkdir()
    (small / "part-00000.parquet").write_bytes(b"x" * 1024)
    assert tpch._bcast_if_small(str(tmp_path), "nation", "n") == "BROADCAST(n), "


def test_temperature_mix_broadcasts_dimension_sides(spark):
    """sample_temperature_mix: the per-source counts and the 1-row minimum
    must ride broadcast joins; the corpus is never shuffled."""
    plan = plan_of(spark, "sample_temperature_mix")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan  # 1-row n_min cross join
    assert "SortMergeJoin" not in plan


def test_repeated_ngrams_shapes(spark):
    """dedup_repeated_ngrams: the default window shape derives the gram
    relation ONCE (single documents scan, no join — the 2.1x sf1 winner);
    the skew-safe join shape must still exist and must degrade to a
    shuffled join (map-side-combined counts) when the broadcast threshold
    is off, never a cartesian."""
    from clif_spark import curation, io

    plan = plan_of(spark, "dedup_repeated_ngrams")
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    assert "window" in plan.lower()

    d = io.load_table(spark, SF_DIR, "documents")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        jp = (curation.repeated_ngram_profile(d, shape="join")
              ._jdf.queryExecution().executedPlan().toString())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "partial_count" in jp
    assert ("SortMergeJoin" in jp) or ("ShuffledHashJoin" in jp)
    assert "CartesianProduct" not in jp
    # both shapes agree on results
    a = sorted(map(tuple, curation.repeated_ngram_profile(d).collect()))
    b = sorted(map(tuple,
                   curation.repeated_ngram_profile(d, shape="join").collect()))
    assert a == b


def test_histogram_bounds_broadcast_and_partial_agg(spark):
    """a16: the 1-row min/max bounds broadcast back over the scan; the
    bin counting is a partial+final hash aggregate pair."""
    plan = plan_of(spark, "a16_numeric_histogram")
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_pipeline_gates_keep_vocab_joins_broadcast(spark):
    """The round-5 pipeline gates run the real §3 compositions: their
    controlled-vocabulary joins must stay broadcast at any fact scale."""
    for name in ("pipeline_vitals", "pipeline_labs",
                 "pipeline_med_admin_continuous"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, name


def test_bounded_domain_sorts_are_single_partition(spark):
    """q1/q5/j1/a1 end in sorts whose input cardinality is bounded by a
    tiny key domain at ANY scale: the plan must sort one partition
    (Exchange SinglePartition) instead of range-partitioning — the range
    sort's sampling pass costs a whole extra job to order a handful of
    rows. q3's output is orderkey-grain (unbounded) but carries LIMIT 10,
    so it must plan TakeOrderedAndProject (per-partition heaps + driver
    merge) — neither a global range sort nor a single-partition one."""
    for name in ("q1_pricing_summary", "q5_local_supplier_volume",
                 "j1_vocab_broadcast_star", "a1_group_count_histogram"):
        plan = plan_of(spark, name)
        assert "rangepartitioning" not in plan.lower(), name
        assert "SinglePartition" in plan, name
    assert "TakeOrderedAndProject" in plan_of(spark, "q3_shipping_priority")


def test_runtime_bloom_filter_prunes_shuffle_join_fact_side(spark):
    """100 TB shuffle-join story: when a selective dim side can't
    broadcast, Spark's runtime bloom-filter injection pre-filters the
    fact side before the exchange (rows that can't join never shuffle).
    Pinned here so a session-conf change that silently disables runtime
    filtering fails CI. Thresholds are lowered because the creation-side
    heuristic is sized for cluster-scale inputs, not test fixtures."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
                  .filter("o_orderpriority = '1-URGENT'"))
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        j = (li.join(o, li.l_orderkey == o.o_orderkey)
               .groupBy("o_orderpriority").count())
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in phys.lower(), phys[:2000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_zorder_layout_tightens_rowgroup_stats(spark, tmp_path):
    """The point of z-ordering, measured on the actual files: after
    sorting by the Morton key and writing with small row groups, the
    mean per-row-group min/max span of BOTH dimensions is far tighter
    than under a single-column sort — the statistic parquet scans prune
    by. (A u-sort gives perfect u spans but random v spans; z-order
    must beat it on v while keeping u far below random.)"""
    import pyarrow.parquet as pq_

    from clif_spark.operators import layout as L

    n = 4096
    df = spark.createDataFrame(
        [(i, (i * 2654435761) % 256, (i * 40503) % 256) for i in range(n)],
        "i long, u int, v int")

    def spans(path, col):
        f = pq_.ParquetFile(str(path))
        sp = []
        for g in range(f.metadata.num_row_groups):
            c = {f.metadata.row_group(g).column(ci).path_in_schema:
                 f.metadata.row_group(g).column(ci).statistics
                 for ci in range(f.metadata.row_group(g).num_columns)}
            sp.append(c[col].max - c[col].min)
        return sum(sp) / len(sp)

    z = tmp_path / "z"
    u = tmp_path / "u"
    (L.zorder_by(df, "u", "v").coalesce(1).write
     .option("parquet.block.size", 4 * 1024).parquet(str(z)))
    (df.orderBy("u").coalesce(1).write
     .option("parquet.block.size", 4 * 1024).parquet(str(u)))
    zf = next(z.glob("*.parquet")); uf = next(u.glob("*.parquet"))
    groups = pq_.ParquetFile(str(zf)).metadata.num_row_groups
    assert groups >= 8, groups
    # ~G row groups tile the 256x256 space: z-span/dim ~ 256/sqrt(G),
    # far under the ~255 a random (u-sorted) layout leaves on v.
    assert spans(zf, "v") < spans(uf, "v") * 0.5, (
        spans(zf, "v"), spans(uf, "v"))
    assert spans(zf, "u") < 255 * 0.5


def test_merge_with_deletes_is_single_exchange(spark):
    """The MERGE scale shape: stamp + union + keep-last + tombstone
    filter must cost exactly ONE hash exchange on the key (the window's
    partitioning); the delete filter is a narrow post-dedup predicate.
    A second exchange would mean the union or the filter broke the
    partitioning reuse."""
    from clif_spark.operators import core

    base = spark.range(0, 1000).selectExpr(
        "id AS k", "CAST(1 AS BIGINT) AS version", "id * 2 AS v")
    upd = spark.range(0, 200).selectExpr(
        "id AS k", "CAST(2 AS BIGINT) AS version", "id * 3 AS v",
        "id % 5 = 0 AS is_delete")
    out = core.merge_with_deletes(base, upd, ["k"], ["version"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert out.count() == 960  # 40 of the 200 updated keys tombstoned


def test_dsir_scoring_pass_is_fully_narrow(spark):
    """curation_dsir_importance: the scoring pass folds each doc's bucket
    array against the histogram inlined as a LITERAL array — the
    returned plan must contain NO join and NO exchange of any kind (the
    histogram came back as a constant, not a relation; the first
    histogram pass ran at build time against the materialized bucket
    arrays). The literal is visible in the plan as the element_at
    array."""
    plan = plan_of(spark, "curation_dsir_importance")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "element_at" in plan


def test_prefix_filter_join_no_all_pairs(spark):
    """dedup_prefix_filter_join: candidate generation must stay bucketed —
    no cartesian/broadcast-NLJ anywhere in the plan (the whole point of
    prefix filtering is to never materialize the all-pairs product)."""
    plan = plan_of(spark, "dedup_prefix_filter_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmv_sketch_exchanges_are_sketch_sized(spark):
    """a22: after the first distinct, everything that crosses an exchange
    is sketch-sized; the final assembly of the 1-row aggregates may only
    use broadcast-style joins (BroadcastNLJ over 1-row sides is the
    crossJoin-of-bounds idiom), never a shuffled cartesian."""
    plan = plan_of(spark, "a22_kmv_set_sketch")
    assert "CartesianProduct" not in plan


def test_chisq_margins_broadcast(spark):
    """a24: the row/column margin relations are cells-sized — they must
    broadcast back to the contingency cells."""
    plan = plan_of(spark, "a24_chisq_association")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_persisted_screen_never_rereads_corpus_text(spark):
    """dedup_incremental_persisted's production claim, machine-checked:
    once the corpus signatures are admitted to the store, SCREENING a
    delivery scans the signature store's parquet (and the delivery's
    checkpointed signatures) — never the documents table. Also pins the
    scan economy (exactly one FileScan: the store) and the broadcast of
    the delivery side (candidate generation costs one corpus-signature
    scan, no shuffle on the store side's join key)."""
    import tempfile

    from pyspark.sql import functions as F

    from clif_spark import dedup, io

    d = (io.load_table(spark, SF_DIR, "documents")
           .select("doc_id", "text"))
    root = tempfile.mkdtemp(prefix="clif_sigstore_plan_")
    dedup.signature_store_admit(
        dedup.minhash_signature_rows(d), root, version=0)
    delivery = d.select((F.col("doc_id") + 200000).alias("doc_id"),
                        F.concat("text", F.lit(" x")).alias("text"))
    sigs = dedup.minhash_signature_rows(delivery).localCheckpoint()
    screened = dedup.signature_store_screen(spark, sigs, root)
    plan = screened._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert root in plan  # the signature store IS what gets scanned
    # every parquet scan in the plan is a STORE scan (two occurrences:
    # band-key exploder + verify join — Catalyst does no cross-subplan
    # CSE; both are signature-sized, neither is text)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(root in ln for ln in scans)
    assert "BroadcastHashJoin" in plan
    # and the store survives a second screen after an admit (copy-on-write:
    # new version dir, old one still resolvable by the lazy plan)
    dedup.signature_store_admit(sigs, root, version=1)
    assert screened.count() >= 0  # still executable against v0


def test_semantic_screen_never_retrains_or_rescans_corpus(spark):
    """dedup_semantic_incremental's production claim: once the store is
    built, SCREENING a delivery scans the membership store's parquet
    only — never the corpus embeddings, and no k-means iteration (the
    centroid assignment is a narrow literal expression over the
    delivery side). Same discipline as the MinHash signature store."""
    import tempfile

    from pyspark.sql import functions as F

    from clif_spark import io, similarity

    e = (io.load_table(spark, SF_DIR, "embeddings")
           .select("vec_id", "embedding"))
    root = tempfile.mkdtemp(prefix="clif_semstore_plan_")
    similarity.semantic_store_build(e, root, k=4, max_iter=2)
    delivery = (e.limit(20)
                 .select((F.col("vec_id") + 100000).alias("vec_id"),
                         "embedding")
                 .localCheckpoint())
    screened = similarity.semantic_store_screen(spark, delivery, root)
    plan = screened._jdf.queryExecution().executedPlan().toString()
    assert "embeddings.parquet" not in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(root in ln for ln in scans)
    # the store after an admit serves the NEXT screen (copy-on-write)
    similarity.semantic_store_admit(spark, delivery, root, version=1)
    again = similarity.semantic_store_screen(spark, delivery, root)
    assert again.filter("old_id >= 100000").count() == 20  # sees itself


def test_bloom_screen_plan_broadcasts_bitmap_no_corpus_join(spark):
    """dedup_bloom_screen's scale claim: membership is a broadcast
    word-join against the KB-scale bitmap relation — the screen plan
    must contain a BroadcastHashJoin and no sort-merge join or
    cartesian product (a corpus-sized join geometry would defeat the
    m-bits-of-state point)."""
    from pyspark.sql import functions as F

    from clif_spark import dedup, io

    d = (io.load_table(spark, SF_DIR, "documents")
           .select("doc_id", "text"))
    bitmap, m_bits = dedup.bloom_build(d, m_bits=8192)
    delivery = d.select((F.col("doc_id") + 200000).alias("doc_id"),
                        "text")
    screened = dedup.bloom_screen(delivery, bitmap, m_bits)
    plan = screened._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_matryoshka_funnel_single_vector_scan_broadcast_queries(spark):
    """ann_matryoshka_topk's scale shape: ONE scan of the vectors table
    (the coarse pass carries the full vector alongside the prefix, so
    the rerank needs no second scan/join back) and the query side
    broadcast — no shuffle of the corpus for candidate generation."""
    from pyspark.sql import functions as F

    from clif_spark import io, similarity

    e = io.load_table(spark, SF_DIR, "embeddings")
    q = (e.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("query_id"), "embedding"))
    out = similarity.matryoshka_topk(e, q, k=5, coarse_dim=16,
                                     candidates=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "embeddings" in ln]
    # one corpus scan + one (broadcast) query-side scan at most
    assert 1 <= len(scans) <= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_html_extract_fully_narrow(spark):
    """text_html_extract: the page build + full extraction chain is one
    narrow codegen'd projection — no exchange, no join, no Python
    anywhere (HTML->text at 100 TB must fuse into the scan stage)."""
    plan = plan_of(spark, "text_html_extract")
    assert "Exchange" not in plan
    assert "Join" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_url_canonicalize_single_exchange_no_python(spark):
    """text_url_canonicalize: all normalization rules are Catalyst
    expressions fused below ONE exchange (the keep-best window's hash
    partitioning on canonical_url) — a second exchange or any Python
    node means a rule fell off the codegen path."""
    plan = plan_of(spark, "text_url_canonicalize")
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln
                 and "Reused" not in ln]
    assert len(exchanges) == 1, exchanges
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_warc_python_confined_to_assembly_and_parse(spark):
    """io_warc_roundtrip: record serialization is pure Catalyst — the
    ONLY Python stages in the whole roundtrip are the two declared
    format boundaries (applyInPandas file assembly, mapInPandas parse).
    A third Python node means record building left the JVM."""
    from clif_spark import warc

    plan = plan_of(spark, "io_warc_roundtrip")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan

    # and the record builder alone compiles to a plain projection
    rng = spark.range(3)
    docs = rng.select(
        rng.id.alias("doc_id"),
        rng.id.cast("string").alias("text"),
        rng.id.cast("string").alias("url"))
    rec_plan = (warc.build_warc_records(docs)
                ._jdf.queryExecution().executedPlan().toString())
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas"):
        assert node not in rec_plan


def test_robots_filter_single_pass_broadcast_no_corpus_shuffle(spark):
    """web_robots_filter: the deny list rides as a BROADCAST left join
    marking each doc, and the WHOLE report is one corpus pass — exactly
    one non-broadcast exchange (the host aggregation). A sort-merge
    join against a KB-scale host list, a second corpus scan, or any
    Python node would be a scale bug (the first cut double-scanned and
    measured 18x vs DuckDB at sf10)."""
    plan = plan_of(spark, "web_robots_filter")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    # one corpus scan, one shuffle: hashpartitioning exchange count == 1
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln
                and "Reused" not in ln]
    assert len(shuffles) == 1, shuffles
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "documents" in ln]
    assert len(scans) == 1, scans


def test_frontier_governance_rides_broadcast(spark):
    """web_crawl_frontier: ranks, robots rules, and crawl-delay budgets
    are all HOST-count-sized relations and must ride broadcast joins —
    a sort-merge join or cartesian against any of them would shuffle
    the frontier against KB-scale governance state. No Python nodes:
    the whole composition (resolve + canonicalize + verdict + schedule)
    is Catalyst."""
    plan = plan_of(spark, "web_crawl_frontier")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "SortMergeJoin"):
        assert node not in plan


def test_agent_fallback_three_verdicts_no_corpus_blowup(spark):
    """web_robots_agent_fallback: three per-agent verdict applications
    are three BROADCAST joins over ONE narrow URL projection — one
    documents scan on the corpus side, no sort-merge, no Python."""
    plan = plan_of(spark, "web_robots_agent_fallback")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    # bounded documents scans: one (doc_id, source) corpus scan plus up
    # to one source-only scan per agent's rules derivation — all
    # column-pruned; a per-RULE or per-VERDICT corpus re-scan would
    # blow past this
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "documents" in ln]
    assert 1 <= len(scans) <= 4, scans


def test_arrow_batch_byte_cap(spark):
    """session.RUNTIME_CONFS pins BOTH Arrow batch caps (ADVICE r11):
    the 64k record cap buys back per-batch dispatch overhead on
    embedding-shaped rows, and the 64 MiB byte cap bounds blob-heavy
    mapInArrow/mapInPandas stages the record cap is blind to (64k
    multi-MB WARC/JPEG payloads would otherwise form one multi-GB
    batch). Spark closes a batch when EITHER cap is hit — observed
    here from inside mapInArrow over 1 MiB payload rows: every
    incoming batch must stay near the byte cap, never near the
    record cap."""
    from clif_spark.session import RUNTIME_CONFS

    cap = 64 << 20
    assert RUNTIME_CONFS[
        "spark.sql.execution.arrow.maxBytesPerBatch"] == str(cap)
    assert RUNTIME_CONFS[
        "spark.sql.execution.arrow.maxRecordsPerBatch"] == "65536"
    assert (spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
            == str(cap))

    import pyarrow as pa

    def probe(it):
        for b in it:
            yield pa.RecordBatch.from_pydict(
                {"rows": [b.num_rows], "nbytes": [b.nbytes]})

    blob_mb = 1 << 20
    df = (spark.range(0, 200, 1, 1)
          .selectExpr("id", f"repeat('x', {blob_mb}) AS blob"))
    out = df.mapInArrow(probe, "rows long, nbytes long").collect()
    assert out, "no batches observed"
    # one row overshoots past the cap before the batch closes; allow
    # that single-row slack, nothing more
    for r in out:
        assert r.nbytes <= cap + 2 * blob_mb, (r.rows, r.nbytes)
    assert max(r.rows for r in out) <= (cap // blob_mb) + 1


def test_sitemap_index_host_sized_no_python(spark):
    """web_sitemap_index: two chained block-parses are pure Catalyst
    projections over a HOST-count-sized relation — the only corpus
    work is the column-pruned source distinct; no Python nodes, no
    joins at all (the child 'fetch' is a derivation, not a shuffle)."""
    plan = plan_of(spark, "web_sitemap_index")
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "SortMergeJoin", "CartesianProduct",
                 "BroadcastHashJoin"):
        assert node not in plan
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "documents" in ln]
    assert len(scans) == 1, scans
    assert "ReadSchema: struct<source:string>" in plan


def test_lsm_read_single_exchange_no_python(spark):
    """read_lsm: the segment union must collapse into parallel scan
    legs feeding ONE hash exchange on the key (the same shuffle any
    keep-best pays) — no Python nodes, no joins, no second exchange."""
    import tempfile

    from clif_spark import streaming

    root = tempfile.mkdtemp(prefix="clif_lsm_plan_") + "/s"
    for v in (1, 2, 3):
        df = spark.createDataFrame(
            [(v, v * 10, False)], "k long, score long, is_delete boolean")
        streaming.append_lsm_segment(df, root, v)
    plan = (streaming.read_lsm(spark, root, ["k"], ["score"])
            ._jdf.queryExecution().executedPlan().toString())
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "SortMergeJoin", "BroadcastHashJoin",
                 "CartesianProduct"):
        assert node not in plan
    # one shuffle for the keep-best window, nothing else
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cdx_point_lookup_prunes_and_groups(spark):
    """web_cdx_point_lookup: ONE corpus-side documents scan feeds the
    shard build; the lookup set reaches the blobs through a grouped
    join (collect_list aggregation), and the only Python nodes are the
    WARC container boundary (assembly/parse/slice-read) — no
    row-at-a-time eval nodes."""
    plan = plan_of(spark, "web_cdx_point_lookup")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "collect_list" in plan  # lookups grouped per shard


def test_cdx_revisit_joins_no_python(spark):
    """web_cdx_revisit: two keyed joins + one digest agg, all JVM —
    no Python nodes, no cartesian; the standing-index aggregation and
    both join keys are exactly the exchanges cross-crawl dedup pays."""
    plan = plan_of(spark, "web_cdx_revisit")
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "CartesianProduct"):
        assert node not in plan


def test_recrawl_plan_host_sized_parse(spark):
    """web_recrawl_plan: the sitemap parse side stays host-count sized
    (one column-pruned source distinct, checkpointed once); the only
    join is seeds x standing index; no Python nodes."""
    plan = plan_of(spark, "web_recrawl_plan")
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "CartesianProduct"):
        assert node not in plan
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "documents" in ln]
    assert len(scans) <= 1, scans


def test_global_sorted_index_dense_and_partition_proof(spark):
    """core.global_sorted_index: ranks are dense 0..N-1 and equal the
    single-task window's answer regardless of partition count —
    including MORE partitions than the data fills (empty range
    partitions must not shift offsets) and a handful (heavy skew per
    partition)."""
    from pyspark.sql import functions as F

    from clif_spark.operators import core

    df = spark.range(0, 1013).selectExpr(
        "id", "CAST(id % 7 AS LONG) AS k")
    expect = [(r.k, r.id) for r in
              df.orderBy(F.col("k").desc(), F.col("id")).collect()]
    for n in (2, 64):  # fewer and (far) more partitions than natural
        out = core.global_sorted_index(
            df, [F.col("k").desc(), F.col("id").asc()],
            num_partitions=n).collect()
        by_rank = sorted(out, key=lambda r: r.global_rank)
        assert [r.global_rank for r in by_rank] == list(range(1013))
        assert [(r.k, r.id) for r in by_rank] == expect, n


def test_anchor_text_single_aggregation_no_python(spark):
    """web_anchor_text's promised shape: a narrow per-page extract +
    explode feeding ONE hash aggregation on (src_host, dst_url) — no
    Python eval anywhere (the zip/extract/resolve chain is pure
    Catalyst), and exactly one aggregate pair (partial + final) in the
    plan, not a second corpus pass."""
    plan = plan_of(spark, "web_anchor_text")
    assert "MapInPandas" not in plan and "EvalPython" not in plan
    assert "Generate" in plan  # the explode of zipped anchor pairs
    # one logical aggregation: count_distinct + collect_set plan as
    # the standard distinct-agg rewrite (partial/merge over
    # (keys, atext), then distinct-count fold) — at most TWO exchanges
    # (one on (keys, atext), one on keys), never a second corpus scan
    assert plan.count("Exchange") <= 2, plan
    assert plan.count("FileScan") == 1, plan


def test_cocitation_triangles_join_shape(spark):
    """web_cocitation_triangles: the enumeration must be hash joins
    over the deduped host-pair relation — never a cartesian product or
    nested loop (the skew trap the distinct-before-self-join exists to
    prevent)."""
    plan = plan_of(spark, "web_cocitation_triangles")
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan and "EvalPython" not in plan


def test_graph_joins_ride_the_broadcast_gate(spark):
    """operators.core.fits_broadcast admits the checkpointed fixpoint
    outputs, whose inherited size estimates are unknown: bowtie's three
    node-sized classifier joins plan as BroadcastHashJoin and the
    triangle enumeration's probe joins do too. Without the gate the
    planner falls back to SortMergeJoin on both."""
    bowtie = plan_of(spark, "web_bowtie_classes")
    assert bowtie.count("BroadcastHashJoin") >= 3, bowtie
    assert "SortMergeJoin" not in bowtie, bowtie
    tri = plan_of(spark, "web_cocitation_triangles")
    assert "SortMergeJoin" not in tri, tri


def test_lsm_pruned_read_scans_only_intersecting_segments(spark):
    """read_lsm(key_range=...) at the PLAN level: the union's file
    sources must contain only segments whose footer stats intersect
    the range (the scan-set reduction is the operator's whole point —
    asserted here on inputFiles, the same surface the store A/B
    measures)."""
    import tempfile

    from clif_spark import streaming

    root = tempfile.mkdtemp(prefix="clif_plan_lsm_") + "/s"
    for i, lo in enumerate((0, 1000, 2000)):
        seg = spark.range(lo, lo + 100).selectExpr(
            "id AS k", "id AS score", "CAST(false AS BOOLEAN) AS is_delete")
        streaming.append_lsm_segment(seg, root, i + 1)
    pruned = streaming.read_lsm(spark, root, ["k"], ["score"],
                                key_range=(1010, 1020))
    dirs = {f.split("/")[-2] for f in pruned.inputFiles()}
    assert len(dirs) == 1 and next(iter(dirs)).startswith("seg-00000002")


def test_lsm_snapshot_read_prunes_later_segments(spark):
    """read_lsm(as_of=N) at the PLAN level: seg- dirs for deliveries
    above N must be absent from the union's file sources (snapshots
    cost a normal read minus the pruned legs — asserted on
    inputFiles, the same surface the key-range pin uses), while fold
    artifacts stay (their rows are bounded by the __seg filter)."""
    import tempfile

    from clif_spark import streaming

    root = tempfile.mkdtemp(prefix="clif_plan_snap_") + "/s"
    for i in (1, 2, 3):
        seg = spark.range(i * 10, i * 10 + 5).selectExpr(
            "id AS k", "id AS score", "CAST(false AS BOOLEAN) AS is_delete")
        streaming.append_lsm_segment(seg, root, i)
    snap = streaming.read_lsm(spark, root, ["k"], ["score"], as_of=2)
    dirs = {f.split("/")[-2] for f in snap.inputFiles()}
    assert dirs == {d for d in dirs
                    if d.startswith(("seg-00000001", "seg-00000002"))}
    assert len(dirs) == 2


def test_registered_domains_suffix_join_is_hash_not_nested_loop(spark):
    """registered_domains' claim is the join SHAPE: the suffix-chain
    explode turns longest-suffix matching into a broadcast HASH
    equi-join — an endswith-against-rules predicate would plan a
    BroadcastNestedLoopJoin (host rows x rules comparisons), the
    thing this operator exists to avoid."""
    from clif_spark.functions import url as U

    hosts = spark.createDataFrame(
        [("a.b.co.uk",), ("x.example.com",)], "host string")
    sfx = spark.createDataFrame(
        [("co.uk",), ("com",), ("example.com",)], "suffix string")
    plan = (U.registered_domains(hosts, sfx)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsm_point_lookup_bloom_prunes_segments(spark, tmp_path):
    """read_lsm(key_eq=): a segment whose footer min/max STRADDLES the
    key but whose bloom proves it absent is pruned from the scan set
    (the high-churn case where range stats prune nothing); the result
    is bit-identical to the unpruned read filtered to equality, folds
    carry the bloom onto their artifact, and bloom-less stores stay
    conservatively unpruned."""
    import json
    import os

    from clif_spark import streaming as STR

    root = str(tmp_path / "store")
    lin = "bloomtest"
    rows = {
        1: [("a", 1, False), ("z", 1, False)],   # range a..z covers 'm'
        2: [("m", 2, False)],                    # the only holder of 'm'
        3: [("b", 3, False), ("y", 3, False)],   # range b..y covers 'm'
    }
    for v, data in rows.items():
        STR.append_lsm_segment(
            spark.createDataFrame(
                data, "k string, v long, is_delete boolean"),
            root, v, lineage=lin, bloom_key="k")
    got = STR.read_lsm(spark, root, ["k"], ["v"], lineage=lin,
                       key_eq="m")
    dirs = {f.split("/")[-2] for f in got.inputFiles()}
    # footer stats alone keep all three segments; the bloom cuts to one
    assert dirs == {d for d in dirs if d.startswith("seg-00000002")}
    assert len(dirs) == 1
    assert [(r.k, r.v) for r in got.collect()] == [("m", 2)]
    # a never-stored key: every segment bloom-pruned, clean empty read
    assert STR.read_lsm(spark, root, ["k"], ["v"], lineage=lin,
                        key_eq="absent").count() == 0
    # key_eq and key_range are mutually exclusive
    import pytest
    with pytest.raises(ValueError, match="mutually exclusive"):
        STR.read_lsm(spark, root, ["k"], ["v"], lineage=lin,
                     key_eq="m", key_range=("a", "z"))
    # a full fold retires the segment blooms and records one exact
    # bitmap for the base; lookups through it stay correct
    STR.compact_lsm(spark, root, ["k"], ["v"], lineage=lin)
    with open(os.path.join(root, "_lsm_meta.json")) as fh:
        blooms = json.load(fh)["blooms"]
    assert len(blooms) == 1 and next(iter(blooms)).startswith("base-")
    after = STR.read_lsm(spark, root, ["k"], ["v"], lineage=lin,
                         key_eq="m")
    assert [(r.k, r.v) for r in after.collect()] == [("m", 2)]
    assert STR.read_lsm(spark, root, ["k"], ["v"], lineage=lin,
                        key_eq="absent").count() == 0


def test_lsm_point_lookup_probe_casts_to_stored_key_type(spark,
                                                         tmp_path):
    """r14 review catch: the bloom probe literal must cast through the
    STORED key column's type before the string hash — an int probe
    against a double key otherwise hashes '42' while the store hashed
    '42.0', 'proving' absence of a present key."""
    from clif_spark import streaming as STR

    root = str(tmp_path / "store")
    lin = "bloomtype"
    df = spark.createDataFrame(
        [(42.0, 1, False), (7.5, 2, False)],
        "k double, v long, is_delete boolean")
    STR.append_lsm_segment(df, root, 1, lineage=lin, bloom_key="k")
    got = STR.read_lsm(spark, root, ["k"], ["v"], lineage=lin,
                       key_eq=42)  # int probe, double key
    assert [(r.k, r.v) for r in got.collect()] == [(42.0, 1)]


def test_er_store_screen_reads_only_store_parquet(spark):
    """dedup_entity_persisted's production claim, machine-checked: once
    the standing records live in the ER store, SCREENING a delivery's
    blocked verify scans the STORE's parquet (and the delivery's
    checkpointed rows) — never the customer table the records
    originally derived from; records-seen are never re-read from the
    source. Every FileScan in the screen plan is a store scan."""
    import tempfile

    from pyspark.sql import functions as F

    from clif_spark import io, streaming
    from clif_spark.queries import relational as R

    cust = io.load_table(spark, SF_DIR, "customer")
    recs = cust.select(F.col("c_custkey").cast("long").alias("rid"),
                       F.col("c_name").alias("name"))
    root = tempfile.mkdtemp(prefix="clif_er_store_plan_")
    R._er_store_admit(
        recs.withColumn("cluster", F.col("rid")), root, 0)
    delta = recs.select((F.col("rid") + 1000000).alias("rid"),
                        F.concat("name", F.lit("x")).alias("name")) \
                .localCheckpoint(eager=True)
    store = (streaming.read_cdc_snapshot(spark, root)
             .select("rid", "name"))
    edges = R._entity_match_edges(delta, store.unionByName(delta))
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "customer.parquet" not in plan
    assert root in plan  # the ER store IS what gets scanned
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(root in ln for ln in scans)


def test_chunk_sig_screen_store_scan_only_and_broadcast(spark):
    """dedup_image_phash_incremental's production claim: screening a
    delivery of chunk signatures scans the SIGNATURE STORE's parquet
    only (never a corpus table, never an image payload), and the
    delivery side is broadcast — one store-sized scan, no shuffle
    join geometry. Plus the store-growth contract: a screen after an
    admit sees the admitted signatures."""
    import tempfile

    from pyspark.sql import functions as F

    from clif_spark import dedup

    sigs = spark.createDataFrame(
        [(i, i % 7, (i * 3) % 11, (i * 5) % 13, (i * 9) % 17)
         for i in range(40)],
        "doc long, c0 long, c1 long, c2 long, c3 long")
    root = tempfile.mkdtemp(prefix="clif_imgsig_plan_") + "/store"
    dedup.chunk_sig_store_admit(sigs, root, 0)
    delivery = sigs.limit(8).select(
        (F.col("doc") + 1000).alias("doc"), "c0", "c1", "c2", "c3"
    ).localCheckpoint()
    screened = dedup.chunk_sig_store_screen(spark, delivery, root,
                                            max_hamming=64)
    plan = screened._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all(root in ln for ln in scans)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # store growth: after admitting the delivery, a re-screen sees it
    dedup.chunk_sig_store_admit(delivery, root, 1)
    again = dedup.chunk_sig_store_screen(spark, delivery, root,
                                         max_hamming=0)
    assert again.filter("old_id = new_id").count() == 8
