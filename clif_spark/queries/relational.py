"""Relational operator queries (SURVEY §2.2 P*, §2.3 J*, §2.4 A*, §2.6 O*,
§2.7 U*/R*, §2.8 F*) over the driver testdata, each with a DuckDB oracle.

Query names carry the §2 operator ids they exercise so the coverage audit is
line-by-line checkable against SURVEY.md.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clif_spark import io
from clif_spark.functions import scalars
from clif_spark.operators import core, profile, reshape
from clif_spark.queries import dmean, dsum, pq, query, sql_dmean, sql_dsum, us

# ---------------------------------------------------------------------------
# Projections / predicates
# ---------------------------------------------------------------------------


@query(
    "p1_p3_project_rename",
    oracle="""
    SELECT l_orderkey AS okey, l_linenumber AS lineno, l_quantity AS qty,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    """,
)
def p1_p3_project_rename(spark, sf_dir):
    """P1 projection + P3 rename + derived column (`select`/`rename`,
    `code/RCLIF_vitals.Rmd:49,58`). Column-pruned scan: ReadSchema carries
    only the 5 referenced columns."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return core.project(li, [
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.col("l_quantity").alias("qty"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
         .alias("net_price"),
    ])


@query(
    "p2_p4_drop_positional",
    oracle="""
    SELECT o_orderkey AS order_key, o_custkey AS cust_key,
           o_orderstatus AS status, o_totalprice AS total
    FROM orders
    """,
)
def p2_p4_drop_positional(spark, sf_dir):
    """P2 column drop + P4 positional rename (`select(-c(...))`,
    `code/RCLIF_medications.Rmd:134`; `colnames<-`, `code/RCLIF_dialysis.Rmd:61`)."""
    o = io.load_table(spark, sf_dir, "orders")
    dropped = core.drop_cols(o, ["o_orderdate", "o_orderpriority"])
    return core.rename_positional(dropped, ["order_key", "cust_key", "status", "total"])


@query(
    "p5_p6_null_handling",
    oracle="""
    SELECT event_id, user_id, value, props
    FROM events
    WHERE value IS NOT NULL AND props IS NOT NULL
    """,
)
def p5_p6_null_handling(spark, sf_dir):
    """P5 NULL predicates + P6 drop-NA (`filter(!is.na(x))`,
    `code/RCLIF_vitals.Rmd:42`; `drop_na`, `code/RCLIF_demographics.Rmd:115`)."""
    ev = io.load_table(spark, sf_dir, "events")
    return core.filter_not_null(ev, "value", "props").select(
        "event_id", "user_id", "value", "props")


@query(
    "p7_p8_in_comparison",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
      AND l_quantity >= 10 AND l_quantity <= 40
      AND l_linestatus = 'F'
    """,
)
def p7_p8_in_comparison(spark, sf_dir):
    """P7 IN-list + P8 equality/range conjunction (`%in%`,
    `code/RCLIF_vitals.Rmd:109`; comparisons `:47,261`). All three predicates
    push to the parquet scan (PushedFilters)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    li = core.filter_in(li, "l_returnflag", ["A", "R"])
    li = li.filter((F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40)
                   & (F.col("l_linestatus") == "F"))
    return li.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


@query(
    "p9_like_rlike",
    oracle=r"""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_type LIKE '%ECO%'
       OR regexp_matches(p_name, '(?i)^(red|blue)\b')
    """,
)
def p9_like_rlike(spark, sf_dir):
    """P9 pattern predicates: LIKE contains + anchored case-insensitive regex
    (`%like%`, `code/RCLIF_dialysis.Rmd:39`; `grepl`,
    `code/RCLIF_medications.Rmd:128`)."""
    p = io.load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("%ECO%")
        | F.col("p_name").rlike(r"(?i)^(red|blue)\b")
    ).select("p_partkey", "p_name", "p_type")


@query(
    "p10_time_range",
    oracle="""
    SELECT event_id, event_type, epoch_us(ts) AS ts_us
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def p10_time_range(spark, sf_dir):
    """P10 half-open time-range predicate (`code/RCLIF_vitals.Rmd:217-218`).
    With the engine's date-partitioned layout this is partition pruning."""
    ev = io.load_table(spark, sf_dir, "events")
    ev = core.filter_time_range(ev, "ts", "2024-01-08 00:00:00", "2024-01-15 00:00:00")
    return ev.select("event_id", "event_type", us("ts").alias("ts_us"))


@query(
    "p11_castability_extract",
    oracle=r"""
    SELECT event_id,
           TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
    FROM events
    WHERE TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) IS NOT NULL
      AND TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) % 7 = 0
    """,
)
def p11_castability_extract(spark, sf_dir):
    """P11 castability predicate — the reference's warning-as-filter idiom
    (`as.numeric` drop, `code/RCLIF_adt.Rmd:33`) — over a semi-structured
    props payload (regexp extract, F2/F4)."""
    ev = io.load_table(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*([0-9]+)', 1).try_cast("bigint")
    return (ev.select("event_id", k.alias("k"))
              .filter(F.col("k").isNotNull() & (F.col("k") % 7 == 0)))


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "j1_vocab_broadcast_star",
    oracle=f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    ORDER BY total_spend DESC, nation
    """,
    headline=True,
)
def j1_vocab_broadcast_star(spark, sf_dir):
    """J1 fact ⟕ broadcast dims, star shape (`left_join(vocab)`,
    `code/RCLIF_vitals.Rmd:41`; demographics star `code/RCLIF_demographics.Rmd:95-96`).
    nation/region/customer all ride the broadcast side: one narrow pipeline,
    single shuffle at the final aggregate. One-shot SQL (queries.pq);
    the DataFrame composition of the same join lives in
    ``operators.core.vocab_join`` (exercised by j3/j6 and every pipeline).
    Final sort: single-partition (nation×region ≤ 25 rows at any scale
    — the range-sort sampling job is structural waste; see q1)."""
    return spark.sql(f"""
        SELECT * FROM (
          SELECT /*+ REPARTITION(1), BROADCAST(c), BROADCAST(n), BROADCAST(r) */
                 n.n_name AS nation, r.r_name AS region,
                 COUNT(*) AS n_orders,
                 {sql_dsum('o.o_totalprice')} AS total_spend
          FROM {pq(spark, sf_dir, 'orders')} o
          JOIN {pq(spark, sf_dir, 'customer')} c ON o.o_custkey = c.c_custkey
          JOIN {pq(spark, sf_dir, 'nation')} n ON c.c_nationkey = n.n_nationkey
          JOIN {pq(spark, sf_dir, 'region')} r ON n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name, r.r_name
        ) ORDER BY total_spend DESC, nation
    """)


@query(
    "j2_composite_key_join",
    oracle=f"""
    WITH grp AS (
      SELECT l_orderkey, l_partkey,
             {sql_dsum('l_quantity')} AS grp_qty,
             COUNT(*) AS grp_lines
      FROM lineitem GROUP BY l_orderkey, l_partkey
    )
    SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, g.grp_qty, g.grp_lines
    FROM lineitem l
    LEFT JOIN grp g ON l.l_orderkey = g.l_orderkey AND l.l_partkey = g.l_partkey
    WHERE g.grp_qty > 45
    """,
)
def j2_composite_key_join(spark, sf_dir):
    """J2 big-big equi-join on a composite key (5-col key at
    `code/RCLIF_medications.Rmd:62-63`; here 2-col). Both sides shuffle on
    the same key — with bucketed layout this becomes exchange-free."""
    li = io.load_table(spark, sf_dir, "lineitem")
    grp = (li.groupBy("l_orderkey", "l_partkey")
             .agg(dsum("l_quantity").alias("grp_qty"),
                  F.count(F.lit(1)).alias("grp_lines")))
    joined = core.composite_join(li, grp, ["l_orderkey", "l_partkey"], how="left")
    return (joined.filter(F.col("grp_qty") > 45)
                  .select("l_orderkey", "l_partkey", "l_linenumber",
                          "grp_qty", "grp_lines"))


@query(
    "j3_full_outer_join",
    oracle="""
    WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
                FROM customer GROUP BY c_nationkey),
         ss AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cc.nk, ss.nk) AS nationkey,
           cc.n_customers, ss.n_suppliers
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
)
def j3_full_outer_join(spark, sf_dir):
    """J3 full outer join (`full_join(vocab_rs)`, `code/RCLIF_vitals.Rmd:124`):
    nations having customers, suppliers, or both; unmatched sides NULL."""
    c = io.load_table(spark, sf_dir, "customer")
    s = io.load_table(spark, sf_dir, "supplier")
    cc = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers"))
    ss = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers"))
    j = cc.withColumnRenamed("nk", "cnk").join(
        ss.withColumnRenamed("nk", "snk"),
        F.col("cnk") == F.col("snk"), "full")
    return j.select(F.coalesce("cnk", "snk").alias("nationkey"),
                    "n_customers", "n_suppliers")


@query(
    "j4_semi_anti_join",
    oracle="""
    SELECT 'semi' AS side, o_orderkey AS key
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
    UNION ALL
    SELECT 'anti' AS side, c_custkey AS key
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j4_semi_anti_join(spark, sf_dir):
    """J4 left-semi (`semi_join`, `code/RCLIF_medications.Rmd:146`) + the
    anti complement (engine surface): orders of negative-balance customers;
    customers with no orders."""
    o = io.load_table(spark, sf_dir, "orders")
    c = io.load_table(spark, sf_dir, "customer")
    debtors = c.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("o_custkey"))
    semi = core.semi_join(o, debtors, "o_custkey").select(
        F.lit("semi").alias("side"), F.col("o_orderkey").alias("key"))
    anti = core.anti_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    ).select(F.lit("anti").alias("side"), F.col("c_custkey").alias("key"))
    return semi.unionByName(anti)


FUZZY_VOCAB = ["spark", "window", "merge sort", "hash join", "the fast"]

@query(
    "j6_fuzzy_vocab_match",
    oracle=r"""
    SELECT d.doc_id, v.term
    FROM documents d
    JOIN (VALUES {values}) v(term)
      ON regexp_matches(
           array_to_string(list_slice(str_split(d.text, ' '), 1, 2), ' '),
           '(?i)\b\Q' || v.term || '\E\b')
    """.replace("{values}", ", ".join(f"('{t}')" for t in FUZZY_VOCAB)),
)
def j6_fuzzy_vocab_match(spark, sf_dir):
    """J6: the reference's rowwise regex med-name match as a broadcast join
    (`match_meds`, `code/RCLIF_medications.Rmd:111-125`): vocab term matches
    when it appears word-bounded, case-insensitively, within the name's
    first two words. Terms regex-quoted via \\Q..\\E (SURVEY §7.4.6)."""
    d = io.load_table(spark, sf_dir, "documents")
    vocab = spark.createDataFrame([(t,) for t in FUZZY_VOCAB], ["term"])
    matched = core.fuzzy_vocab_match(
        d.select("doc_id", F.col("text").alias("name")), "name", vocab, "term")
    return matched.select("doc_id", "term")


# ---------------------------------------------------------------------------
# Aggregations / profiling
# ---------------------------------------------------------------------------


@query(
    "a1_group_count_histogram",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type
    """,
    headline=True,
)
def a1_group_count_histogram(spark, sf_dir):
    """A1 histogram (`group_by %>% count %>% arrange(desc(n))`,
    `code/RCLIF_vitals.Rmd:223`). Partial aggregation: the shuffle carries
    ≤ (partitions × 5 event types) rows. One-shot SQL; the operator form is
    ``operators.profile.group_count`` (exercised by a2 and pipelines).
    Final sort: single-partition (5-row domain-bounded output; see q1)."""
    return spark.sql(f"""
        SELECT * FROM (
          SELECT /*+ REPARTITION(1) */ event_type, COUNT(*) AS n
          FROM {pq(spark, sf_dir, 'events')}
          GROUP BY event_type
        ) ORDER BY n DESC, event_type
    """)


@query(
    "a2_multi_key_tally",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           o_orderstatus, COUNT(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
)
def a2_multi_key_tally(spark, sf_dir):
    """A2 multi-key tally (`group_by(year, type) %>% tally`,
    `code/RCLIF_dialysis.Rmd:167-168`) + F9 date part."""
    o = io.load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.year("o_orderdate").cast("long").alias("order_year"),
                      "o_orderstatus")
             .agg(F.count(F.lit(1)).alias("n")))


_EV_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

@query(
    "a3_missingness_profile",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
               ROUND(CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / COUNT(*), 6) AS null_frac
           FROM events"""
        for c in _EV_COLS),
)
def a3_missingness_profile(spark, sf_dir):
    """A3 missingness profile (`colSums(is.na(df))`,
    `code/RCLIF_vitals.Rmd:236-249`): one single-pass aggregate over all
    columns (not a job per column)."""
    ev = io.load_table(spark, sf_dir, "events")
    return profile.missingness_profile(ev, _EV_COLS)


_CUST_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]

@query(
    "a4_duplicate_profile",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name,
               CAST(COUNT(*) - COUNT(DISTINCT {c})
                    - (CASE WHEN COUNT(*) - COUNT({c}) > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS duplicate_count
           FROM customer"""
        for c in _CUST_COLS),
)
def a4_duplicate_profile(spark, sf_dir):
    """A4 per-column duplicate counts (`sum(duplicated(.))`,
    `code/RCLIF_disposition.Rmd:103-105`); R counts repeated NAs as
    duplicates, mirrored exactly."""
    c = io.load_table(spark, sf_dir, "customer")
    return profile.duplicate_profile(c, _CUST_COLS)


_LI_STATS = ["l_quantity", "l_extendedprice", "l_discount"]

@query(
    "a5_summary_stats",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS column_name, COUNT({c}) AS n,
               ROUND(CAST(MIN({c}) AS DOUBLE), 6) AS min_value,
               ROUND(CAST(MAX({c}) AS DOUBLE), 6) AS max_value,
               {sql_dmean(c)} AS mean_value,
               ROUND(quantile_cont({c}, 0.5), 6) AS median_value
           FROM lineitem"""
        for c in _LI_STATS),
)
def a5_summary_stats(spark, sf_dir):
    """A5 descriptive stats (`summary(df)`, `code/RCLIF_vitals.Rmd:233`):
    count/min/max/mean/median per column. Exact interpolated median here;
    percentile_approx is the documented 100 TB swap (operators.profile)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return profile.summary_stats(li, _LI_STATS)


@query(
    "a6_distinct_dim_extract",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """,
)
def a6_distinct_dim_extract(spark, sf_dir):
    """A6 distinct-values mini-dim (`select %>% distinct`,
    `code/RCLIF_medications.Rmd:98-100`)."""
    c = io.load_table(spark, sf_dir, "customer")
    return reshape.distinct_rows(c, ["c_mktsegment", "c_nationkey"])


@query(
    "a7_rollup_revenue",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderstatus,
           COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS revenue
    FROM orders
    GROUP BY ROLLUP (1, 2)
    """,
)
def a7_rollup_revenue(spark, sf_dir):
    """Grouping-sets surface (absent from the reference, SURVEY §2.4
    'Absent'): ROLLUP of (year, status) with subtotal + grand-total rows."""
    o = io.load_table(spark, sf_dir, "orders")
    return (o.rollup(F.year("o_orderdate").cast("long").alias("order_year"),
                     "o_orderstatus")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  dsum("o_totalprice").alias("revenue")))


@query(
    "a8_cube_counts",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a8_cube_counts(spark, sf_dir):
    """CUBE over (returnflag, linestatus) — all 2^2 grouping sets."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
              .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")))


@query(
    "a9_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def a9_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the generalization A7 rollup / A8 cube are
    sugar for) with GROUPING() flags disambiguating real NULLs from
    grouping NULLs — one pass over the fact table produces every requested
    marginal (one shuffle, expand-node fan-out; at scale this replaces N
    separate aggregation jobs)."""
    li = pq(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                    AS BIGINT) AS gid,
               COUNT(*) AS n, {sql_dsum('l_extendedprice')} AS sum_price
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


# ---------------------------------------------------------------------------
# Sorts / limits
# ---------------------------------------------------------------------------


@query(
    "o1_o2_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
    """,
)
def o1_o2_topk(spark, sf_dir):
    """O1/O2 ordered limit (`arrange(desc(n))`, `code/RCLIF_vitals.Rmd:223`):
    plans as TakeOrderedAndProject (per-partition heaps + driver merge, no
    global sort materialization). o_orderkey tiebreaks for determinism."""
    o = io.load_table(spark, sf_dir, "orders")
    return core.top_k(
        o.select("o_orderkey", "o_totalprice", "o_orderstatus"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")], 15)


# ---------------------------------------------------------------------------
# Set ops / reshape
# ---------------------------------------------------------------------------


@query(
    "u1_union_missing_cols",
    oracle=r"""
    SELECT event_id, event_type, value, NULL::BIGINT AS k
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, event_type, NULL::DOUBLE AS value,
           TRY_CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) AS k
    FROM events WHERE event_type = 'signup'
    """,
)
def u1_union_missing_cols(spark, sf_dir):
    """U1 union with missing columns NULL-filled (`bind_rows`,
    `code/RCLIF_vitals.Rmd:59`; dialysis modality union with missing cols,
    `code/RCLIF_dialysis.Rmd:156-157`)."""
    ev = io.load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "event_type", "value")
    b = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "event_type",
        F.regexp_extract("props", r'"k":\s*([0-9]+)', 1).try_cast("bigint")
         .alias("k"))
    return reshape.union_by_name([a, b], allow_missing=True)


@query(
    "u2_u3_distinct_dedup",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate IS NOT NULL AS shipped
    FROM lineitem
    """,
)
def u2_u3_distinct_dedup(spark, sf_dir):
    """U2/U3 whole-row distinct (`distinct()`, `code/RCLIF_dialysis.Rmd:40`;
    `!duplicated`, `code/RCLIF_labs.Rmd:75`)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return reshape.distinct_rows(
        li.select("l_returnflag", "l_linestatus",
                  F.col("l_shipdate").isNotNull().alias("shipped")))


@query(
    "r1_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS meas_value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def r1_unpivot_measures(spark, sf_dir):
    """R1 wide -> long/EAV unpivot (`pivot_longer` of sbp/dbp,
    `code/RCLIF_vitals.Rmd:50`) — the RCLIF event-table shape. Narrow
    transform, no shuffle."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return reshape.unpivot(li, ["l_orderkey", "l_linenumber"],
                           ["l_quantity", "l_discount", "l_tax"],
                           "measure", "meas_value")


_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

@query(
    "r2_pivot_wide",
    oracle="SELECT user_id, "
    + ", ".join(
        f"""ROUND(CAST(SUM(CASE WHEN event_type = '{t}'
                 THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE), 2) AS {t}"""
        for t in _EVENT_TYPES)
    + " FROM events GROUP BY user_id",
)
def r2_pivot_wide(spark, sf_dir):
    """R2 long/EAV -> wide pivot (`pivot_wider`, `code/RCLIF_vitals.Rmd:108-113`)
    with the explicit value list (avoids the extra distinct-names pass)."""
    ev = io.load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
              .pivot("event_type", _EVENT_TYPES)
              .agg(dsum("value")))


@query(
    "r3_split_column",
    oracle="""
    SELECT doc_id,
           str_split(text, ' ')[1] AS word1,
           str_split(text, ' ')[2] AS word2,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    """,
)
def r3_split_column(spark, sf_dir):
    """R3 column split (`separate` of "120/80" BP,
    `code/RCLIF_vitals.Rmd:48`); missing parts -> NULL like R's NA fill."""
    d = io.load_table(spark, sf_dir, "documents")
    split = reshape.split_column(d.select("doc_id", "text"), "text", " ",
                                 ["word1", "word2"])
    return split.select(
        "doc_id", "word1", "word2",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"))


@query(
    "r4_explode_top_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(str_split(lower(text), ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
    headline=True,
)
def r4_explode_top_tokens(spark, sf_dir):
    """R4 explode (`unnest`, `code/RCLIF_medications.Rmd:125`) generalized to
    corpus token counting; top-20 with deterministic tiebreak. One-shot SQL;
    the operator form is ``operators.reshape.explode_tokens`` (exercised by
    the dedup shingling path and r3)."""
    return spark.sql(f"""
        SELECT token, COUNT(*) AS n
        FROM (SELECT explode(split(lower(text), ' ')) AS token
              FROM {pq(spark, sf_dir, 'documents')})
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 20
    """)


@query(
    "j9_salted_skew_join",
    oracle=f"""
    WITH ev AS (
      SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id END AS user_id,
             value
      FROM events
    ),
    dim AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id = 0 THEN 'hot' ELSE 'cold' END AS tier
      FROM ev
    )
    SELECT d.tier, COUNT(*) AS n_events,
           {sql_dsum('e.value')} AS total_value
    FROM ev e
    JOIN dim d ON d.user_id = e.user_id
    GROUP BY d.tier
    """,
)
def j9_salted_skew_join(spark, sf_dir):
    """Skew-mitigated equi-join, oracle-gated for semantic transparency:
    ~30% of event traffic is folded onto one hot user key (the shape AQE's
    skew split cannot fix when the hot key exceeds one task's build-side
    capacity), then joined through ``operators.skew.salted_join`` — left
    rows take a row-id salt, the dim replicates once per salt bucket, the
    join key becomes (user_id, salt). The oracle is the PLAIN join: salting
    must be invisible in the result. The per-tier aggregate goes through
    dsum, so the fold is order-independent no matter how the salt spread
    the rows."""
    from clif_spark.operators import skew

    ev = io.load_table(spark, sf_dir, "events").select(
        F.when((F.col("user_id") % 10) < 3, F.lit(0))
         .otherwise(F.col("user_id")).alias("user_id"),
        "value")
    dim = (ev.select("user_id").distinct()
             .withColumn("tier", F.when(F.col("user_id") == 0, "hot")
                                  .otherwise(F.lit("cold"))))
    joined = skew.salted_join(ev, dim, on="user_id", salt_buckets=8)
    return (joined.groupBy("tier")
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       dsum("value").alias("total_value")))


@query(
    "j10_levenshtein_vocab_match",
    oracle="""
    WITH corrupted AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 2 = 0
                  THEN substr(s_name, 1, 9) || substr(s_name, 11)
                  ELSE s_name END AS qname
      FROM supplier
    ),
    cand AS (
      SELECT c.s_suppkey, c.qname, v.s_name,
             levenshtein(c.qname, v.s_name) AS d
      FROM corrupted c
      JOIN supplier v ON levenshtein(c.qname, v.s_name) <= 1
    )
    SELECT s_suppkey, qname,
           first(s_name ORDER BY d, s_name) AS best_match,
           CAST(MIN(d) AS BIGINT) AS best_d
    FROM cand
    GROUP BY s_suppkey, qname
    """,
)
def j10_levenshtein_vocab_match(spark, sf_dir):
    """Edit-distance vocabulary matching — the typo-tolerant sibling of J6's
    regex fuzzy match (`grepl` vocab mapping, `code/RCLIF_labs.Rmd:47-58`):
    half the supplier names get one character deleted in-query, then each is
    matched back against the clean vocab via levenshtein <= 1 over a
    broadcast nested-loop join, keeping the (min distance, min name) best
    match per query string. Exactly the J6 plan shape (broadcast NLJ over a
    dim-sized vocab, never a shuffled cartesian); at corpus scale the
    standard blocking key (length band + prefix class) turns the NLJ into an
    equi-join + per-block verify, the same bucket-then-verify geometry as
    MinHash LSH. Levenshtein is a pure integer function with one standard
    definition, so every distance is bit-identical across engines."""
    sup = io.load_table(spark, sf_dir, "supplier")
    corrupted = sup.select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 2 == 0,
               F.concat(F.substring("s_name", 1, 9),
                        F.expr("substr(s_name, 11)")))
         .otherwise(F.col("s_name")).alias("qname"))
    vocab = sup.select("s_name")
    cand = corrupted.join(
        F.broadcast(vocab),
        F.levenshtein(F.col("qname"), F.col("s_name")) <= 1)
    d = F.levenshtein(F.col("qname"), F.col("s_name"))
    return (cand.select("s_suppkey", "qname", "s_name", d.alias("d"))
                .groupBy("s_suppkey", "qname")
                .agg(F.min_by(F.col("s_name"), F.struct("d", "s_name"))
                      .alias("best_match"),
                     F.min("d").cast("long").alias("best_d")))


# Entity-resolution oracle: same planted variants, same two-pass
# blocked edit-distance pairing, then an undirected recursive closure
# + MIN for the transitive clusters. The 3-record chains are the
# point: lev(base, v2) = 2 exceeds the pairing threshold, so base and
# v2 join one cluster ONLY through v1 — a pairwise-grouping shortcut
# (or any non-transitive dedup) leaves them apart and flips the hash.
# The v3 trailing-junk alias (r14) is the multi-pass point: its edit
# sits INSIDE the last-7 suffix, so the suffix key provably misses it
# (right(v3, 7) ends in 'x', no base suffix does) and only the
# prefix-16 pass pairs it with its base.
DEDUP_ENTITY_ORACLE = """
    WITH RECURSIVE recs AS (
      SELECT CAST(c_custkey AS BIGINT) AS rid, c_name AS name
      FROM customer
      UNION ALL
      SELECT CAST(c_custkey + 1000000 AS BIGINT),
             substr(c_name, 1, 3) || substr(c_name, 5)
      FROM customer WHERE c_custkey % 50 = 0
      UNION ALL
      SELECT CAST(c_custkey + 2000000 AS BIGINT),
             substr(c_name, 1, 3) || substr(c_name, 6)
      FROM customer WHERE c_custkey % 100 = 0
      UNION ALL
      SELECT CAST(c_custkey + 3000000 AS BIGINT), c_name || 'x'
      FROM customer WHERE c_custkey % 150 = 0),
    eedges AS (
      SELECT a.rid AS src, b.rid AS dst
      FROM recs a JOIN recs b
        ON right(a.name, 7) = right(b.name, 7)
       AND a.rid < b.rid
       AND levenshtein(a.name, b.name) <= 1
      UNION
      SELECT a.rid, b.rid
      FROM recs a JOIN recs b
        ON substr(a.name, 1, 16) = substr(b.name, 1, 16)
       AND a.rid < b.rid
       AND len(a.name) <> len(b.name)
       AND levenshtein(a.name, b.name) <= 1),
    ue AS (SELECT src, dst FROM eedges
           UNION SELECT dst, src FROM eedges),
    reach(node, lab) AS (
      SELECT src, src FROM ue
      UNION
      SELECT ue.dst, reach.lab FROM reach
      JOIN ue ON ue.src = reach.node),
    comp AS (SELECT node, MIN(lab) AS component
             FROM reach GROUP BY node)
    SELECT rid, cluster,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
             AS cluster_size,
           MIN(name) OVER (PARTITION BY cluster) AS canonical_name
    FROM (SELECT r.rid, r.name,
                 COALESCE(c.component, r.rid) AS cluster
          FROM recs r LEFT JOIN comp c ON c.node = r.rid)
    """


@query("dedup_entity_clusters", oracle=DEDUP_ENTITY_ORACLE)
def dedup_entity_clusters(spark, sf_dir):
    """Entity resolution as a composed relation — the blocking-then-
    verify-then-cluster chain every MDM / record-linkage pipeline
    runs, built ENTIRELY from gated primitives: MULTI-PASS blocking
    keys scope the edit-distance comparison to equi-joins + per-block
    verify (the scale geometry j10_levenshtein_vocab_match
    documents), the passes' levenshtein <= 1 pairs UNION into one
    match graph, connected_components resolves TRANSITIVE identity,
    and every record lands in a cluster with its size and canonical
    (min) name.

    Two blocking passes, each a (key, verify-rule) pair — blocking is
    part of the MATCH DEFINITION, not just a plan optimization, and
    so is each pass's verify rule:
    - PASS 1 (suffix key, right(name, 7)): catches front-of-name
      edits — deletion-stable over the head, key-unique to 10M
      customers, verify = lev <= 1. An unrestricted lev <= 1 pairing
      would also match DIFFERENT customers whose key digits differ by
      one ('...001' vs '...002'); the suffix key provably never
      co-blocks distinct keys.
    - PASS 2 (prefix key, substr(name, 1, 16)): catches edits INSIDE
      the suffix the first key misses (r13 VERDICT: single-pass
      blocking is a recall hole). Distinct customers DO share prefix
      blocks (a block spans 100 consecutive keys), so this pass's
      verify rule is sharpened to insertion/deletion-only matches
      (lev <= 1 AND length differs): the alias family is edits, and
      an equal-length lev-1 pair inside a prefix block is precisely
      the '...001'-vs-'...002' substitution class that is NOT an
      alias. The prefix length is the block-granularity knob (16 ->
      blocks of 100 keys; production tunes it to bound block size).
    Multi-pass recall composes by UNION: a true pair needs to survive
    ANY one pass; the union dedups before clustering.

    Planted variants: every 50th customer gains a one-deletion alias;
    every 100th ALSO gains a two-deletion alias reachable only
    through the first — the 3-record chains force transitivity (see
    the oracle comment) — and every 150th gains a TRAILING-JUNK alias
    (name || 'x') whose edit sits inside the last-7 suffix: pass 1
    provably misses it (its suffix ends in 'x'; no other record's
    does), so its cluster membership is pass 2's contribution, while
    'x' being outside the digit alphabet keeps it unambiguous (a
    19-char alias is deletion-1 from its own base ONLY). Singletons
    keep their own rid; cluster id = min rid is a pure function of
    the data.

    Shape: two equi-joins keyed on the blocks (never an all-pairs
    NLJ), integer edit distances, one union-dedup exchange of
    match-graph-sized edges, then the fixpoint component rounds —
    the same geometry at 100 TB with each key sized so block
    cardinality stays bounded."""
    from clif_spark.operators import graph as G

    recs = _entity_recs(spark, sf_dir)
    comp = G.connected_components(
        _entity_match_edges(recs, recs, symmetric=True))
    return _entity_cluster_report(recs, comp)


def _entity_recs(spark, sf_dir):
    """The ER fixture's standing record set: every customer plus the
    three planted alias families (see dedup_entity_clusters)."""
    cust = io.load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    base = cust.select(key.cast("long").alias("rid"),
                       F.col("c_name").alias("name"))
    v1 = (cust.filter(key % 50 == 0)
          .select((key + 1000000).cast("long").alias("rid"),
                  F.concat(F.substring("c_name", 1, 3),
                           F.expr("substr(c_name, 5)")).alias("name")))
    v2 = (cust.filter(key % 100 == 0)
          .select((key + 2000000).cast("long").alias("rid"),
                  F.concat(F.substring("c_name", 1, 3),
                           F.expr("substr(c_name, 6)")).alias("name")))
    v3 = (cust.filter(key % 150 == 0)
          .select((key + 3000000).cast("long").alias("rid"),
                  F.concat(F.col("c_name"), F.lit("x")).alias("name")))
    return core.materialize(
        base.unionByName(v1).unionByName(v2).unionByName(v3))


def _entity_match_edges(a, b, symmetric: bool = False):
    """The two-pass blocked verify between record sets ``a`` and ``b``
    (each (rid, name)) — the ER match definition factored so the batch
    row runs it all-vs-all and the incremental row runs it
    DELTA-vs-all (old-old pairs never re-verified): pass 1 = suffix-7
    key + lev <= 1; pass 2 = prefix-16 key + lev <= 1 AND length
    differs (insertion/deletion only — see dedup_entity_clusters for
    why each pass carries its own verify rule). Pairs canonicalize to
    (min rid, max rid) and the passes union-dedup.

    ``symmetric=True`` when ``a`` IS ``b`` (the all-vs-all case):
    every unordered pair then appears in both join orders, so the
    verify predicate keeps only ``arid < brid`` — HALF the levenshtein
    evaluations and join output of the general form (measured: the
    general form at sf1 doubled the batch row's wall). The asymmetric
    (delta, all) call cannot use that cut — a delta-old pair appears
    in one order only, whichever side the rids happen to fall —
    so it pays != + least/greatest, over delta-sized input."""
    def _pair_pass(bk, extra_rule=None):
        aa = a.select(F.col("rid").alias("arid"),
                      F.col("name").alias("aname"), bk.alias("bk"))
        bb = b.select(F.col("rid").alias("brid"),
                      F.col("name").alias("bname"), bk.alias("bk"))
        if symmetric:
            cond = F.col("arid") < F.col("brid")
        else:
            cond = F.col("arid") != F.col("brid")
        # predicate ORDER is the hot-path lever (And short-circuits
        # left to right in codegen): the O(len^2) levenshtein runs
        # LAST, behind the integer rid cut, the |len diff| <= 1 bound
        # every lev<=1 pair must satisfy (which alone skips the
        # equal-vs-equal-length mass of each prefix block), and the
        # pass's own rule. Measured at sf1: edge build 28.8 s with lev
        # second -> 7.4 s with this ordering, identical edges.
        cond = cond & (F.abs(F.length("aname") - F.length("bname"))
                       <= 1)
        if extra_rule is not None:
            cond = cond & extra_rule
        cond = cond & (F.levenshtein("aname", "bname") <= 1)
        return (aa.join(bb, "bk").filter(cond)
                .select(F.least("arid", "brid").alias("src"),
                        F.greatest("arid", "brid").alias("dst")))

    e1 = _pair_pass(F.expr("right(name, 7)"))
    e2 = _pair_pass(F.substring("name", 1, 16),
                    F.length("aname") != F.length("bname"))
    return e1.unionByName(e2).distinct()


def _entity_cluster_report(recs, comp):
    """(rid, cluster, cluster_size, canonical_name) from a record set
    and a components labeling — unmatched records are their own
    cluster."""
    from pyspark.sql import Window

    out = (recs.join(comp.withColumnRenamed("node", "rid"),
                     "rid", "left")
           .select("rid", "name",
                   F.coalesce("component", "rid").alias("cluster")))
    w = Window.partitionBy("cluster")
    return out.select(
        "rid", "cluster",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        F.min("name").over(w).alias("canonical_name"))


# Incremental-ER oracle: the FULL recompute over standing records plus
# the delivery's three delta families, same two-pass eedges, same
# closure — what the engine must equal while touching old records only
# through (a) the node-count-sized star labeling and (b) the blocks the
# delta's keys actually hit. The truncated record is the hard case: a
# dirty 17-char record (last digit dropped) is insertion-1 from every
# base that restores EITHER missing digit position — its decade
# (..50x) AND the x0 keys of its hundred-block (..5x0) via the
# prefix-16 pass, plus the suffix-7 pass's shifted-digit family — so
# ONE delta row must MERGE dozens of standing clusters (48 records at
# sf0.01, verified member-by-member) — attach-only maintenance cannot
# merge and flips the hash.
DEDUP_ENTITY_INC_ORACLE = """
    WITH RECURSIVE recs AS (
      SELECT CAST(c_custkey AS BIGINT) AS rid, c_name AS name
      FROM customer
      UNION ALL
      SELECT CAST(c_custkey + 1000000 AS BIGINT),
             substr(c_name, 1, 3) || substr(c_name, 5)
      FROM customer WHERE c_custkey % 50 = 0
      UNION ALL
      SELECT CAST(c_custkey + 2000000 AS BIGINT),
             substr(c_name, 1, 3) || substr(c_name, 6)
      FROM customer WHERE c_custkey % 100 = 0
      UNION ALL
      SELECT CAST(c_custkey + 3000000 AS BIGINT), c_name || 'x'
      FROM customer WHERE c_custkey % 150 = 0
      UNION ALL
      SELECT CAST(c_custkey + 4000000 AS BIGINT),
             substr(c_name, 1, 2) || substr(c_name, 4)
      FROM customer WHERE c_custkey % 200 = 0
      UNION ALL
      SELECT CAST(c_custkey + 5000000 AS BIGINT),
             substr(c_name, 1, 17)
      FROM customer WHERE c_custkey % 500 = 0
      UNION ALL
      SELECT CAST(c_custkey + 6000000 AS BIGINT),
             'Account#' || substr(c_name, 10)
      FROM customer WHERE c_custkey % 300 = 0),
    eedges AS (
      SELECT LEAST(a.rid, b.rid) AS src, GREATEST(a.rid, b.rid) AS dst
      FROM recs a JOIN recs b
        ON right(a.name, 7) = right(b.name, 7) AND a.rid < b.rid
       AND levenshtein(a.name, b.name) <= 1
      UNION
      SELECT LEAST(a.rid, b.rid), GREATEST(a.rid, b.rid)
      FROM recs a JOIN recs b
        ON substr(a.name, 1, 16) = substr(b.name, 1, 16)
       AND a.rid < b.rid
       AND len(a.name) <> len(b.name)
       AND levenshtein(a.name, b.name) <= 1),
    ue AS (SELECT src, dst FROM eedges
           UNION SELECT dst, src FROM eedges),
    reach(node, lab) AS (
      SELECT src, src FROM ue
      UNION
      SELECT ue.dst, reach.lab FROM reach
      JOIN ue ON ue.src = reach.node),
    comp AS (SELECT node, MIN(lab) AS component
             FROM reach GROUP BY node)
    SELECT rid, cluster,
           CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
             AS cluster_size,
           MIN(name) OVER (PARTITION BY cluster) AS canonical_name
    FROM (SELECT r.rid, r.name,
                 COALESCE(c.component, r.rid) AS cluster
          FROM recs r LEFT JOIN comp c ON c.node = r.rid)
    """


def _entity_delta_families(spark, sf_dir):
    """(v4, trunc, fresh) — the three delta record families the
    incremental/persisted ER rows deliver (see
    dedup_entity_incremental's docstring for what each one probes);
    ONE construction shared by every consumer so the Spark side and
    the SQL oracles cannot drift."""
    cust = io.load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    v4 = (cust.filter(key % 200 == 0)
          .select((key + 4000000).cast("long").alias("rid"),
                  F.concat(F.substring("c_name", 1, 2),
                           F.expr("substr(c_name, 4)")).alias("name")))
    trunc = (cust.filter(key % 500 == 0)
             .select((key + 5000000).cast("long").alias("rid"),
                     F.substring("c_name", 1, 17).alias("name")))
    fresh = (cust.filter(key % 300 == 0)
             .select((key + 6000000).cast("long").alias("rid"),
                     F.concat(F.lit("Account#"),
                              F.expr("substr(c_name, 10)"))
                      .alias("name")))
    return v4, trunc, fresh


# --- persisted ER store: the signature-store lifecycle for entity
# resolution — standing records + cluster labels live in the CDC
# snapshot format; deliveries screen against the STORE (records-seen
# never re-read from the source), takedowns tombstone + re-resolve
# only the clusters they touch. The correctness backbone is the
# cluster-closure invariant: the standing labeling is the full closure
# of the match relation, so match edges NEVER cross cluster
# boundaries — which is what makes cluster-LOCAL takedown recompute
# exact and delivery-time old-old re-verification unnecessary. -------


def _er_store_admit(rows, root, version):
    """Upsert (rid, name, cluster) rows into the standing ER store —
    keep-latest CDC semantics (idempotent under redelivery), one store
    for records AND labels so a screen needs exactly one parquet
    relation."""
    from clif_spark import streaming as STR

    STR.upsert_cdc_snapshot(
        rows.select("rid", "name", "cluster",
                    F.lit(version).cast("long").alias("__v"),
                    F.lit(False).alias("is_delete")),
        root, keys=["rid"], order=["__v", "rid"], lineage="er-store")


def _er_store_delivery(spark, delta, root, version):
    """Apply one delivery of (rid, name) records to the standing ER
    store: screen the delta against store records via the blocked
    two-pass verify (delta-vs-all — old-old pairs never re-verified),
    merge labels through the star-edge closure (standing clusters ride
    as rid -> label edges, node-count sized), and upsert the delta
    plus ONLY the standing rows whose label changed — delta-sized in
    the attach case, merge-sized when a dirty record bridges standing
    clusters. The store parquet is the only standing input
    (plan-pinned in tests/test_plans.py)."""
    from clif_spark import streaming as STR
    from clif_spark.operators import graph as G

    store = core.materialize(STR.read_cdc_snapshot(spark, root)
                             .select("rid", "name", "cluster"))
    delta = core.materialize(delta)
    star = (store.filter(F.col("cluster") != F.col("rid"))
            .select(F.col("rid").alias("src"),
                    F.col("cluster").alias("dst")))
    new_edges = _entity_match_edges(
        delta, store.select("rid", "name").unionByName(delta))
    comp = core.materialize(
        G.connected_components(star.unionByName(new_edges))
        .withColumnRenamed("node", "rid"))
    delta_rows = (delta.join(comp, "rid", "left")
                  .select("rid", "name",
                          F.coalesce("component", F.col("rid"))
                           .alias("cluster")))
    changed = (store.join(comp, "rid")
               .filter(F.col("component") != F.col("cluster"))
               .select("rid", "name",
                       F.col("component").alias("cluster")))
    _er_store_admit(delta_rows.unionByName(changed), root, version)


def _er_store_takedown(spark, removed, root, version):
    """Remove records from the standing ER store: tombstone the
    removed rids AND re-resolve ONLY the clusters they inhabit — a
    removed record may be the BRIDGE holding a merged cluster
    together, so its cluster must be re-verified member-by-member and
    may SPLIT back apart (labels recompute as each sub-component's min
    rid). Clusters the removal does not touch are never re-verified:
    the standing labeling is closed under the match relation, so no
    edge can cross from an affected member to an unaffected cluster
    (it would have merged them already). Cost: O(affected clusters'
    members²) through the same blocked verify, never O(store)."""
    from clif_spark import streaming as STR
    from clif_spark.operators import graph as G

    store = core.materialize(
        STR.read_cdc_snapshot(spark, root).select("rid", "name", "cluster"))
    removed = core.materialize(removed.select("rid"))
    hit = (store.join(removed, "rid", "semi")
           .select("cluster").distinct())
    members = core.materialize(
        store.join(F.broadcast(hit), "cluster", "semi")
        .join(removed, "rid", "left_anti")
        .select("rid", "name"))
    comp = (G.connected_components(
                _entity_match_edges(members, members, symmetric=True))
            .withColumnRenamed("node", "rid"))
    relabeled = (members.join(comp, "rid", "left")
                 .select("rid", "name",
                         F.coalesce("component", F.col("rid"))
                          .alias("cluster")))
    changed = (relabeled.join(
        store.select("rid", F.col("cluster").alias("__old")), "rid")
        .filter(F.col("cluster") != F.col("__old"))
        .select("rid", "name", "cluster")
        .withColumn("is_delete", F.lit(False)))
    tombs = (store.join(removed, "rid", "semi")
             .select("rid", "name", "cluster")
             .withColumn("is_delete", F.lit(True)))
    STR.upsert_cdc_snapshot(
        changed.unionByName(tombs)
               .withColumn("__v", F.lit(version).cast("long")),
        root, keys=["rid"], order=["__v", "rid"], lineage="er-store")


def _er_store_report(spark, root):
    """The cluster report straight off the standing store — labels are
    stored state, so the report is one window pass, no resolution."""
    from pyspark.sql import Window

    from clif_spark import streaming as STR

    store = STR.read_cdc_snapshot(spark, root)
    w = Window.partitionBy("cluster")
    return store.select(
        "rid", "cluster",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        F.min("name").over(w).alias("canonical_name"))


def _er_store_build(spark, sf_dir, prefix):
    """The shared persisted-ER lifecycle build (batch resolve + admit
    at version 0, the two delta deliveries at 1 and 2) — ONE
    construction for the persisted/takedown/compacted rows so the
    lifecycle cannot drift between them. Returns (root, trunc) —
    trunc is the %500 bridge family the takedown rows remove."""
    import tempfile

    from clif_spark.operators import graph as G

    recs = _entity_recs(spark, sf_dir)
    comp0 = (G.connected_components(
                 _entity_match_edges(recs, recs, symmetric=True))
             .withColumnRenamed("node", "rid"))
    labeled = (recs.join(comp0, "rid", "left")
               .select("rid", "name",
                       F.coalesce("component", F.col("rid"))
                        .alias("cluster")))
    root = tempfile.mkdtemp(prefix=prefix)
    _er_store_admit(labeled, root, 0)
    v4, trunc, fresh = _entity_delta_families(spark, sf_dir)
    _er_store_delivery(spark, v4, root, 1)
    _er_store_delivery(spark, trunc.unionByName(fresh), root, 2)
    return root, trunc


@query("dedup_entity_incremental", oracle=DEDUP_ENTITY_INC_ORACLE)
def dedup_entity_incremental(spark, sf_dir):
    """J12-inc (engine ext.): INCREMENTAL entity resolution — a new
    delivery of records joins the standing clusters WITHOUT
    re-verifying old-old pairs, the maintenance shape every production
    MDM runs (records arrive continuously; nobody re-resolves the
    universe per delivery). Two pieces of standing state do the work:
    the component labeling kept as STAR EDGES (rid -> cluster min; the
    incremental-CC identity web_mirror_sets_incremental gated — each
    old cluster is one star, so closure over star UNION new-match
    edges equals the full recompute) and the record store itself,
    which the delta probes ONLY through its blocking keys (the
    equi-join touches just the blocks the delta's keys hit — at 100 TB
    that is O(delta x block) work, never O(standing^2), and the
    standing side would be the u12b point-lookup path against a
    key-bucketed store).

    The delivery plants three delta classes:
    - every 200th customer gains a NEW front-deletion alias -> pass 1
      attaches it to the standing cluster (the common case);
    - every 500th contributes a TRUNCATED dirty record (last digit
      dropped) that is insertion-1 from every base restoring either
      missing digit position — its decade AND its hundred-block's x0
      keys AND a suffix-shifted family -> one delta row MERGES dozens
      of standing clusters (48 records in one cluster at sf0.01; the
      hard case: attach-only maintenance cannot merge and flips the
      hash — web_mirror_sets_incremental's bridge lesson in ER form,
      and exactly how one dirty record poisons a real MDM);
    - every 300th contributes an 'Account#...' record sharing its
      customer's suffix BLOCK but failing verify (lev >> 1) -> a
      blocked-but-rejected singleton, pinning that blocking alone
      never matches.
    The oracle is the full recompute over everything ever seen; the
    engine reads old records only via the star relation and the
    delta-hit blocks, which is the entire point."""
    from clif_spark.operators import graph as G

    recs = _entity_recs(spark, sf_dir)
    # standing state: one ER run's labeling, compressed to star edges
    comp0 = G.connected_components(
        _entity_match_edges(recs, recs, symmetric=True))
    star = (comp0.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias("src"),
                    F.col("component").alias("dst")))
    v4, trunc, fresh = _entity_delta_families(spark, sf_dir)
    delta = core.materialize(v4.unionByName(trunc).unionByName(fresh))
    # delta-vs-all verify: old-old pairs never recomputed
    new_edges = _entity_match_edges(delta, recs.unionByName(delta))
    merged = G.connected_components(star.unionByName(new_edges))
    return _entity_cluster_report(recs.unionByName(delta), merged)


@query("dedup_entity_persisted", oracle=DEDUP_ENTITY_INC_ORACLE)
def dedup_entity_persisted(spark, sf_dir):
    """J12-store (engine ext.): the persisted ER lifecycle —
    dedup_entity_incremental's standing state productionized as the
    signature-store pattern: records AND their cluster labels live in
    ONE CDC snapshot store (upsert_cdc_snapshot — keep-latest,
    idempotent, compaction/time-travel unchanged), and each delivery
    is screen -> merge -> admit against the STORE: the blocked
    two-pass verify runs delta-vs-store (old-old pairs never
    re-verified; records-seen never re-read from the source —
    plan-pinned in tests/test_plans.py), labels merge through the
    star-edge closure, and the upsert writes the delta plus ONLY the
    standing rows whose label changed. TWO successive deliveries probe
    the lifecycle where the one-shot incremental row cannot: delivery
    1 (the %200 aliases) attaches to clusters admitted at version 0,
    delivery 2 (the %500 truncated bridge + %300 rejects) must merge
    clusters THROUGH the store-held labels — a store that dropped or
    stalely-cached a label between deliveries flips the hash. The
    report reads straight off the store (labels are stored state).
    Oracle: the full recompute over everything ever delivered — the
    same closure as dedup_entity_incremental, which is the identity
    the two-delivery split must preserve.

    100 TB shape: per delivery O(delta x hit blocks) verify +
    delta/changed-sized upsert; the store is the CDC snapshot format,
    partitionable by blocking key (the u12b point-lookup path)."""
    root, _ = _er_store_build(spark, sf_dir, "clif_er_store_")
    return _er_store_report(spark, root)


# Takedown oracle: the persisted-ER world where the %500 truncated
# family NEVER EXISTED — the INC oracle with that one recs branch
# removed (string surgery on the exact branch text, asserted present
# so oracle drift fails loud at import, the _BM25F_TAKEDOWN_ORACLE
# construction). The removed records are the BRIDGES that merged
# dozens of standing clusters, so the takedown must SPLIT the
# mega-cluster back apart — attach-only or label-only maintenance
# cannot and flips the hash.
_ER_TRUNC_BRANCH = """
      UNION ALL
      SELECT CAST(c_custkey + 5000000 AS BIGINT),
             substr(c_name, 1, 17)
      FROM customer WHERE c_custkey % 500 = 0"""
assert _ER_TRUNC_BRANCH in DEDUP_ENTITY_INC_ORACLE, \
    "persisted-ER takedown oracle: the truncated-family branch moved"
DEDUP_ENTITY_TD_ORACLE = DEDUP_ENTITY_INC_ORACLE.replace(
    _ER_TRUNC_BRANCH, "")


@query("dedup_entity_store_takedown", oracle=DEDUP_ENTITY_TD_ORACLE)
def dedup_entity_store_takedown(spark, sf_dir):
    """J12-td (engine ext.): TAKEDOWN over the persisted ER store —
    the right-to-be-forgotten operation for standing clusters, and the
    one place label-state maintenance is genuinely harder than the
    posting store's: a removed record may be the BRIDGE holding a
    merged cluster together, so tombstoning it is not enough — its
    clusters must be re-verified member-by-member and SPLIT back into
    the components the remaining records actually support. The row
    builds the full persisted lifecycle (batch admit + two
    deliveries), then takes down the ENTIRE %500 truncated family —
    exactly the dirty bridges whose delivery merged ~dozens of
    standing clusters — and the store must afterwards equal a world
    where those records never existed, BIT-FOR-BIT (the oracle is the
    incremental oracle with that record family removed). The
    recompute is cluster-LOCAL: only the clusters the removed rids
    inhabit are re-verified (exact because the standing labeling is
    closed under the match relation — no edge can cross from an
    affected member to an unaffected cluster, it would already have
    merged them); every other cluster's rows ride through the merge
    unexamined (and under the partitioned-store form their partitions
    go unrewritten — upsert_partitioned_snapshot's contract).

    100 TB shape: O(affected clusters' members²) blocked verify +
    changed-rows upsert, never O(store); tombstones drop physically
    at the next compaction (the shared CDC contract)."""
    root, trunc = _er_store_build(spark, sf_dir, "clif_er_td_store_")
    _er_store_takedown(spark, trunc.select("rid"), root, 3)
    return _er_store_report(spark, root)


@query("dedup_entity_store_compacted", oracle=DEDUP_ENTITY_TD_ORACLE)
def dedup_entity_store_compacted(spark, sf_dir):
    """J12-cmp (engine ext.): COMPACTION of the persisted ER store
    after takedown — the storage-reclaim leg that completes the
    lifecycle the way the signature/semantic/posting stores already
    do: the takedown leaves the removed records as retained tombstones
    (suppression against out-of-order redelivery, the shared CDC
    contract), and compaction physically drops them and expires
    history. The row runs the FULL lifecycle (batch admit + two
    deliveries + the %500 bridge-family takedown), compacts, asserts
    in-row that exactly the tombstoned rows left the parquet
    (removed == takedown family size; live count unchanged), and
    reports from the compacted store under the SAME oracle as the
    takedown row — compaction is a pure physical choice, the report
    must be bit-invariant across it.

    100 TB shape: one store-sized rewrite (the store is record-count
    sized), amortized across takedowns; under the partitioned-store
    form only tombstone-bearing partitions rewrite."""
    from clif_spark import streaming as STR

    root, trunc = _er_store_build(spark, sf_dir, "clif_er_cmp_store_")
    trunc, m = core.materialize_observed(trunc)
    _er_store_takedown(spark, trunc.select("rid"), root, 3)
    # plain-scan counts for the invariants — the windowed report adds
    # an exchange a row count does not need
    live_before = STR.read_cdc_snapshot(spark, root).count()
    n_removed = STR.compact_cdc_snapshot(spark, root)
    n_trunc = m["n_rows"]
    if n_removed != n_trunc:
        raise RuntimeError(
            f"dedup_entity_store_compacted: compaction removed "
            f"{n_removed} rows, expected exactly the {n_trunc} "
            f"takedown tombstones")
    if STR.read_cdc_snapshot(spark, root).count() != live_before:
        raise RuntimeError(
            "dedup_entity_store_compacted: live row count changed "
            "across compaction — a physical choice altered semantics")
    return _er_store_report(spark, root)


@query(
    "u4_intersect_except",
    oracle="""
    WITH y96 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    ),
    y97 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT 'retained' AS cohort, COUNT(*) AS n_customers
    FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97) t
    UNION ALL
    SELECT 'churned', COUNT(*)
    FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97) t
    UNION ALL
    SELECT 'new', COUNT(*)
    FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96) t
    """,
)
def u4_intersect_except(spark, sf_dir):
    """U4 (engine surface): INTERSECT / EXCEPT set semantics — year-over-
    year customer retention cohorts (retained = both years, churned = 1996
    only, new = 1997 only). Spark plans INTERSECT as a left-semi and EXCEPT
    as a left-anti join over pre-aggregated distinct keys, so each cohort
    is two hash aggregates + one join shuffle on o_custkey — the same
    geometry three hand-written semi/anti joins would cost, written in four
    lines of SQL instead."""
    o = pq(spark, sf_dir, "orders")

    def year(y):
        return (f"SELECT DISTINCT o_custkey FROM {o} "
                f"WHERE o_orderdate >= TIMESTAMP_NTZ '{y}-01-01 00:00:00' "
                f"AND o_orderdate < TIMESTAMP_NTZ '{y + 1}-01-01 00:00:00'")

    return spark.sql(f"""
        WITH y96 AS ({year(1996)}), y97 AS ({year(1997)})
        SELECT 'retained' AS cohort, COUNT(*) AS n_customers
        FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97) t
        UNION ALL
        SELECT 'churned', COUNT(*)
        FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97) t
        UNION ALL
        SELECT 'new', COUNT(*)
        FROM (SELECT o_custkey FROM y97 EXCEPT SELECT o_custkey FROM y96) t
    """)


@query(
    "a15_ordered_string_agg",
    oracle="""
    SELECT n.n_name AS nation,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers,
           COUNT(*) AS n_suppliers
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY nation
    """,
)
def a15_ordered_string_agg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG / string_agg — the report-
    friendly inverse of R3's column split): per-nation supplier roster as
    one sorted CSV string. Spark's collect_list is arrival-ordered
    (nondeterministic under parallelism), so determinism comes from
    array_sort BEFORE array_join — the engine-portable restatement of
    DuckDB's `ORDER BY` aggregate modifier. Bounded group width is the
    caller's contract (a roster column, not an event log)."""
    s = io.load_table(spark, sf_dir, "supplier")
    n = io.load_table(spark, sf_dir, "nation")
    return (s.join(F.broadcast(n),
                   n.n_nationkey == s.s_nationkey)
             .groupBy(F.col("n_name").alias("nation"))
             .agg(F.array_join(F.array_sort(F.collect_list("s_name")), ",")
                   .alias("suppliers"),
                  F.count(F.lit(1)).alias("n_suppliers")))


@query(
    "a16_numeric_histogram",
    oracle="""
    -- Equal-width binning mirror of operators.profile.numeric_histogram:
    -- identical IEEE-double expression shapes ((v-lo)/((hi-lo)/20.0),
    -- floor, least, lo + i*w) so bin indices AND float bin edges are
    -- bit-comparable across engines.
    WITH b AS (
      SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
             MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
      FROM lineitem
    ),
    binned AS (
      SELECT l_returnflag,
             LEAST(CAST(19 AS BIGINT),
                   CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - b.lo)
                              / ((b.hi - b.lo) / 20.0)) AS BIGINT)) AS bin,
             b.lo AS lo, b.hi AS hi
      FROM lineitem, b
      WHERE l_extendedprice IS NOT NULL
    )
    SELECT l_returnflag, bin,
           lo + CAST(bin AS DOUBLE) * ((hi - lo) / 20.0) AS bin_start,
           CASE WHEN bin = 19 THEN hi
                ELSE lo + CAST(bin + 1 AS DOUBLE) * ((hi - lo) / 20.0)
           END AS bin_end,
           COUNT(*) AS n
    FROM binned
    GROUP BY l_returnflag, bin, lo, hi
    """,
)
def a16_numeric_histogram(spark, sf_dir):
    """A16: per-group equal-width numeric histogram — the reference's
    exploratory ggplot histogram (`code/RCLIF_vitals.Rmd:259-278`)
    re-expressed as a relation: l_extendedprice over 20 bins per return
    flag, bounds discovered in a broadcast 1-row pre-aggregate. The plan
    is two scans + one (flag × bin) partial-count shuffle — no per-bin
    jobs, no driver-side data."""
    li = io.load_table(spark, sf_dir, "lineitem")
    return profile.numeric_histogram(
        li, "l_extendedprice", keys=["l_returnflag"], n_bins=20)


@query(
    "u5_upsert_keep_latest",
    oracle="""
    -- Base snapshot (extract v1) + an update batch (v2 for every 3rd key,
    -- with a planted value change) merged by keep-latest-per-key.
    WITH base AS (
      SELECT event_id, CAST(1 AS BIGINT) AS version, user_id,
             event_type, value
      FROM events
    ),
    updates AS (
      SELECT event_id, CAST(2 AS BIGINT) AS version, user_id,
             event_type, value * 2 AS value
      FROM events WHERE event_id % 3 = 0
    ),
    merged AS (
      SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY event_id
                 ORDER BY version DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM updates)
    )
    SELECT event_id, version, user_id, event_type, value
    FROM merged WHERE rn = 1
    """,
)
def u5_upsert_keep_latest(spark, sf_dir):
    """U5 incremental upsert: fold an update batch into a snapshot,
    keeping the highest-version row per key — MERGE insert-or-replace as
    a pure relation (operators.core.upsert_keep_latest = union +
    keep-last dedup). Every 3rd event gets a v2 row with a doubled value;
    the survivors must carry exactly those. Version is a unique-per-key
    total order here, satisfying the operator's determinism contract."""
    ev = io.load_table(spark, sf_dir, "events")
    base = ev.select("event_id", F.lit(1).cast("long").alias("version"),
                     "user_id", "event_type", "value")
    updates = (ev.filter(F.col("event_id") % 3 == 0)
                 .select("event_id", F.lit(2).cast("long").alias("version"),
                         "user_id", "event_type",
                         (F.col("value") * 2).alias("value")))
    return core.upsert_keep_latest(base, updates, ["event_id"], ["version"])


#: The planted-CDC MERGE semantics, shared verbatim by the batch gate
#: (u7_merge_with_deletes) and the streaming gate
#: (queries.streaming.stream_cdc_apply): both must converge to THIS
#: relation or the batch/streaming convergence contract silently splits
#: into two unrelated tests.
CDC_PLANTED_MERGE_ORACLE = """
    WITH cdc AS (
      SELECT event_id, CAST(1 AS BIGINT) AS version, user_id,
             event_type, value, FALSE AS is_delete
      FROM events
      UNION ALL
      SELECT event_id, CAST(2 AS BIGINT), user_id,
             event_type, value * 2, FALSE
      FROM events WHERE event_id % 3 = 0
      UNION ALL
      SELECT event_id, CAST(3 AS BIGINT), user_id,
             event_type, value, TRUE
      FROM events WHERE event_id % 7 = 0
    ),
    merged AS (
      SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY event_id
                 ORDER BY version DESC) AS rn
      FROM cdc
    )
    SELECT event_id, version, user_id, event_type, value
    FROM merged WHERE rn = 1 AND NOT is_delete
    """


@query("u7_merge_with_deletes", oracle=CDC_PLANTED_MERGE_ORACLE)
def u7_merge_with_deletes(spark, sf_dir):
    """U7 full MERGE with delete tombstones — the operation a warehouse
    user reaches for right after u5's insert-or-replace: a CDC batch
    carrying updates (every 3rd key, v2, doubled value) AND deletes
    (every 7th key, v3 tombstones). Keys hit by both (multiples of 21)
    must DELETE — the tombstone is newer — and every other %7 key must
    vanish while %3 keys keep their doubled v2 row
    (operators.core.merge_with_deletes = stamp + union + keep-last dedup
    + winning-tombstone filter). Planted deletes make the oracle sharp:
    the survivor count drops by exactly |%7 keys| and no tombstone column
    may leak into the output."""
    ev = io.load_table(spark, sf_dir, "events")
    base = ev.select("event_id", F.lit(1).cast("long").alias("version"),
                     "user_id", "event_type", "value")
    upd = (ev.filter(F.col("event_id") % 3 == 0)
             .select("event_id", F.lit(2).cast("long").alias("version"),
                     "user_id", "event_type",
                     (F.col("value") * 2).alias("value"),
                     F.lit(False).alias("is_delete")))
    dele = (ev.filter(F.col("event_id") % 7 == 0)
              .select("event_id", F.lit(3).cast("long").alias("version"),
                      "user_id", "event_type", "value",
                      F.lit(True).alias("is_delete")))
    return core.merge_with_deletes(base, upd.unionByName(dele),
                                   ["event_id"], ["version"])


@query(
    "a18_key_skew_profile",
    oracle="""
    -- Top-5 hottest join keys with corpus-level skew statistics attached:
    -- the diagnostic that decides when a join needs the j9 salting path.
    WITH per_key AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS total
      FROM per_key
    )
    SELECT p.user_id, p.n, s.n_keys, s.total,
           p.n / (CAST(s.total AS DOUBLE) / s.n_keys) AS skew_vs_mean
    FROM per_key p, stats s
    ORDER BY p.n DESC, p.user_id
    LIMIT 5
    """,
)
def a18_key_skew_profile(spark, sf_dir):
    """Join-key skew diagnostic — the measurement that decides when a
    pipeline reaches for the salted join (operators/skew.py, j9): per-key
    cardinalities (map-side-combined count), global key stats as a
    broadcast 1-row aggregate, and each hot key's multiple of the mean.
    Top-5 via TakeOrderedAndProject (per-partition heaps, no global
    sort); the mean division is a single IEEE op on exact integers, so
    the ratio is bit-comparable."""
    ev = io.load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = per_key.agg(F.count(F.lit(1)).alias("n_keys"),
                        F.sum("n").alias("total"))
    return (per_key.crossJoin(F.broadcast(stats))
            .select("user_id", "n", "n_keys", "total",
                    (F.col("n") / (F.col("total").cast("double")
                                   / F.col("n_keys"))).alias("skew_vs_mean"))
            .orderBy(F.col("n").desc(), "user_id").limit(5))


@query(
    "a19_cooccurrence_pairs",
    oracle="""
    -- Market-basket pair counts: how many users exhibit BOTH event types.
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    """,
)
def a19_cooccurrence_pairs(spark, sf_dir):
    """Co-occurrence (market-basket) pair counts — per unordered pair of
    event types, the number of users exhibiting both. Plan: distinct
    (user, type) with map-side combine, self-join on the user key with
    the a<b ordering predicate (each pair counted once), pair-keyed
    count. The self-join is keyed — never cartesian — and each user
    contributes at most C(|types|, 2) rows, bounded by the small type
    domain at any user count."""
    ev = io.load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    return (a.join(b, "user_id")
             .filter(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("n_users")))


@query(
    "u6_snapshot_diff",
    oracle="""
    WITH old_ AS (SELECT event_id, user_id, value FROM events
                  WHERE event_id % 5 <> 0),
    new_ AS (SELECT event_id, user_id,
                    CASE WHEN event_id % 7 = 0 THEN NULL
                         WHEN event_id % 3 = 0 THEN value * 2
                         ELSE value END AS value
             FROM events WHERE event_id % 5 <> 1),
    j AS (SELECT COALESCE(o.event_id, n.event_id) AS event_id,
                 o.value AS old_value, n.value AS new_value,
                 o.event_id IS NOT NULL AS in_old,
                 n.event_id IS NOT NULL AS in_new
          FROM old_ o FULL OUTER JOIN new_ n USING (event_id))
    SELECT event_id, old_value, new_value,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                WHEN old_value IS NOT DISTINCT FROM new_value
                     THEN 'unchanged'
                ELSE 'changed' END AS change
    FROM j
    """,
)
def u6_snapshot_diff(spark, sf_dir):
    """Snapshot diff — the regression-audit / CDC primitive (the read
    side of u5's upsert): classify every key across two table versions
    as added / removed / changed / unchanged, with NULL-SAFE value
    comparison so NULL->value transitions count as changes instead of
    vanishing into three-valued logic (operators/core.py:snapshot_diff).
    The synthetic second snapshot drops some keys, adds others, doubles
    every third value and nulls every seventh. One full outer join on
    the key — co-partitionable, exchange-free under bucketed layout."""
    from clif_spark.operators.core import snapshot_diff
    ev = io.load_table(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 5 != 0).select(
        "event_id", "user_id", "value")
    new = (ev.filter(F.col("event_id") % 5 != 1)
             .select("event_id", "user_id",
                     F.when(F.col("event_id") % 7 == 0, None)
                      .when(F.col("event_id") % 3 == 0, F.col("value") * 2)
                      .otherwise(F.col("value")).alias("value")))
    return (snapshot_diff(old, new, ["event_id"], ["value"])
            .select("event_id", "old_value", "new_value", "change"))


@query(
    "u10_store_schema_evolution",
    oracle="""
    -- Additive schema evolution on the CDC snapshot store: delivery 2
    -- ADDS a column (existing rows read back NULL — the merge_schema
    -- rule), while a drifted delivery MISSING a column is REJECTED
    -- loudly under the strict default (keep-latest would otherwise
    -- permanently NULL that column for every updated key — silent
    -- data destruction). Evens carry the v2 update + the new column;
    -- odds remain v1 with NULL extra; drift_rejected mirrors the
    -- in-query strict-mode probe.
    SELECT CAST(n_nationkey AS BIGINT) AS k,
           CASE WHEN n_nationkey % 2 = 0 THEN CAST(2 AS BIGINT)
                ELSE CAST(1 AS BIGINT) END AS version,
           CASE WHEN n_nationkey % 2 = 0 THEN n_name || ' v2'
                ELSE n_name END AS val,
           CASE WHEN n_nationkey % 2 = 0
                THEN CAST(n_regionkey AS VARCHAR) END AS extra,
           TRUE AS drift_rejected
    FROM nation
    """,
)
def u10_store_schema_evolution(spark, sf_dir):
    """Schema lifecycle of the persisted store (the gap between 'a
    table format' and 'a directory of parquet'): delivery 1 seeds the
    snapshot; delivery 2 arrives with a NEW column and folds via
    ``upsert_cdc_snapshot(allow_missing_columns=True)`` — additive
    evolution, old rows take NULL (parquet readers handle the mixed
    footers via unionByName semantics at merge time, so the on-disk
    versions stay immutable); delivery 3 arrives MISSING a data column
    and the strict default must reject it loudly (an eager probe
    catches the unionByName failure — the a26 guard-probe pattern),
    because folding it would permanently NULL ``val`` for every key it
    updates. Output: the evolved snapshot + the rejection flag."""
    from clif_spark import streaming as STR

    import tempfile

    n = io.load_table(spark, sf_dir, "nation")
    root = tempfile.mkdtemp(prefix="clif_schemaevo_")
    d1 = n.select(F.col("n_nationkey").cast("long").alias("k"),
                  F.lit(1).cast("long").alias("version"),
                  F.col("n_name").alias("val"),
                  F.lit(False).alias("is_delete"))
    STR.upsert_cdc_snapshot(d1, root, ["k"], ["version"],
                            lineage="schema-evo")
    d2 = (n.filter(F.col("n_nationkey") % 2 == 0)
          .select(F.col("n_nationkey").cast("long").alias("k"),
                  F.lit(2).cast("long").alias("version"),
                  F.concat("n_name", F.lit(" v2")).alias("val"),
                  F.col("n_regionkey").cast("string").alias("extra"),
                  F.lit(False).alias("is_delete")))
    STR.upsert_cdc_snapshot(d2, root, ["k"], ["version"],
                            lineage="schema-evo",
                            allow_missing_columns=True)
    # drifted delivery: val column MISSING — strict default must refuse
    d3 = (n.limit(3)
          .select(F.col("n_nationkey").cast("long").alias("k"),
                  F.lit(3).cast("long").alias("version"),
                  F.lit(False).alias("is_delete")))
    # Match the EXPECTED failure specifically: strict unionByName raises
    # AnalysisException naming the missing column. Anything else (conf,
    # a broken store, an unrelated analysis error) re-raises — a rotted
    # strict mode must not gate green by failing for the wrong reason.
    from pyspark.errors import AnalysisException

    try:
        STR.upsert_cdc_snapshot(d3, root, ["k"], ["version"],
                                lineage="schema-evo")
        drift_rejected = False  # silent acceptance == destruction path
    except AnalysisException as exc:
        if "val" not in str(exc):
            raise
        drift_rejected = True
    out = STR.read_cdc_snapshot(spark, root)
    return out.select("k", "version", "val", "extra",
                      F.lit(drift_rejected).alias("drift_rejected"))


# Shared by u11_partitioned_upsert and its streaming twin
# (stream_partitioned_upsert): the settled stream must equal the batch
# MERGE, so one oracle text serves both (the stream_cdc_apply pattern).
U11_PARTITIONED_MERGE_ORACLE = """
    -- O(touched partitions) MERGE: delivery 1 seeds every order;
    -- delivery 2 touches TWO of five priority partitions (price x2 at
    -- version 2, every tenth key tombstoned). Untouched partitions keep
    -- their v1 rows — and keep their physical FILES byte-identical,
    -- which the unit suite asserts; the oracle pins the relational
    -- answer of the same MERGE.
    SELECT CAST(o_orderkey AS BIGINT) AS k,
           CAST(CASE WHEN o_orderpriority IN ('1-URGENT', '3-MEDIUM')
                THEN 2 ELSE 1 END AS BIGINT) AS version,
           CASE WHEN o_orderpriority IN ('1-URGENT', '3-MEDIUM')
                THEN o_totalprice * 2 ELSE o_totalprice END AS val,
           o_orderpriority AS prio
    FROM orders
    WHERE NOT (o_orderpriority IN ('1-URGENT', '3-MEDIUM')
               AND o_orderkey % 10 = 0)
    """


@query("u11_partitioned_upsert", oracle=U11_PARTITIONED_MERGE_ORACLE)
def u11_partitioned_upsert(spark, sf_dir):
    """U11 (engine ext.): the partitioned snapshot store — MERGE that
    rewrites ONLY touched partitions (streaming.
    upsert_partitioned_snapshot), the form every whole-table
    copy-on-write docstring in the CDC family defers to at 100 TB.
    Delivery 1 seeds all five o_orderpriority partitions; delivery 2
    updates two of them (keep-latest by version) and tombstones every
    tenth key there (retained in the stored rows, filtered at read —
    the CDC suppression rule). The merge base is partition-pruned
    (literal isin over the touched set; PartitionFilters plan-asserted
    in the unit suite), the write is dynamic partition overwrite, and
    the three untouched partitions' parquet files are asserted
    byte-identical after delivery 2."""
    import tempfile

    from clif_spark import streaming as STR

    o = io.load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="clif_partstore_") + "/store"
    d1 = o.select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.lit(1).cast("long").alias("version"),
        F.col("o_totalprice").alias("val"),
        F.lit(False).alias("is_delete"),
        F.col("o_orderpriority").alias("prio"))
    STR.upsert_partitioned_snapshot(d1, root, ["k"], ["version"], "prio")
    touched = ["1-URGENT", "3-MEDIUM"]
    d2 = (o.filter(F.col("o_orderpriority").isin(touched))
          .select(F.col("o_orderkey").cast("long").alias("k"),
                  F.lit(2).cast("long").alias("version"),
                  (F.col("o_totalprice") * 2).alias("val"),
                  (F.col("o_orderkey") % 10 == 0).alias("is_delete"),
                  F.col("o_orderpriority").alias("prio")))
    STR.upsert_partitioned_snapshot(d2, root, ["k"], ["version"], "prio")
    return (STR.read_partitioned_snapshot(spark, root)
            .select("k", "version", "val", "prio"))


# Shared by u12_lsm_keep_best and its streaming twin
# (stream_lsm_keep_best): four deliveries into the LSM segment store;
# the read is keep-best per key by (score, best_doc, delivery ordinal)
# with the tombstoned keys suppressed. The tombstone set EXCLUDES keys
# delivery 4 touches — the fixtures respect compact_lsm's caller
# contract (a post-compaction delivery must not re-admit a dropped
# tombstone's key), so one global keep-best SQL describes both the
# compacted and uncompacted store.
U12_LSM_KEEP_BEST_ORACLE = """
    WITH v4keys AS (
      SELECT DISTINCT doc_id % 97 AS k FROM documents
      WHERE doc_id % 3 = 0 AND doc_id % 7 = 0),
    deliveries AS (
      SELECT doc_id % 97 AS k, doc_id AS best_doc,
             CAST(n_chars AS BIGINT) AS score,
             FALSE AS dead, (doc_id % 3) + 1 AS seg
      FROM documents
      UNION ALL
      SELECT DISTINCT doc_id % 97, CAST(-1 AS BIGINT),
             CAST(2000000000 AS BIGINT), TRUE, 3
      FROM documents
      WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
        AND doc_id % 97 NOT IN (SELECT k FROM v4keys)
      UNION ALL
      SELECT doc_id % 97, doc_id, CAST(n_chars + 1000 AS BIGINT),
             FALSE, 4
      FROM documents WHERE doc_id % 3 = 0 AND doc_id % 7 = 0),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY k
        ORDER BY score DESC, best_doc DESC, seg DESC) AS rn
      FROM deliveries)
    SELECT CAST(k AS BIGINT) AS k, CAST(best_doc AS BIGINT) AS best_doc,
           score
    FROM best WHERE rn = 1 AND NOT dead
    """


def _u12_deliveries(spark, sf_dir):
    """The four planted LSM deliveries off the documents table: v1-v3
    split the corpus by doc_id % 3 (keep-best churn: ~every key sees
    rows from several deliveries), v3 also retires a key subset via
    max-order tombstones, v4 re-scores a v1 subset upward. Tombstoned
    keys exclude v4's keys (compact_lsm caller contract)."""
    d = io.load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = d.select(
        (did % 97).alias("k"), did.alias("best_doc"),
        F.col("n_chars").cast("long").alias("score"),
        F.lit(False).alias("is_delete"), (did % 3).alias("m"))
    v = {i: base.filter(F.col("m") == i).drop("m") for i in range(3)}
    v4keys = (d.filter((did % 3 == 0) & (did % 7 == 0))
              .select((did % 97).alias("k")).distinct())
    tomb = (d.filter((did % 3 == 2) & (did % 5 == 0))
            .select((did % 97).alias("k")).distinct()
            .join(v4keys, ["k"], "left_anti")
            .select("k", F.lit(-1).cast("long").alias("best_doc"),
                    F.lit(2000000000).cast("long").alias("score"),
                    F.lit(True).alias("is_delete")))
    d4 = (d.filter((did % 3 == 0) & (did % 7 == 0))
          .select((did % 97).alias("k"), did.alias("best_doc"),
                  (F.col("n_chars") + 1000).cast("long").alias("score"),
                  F.lit(False).alias("is_delete")))
    return {1: v[0], 2: v[1], 3: v[2].unionByName(tomb), 4: d4}


@query("u12_lsm_keep_best", oracle=U12_LSM_KEEP_BEST_ORACLE)
def u12_lsm_keep_best(spark, sf_dir):
    """U12 (engine ext.): the LSM segment store — O(delivery) appends
    for HIGH-CHURN keep-best maintenance (streaming.append_lsm_segment
    / read_lsm / compact_lsm). When every delivery's keys spray across
    the whole key space (keep-best-document-per-URL under continuous
    recrawl), the CoW snapshot rewrites O(store) and even the
    partitioned store rewrites ~every partition; the LSM form appends
    one immutable segment per delivery and pays the keep-best reduce
    at read, with compaction bounding the segment count.

    The gated sequence exercises the whole contract: deliveries 1 and
    3 land; a PARTIAL fold (keep_recent=1, contract-free — delivery 2
    is still outstanding and tombstones are retained) folds the oldest
    segment; then 2 arrives OUT of order BELOW the partial fold's max
    folded version (legal — only a FULL fold's tombstone-drop horizon
    gates appends); a full compaction folds everything into one base
    (tombstones dropped — all deliveries at or below the fold are in);
    a redelivery of 3 is skipped off the folded ledger; and delivery 4
    lands post-compaction (its order ties resolve against the base's
    preserved __seg stamps). The read must equal ONE global keep-best
    SQL over all four deliveries — BOTH compaction forms' invariance
    is the oracle, not just a unit pin.

    100 TB: each append writes delivery-sized parquet, nothing else;
    the read is segment-parallel scan + one hash exchange on the key
    (the same shuffle any keep-best pays); compaction is one merged
    pass scheduled by segment count."""
    import tempfile

    from clif_spark import streaming as STR

    dv = _u12_deliveries(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="clif_lsm_store_") + "/store"
    order = ["score", "best_doc"]
    STR.append_lsm_segment(dv[1], root, 1)
    STR.append_lsm_segment(dv[3], root, 3)
    # contract-free partial fold with delivery 2 still outstanding
    STR.compact_lsm(spark, root, ["k"], order, keep_recent=1)
    STR.append_lsm_segment(dv[2], root, 2)  # below max(folded): legal
    STR.compact_lsm(spark, root, ["k"], order)
    STR.append_lsm_segment(dv[3], root, 3)  # folded redelivery: skip
    STR.append_lsm_segment(dv[4], root, 4)
    return STR.read_lsm(spark, root, ["k"], order)


@query("u12b_lsm_point_lookup",
       oracle=U12_LSM_KEEP_BEST_ORACLE.rstrip() + " AND k = 42\n")
def u12b_lsm_point_lookup(spark, sf_dir):
    """U12b (engine ext.): POINT LOOKUP on the LSM store through the
    per-segment Bloom manifest (streaming.read_lsm(key_eq=) — r14):
    the u12 lifecycle re-run with ``bloom_key='k'`` on every append
    (compactions carry the bitmaps onto their fold artifacts), then
    one equality lookup of a planted key. The oracle is the SAME
    global keep-best SQL as u12 restricted to the key — bloom pruning
    may only ever drop segments that provably never stored it, so the
    lookup must be bit-identical to the full read filtered to
    equality, across partial fold, out-of-order append, full fold,
    folded redelivery and post-compaction delivery.

    In-row probe: a never-stored key must come back EMPTY through the
    definite-absence path (every segment bloom-pruned — zero false
    negatives is the Bloom contract, and an FP only costs a wasted
    scan leg, never a wrong row). The scan-set cut itself is
    plan-asserted in tests/test_plans.py (straddling segments prune
    to the single holder on a planted lookup).

    100 TB: this is the read that makes a signature/URL store usable
    as a LOOKUP SERVICE between compactions — O(segments-that-hold-
    the-key) legs instead of O(segments-whose-range-covers-it), which
    on spray workloads is the difference between one leg and all of
    them."""
    import tempfile

    from clif_spark import streaming as STR

    dv = _u12_deliveries(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="clif_lsm_pt_") + "/store"
    order = ["score", "best_doc"]
    STR.append_lsm_segment(dv[1], root, 1, bloom_key="k")
    STR.append_lsm_segment(dv[3], root, 3, bloom_key="k")
    STR.compact_lsm(spark, root, ["k"], order, keep_recent=1)
    STR.append_lsm_segment(dv[2], root, 2, bloom_key="k")
    STR.compact_lsm(spark, root, ["k"], order)
    STR.append_lsm_segment(dv[4], root, 4, bloom_key="k")
    # definite-absence probe: a key no delivery ever stored
    if STR.read_lsm(spark, root, ["k"], order, key_eq=-5).count() != 0:
        raise RuntimeError("bloom point lookup of a never-stored key "
                           "must return no rows")
    return STR.read_lsm(spark, root, ["k"], order, key_eq=42)


@query("u13_lsm_size_tiered", oracle=U12_LSM_KEEP_BEST_ORACLE)
def u13_lsm_size_tiered(spark, sf_dir):
    """U13 (engine ext.): SIZE-TIERED compaction scheduling on the LSM
    store (streaming.maintain_lsm) — the store-owned policy between
    rare full folds: whenever a tier accumulates ``fanout`` members
    its oldest ``fanout`` fold into one next-tier run, cascading.
    Tier folds are contract-free (tombstones retained, horizon
    unmoved, ``__seg`` stamps preserved), so reads must be invariant
    to WHEN the scheduler ran — which is exactly what gating this
    lifecycle against the SAME global keep-best oracle as
    u12_lsm_keep_best proves.

    The sequence: deliveries 1 and 3 land and maintain(fanout=2)
    folds them into a tier-1 run; delivery 2 arrives OUT of order
    below that run's max version (legal — no full fold has moved the
    horizon); delivery 4 lands and maintain cascades (2+4 -> second
    tier-1 run; two tier-1 runs -> one tier-2 run); a redelivery of 3
    — whose segment dir now lives inside a run — must skip off the
    folded ledger. The lifecycle fails LOUD if the cascade or the
    skip didn't happen (a scheduler that silently never folds would
    otherwise pass on read-invariance alone).

    100 TB: each delivery's rows are rewritten once per tier they
    pass through — O(log_fanout deliveries) write amplification —
    while live dirs stay under fanout per tier, so read legs are
    O(fanout * log_fanout deliveries) instead of O(deliveries)."""
    import tempfile

    from clif_spark import streaming as STR

    dv = _u12_deliveries(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="clif_lsm_tier_") + "/store"
    order = ["score", "best_doc"]
    STR.append_lsm_segment(dv[1], root, 1)
    STR.append_lsm_segment(dv[3], root, 3)
    if STR.maintain_lsm(spark, root, ["k"], order, fanout=2) != 1:
        raise RuntimeError("expected one tier fold after (1,3)")
    STR.append_lsm_segment(dv[2], root, 2)  # out of order: legal
    STR.append_lsm_segment(dv[4], root, 4)
    if STR.maintain_lsm(spark, root, ["k"], order, fanout=2) != 2:
        raise RuntimeError("expected cascade: tier-0 fold then tier-1")
    if STR.append_lsm_segment(dv[3], root, 3) is not None:
        raise RuntimeError("redelivery of a run-folded version must skip")
    return STR.read_lsm(spark, root, ["k"], order)


# Snapshot oracle: the SAME keep-best as u12 restricted to deliveries
# 1-3 (the ``WHERE seg <= 3`` world) — delivery 4's re-scores must be
# INVISIBLE even though its segment is on disk, the v3 tombstones must
# still suppress their keys, and the keys delivery 4 re-scored fall
# back to their best among 1-3.
U14_LSM_SNAPSHOT_ORACLE = """
    WITH v4keys AS (
      SELECT DISTINCT doc_id % 97 AS k FROM documents
      WHERE doc_id % 3 = 0 AND doc_id % 7 = 0),
    deliveries AS (
      SELECT doc_id % 97 AS k, doc_id AS best_doc,
             CAST(n_chars AS BIGINT) AS score,
             FALSE AS dead, (doc_id % 3) + 1 AS seg
      FROM documents
      UNION ALL
      SELECT DISTINCT doc_id % 97, CAST(-1 AS BIGINT),
             CAST(2000000000 AS BIGINT), TRUE, 3
      FROM documents
      WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
        AND doc_id % 97 NOT IN (SELECT k FROM v4keys)),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY k
        ORDER BY score DESC, best_doc DESC, seg DESC) AS rn
      FROM deliveries WHERE seg <= 3)
    SELECT CAST(k AS BIGINT) AS k, CAST(best_doc AS BIGINT) AS best_doc,
           score
    FROM best WHERE rn = 1 AND NOT dead
    """


@query("u14_lsm_snapshot_read", oracle=U14_LSM_SNAPSHOT_ORACLE)
def u14_lsm_snapshot_read(spark, sf_dir):
    """U14 (engine ext.): SNAPSHOT (time-travel) reads on the LSM
    store — ``read_lsm(as_of=N)`` returns the live rows exactly as
    they stood after delivery N, long after later deliveries landed.
    Segment immutability makes this free (history is appended, never
    rewritten): the read prunes seg- dirs above N and bounds every
    surviving row by ``__seg`` <= N before the keep-best — the
    Iceberg/Delta time-travel semantic on the store form that gets it
    without a table format. What expires snapshots is COMPACTION: a
    fold keeps only cross-segment winners, so states below the max
    folded version are unrecoverable and the read RAISES (pinned
    in-row below, and in the unit suite).

    The gated sequence: deliveries 1 and 3 land, a contract-free
    partial fold rewrites delivery 1 alone (intra-segment keep-best —
    snapshot-invariant, which the gate proves), delivery 2 arrives out
    of order, delivery 4 re-scores a key subset upward — then the
    read at ``as_of=3`` must equal the global keep-best over
    deliveries 1-3 ONLY: delivery 4's segment sits on disk and must
    not leak a row, the v3 tombstones still suppress their keys, and
    a read below the fold horizon fails loud.

    100 TB: a snapshot read costs exactly a normal read minus the
    pruned segments — no copy, no undo log; retention policy is the
    compaction schedule itself (fold less often where time-travel
    depth matters)."""
    import tempfile

    from clif_spark import streaming as STR

    dv = _u12_deliveries(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="clif_lsm_snap_") + "/store"
    order = ["score", "best_doc"]
    STR.append_lsm_segment(dv[1], root, 1)
    STR.append_lsm_segment(dv[3], root, 3)
    # partial fold of delivery 1 alone: moves the snapshot horizon to 1
    STR.compact_lsm(spark, root, ["k"], order, keep_recent=1)
    STR.append_lsm_segment(dv[2], root, 2)
    STR.append_lsm_segment(dv[4], root, 4)
    try:
        STR.read_lsm(spark, root, ["k"], order, as_of=0)
        raise RuntimeError(
            "a snapshot below the fold horizon must raise (expired)")
    except ValueError:
        pass
    return STR.read_lsm(spark, root, ["k"], order, as_of=3)


@query(
    "io_orc_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def io_orc_roundtrip(spark, sf_dir):
    """S10 (engine ext.): ORC write -> read inversion over the documents
    table — the second columnar lake format Spark carries natively
    (warehouses standardized on ORC coexist with parquet lakes; an
    engine claiming "switch to this repo" must read both). Exercises
    io.write_table's fmt dispatch plus the engine layout policy
    (sortWithinPartitions, no global exchange) and proves the full
    column set — strings, longs — survives the format boundary
    bit-for-bit against the oracle's direct parquet view.

    Scale note: ORC splits by stripe exactly as parquet splits by
    row group, so every scan-parallelism property asserted elsewhere
    (maxPartitionBytes sizing, predicate pushdown, column pruning)
    carries over; nothing else in the engine needs to know the
    format."""
    import tempfile

    d = io.load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="clif_orc_") + "/documents.orc"
    io.write_table(d, out, fmt="orc",
                   sort_within_partitions=["doc_id"])
    return (spark.read.orc(out)
            .select("doc_id", "text", "lang", "source", "n_chars"))


@query(
    "o5_global_sorted_index",
    oracle="""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1
                AS BIGINT) AS global_rank,
           CAST((row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1)
                // 100 AS BIGINT) AS shard
    FROM documents
    """,
)
def o5_global_sorted_index(spark, sf_dir):
    """O5 (engine ext.): dense global rank by a total order at scale —
    ``core.global_sorted_index`` (range exchange + materialized
    partitioning + offset collect + one narrow Arrow stamp) against
    the naive single-task window the oracle runs. The fixed-size shard
    cut (rank // 100) on top is the real-artifact shape: CDX files,
    TFRecord shards, and every "global sort, cut every N lines"
    manifest are exactly this. The (row -> rank) mapping is fully
    determined by the total order (n_chars desc, doc_id tiebreak), so
    the gate hashes it exactly — partitioning choices cannot leak into
    the answer, only into the speed."""
    from clif_spark.operators import core

    d = io.load_table(spark, sf_dir, "documents")
    idx = core.global_sorted_index(
        d.select("doc_id", F.col("n_chars").cast("long").alias("n_chars")),
        [F.col("n_chars").desc(), F.col("doc_id").asc()])
    return idx.select(
        "doc_id", "n_chars", "global_rank",
        F.floor(F.col("global_rank") / 100).cast("long").alias("shard"))


@query(
    "o6_bucketed_colocated_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY segment
    """,
)
def o6_bucketed_colocated_join(spark, sf_dir):
    """O6 (engine ext.): BUCKETED CO-LOCATED JOIN — the publish-side
    layout that makes the biggest fact-to-entity join at 100 TB
    exchange-free (io.write_bucketed_table): orders and customer are
    written bucketed by the join key into the same bucket count, so
    the join consumes both scans' existing hash distribution — no
    Exchange on EITHER side, the one shuffle class you cannot
    broadcast away when neither side is dim-sized. The row PROBES the
    plan in-flight (fail loud if an Exchange appears below the join,
    or if the planner fell off the SortMergeJoin path — broadcast is
    disabled for the probe exactly because at the target scale neither
    side broadcasts), then gates the joined aggregate against the
    plain-SQL join: the layout is a pure physical choice, so the
    values must be bit-identical to the unbucketed plan's.

    Bucketing metadata lives in the metastore, so this is the one row
    that writes THROUGH saveAsTable rather than a path — the interop
    surface a warehouse deployment actually uses. Table names are
    FIXED with mode=overwrite (each run replaces the previous run's
    files instead of leaking uuid-suffixed copies into the warehouse
    forever — the r14 review catch), under the same single-writer
    contract every store in the engine carries: two sessions running
    this row concurrently against one warehouse dir would race the
    overwrite. The session conf is restored before returning."""
    import os
    import shutil
    from urllib.parse import urlparse

    o = io.load_table(spark, sf_dir, "orders")
    c = io.load_table(spark, sf_dir, "customer")
    t_o, t_c = "o6_orders", "o6_customer"
    # reclaim ORPHANED locations: the in-memory catalog forgets tables
    # across sessions while their warehouse dirs persist, and
    # saveAsTable(overwrite) refuses a location the catalog doesn't
    # own (LOCATION_ALREADY_EXISTS) — under the row's single-writer
    # contract a catalog-unknown leftover dir is always a previous
    # session's garbage
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path \
        or spark.conf.get("spark.sql.warehouse.dir")
    for t in (t_o, t_c):
        loc = os.path.join(wh, t)
        if not spark.catalog.tableExists(t) and os.path.exists(loc):
            shutil.rmtree(loc)
    io.write_bucketed_table(
        o.select("o_orderkey", "o_custkey", "o_totalprice"),
        t_o, "o_custkey", buckets=8)
    io.write_bucketed_table(
        c.select("c_custkey", "c_mktsegment"),
        t_c, "c_custkey", buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(t_o).join(
            spark.table(t_c),
            F.col("o_custkey") == F.col("c_custkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        if "Exchange" in plan:
            raise RuntimeError(
                "bucketed co-located join planned an Exchange — the "
                "layout's entire point is that it must not:\n" + plan)
        if "SortMergeJoin" not in plan:
            raise RuntimeError(
                "bucketed join probe expected the SortMergeJoin path:\n"
                + plan)
        return spark.sql(f"""
            SELECT c.c_mktsegment AS segment,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   {sql_dsum('o.o_totalprice')} AS revenue
            FROM {t_o} o JOIN {t_c} c ON o.o_custkey = c.c_custkey
            GROUP BY segment
        """)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
