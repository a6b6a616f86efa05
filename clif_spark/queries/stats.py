"""Distributed-statistics queries (engine extensions of SURVEY §2.4 A5 —
the reference's analyses stop at `summary(df)`, `code/RCLIF_vitals.Rmd:233`;
these add the grouped second-moment and exact-percentile statistics a
training-data curation pipeline reports at scale).

Both are built for cross-engine bit-identity: integer accumulation first,
one BIGINT→DOUBLE conversion, then the same IEEE expression tree in Spark
and DuckDB (see operators/profile.py docstrings for the bounds).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clif_spark import io
from clif_spark.operators import layout, profile
from clif_spark.queries import pq, query, sql_dsum


@query(
    "a10_moment_corr",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS flag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR(l_quantity * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 0.1 + 0.5) AS BIGINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(FLOOR(l_quantity * 1.0 + 0.5) AS BIGINT)
                    * CAST(FLOOR(l_quantity * 1.0 + 0.5) AS BIGINT)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 0.1 + 0.5) AS BIGINT)
                    * CAST(FLOOR(l_extendedprice * 0.1 + 0.5) AS BIGINT)) AS DOUBLE) AS syy,
             CAST(SUM(CAST(FLOOR(l_quantity * 1.0 + 0.5) AS BIGINT)
                    * CAST(FLOOR(l_extendedprice * 0.1 + 0.5) AS BIGINT)) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag)
    SELECT flag,
           CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr,
           (n * sxy - sx * sy) / (n * (n - 1.0)) / 0.1 AS covar_samp,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) * 10.0 AS beta,
           SQRT((n * sxx - sx * sx) / (n * (n - 1.0))) / 1.0 AS sd_x,
           SQRT((n * syy - sy * sy) / (n * (n - 1.0))) / 0.1 AS sd_y
    FROM m
    ORDER BY flag
    """,
)
def a10_moment_corr(spark, sf_dir):
    """Grouped Pearson correlation / sample covariance / OLS slope of
    (quantity, extendedprice) per returnflag — exact integer moments, one
    hash-aggregate pass, bit-identical double finish (operator docstring
    for the quantization contract and 2^53 bounds). Price is quantized to
    tens of dollars (y_scale=0.1) so per-group Σy² stays exact at SF ≥ 1."""
    li = io.load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_returnflag").alias("flag"),
        "l_quantity", "l_extendedprice")
    out = profile.moment_corr(
        src, ["flag"], "l_quantity", "l_extendedprice",
        x_scale=1.0, y_scale=0.1)
    return out.orderBy("flag")


@query(
    "a11_exact_percentiles",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag AS flag, l_extendedprice AS v,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem)
    SELECT flag,
           MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN v END) AS p50,
           MAX(CASE WHEN rn = CAST(CEIL(0.90 * n) AS BIGINT) THEN v END) AS p90,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN v END) AS p99
    FROM ranked
    GROUP BY flag
    ORDER BY flag
    """,
)
def a11_exact_percentiles(spark, sf_dir):
    """Exact nearest-rank p50/p90/p99 of extendedprice per returnflag —
    value at ceil(p·n) of the sorted group: an actual data value, no
    interpolation, so no float arithmetic can diverge between engines.
    One shuffle + per-group sort (operator docstring for the 100 TB
    two-pass alternative)."""
    li = io.load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("v"),
        "l_orderkey", "l_linenumber")
    out = profile.exact_percentiles(
        src, ["flag"], "v", (0.50, 0.90, 0.99),
        tiebreakers=("l_orderkey", "l_linenumber"))
    return out.orderBy("flag")


# --- sketch aggregates with verifiable contracts (round 3) ------------------
#
# Approximate aggregates are THE scalable form of distinct-count and
# percentile at 100 TB (bounded-memory mergeable sketches vs an exact
# shuffle of every distinct value), but an estimate cannot hash-match a
# DuckDB oracle. The contract tested instead: the exact value (mirrorable in
# both engines) plus a BOOLEAN asserting the sketch landed within its error
# bound. Spark's HLL++/DataSketches/GK implementations are deterministic
# functions of the data (hash-based, merge-commutative), so the boolean is
# stable run to run — if an engine upgrade ever pushed an estimate out of
# bound, the gate would fail loudly rather than silently degrade.


@query(
    "a12_approx_distinct_bound",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(DISTINCT o_custkey) AS n_exact,
           TRUE AS hll_within_5pct
    FROM orders
    GROUP BY priority
    """,
)
def a12_approx_distinct_bound(spark, sf_dir):
    """Per-group approx_count_distinct (HLL++, rsd 2%) checked against the
    exact distinct count: emits the exact count and the in-bound verdict.
    At scale the exact form shuffles every distinct (priority, custkey)
    pair; the sketch form shuffles one ~1.5 KB buffer per group per
    partition — the operator this query exists to license."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    exact = F.countDistinct("o_custkey")
    est = F.approx_count_distinct("o_custkey", 0.02)
    return (o.groupBy(F.col("o_orderpriority").alias("priority"))
             .agg(exact.alias("n_exact"),
                  (F.abs(est - exact)
                   <= F.ceil(F.lit(0.05) * exact)).alias("hll_within_5pct")))


@query(
    "a13_sketch_merge_distinct",
    oracle="""
    SELECT COUNT(DISTINCT l_partkey) AS n_exact,
           TRUE AS merged_within_5pct
    FROM lineitem
    """,
)
def a13_sketch_merge_distinct(spark, sf_dir):
    """Sketch MERGEABILITY, the property that makes approximate distinct
    count scale: per-returnflag DataSketches HLL sketches built
    independently (hll_sketch_agg), merged with hll_union_agg, and the
    merged estimate checked against the global exact distinct. This is the
    map-side-combine story in miniature — partial sketches commute and
    merge losslessly, so a 1000-executor rollup ships KB not keys."""
    li = pq(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        WITH sk AS (
          SELECT l_returnflag, hll_sketch_agg(l_partkey) AS s
          FROM {li} GROUP BY l_returnflag
        ),
        ex AS (SELECT COUNT(DISTINCT l_partkey) AS n_exact FROM {li}),
        est AS (SELECT hll_sketch_estimate(hll_union_agg(s)) AS e FROM sk)
        SELECT ex.n_exact,
               (abs(est.e - ex.n_exact)
                <= CAST(ceil(0.05 * ex.n_exact) AS BIGINT)) AS merged_within_5pct
        FROM ex CROSS JOIN est
    """)


@query(
    "a14_approx_percentile_bound",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                AS DOUBLE) AS p50_exact,
           TRUE AS approx_within_1pct
    FROM lineitem
    GROUP BY flag
    """,
)
def a14_approx_percentile_bound(spark, sf_dir):
    """Per-group approx_percentile (GK sketch, accuracy 10000) checked
    against the exact discrete median (percentile_disc — an actual data
    value, bit-identical across engines). The GK summary is the
    bounded-memory percentile for 100 TB; its observed error here is
    ~0.01%, two orders under the asserted 1% gate."""
    li = pq(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        SELECT l_returnflag AS flag,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                    AS DOUBLE) AS p50_exact,
               (abs(approx_percentile(l_extendedprice, 0.5, 10000)
                    - percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice))
                / percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)
                <= 0.01D) AS approx_within_1pct
        FROM {li}
        GROUP BY flag
    """)


@query(
    "a17_iqr_outliers",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value AS v,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL),
    pct AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN v END)
               AS p25,
             MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN v END)
               AS p75
      FROM ranked GROUP BY event_type)
    SELECT e.event_type, p.p25, p.p75,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN e.value < p.p25 - 1.5 * (p.p75 - p.p25)
                           OR e.value > p.p75 + 1.5 * (p.p75 - p.p25)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN pct p USING (event_type)
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type, p.p25, p.p75
    """,
)
def a17_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier profiling per group — the sanity check behind
    the reference's eyeballed range inspections, as a relation: exact
    nearest-rank quartiles (actual data values, so no interpolation can
    diverge between engines), 1.5×IQR fences in plain IEEE arithmetic,
    and a second pass counting violations. The quartile relation is
    dimension-sized (one row per event_type) and broadcasts back over the
    scan; both passes are single exchanges."""
    ev = io.load_table(spark, sf_dir, "events")
    src = (ev.filter(F.col("value").isNotNull())
             .select("event_type", F.col("value").alias("v"), "event_id"))
    pct = profile.exact_percentiles(
        src, ["event_type"], "v", (0.25, 0.75), tiebreakers=("event_id",))
    iqr = F.col("p75") - F.col("p25")
    lo = F.col("p25") - 1.5 * iqr
    hi = F.col("p75") + 1.5 * iqr
    return (src.join(F.broadcast(pct), "event_type")
               .groupBy("event_type", "p25", "p75")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(((F.col("v") < lo) | (F.col("v") > hi))
                          .cast("long")).alias("n_outliers")))


@query(
    "a20_winsorize_clamp",
    oracle="""
    WITH ranked AS (
      SELECT event_id, user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL),
    bounds AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
                      THEN value END) AS p05,
             MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                      THEN value END) AS p95
      FROM ranked GROUP BY event_type)
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           LEAST(GREATEST(e.value, b.p05), b.p95) AS value_winsor
    FROM events e JOIN bounds b USING (event_type)
    WHERE e.value IS NOT NULL
    """,
)
def a20_winsorize_clamp(spark, sf_dir):
    """Per-group winsorization at the exact nearest-rank [p05, p95] band
    (operators/profile.py:winsorize) — the outlier clipping a
    normalization pipeline runs before min-max/z scaling (f15's robust
    sibling). Bounds are actual data values, so the clamp is
    bit-identical across engines; the bounds relation is one row per
    group and broadcast, the clamp a narrow least/greatest."""
    ev = (io.load_table(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select("event_id", "user_id", "event_type", "value"))
    out = profile.winsorize(ev, ["event_type"], "value",
                            tiebreakers=["event_id"])
    return out.select("event_id", "user_id", "event_type", "value",
                      F.col("value_winsor"))


def _cms_bucket_sql(key: str, width: int) -> str:
    """DuckDB 16-bit md5 slice % width for CMS row r (column ``r`` in
    scope) — the sampling.sql_u01 nibble trick, mod instead of divide."""
    h = f"md5('cms' || CAST(r AS VARCHAR) || ':' || CAST({key} AS VARCHAR))"
    nibble = (lambda i, w:
              f"(strpos('0123456789abcdef', substr({h}, {i}, 1)) - 1) * {w}")
    v = " + ".join(nibble(i + 1, 16 ** (3 - i)) for i in range(4))
    return f"(({v}) % {width})"


_CMS_DEPTH, _CMS_WIDTH = 4, 64


def _cms_bucket_spark(key: str, width: int):
    h = F.md5(F.concat(F.lit("cms"), F.col("r").cast("string"),
                       F.lit(":"), F.col(key).cast("string")))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
            % F.lit(width)).alias("bucket")


def _cms_rows():
    return F.explode(F.sequence(F.lit(0), F.lit(_CMS_DEPTH - 1))).alias("r")


def _cms_sketch(ev):
    """(r, bucket, c) Count-Min counters for the events user_id stream —
    the ONE sketch-build definition the batch and streaming variants
    share (drift between them would silently void the settled-equals-
    batch premise)."""
    return (ev.select(_cms_rows(), "user_id")
              .select("r", _cms_bucket_spark("user_id", _CMS_WIDTH))
              .groupBy("r", "bucket").agg(F.count("*").alias("c")))


def _cms_probe_report(ev, sketch):
    """Probe keys user_id < 10 against a (r, bucket, c) CMS relation and
    emit the exact/estimate/overcount/bound columns both CMS queries
    share (the sketch may come from a batch aggregate or a settled
    stream — the report is the same)."""
    probes = (ev.filter(F.col("user_id") < 10).select("user_id").distinct()
                .select(_cms_rows(), "user_id")
                .select("user_id", "r",
                        _cms_bucket_spark("user_id", _CMS_WIDTH)))
    est = (probes.join(F.broadcast(sketch), ["r", "bucket"], "left")
                 .groupBy("user_id")
                 .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("n_est")))
    exact = (ev.filter(F.col("user_id") < 10).groupBy("user_id")
               .agg(F.count("*").alias("n_exact")))
    tot = ev.agg(F.count("*").alias("n"))
    return (est.join(exact, "user_id").crossJoin(F.broadcast(tot))
            .select(F.col("user_id").alias("key"), "n_exact", "n_est",
                    (F.col("n_est") - F.col("n_exact")).alias("overcount"),
                    ((F.col("n_est") >= F.col("n_exact"))
                     & (F.col("n_est") <= F.col("n_exact")
                        + F.ceil(F.lit(2.72) * F.col("n")
                                 / F.lit(_CMS_WIDTH)).cast("long")))
                    .alias("within_bound")))


_CMS_ORACLE = f"""
    WITH rows_ AS (SELECT unnest(range({_CMS_DEPTH})) AS r),
    s AS (SELECT r, {_cms_bucket_sql('user_id', _CMS_WIDTH)} AS bucket,
                 count(*) AS c
          FROM events CROSS JOIN rows_
          GROUP BY 1, 2),
    probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
    pb AS (SELECT user_id, r, {_cms_bucket_sql('user_id', _CMS_WIDTH)} AS bucket
           FROM probes CROSS JOIN rows_),
    est AS (SELECT user_id, MIN(COALESCE(s.c, 0)) AS n_est
            FROM pb LEFT JOIN s USING (r, bucket)
            GROUP BY user_id),
    exact AS (SELECT user_id, count(*) AS n_exact FROM events
              WHERE user_id < 10 GROUP BY user_id),
    tot AS (SELECT count(*) AS n FROM events)
    SELECT e.user_id AS key, x.n_exact, e.n_est,
           e.n_est - x.n_exact AS overcount,
           (e.n_est >= x.n_exact AND
            e.n_est <= x.n_exact
                + CAST(CEIL(2.72 * t.n / {_CMS_WIDTH}) AS BIGINT))
               AS within_bound
    FROM est e JOIN exact x USING (user_id), tot t
    """


@query("a21_countmin_heavy", oracle=_CMS_ORACLE)
def a21_countmin_heavy(spark, sf_dir):
    """Count-Min sketch with a verifiable contract (the frequency sibling
    of the a12-a14 distinct/percentile sketches): depth 4 x width 64
    md5-bucketed counters built as ONE keyed aggregate whose map-side
    combine IS the sketch merge (d x w = 256 bounded rows per partition
    shuffle at ANY corpus size), probed for ten keys by broadcast join +
    MIN over rows. Emits exact count, estimate, the overcount (the CMS
    one-sided error, >= 0 by construction), and the e/w bound verdict —
    the whole sketch is recomputed identically by the oracle, so the
    gate checks the SKETCH, not just a TRUE literal."""
    ev = io.load_table(spark, sf_dir, "events")
    return _cms_probe_report(ev, _cms_sketch(ev))


@query(
    "o4_zorder_key",
    oracle=f"""
    WITH b AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax
               FROM events WHERE value IS NOT NULL),
    q AS (SELECT event_id,
                 CAST(user_id % 65536 AS INT) AS ua,
                 {layout.sql_quantize16('value', 'b.vmin', 'b.vmax')} AS vq
          FROM events, b WHERE value IS NOT NULL)
    SELECT event_id, ua, vq,
           {layout.sql_morton_key('ua', 'vq')} AS zkey
    FROM q
    """,
)
def o4_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over (user_id, quantized value) —
    the Delta/Iceberg OPTIMIZE ZORDER layout trick as a pure column
    expression (operators/layout.py): bit-interleave two 16-bit dims so
    a sort by the key gives row-group min/max locality in BOTH, and a
    range predicate on either column prunes most groups. All integer
    bit arithmetic + one broadcast-bounds rescale, so the key
    hash-matches across engines; the locality payoff itself is pinned by
    a pyarrow row-group-statistics test."""
    ev = (io.load_table(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull()))
    b = ev.agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    q = (ev.crossJoin(F.broadcast(b))
           .select("event_id",
                   (F.col("user_id") % 65536).cast("int").alias("ua"),
                   layout.quantize16(F.col("value"), F.col("vmin"),
                                     F.col("vmax")).alias("vq")))
    return q.select("event_id", "ua", "vq",
                    layout.morton_key(F.col("ua"),
                                      F.col("vq")).alias("zkey"))


def _hex12_sql(expr: str) -> str:
    """DuckDB mirror of Spark's conv(substr(h, 1, 12), 16, 10): integer
    value of the first 12 hex chars (48 bits — fits BIGINT), built from
    strpos nibbles (the repo's standard engine-portable hex trick)."""
    terms = []
    for i in range(12):
        w = 1 << (4 * (11 - i))
        terms.append(f"(strpos('0123456789abcdef',"
                     f" substr({expr}, {i + 1}, 1)) - 1) * {w}::BIGINT")
    return "(" + " + ".join(terms) + ")"


@query(
    "a22_kmv_set_sketch",
    oracle=f"""
    -- KMV distinct sketch with set operations, recomputed IDENTICALLY:
    -- the sketch is deterministic (k smallest md5 digests), so the
    -- oracle mirrors the estimator itself, not just an error bound —
    -- stronger than the a12-a14 contracts. k = 64, key = floor(value
    -- * 100), groups 'click' vs 'view'.
    WITH t AS (
      SELECT DISTINCT event_type AS g,
             CAST(CAST(FLOOR(value * 100) AS BIGINT) AS VARCHAR) AS key
      FROM events WHERE event_type IN ('click', 'view')
    ),
    h AS (SELECT g, md5('kmv:' || key) AS h FROM t),
    sk AS (
      SELECT g, h FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
        FROM h) WHERE rn <= 64
    ),
    usk AS (
      SELECT h FROM (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM sk)) WHERE rn <= 64
    ),
    perg AS (SELECT g, MAX(h) AS kth, COUNT(*) AS n FROM sk GROUP BY g),
    ex AS (SELECT g, COUNT(*) AS exact FROM t GROUP BY g),
    est_g AS (
      SELECT g,
             CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                  ELSE ROUND(63.0 / ({_hex12_sql('kth')}
                             / 281474976710656.0), 4) END AS est
      FROM perg
    ),
    uagg AS (SELECT MAX(h) AS kth, COUNT(*) AS n FROM usk),
    est_u AS (
      SELECT CASE WHEN n < 64 THEN CAST(n AS DOUBLE)
                  ELSE ROUND(63.0 / ({_hex12_sql('kth')}
                             / 281474976710656.0), 4) END AS est_union
      FROM uagg
    ),
    ninter AS (
      SELECT COUNT(*) AS n_inter FROM usk
      WHERE h IN (SELECT h FROM sk WHERE g = 'click')
        AND h IN (SELECT h FROM sk WHERE g = 'view')
    ),
    exu AS (SELECT COUNT(DISTINCT key) AS exact_union FROM t),
    exi AS (
      SELECT COUNT(*) AS exact_inter FROM (
        SELECT key FROM t GROUP BY key HAVING COUNT(*) = 2)
    )
    SELECT 'click' AS type_a, 'view' AS type_b,
           (SELECT exact FROM ex WHERE g = 'click') AS exact_a,
           (SELECT est FROM est_g WHERE g = 'click') AS est_a,
           (SELECT exact FROM ex WHERE g = 'view') AS exact_b,
           (SELECT est FROM est_g WHERE g = 'view') AS est_b,
           exu.exact_union, est_u.est_union, exi.exact_inter,
           -- Jaccard scale by the ACTUAL union-sketch size, not k:
           -- exact in the small regime where the sketch IS the union
           ROUND(ninter.n_inter / CAST(uagg.n AS DOUBLE)
                 * est_u.est_union, 4) AS est_inter
    FROM exu, est_u, exi, ninter, uagg
    """,
)
def a22_kmv_set_sketch(spark, sf_dir):
    """KMV sketch set algebra over events: distinct floor(value*100)
    keys per event type, k = 64 minimum md5 digests per group, union
    sketch by re-ranking the merged members, intersection by
    Jaccard-scaling the union estimate — the multiset synopsis HLL
    cannot provide (operators/profile.py:kmv_set_sketch). Deterministic
    order statistics make the ESTIMATES themselves oracle-checkable,
    exact counts ride along for honesty. One sketch-sized exchange per
    group; nothing data-sized crosses the final join."""
    ev = io.load_table(spark, sf_dir, "events")
    return profile.kmv_set_sketch(
        ev, F.floor(F.col("value") * 100).cast("long"),
        "event_type", ("click", "view"), k=64)


@query(
    "a24_chisq_association",
    oracle="""
    -- Chi-square association between event_type and the value decile
    -- bucket, mirrored cell for cell: integer observed counts, expected
    -- in DOUBLE with one fixed expression order, per-cell contributions
    -- folded in integer NANOS (the dsum discipline on a statistic) so
    -- neither engine's summation order can flip a bit. d*d, not
    -- POWER(d, 2) — pow may route through exp/log and drift a ULP.
    WITH cells AS (
      SELECT event_type AS ka, CAST(FLOOR(value / 50) AS BIGINT) AS kb,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    ra AS (SELECT ka, SUM(o) AS ra FROM cells GROUP BY ka),
    cb AS (SELECT kb, SUM(o) AS cb FROM cells GROUP BY kb),
    tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT ka) AS nr,
                   COUNT(DISTINCT kb) AS nc FROM cells),
    j AS (
      SELECT o, ra.ra, cb.cb, tot.n, tot.nr, tot.nc,
             (o - ra.ra * cb.cb / tot.n) AS dev
      FROM cells JOIN ra USING (ka) JOIN cb USING (kb), tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST((MAX(nr) - 1) * (MAX(nc) - 1) AS BIGINT) AS df_degrees,
           SUM(CAST(FLOOR(dev * dev / (ra * cb / n) * 1000000000.0 + 0.5)
                    AS BIGINT)) / 1000000000.0 AS chi2
    FROM j
    """,
)
def a24_chisq_association(spark, sf_dir):
    """Association profiling (operators/profile.py:chisq_association):
    is event_type informative about the value decile? One contingency
    groupBy over the data, broadcast margins joined back to the
    cells-sized table, chi2 folded order-independently in integer nanos.
    The profiling complement to a10's moments/correlation for
    categorical×categorical structure."""
    ev = io.load_table(spark, sf_dir, "events")
    return profile.chisq_association(
        ev, "event_type", F.floor(F.col("value") / 50).cast("long"))


@query(
    "a25_equi_depth_histogram",
    oracle="""
    -- Equal-DEPTH histogram: ntile(8) quantile buckets of value per
    -- event_type with (value, event_id) total order — both engines'
    -- standard ntile fills early buckets first, so identical ordering
    -- means identical membership, and lo/hi are actual data values
    -- (nearest-rank discipline: no float interpolation anywhere).
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           MIN(value) AS lo, MAX(value) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (
      SELECT event_type, value,
             ntile(8) OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS bucket
      FROM events)
    GROUP BY 1, 2
    """,
)
def a25_equi_depth_histogram(spark, sf_dir):
    """Equal-depth (quantile) histogram of value per event_type
    (operators/profile.py:equi_depth_histogram) — the selectivity-
    estimation shape for skewed columns, complementing a16's equal-width
    bins: every bucket holds ~n/8 rows and the boundaries are actual
    data values. Same one-shuffle cost envelope as exact_percentiles."""
    ev = io.load_table(spark, sf_dir, "events")
    out = profile.equi_depth_histogram(
        ev, "value", n_buckets=8, keys=("event_type",),
        tiebreakers=("event_id",))
    return out.select("event_type", F.col("bucket").cast("long"),
                      "lo", "hi", F.col("n_rows").cast("long"))


@query(
    "a26_checked_sum_guard",
    oracle=f"""
    -- dsum(checked=True) exercised through the full driver path at
    -- HIGH magnitude: the planted x100 scaling pushes per-group
    -- integer-micros totals past double's 2^53 exact range (the final
    -- divide/floor stays bit-identical because both engines run the
    -- same IEEE ops on the same integer) while clearing the BIGINT
    -- bound through sf0.1 (at sf1 this domain would trip the guard —
    -- loudly, which is the guard's contract, not a wrong answer). DuckDB's HUGEINT
    -- promotion makes the oracle's total exact; guard_fired mirrors
    -- the in-query probe that drives a WRAPPING domain through the
    -- checked path and must catch the loud assert_true failure.
    SELECT l_returnflag, COUNT(*) AS n_rows,
           {sql_dsum('l_extendedprice * 100', 2)} AS checked_sum,
           TRUE AS guard_fired
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a26_checked_sum_guard(spark, sf_dir):
    """The checked fixed-point sum as a gated row (VERDICT r8 item 7):
    the result columns run ``dsum(checked=True)`` — DECIMAL(38,0)
    micros accumulation + assert_true bound guard — over a planted
    high-magnitude domain (l_extendedprice x100: per-group totals
    ~1e11 at sf0.1, within two orders of the ~9.2e12 bound and past
    double's exact-integer range in micros; x1000 trips the guard at
    sf0.1 — verified while sizing this plant) and must equal the oracle's
    HUGEINT-exact arithmetic bit for bit; ``guard_fired`` proves the
    guard actually fires under the driver's session confs, not just in
    a unit test: an eager probe sums two 5e12 values (Σ = 1e13, past
    the bound the unchecked path would wrap silently) through the
    checked path and records that the job failed LOUDLY. A build where
    the guard rots (conf change, expression reorder, assert elision)
    flips the flag; a build where checked arithmetic drifts flips the
    sums."""
    from clif_spark.queries import dsum as _dsum

    # eager wrap-domain probe: MUST raise through the checked path —
    # and specifically THE GUARD's assert_true (SparkRuntimeException
    # carrying dsum's own message). Any other failure (conf, OOM, an
    # unrelated analysis error) re-raises: a rotted guard must not gate
    # green by failing for the wrong reason.
    from pyspark.errors import SparkRuntimeException

    probe = spark.range(2).select(F.lit(5.0e12).alias("v"))
    try:
        probe.agg(_dsum("v", 2, checked=True).alias("s")).collect()
        guard_fired = False  # silent success == the guard has rotted
    except SparkRuntimeException as exc:
        if "dsum(checked=True)" not in str(exc):
            raise
        guard_fired = True
    li = io.load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 _dsum(F.col("l_extendedprice") * 100, 2,
                       checked=True).alias("checked_sum"))
            .select("l_returnflag", "n_rows", "checked_sum",
                    F.lit(guard_fired).alias("guard_fired")))
