"""Property tests (SURVEY §5 item 4): algebraic invariants of the window and
reshape operators on hypothesis-generated micro-tables. Few examples per
property (each example runs Spark jobs), but each is adversarial: duplicate
timestamps, all-null columns, single-row partitions.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from clif_spark.operators import reshape, windows

PROP = settings(max_examples=8, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

# (entity, seq, maybe-null value) event rows; seq doubles as a unique
# in-partition tiebreaker.
events_strategy = st.lists(
    st.tuples(st.sampled_from(["e1", "e2", "e3"]),
              st.integers(min_value=0, max_value=20),
              st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))),
    min_size=1, max_size=25,
).map(lambda rows: [(e, i, s, v) for i, (e, s, v) in enumerate(rows)])

COLS = ["entity", "uid", "seq", "val"]
SCHEMA = "entity string, uid long, seq long, val string"


@PROP
@given(events_strategy)
def test_fill_downup_idempotent_and_null_complete(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    once = windows.fill_downup(df, ["entity"], ["seq", "uid"], ["val"])
    twice = windows.fill_downup(once, ["entity"], ["seq", "uid"], ["val"])
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice  # idempotent
    # a row stays NULL iff its whole partition is NULL
    all_null = {e for e, grp in _group(rows).items()
                if all(v is None for (_, _, _, v) in grp)}
    for ent, _uid, _seq, val in got_once:
        assert (val is None) == (ent in all_null)


@PROP
@given(events_strategy)
def test_dedup_keep_last_subset_and_max(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    out = windows.dedup_keep_last(df, ["entity"], ["seq", "uid"])
    got = sorted(map(tuple, out.collect()))
    src = {tuple(r) for r in rows}
    assert set(got) <= src  # output rows come from the input
    by_ent = _group(rows)
    assert len(got) == len(by_ent)  # exactly one per key
    for ent, _uid, seq, _val in got:
        assert (seq, _uid) == max((s, u) for (_, u, s, _) in by_ent[ent])


@PROP
@given(events_strategy)
def test_lead_episodes_chain(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    out = windows.lead_episodes(df, ["entity"], "seq", tiebreak=["uid"])
    by_ent = _group(sorted(map(tuple, out.collect()),
                           key=lambda r: (r[0], r[2], r[1])), key=0)
    for grp in by_ent.values():
        # stop of row i == start (seq) of row i+1; final stop is NULL
        for cur, nxt in zip(grp, grp[1:]):
            assert cur[-1] == nxt[-2]  # stop_time == next start_time
        assert grp[-1][-1] is None


@PROP
@given(events_strategy)
def test_pivot_unpivot_roundtrip(spark, rows):
    # unique (entity, name) cells with non-null values: pivot then unpivot
    # must reproduce the cell set exactly
    cells = {}
    for ent, uid, seq, val in rows:
        if val is not None:
            cells[(ent, f"n{seq % 3}")] = val
    if not cells:
        return
    df = spark.createDataFrame(
        [(e, n, v) for (e, n), v in cells.items()], ["entity", "name", "val"])
    names = ["n0", "n1", "n2"]
    wide = reshape.pivot_wide(df, ["entity"], "name", "val", names)
    back = (reshape.unpivot(wide, ["entity"], names, "name", "val")
            .filter(F.col("val").isNotNull()))
    assert {((r[0], r[1]), r[2]) for r in back.collect()} == set(cells.items())


@PROP
@given(events_strategy, st.integers(min_value=1, max_value=5))
def test_sessionize_gap_invariant(spark, rows, gap):
    df = spark.createDataFrame(
        [(e, u, s * 60) for e, u, s, _ in rows], "entity string, uid long, secs long")
    df = df.withColumn("ts", F.timestamp_seconds("secs"))
    out = windows.sessionize(df, ["entity"], "ts", gap_minutes=gap,
                             tiebreak=["uid"])
    per_ent = _group(sorted((r["entity"], r["uid"], r["secs"], r["session_id"])
                            for r in out.collect()), key=0)
    for grp in per_ent.values():
        ordered = sorted(grp, key=lambda r: (r[2], r[1]))
        for cur, nxt in zip(ordered, ordered[1:]):
            within = (nxt[2] - cur[2]) <= gap * 60
            assert (nxt[3] == cur[3]) == within  # same session iff gap ok


def _group(rows, key=0):
    out = {}
    for r in rows:
        out.setdefault(r[key], []).append(tuple(r))
    return out


def test_ivf_full_probe_equals_brute_force(spark):
    """IVF with nprobe = n_cells degrades to exact search: every cell is
    probed, so the result must equal brute-force cosine top-k row for row.
    Pins the IVF plumbing (assignment, probing, re-rank) to the exact
    baseline it approximates."""
    from pyspark.sql import functions as F

    from clif_spark import io, similarity

    sf_dir = "/root/testdata/sf0.001"
    e = io.load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    brute = similarity.cosine_topk(e, queries, k=5)
    ivf = similarity.ivf_topk(e, queries, k=5, nprobe=8, n_cells=8)
    assert sorted(map(tuple, brute.collect())) == sorted(map(tuple, ivf.collect()))


def test_rolling_fingerprint_prefix_extension(spark):
    """Appending a token changes the fingerprint exactly as one more fold
    step — the incremental-computability contract."""
    from pyspark.sql import functions as F

    from clif_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        [("alpha beta gamma", "alpha beta gamma delta")], ["t1", "t2"])
    row = df.select(
        rolling_fingerprint(F.col("t1")).alias("fp1"),
        rolling_fingerprint(F.col("t2")).alias("fp2"),
        F.conv(F.substring(F.md5(F.lit("delta")), 1, 8), 16, 10)
         .cast("long").alias("h_delta")).collect()[0]
    assert row.fp2 == (row.fp1 * 1000003 + row.h_delta) % 2147483647


def test_minhash_sql_headline_equals_operator_forms(spark):
    """The one-shot-SQL headline (queries.llm.dedup_minhash_lsh) and the
    carry-verify operator are two formulations of one algorithm — results
    must be identical."""
    from pyspark.sql import functions as F

    from clif_spark import dedup, io
    from clif_spark.queries import collect_registry

    sf = "/root/testdata/sf0.001"
    sql_rows = sorted(map(tuple,
        collect_registry()["dedup_minhash_lsh"].fn(spark, sf).collect()))

    d = io.load_table(spark, sf, "documents")
    planted = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" extra trailing token")).alias("text"))
    docs2 = d.select("doc_id", "text").unionByName(planted)
    carry = sorted(map(tuple, dedup.minhash_near_dups(
        docs2, threshold=0.5).collect()))
    assert sql_rows == carry
    assert len(carry) > 0  # planted near-dups must surface


def test_dsum_matches_exact_at_largest_sf(spark):
    """dsum's BIGINT-micros accumulator is in-domain at the largest shipped
    SF: every TPC-H Q1-style per-group sum equals the decimal-exact form
    (overflow would wrap silently — this is the canary)."""
    from pyspark.sql import functions as F

    from clif_spark.queries import dsum, dsum_exact

    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    got = (li.groupBy("l_returnflag", "l_linestatus")
             .agg(dsum("l_extendedprice").alias("a"),
                  dsum_exact("l_extendedprice").alias("b"),
                  dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .alias("c"),
                  dsum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .alias("d"))
             .collect())
    assert len(got) > 0
    for r in got:
        assert abs(r.a - r.b) < 1e-9, r
        assert abs(r.c - r.d) < 1e-9, r


def test_dsum_checked_mode_fails_loud_past_the_bound(spark):
    """dsum(checked=True): identical to the unchecked path inside the
    BIGINT-micros domain, and a LOUD runtime failure — not a silent
    wrap — when a group's Σ|micros| exceeds it (the production guard
    VERDICT r7 asked for)."""
    import pytest
    from pyspark.errors import PySparkException

    from clif_spark.queries import dsum

    ok = spark.createDataFrame(
        [(1, 2.5), (1, -0.75), (2, 1e9)], ["g", "x"])
    rows = {r.g: (r.a, r.b) for r in
            ok.groupBy("g").agg(dsum("x").alias("a"),
                                dsum("x", checked=True).alias("b"))
              .collect()}
    assert rows[1] == (1.75, 1.75) and rows[2] == (1e9, 1e9)

    # two values of 5e12 -> Σmicros = 1e19 > 2^63-1: the unchecked path
    # wraps to a wrong answer; the checked path must raise
    hot = spark.createDataFrame([(1, 5e12), (1, 5e12)], ["g", "x"])
    wrapped = hot.groupBy("g").agg(dsum("x").alias("s")).first().s
    assert wrapped != 1e13  # the silent wrong answer checked mode closes
    with pytest.raises(PySparkException, match="exceeds the BIGINT"):
        hot.groupBy("g").agg(dsum("x", checked=True).alias("s")).collect()


def test_connected_components_chain_and_star(spark):
    """Min-label propagation finds multi-hop components: a 4-chain, a star,
    and an isolated pair; labels are the component minimum."""
    from clif_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (10, 12), (10, 13),  # star centered at 10
         (20, 21)],                     # isolated pair
        "a long, b long")
    got = {r.node: r.component
           for r in connected_components(pairs, "a", "b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


def test_deterministic_split_and_hash_sample(spark):
    """Split/sample laws: stable across recomputation, honors custom
    weights within hash granularity, subsample is a strict key-subset."""
    from clif_spark import sampling

    df = spark.range(4000).withColumnRenamed("id", "k")
    s1 = {(r.k, r.split) for r in
          sampling.deterministic_split(df, "k").collect()}
    s2 = {(r.k, r.split) for r in
          sampling.deterministic_split(df, "k").collect()}
    assert s1 == s2
    from collections import Counter
    frac = Counter(lbl for _, lbl in s1)
    assert abs(frac["train"] / 4000 - 0.8) < 0.03
    w = {"a": 0.5, "b": 0.5}
    sw = Counter(r.split for r in
                 sampling.deterministic_split(df, "k", weights=w).collect())
    assert abs(sw["a"] / 4000 - 0.5) < 0.03
    kept = {r.k for r in sampling.hash_sample(df, "k", 0.25).collect()}
    again = {r.k for r in sampling.hash_sample(df, "k", 0.25).collect()}
    assert kept == again and abs(len(kept) / 4000 - 0.25) < 0.03
    smaller = {r.k for r in sampling.hash_sample(df, "k", 0.10).collect()}
    assert smaller <= kept  # thresholding the same u01 nests samples


def test_minhash_handles_shingleless_docs(spark):
    """Docs shorter than the shingle width must vanish from banding WITHOUT
    fusing into a degenerate bucket — the carry path encodes this as
    NULL-propagating band keys filtered post-explode, so it is pinned
    explicitly (the driver corpus has no sub-3-word documents). Two
    identical long docs still pair; the 1-2-word docs pair with nothing,
    including each other."""
    from clif_spark import dedup
    long_text = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, long_text), (2, long_text),
         (3, "short"), (4, "short"), (5, "two words"), (6, "")],
        ["doc_id", "text"])
    got = {(r.a, r.b) for r in
           dedup.minhash_near_dups(docs, threshold=0.5).collect()}
    assert got == {(1, 2)}


def test_numeric_histogram_bins(spark):
    """Equal-width binning: counts conserve rows, the max value lands in
    the LAST bin (not past it), explicit bounds skip the bounds pass, and
    a degenerate all-equal column collapses to a single bin."""
    from clif_spark.operators import profile
    df = spark.createDataFrame(
        [(float(v),) for v in range(0, 100)], ["x"])
    out = profile.numeric_histogram(df, "x", n_bins=10).collect()
    assert sum(r.n for r in out) == 100
    by_bin = {r.bin: r for r in out}
    assert set(by_bin) == set(range(10))
    # v=99.0 is the max: bin floor((99-0)/9.9) = 10 -> clamped to 9
    assert by_bin[9].bin_end == 99.0
    assert by_bin[0].bin_start == 0.0
    # explicit bounds: value above hi clamps into the last bin
    out2 = profile.numeric_histogram(df, "x", n_bins=5, lo=0.0, hi=50.0)
    rows2 = {r.bin: r.n for r in out2.collect()}
    assert rows2[4] == 100 - 40  # bins 0-3 hold 10 each, the rest clamp
    # explicit bounds clamp BELOW lo as well (no negative bins)
    out3 = profile.numeric_histogram(df, "x", n_bins=5, lo=50.0, hi=100.0)
    rows3 = {r.bin: r.n for r in out3.collect()}
    assert set(rows3) == {0, 1, 2, 3, 4}
    assert rows3[0] == 50 + 10  # 0..49 clamp into bin 0 alongside 50..59
    assert sum(rows3.values()) == 100
    # degenerate range
    one = spark.createDataFrame([(7.0,), (7.0,)], ["x"])
    deg = profile.numeric_histogram(one, "x", n_bins=8).collect()
    assert len(deg) == 1 and deg[0].n == 2 and deg[0].bin == 0


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(w=st.integers(1, 24), h=st.integers(1, 16), seed=st.integers(0, 10**6))
def test_png_codec_roundtrip_property(w, h, seed):
    """Property: ANY image dimensions and pixel pattern survive the
    filter-encode -> zlib -> inflate -> unfilter round trip exactly
    (every scanline filter 0-4 participates once h >= 5)."""
    from clif_spark import multimodal
    pattern = lambda x, y, c: (seed + 7 * x + 13 * y + 29 * c) % 256
    png = multimodal.build_png_rich(w, h, pattern)
    vals = multimodal.png_pixel_values(png)
    assert vals == [pattern(x, y, c)
                    for y in range(h) for x in range(w) for c in range(3)]


def test_temperature_mix_semantics(spark):
    """alpha = 1/T convention: T=1 is a no-op (proportional), T=2 keeps
    ~sqrt(n_min*n) per source, large T approaches uniform n_min each."""
    from clif_spark import curation
    rows = ([(i, "head") for i in range(600)]
            + [(i + 1000, "tail") for i in range(100)])
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    t1 = curation.temperature_mix(df, "source", "doc_id", temperature=1.0)
    assert t1.count() == 700  # frac = (n_min/n)^0 = 1 everywhere
    t_inf = curation.temperature_mix(df, "source", "doc_id",
                                     temperature=1e9)
    by_src = {r["source"]: r["n"] for r in
              t_inf.groupBy("source").count()
                   .withColumnRenamed("count", "n").collect()}
    assert by_src["tail"] == 100  # smallest source always kept whole
    # head keeps ~ n_min = 100 of its 600 (hash noise around 100)
    assert 70 <= by_src["head"] <= 130


def test_per_key_sample_uniform_prefix_property(spark):
    """per_key_sample laws: exactly k per group (or the whole group when
    smaller), stable across recomputation, and rank<=j is a prefix of
    rank<=k drawn from the SAME ordering (nested uniform subsets)."""
    from clif_spark import sampling

    df = spark.range(900).selectExpr("id AS k", "id % 3 AS g")
    k5 = sampling.per_key_sample(df, ["g"], "k", 5).collect()
    from collections import Counter
    per_g = Counter(r.g for r in k5)
    assert set(per_g.values()) == {5}
    assert sorted(r.sample_rank for r in k5 if r.g == 0) == [1, 2, 3, 4, 5]
    again = {(r.g, r.k, r.sample_rank) for r in
             sampling.per_key_sample(df, ["g"], "k", 5).collect()}
    assert again == {(r.g, r.k, r.sample_rank) for r in k5}
    k2 = {(r.g, r.k) for r in
          sampling.per_key_sample(df, ["g"], "k", 2).collect()}
    assert k2 == {(r.g, r.k) for r in k5 if r.sample_rank <= 2}
    # tiny groups survive whole
    tiny = spark.range(2).selectExpr("id AS k", "0 AS g")
    assert len(sampling.per_key_sample(tiny, ["g"], "k", 5).collect()) == 2


def test_cumulative_distinct_counts_first_occurrences(spark):
    """cumulative_distinct equals the brute-force running |set| per
    partition, including re-occurrences and cross-user isolation."""
    from clif_spark.operators.windows import cumulative_distinct

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "c"), (1, 5, "b"),
            (2, 1, "a"), (2, 2, "a")]
    df = spark.createDataFrame(rows, "u long, t long, v string")
    got = {(r.u, r.t): r.cum_distinct for r in
           cumulative_distinct(df, ["u"], "v", ["t"]).collect()}
    assert got == {(1, 1): 1, (1, 2): 2, (1, 3): 2, (1, 4): 3, (1, 5): 3,
                   (2, 1): 1, (2, 2): 1}


def test_interpolate_linear_semantics(spark):
    """Interior nulls take the time-weighted value, boundary nulls stay
    null, zero-span ties degrade to LOCF, non-nulls pass through."""
    from clif_spark.operators.windows import interpolate_linear

    rows = [(1, 0, None), (1, 10, 1.0), (1, 20, None), (1, 40, 4.0),
            (1, 50, None),
            (2, 10, 2.0), (2, 10, None), (2, 10, 8.0)]
    df = spark.createDataFrame(
        [(u, t, v, i) for i, (u, t, v) in enumerate(rows)],
        "u long, t long, v double, id long")
    got = {r.id: r.v_interp for r in
           interpolate_linear(df, ["u"], "t", "v", tiebreak=["id"]).collect()}
    assert got[0] is None                      # leading boundary
    assert got[1] == 1.0                       # passthrough
    assert got[2] == 1.0 + 3.0 * (10.0 / 30.0)  # interior: 2.0
    assert got[4] is None                      # trailing boundary
    assert got[6] == 2.0                       # zero-span tie -> LOCF


def test_ewma_matches_closed_form(spark):
    """applyInPandas EWMA equals the closed-form recursion per entity and
    is independent of input row order (the operator sorts in-group)."""
    from clif_spark.operators.windows import ewma

    rows = [(1, 3, 4.0), (1, 1, 1.0), (1, 2, 2.0),   # shuffled on purpose
            (2, 1, 10.0), (2, 2, 10.0)]
    df = spark.createDataFrame(rows, "u long, t long, v double")
    got = {(r.u, r.t): r.ewma
           for r in ewma(df, ["u"], "v", ["t"], alpha=0.5).collect()}
    # u=1 ordered values 1,2,4: s1=1, s2=1.5, s3=2.75
    assert got[(1, 1)] == 1.0
    assert got[(1, 2)] == 1.5
    assert got[(1, 3)] == 2.75
    assert got[(2, 2)] == 10.0


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.sampled_from("ab c"), min_size=0, max_size=12),
       st.sampled_from(["a", "b", "c", " ", "ab"]),
       st.sampled_from(["a", "b", "c", " "]))
def test_bpe_merge_pair_fuzz_matches_reference(spark, syms, a, b):
    """merge_pair's SQL fold == the textbook greedy leftmost merge on
    arbitrary symbol streams (overlaps, repeats, merged-token symbols)."""
    from clif_spark.functions.bpe import merge_pair

    def ref(symbols):
        out, i = [], 0
        while i < len(symbols):
            if (i + 1 < len(symbols) and symbols[i] == a
                    and symbols[i + 1] == b):
                out.append(a + b); i += 2
            else:
                out.append(symbols[i]); i += 1
        return out

    df = spark.createDataFrame([(syms,)], "syms array<string>")
    got = df.select(merge_pair("syms", a, b).alias("m")).collect()[0].m
    assert list(got) == ref(syms)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
                min_size=1, max_size=8))
def test_morton_roundtrip_and_locality(spark, pairs):
    """morton_decode inverts morton_key for arbitrary 16-bit pairs, and
    the key is monotone in the high quadrant bits (the property row-group
    pruning relies on)."""
    from clif_spark.operators.layout import morton_decode, morton_key
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "a int, b int")
    out = df.select("a", "b",
                    morton_key(F.col("a"), F.col("b")).alias("k"),
                    morton_decode(morton_key(F.col("a"), F.col("b")))
                    .alias("d")).collect()
    for r in out:
        assert (r.d.a, r.d.b) == (r.a, r.b)
    # dominance monotonicity — the ordering row-group pruning relies on:
    # bit-spreading is order-preserving per dimension, so a1<=a2 and
    # b1<=b2 must imply k1<=k2 (a bit-placement swap that stays
    # invertible would break this while passing the roundtrip).
    for r1 in out:
        for r2 in out:
            if r1.a <= r2.a and r1.b <= r2.b:
                assert r1.k <= r2.k, ((r1.a, r1.b), (r2.a, r2.b))


def test_winsorize_idempotent_and_diff_identity(spark):
    """Applying winsorize to already-winsorized data changes nothing
    (bounds of the clamped set are the clamp bounds); snapshot_diff of a
    table against itself is all 'unchanged'. 25 rows, NOT 10: with n=10
    the nearest-rank p05/p95 are the min and max, the clamp never fires
    and idempotence would hold vacuously — here ceil(.05*25)=2 and
    ceil(.95*25)=24, so both extremes actually clamp in pass one."""
    from clif_spark.operators.core import snapshot_diff
    from clif_spark.operators.profile import winsorize

    vals = [-50.0] + [float(v) for v in range(2, 25)] + [1000.0]
    rows = [("g", v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    first = winsorize(df, ["g"], "v", tiebreakers=["id"]).collect()
    clamped = {r.id: r.v_winsor for r in first}
    assert clamped[0] == 2.0 and clamped[24] == 24.0  # clamp DID fire
    once = spark.createDataFrame(
        [("g", clamped[i], i) for i in range(25)],
        "g string, v double, id long")
    twice = winsorize(once, ["g"], "v", tiebreakers=["id"])
    assert all(r.v == r.v_winsor for r in twice.collect())

    d = snapshot_diff(df, df, ["id"], ["v"])
    assert {r.change for r in d.collect()} == {"unchanged"}


@given(
    st.integers(min_value=2, max_value=8).flatmap(
        lambda mcs: st.tuples(
            st.just(mcs),
            st.lists(st.integers(min_value=0, max_value=(1 << mcs) - 1),
                     max_size=4000))))
@settings(max_examples=40, deadline=None)
def test_gif_lzw_roundtrip_fuzz(case):
    """Property: GIF-variant LZW decompress(compress(x)) == x for any
    symbol stream at any code size — including streams long enough to
    grow the code width several times and hit the KwKwK case by chance."""
    from clif_spark import multimodal

    mcs, syms = case
    packed = multimodal.gif_lzw_compress(syms, mcs)
    assert multimodal.gif_lzw_decompress(packed, mcs) == syms


@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=30),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=25, deadline=None)
def test_gif_container_roundtrip_fuzz(w, h, seed):
    """Property: build_gif_rich -> gif_pixel_values is the identity on
    palette-mapped channel values for arbitrary dimensions and pixel
    patterns (seeded closed form, no RNG state)."""
    from clif_spark import multimodal

    pal = multimodal.gif_palette(64)
    payload = multimodal.build_gif_rich(
        w, h, lambda x, y: (seed + 3 * x + 5 * y) % 64)
    want = [c for y in range(h) for x in range(w)
            for c in pal[(seed + 3 * x + 5 * y) % 64]]
    assert multimodal.gif_pixel_values(payload) == want


@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=30),
       st.integers(min_value=0, max_value=2**31 - 1),
       st.integers(min_value=0, max_value=3))
@settings(max_examples=25, deadline=None)
def test_jpeg_block_constant_roundtrip_fuzz(w, h, seed, restart):
    """Property: the JPEG exactness contract holds for ARBITRARY
    dimensions, block-value patterns and restart intervals — encode of a
    per-8x8-block-constant image under all-ones quant decodes to the
    identical pixels (jpeg.py docstring derivation; the oracle-gated
    query leans on exactly this)."""
    from clif_spark.multimodal import jpeg as J

    def px(x, y):
        return (seed + 7 * (x // 8) + 11 * (y // 8)) % 256

    data = J.jpeg_encode_gray(w, h, px, restart_interval=restart)
    W, H, planes = J.jpeg_decode(data)
    assert (W, H) == (w, h)
    assert planes[0] == [px(x, y) for y in range(h) for x in range(w)]


@given(st.integers(min_value=8, max_value=33),
       st.integers(min_value=8, max_value=25),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=15, deadline=None)
def test_jpeg_arbitrary_content_roundtrip_fuzz(w, h, seed):
    """Property: arbitrary (non-block-constant) content through the full
    AC pipeline stays within the coefficient-rounding error budget — a
    Huffman/zigzag/dequant/IDCT defect shows up as errors of tens, not
    <=2."""
    from clif_spark.multimodal import jpeg as J

    def px(x, y):
        return (seed ^ (x * 31 + y * 137 + (x * y) % 97)) % 256

    data = J.jpeg_encode_gray(w, h, px)
    _, _, planes = J.jpeg_decode(data)
    assert max(abs(planes[0][y * w + x] - px(x, y))
               for y in range(h) for x in range(w)) <= 2


@given(st.binary(min_size=0, max_size=400),
       st.integers(min_value=0, max_value=120))
@settings(max_examples=80, deadline=None)
def test_jpeg_decoder_never_crashes_on_garbage(blob, cut):
    """Robustness: the decoder chain helper must return a list or None on
    ANY byte string — raw garbage, garbage wearing the SOI magic, and
    truncated prefixes of a valid stream — never raise through, never
    loop, never fabricate pixels from a stream that failed mid-decode."""
    from clif_spark.multimodal import jpeg as J

    for payload in (blob, b"\xff\xd8" + blob):
        got = J.jpeg_gray_values(payload)
        assert got is None or isinstance(got, list)
    valid = J.jpeg_encode_gray(9, 7, lambda x, y: (x + y) % 256)
    got = J.jpeg_gray_values(valid[:min(cut, len(valid))])
    assert got is None  # any strict prefix is incomplete


def test_kmv_sketch_estimator_properties(spark):
    """KMV on constructed sets: small-set fallback is EXACT (sketch holds
    everything below k), and on sets well above k the estimates land
    within the ~1/sqrt(k) band while union/intersection stay consistent
    with the true set algebra."""
    from clif_spark.operators.profile import kmv_set_sketch
    from pyspark.sql import functions as F

    # A = 0..599, B = 400..999 -> |A|=600, |B|=600, |A∪B|=1000, |A∩B|=200
    rows = ([("a", i) for i in range(600)]
            + [("b", i) for i in range(400, 1000)])
    df = spark.createDataFrame(rows, ["g", "k"])
    r = kmv_set_sketch(df, F.col("k"), F.col("g"), ("a", "b"), k=64).first()
    assert (r.exact_a, r.exact_b) == (600, 600)
    assert (r.exact_union, r.exact_inter) == (1000, 200)
    for est, exact in [(r.est_a, 600), (r.est_b, 600),
                       (r.est_union, 1000)]:
        assert abs(est - exact) / exact < 0.5  # ~4 sigma at k=64
    assert 0 < r.est_inter < 600  # rough but sane at rho=0.2

    # small sets: sketch IS the set, estimates exactly equal the counts
    tiny = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", i) for i in range(5, 20)],
        ["g", "k"])
    rt = kmv_set_sketch(tiny, F.col("k"), F.col("g"), ("a", "b"),
                        k=64).first()
    assert (rt.est_a, rt.est_b, rt.est_union) == (10.0, 15.0, 20.0)
    # intersection Jaccard-scales by the ACTUAL union-sketch size, so in
    # the small regime it is exact too (5 shared keys, not 5·20/64)
    assert rt.est_inter == 5.0


@given(st.lists(st.lists(st.sampled_from("abcdefgh"), min_size=1,
                         max_size=6), min_size=2, max_size=10),
       st.sampled_from([0.34, 0.5, 0.75]))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_prefix_filter_completeness_fuzz(spark, token_lists, threshold):
    """Property (the prefix-filter theorem, end to end): for ANY corpus
    and threshold, prefix_filter_pairs equals brute-force all-pairs
    Jaccard — the prefix cut may never lose a qualifying pair, and
    bucketing may never invent one."""
    from clif_spark import dedup

    docs = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.a, r.b): r.jaccard for r in
           dedup.prefix_filter_pairs(df, threshold=threshold).collect()}
    sets = {i: set(toks) for i, toks in enumerate(token_lists)}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 4)
            if j >= threshold:
                want[(a, b)] = j
    assert got == want


@given(st.binary(min_size=0, max_size=300),
       st.integers(min_value=0, max_value=90))
@settings(max_examples=60, deadline=None)
def test_mp4_extractor_never_crashes_on_garbage(blob, cut):
    """Robustness parity with the GIF/JPEG fuzz: the MP4 sample extractor
    must return a (timescale, samples) tuple or None on ANY byte string —
    raw garbage, garbage wearing the ftyp magic, and truncated prefixes
    of a valid container — never raise, never slice out of bounds."""
    from clif_spark.multimodal import _mp4_sample_codecs

    build, extract = _mp4_sample_codecs()
    for payload in (blob, blob[:4] + b"ftyp" + blob[8:] if len(blob) >= 8
                    else b"\x00\x00\x00\x08ftyp"):
        got = extract(payload)
        assert got is None or (isinstance(got, tuple) and len(got) == 2)
    valid = build(1000, 40, [b"abc", b"defgh", b"ij"])
    got = extract(valid[:min(cut, len(valid))])
    assert got is None  # any strict prefix lacks a complete table


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=60, deadline=None)
def test_sample_codec_chain_never_crashes(blob):
    """The full dispatch chain (wav -> png -> gif -> jpeg) over arbitrary
    bytes, including blobs wearing each codec's magic: every decoder
    returns values or None — no exceptions, no cross-codec
    misdispatch crashes."""
    from clif_spark import multimodal
    from clif_spark.multimodal.jpeg import jpeg_gray_values

    _, png_values, wav_values = multimodal._sample_codecs()
    magics = [b"", b"RIFF" + blob[:4] + b"WAVE", b"\x89PNG\r\n\x1a\n",
              b"GIF87a", b"\xff\xd8"]
    for magic in magics:
        payload = magic + blob
        for fn in (wav_values, png_values,
                   multimodal.gif_pixel_values, jpeg_gray_values):
            got = fn(payload)
            assert got is None or isinstance(got, list)


def test_bloom_screen_never_false_negative_property(spark):
    """Property over arbitrary corpora (hypothesis): for ANY corpus and
    any delivery containing exact (or whitespace/case-variant) copies,
    the Bloom screen flags every true duplicate — the zero-FN guarantee
    is structural (all k bits of an inserted fingerprint are set), so
    no data shape may break it."""
    from hypothesis import given, settings, strategies as st

    from clif_spark.dedup import bloom_build, bloom_screen

    texts = st.lists(
        st.text(alphabet="abcdef ", min_size=1, max_size=30),
        min_size=1, max_size=12, unique=True)

    @settings(max_examples=8, deadline=None)
    @given(texts)
    def check(corpus_texts):
        docs = spark.createDataFrame(
            list(enumerate(corpus_texts)), "doc_id long, text string")
        bm, m = bloom_build(docs, m_bits=1024, k=3)
        delivery = spark.createDataFrame(
            [(1000 + i, t.upper()) for i, t in enumerate(corpus_texts)],
            "doc_id long, text string")
        got = bloom_screen(delivery, bm, m, k=3).collect()
        assert all(r.flagged for r in got), corpus_texts

    check()


# random edge lists over a small node universe: self-loops, duplicate
# and reversed edges, multiple components, chains and cliques all arise
edges_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=11),
              st.integers(min_value=0, max_value=11)),
    min_size=1, max_size=30)


@PROP
@given(edges_strategy)
def test_label_propagation_matches_union_find_on_random_graphs(
        spark, edge_pairs):
    """Min-label propagation computes a pure function of the graph —
    on any random edge list (self-loops, duplicates, reversed pairs,
    multi-component) its (node -> component-min) labeling must be a
    reference union-find's answer."""
    from clif_spark.operators import graph as G

    edges = spark.createDataFrame(edge_pairs, "src long, dst long")
    clean = [(a, b) for a, b in edge_pairs if a != b]
    label = {r.node: r.component
             for r in G.connected_components(edges).collect()} \
        if clean else {}
    # driver-side union-find reference
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in clean:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize: component id must be the MIN member
    mins: dict[int, int] = {}
    for n in parent:
        r = find(n)
        mins[r] = min(mins.get(r, n), n)
    expect = {n: mins[find(n)] for n in parent}
    assert label == expect


@PROP
@given(edges_strategy)
def test_scc_agrees_with_closure_reference_on_random_digraphs(
        spark, edge_pairs):
    """strongly_connected_components on any random DIRECTED edge list
    must equal the definitionally-correct reference: boolean
    transitive closure (Warshall) self-intersected on mutual
    reachability, label = min of the SCC. Self-loops, duplicates,
    2-cycles from reversed pairs, and multi-component DAG debris all
    arise from the generator."""
    from clif_spark.operators import graph as G

    clean = [(a, b) for a, b in edge_pairs if a != b]
    if not clean:
        return
    edges = spark.createDataFrame(clean, "src long, dst long")
    got = {r.node: r.component
           for r in G.strongly_connected_components(edges).collect()}
    nodes = sorted({x for e in clean for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    reach = [[False] * n for _ in range(n)]
    for i in range(n):
        reach[i][i] = True
    for a, b in clean:
        reach[idx[a]][idx[b]] = True
    for k in range(n):
        rk = reach[k]
        for i in range(n):
            if reach[i][k]:
                ri = reach[i]
                for j in range(n):
                    if rk[j]:
                        ri[j] = True
    expect = {
        u: min(v for v in nodes
               if reach[idx[u]][idx[v]] and reach[idx[v]][idx[u]])
        for u in nodes}
    assert got == expect


@PROP
@given(edges_strategy, st.integers(min_value=1, max_value=4))
def test_k_core_agrees_with_peeling_reference(spark, edge_pairs, k):
    """k_core on any random edge list must equal the obvious
    sequential peeling over the undirected simple graph: repeatedly
    delete nodes of degree < k until stable; survivors labeled with
    their in-core degree. Peel ORDER cannot matter (the k-core is
    unique) — the distributed rounds and the sequential loop must
    agree exactly."""
    from clif_spark.operators import graph as G

    clean = {(min(a, b), max(a, b)) for a, b in edge_pairs if a != b}
    if not clean:
        return
    edges = spark.createDataFrame(sorted(clean), "src long, dst long")
    got = {(r.node, r.core_degree)
           for r in G.k_core(edges, k).collect()}
    adj: dict[int, set[int]] = {}
    for a, b in clean:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {u for u in alive
                if len(adj[u] & alive) < k}
        if not drop:
            break
        alive -= drop
    expect = {(u, len(adj[u] & alive)) for u in alive}
    assert got == expect


def _psl_reference(host: str, rules: list[str]):
    """Pure-Python PSL-subset reference (plain + leftmost-'*.' wildcard
    + '!' exception, case-insensitive, default last-label rule) — the
    independent mirror of functions/url.registered_domains' documented
    semantics."""
    labels = host.lower().split(".")
    n = len(labels)
    best = None  # (is_exc_int, pub_len)
    for rule in rules:
        rule = rule.lower()
        is_exc = rule.startswith("!")
        body = rule[1:] if is_exc else rule
        wild = body.startswith("*.")
        tail = body[2:].split(".") if wild else body.split(".")
        k = len(tail)
        if k > n or labels[n - k:] != tail:
            continue
        if wild:
            if k + 1 > n:
                continue  # the '*' must consume a real label
            pub = k + 1
        elif is_exc:
            pub = k - 1
        else:
            pub = k
        cand = (1 if is_exc else 0, pub)
        if best is None or cand > best:
            best = cand
    k = best[1] if best is not None else 1
    pub = ".".join(labels[n - k:])
    reg = ".".join(labels[n - k - 1:]) if n > k else None
    return pub, reg


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.lists(st.sampled_from(["a", "b", "c", "Xy"]),
                      min_size=1, max_size=4).map(".".join),
             min_size=1, max_size=12, unique=True),
    st.lists(st.tuples(
        st.sampled_from(["", "*.", "!"]),
        st.lists(st.sampled_from(["a", "b", "c"]),
                 min_size=1, max_size=2).map(".".join)),
        min_size=0, max_size=8).map(
            lambda rs: list({p + b for p, b in rs
                             if not (p == "!" and "." not in b)})),
)
def test_registered_domains_agrees_with_psl_reference(spark, hosts,
                                                      rules):
    """registered_domains vs an independent pure-Python PSL-subset
    evaluator on random hosts (mixed case included) and random rule
    sets mixing plain, wildcard and exception forms — the r14 rule
    algebra checked beyond the planted fixture. Single-label
    exceptions are excluded by construction (a '!x' rule has no
    suffix left after dropping its leftmost label; real PSL
    exceptions always carve out of a multi-label wildcard)."""
    from clif_spark.functions import url as U

    if not rules:
        rules = ["zz"]  # matches nothing: pure default-rule run
    hdf = spark.createDataFrame([(h,) for h in hosts], "host string")
    rdf = spark.createDataFrame([(r,) for r in rules], "rule string")
    got = {r.host: (r.public_suffix, r.reg_domain)
           for r in U.registered_domains(hdf, rdf).collect()}
    want = {h: _psl_reference(h, rules) for h in hosts}
    assert got == want


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="abX#0123", min_size=1, max_size=20),
                min_size=2, max_size=14, unique=True))
def test_entity_match_edges_agrees_with_bruteforce(spark, names):
    """_entity_match_edges (both passes, symmetric form) vs an
    all-pairs brute force of the documented match definition on
    random short names — blocked-and-verified must equal 'shares
    either key AND passes that pass's rule', with the right()/
    substring() short-string semantics included."""
    from clif_spark.queries.relational import _entity_match_edges

    recs = [(i, nm) for i, nm in enumerate(names)]
    df = spark.createDataFrame(recs, "rid long, name string")
    got = {(r.src, r.dst) for r in
           _entity_match_edges(df, df, symmetric=True).collect()}
    want = set()
    for i, a in recs:
        for j, b in recs:
            if i >= j:
                continue
            p1 = a[-7:] == b[-7:] and _lev(a, b) <= 1
            p2 = (a[:16] == b[:16] and len(a) != len(b)
                  and _lev(a, b) <= 1)
            if p1 or p2:
                want.add((i, j))
    assert got == want


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(st.lists(st.sampled_from(list("abcdefgh")),
                      min_size=1, max_size=6, unique=True),
             min_size=1, max_size=3),
    st.lists(st.sampled_from(list("abcdefghXY")), min_size=1,
             max_size=4, unique=True),
)
def test_lsm_point_lookup_equals_filtered_full_read(spark, segs,
                                                    probes):
    """read_lsm(key_eq=k) on a bloom-manifested store equals the full
    read filtered to equality for EVERY probe key (present or absent)
    — the zero-false-negative contract under random segment contents,
    including keys the blooms prune everywhere."""
    import tempfile
    import uuid

    from clif_spark import streaming as STR

    root = tempfile.mkdtemp(prefix="clif_prop_bloom_") + "/store"
    lin = "prop-" + uuid.uuid4().hex[:8]
    for v, keys in enumerate(segs, start=1):
        df = spark.createDataFrame(
            [(k, v * 10 + i, False) for i, k in enumerate(keys)],
            "k string, score long, is_delete boolean")
        STR.append_lsm_segment(df, root, v, lineage=lin, bloom_key="k")
    full = {(r.k, r.score) for r in
            STR.read_lsm(spark, root, ["k"], ["score"],
                         lineage=lin).collect()}
    for k in probes:
        got = {(r.k, r.score) for r in
               STR.read_lsm(spark, root, ["k"], ["score"], lineage=lin,
                            key_eq=k).collect()}
        assert got == {row for row in full if row[0] == k}


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="abX#0123", min_size=1, max_size=20),
                min_size=4, max_size=12, unique=True))
def test_er_store_lifecycle_agrees_with_bruteforce(spark, names):
    """The persisted ER store lifecycle (batch admit -> two deliveries
    -> takedown of every 3rd record) vs a pure-Python union-find over
    the documented match definition, on random short names: after the
    deliveries the store's clusters must equal the brute-force
    clustering of everything delivered, and after the takedown they
    must equal the brute-force clustering of the SURVIVORS — including
    the splits a removed bridge record forces (the cluster-closure
    argument _er_store_takedown's exactness rests on, probed here on
    graphs with no planted structure at all)."""
    import tempfile

    from pyspark.sql import functions as F

    from clif_spark.queries import relational as R

    recs = [(i, nm) for i, nm in enumerate(names)]
    base, d1, d2 = recs[: len(recs) // 2], recs[len(recs) // 2::2], \
        recs[len(recs) // 2 + 1::2]

    def match(a, b):
        p1 = a[-7:] == b[-7:] and _lev(a, b) <= 1
        p2 = (a[:16] == b[:16] and len(a) != len(b)
              and _lev(a, b) <= 1)
        return p1 or p2

    def brute(rows):
        parent = {i: i for i, _ in rows}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in rows:
            for j, b in rows:
                if i < j and match(a, b):
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        comp = {}
        for i, _ in rows:
            comp.setdefault(find(i), []).append(i)
        out = set()
        by_id = dict(rows)
        for members in comp.values():
            lab = min(members)
            canon = min(by_id[m] for m in members)
            for m in members:
                out.add((m, lab, len(members), canon))
        return out

    def report(root):
        return {tuple(r) for r in
                R._er_store_report(spark, root).collect()}

    from clif_spark.operators import graph as G

    bdf = spark.createDataFrame(base, "rid long, name string")
    comp0 = (G.connected_components(
                 R._entity_match_edges(bdf, bdf, symmetric=True))
             .withColumnRenamed("node", "rid"))
    labeled = (bdf.join(comp0, "rid", "left")
               .select("rid", "name",
                       F.coalesce("component", F.col("rid"))
                        .alias("cluster")))
    root = tempfile.mkdtemp(prefix="clif_er_prop_") + "/store"
    R._er_store_admit(labeled, root, 0)
    for v, d in ((1, d1), (2, d2)):
        if d:
            R._er_store_delivery(
                spark, spark.createDataFrame(d, "rid long, name string"),
                root, v)
    delivered = base + d1 + d2
    assert report(root) == brute(delivered)
    removed = delivered[::3]
    R._er_store_takedown(
        spark,
        spark.createDataFrame(removed, "rid long, name string"),
        root, 3)
    survivors = [r for r in delivered if r not in set(removed)]
    assert report(root) == brute(survivors)


@PROP
@given(st.lists(st.tuples(st.sampled_from("abcd"),
                          st.sampled_from("abcd"),
                          st.integers(min_value=1, max_value=4)),
                min_size=1, max_size=12))
def test_pagerank_weighted_agrees_with_python_recurrence(spark, raw):
    """pagerank with weight_col on random small weighted multigraphs vs a
    pure-Python mirror of the documented integer recurrence
    (multigraph collapse by weight sum, per-unit share r // W(v),
    teleport + 85% damping floor-divided) — two iterations, every
    node and every micro must agree exactly (the hand-mirrored-
    recurrence pin the personalized form has, extended to weights)."""
    from clif_spark.operators import graph as G

    df = spark.createDataFrame(raw, "src string, dst string, weight long")
    got = {r.node: r.rank_micros for r in
           G.pagerank(df, iterations=2, weight_col="weight").collect()}

    # pure-Python mirror
    w = {}
    for s, d, x in raw:
        w[(s, d)] = w.get((s, d), 0) + x
    nodes = sorted({s for s, _ in w} | {d for _, d in w})
    n = len(nodes)
    teleport = ((100 - 85) * 1_000_000 // 100) // n
    W = {}
    for (s, _), x in w.items():
        W[s] = W.get(s, 0) + x
    r = {u: 1_000_000 // n for u in nodes}
    for _ in range(2):
        acc = {u: 0 for u in nodes}
        for (s, d), x in w.items():
            acc[d] += x * (r[s] // W[s])
        r = {u: teleport + (85 * acc[u]) // 100 for u in nodes}
    assert got == r


# Random PCM clips: channel counts and frame counts the closed-form
# fixture never exercises (mono through 3-channel, clips SHORTER than
# the 65-point grid where sampled positions repeat, all-equal
# samples). audio_dhash must agree with a direct python rendering of
# its documented definition on every one.
audio_clips_strategy = st.lists(
    st.tuples(st.integers(min_value=1, max_value=3),      # channels
              st.integers(min_value=1, max_value=130),    # frames
              st.integers(min_value=0, max_value=2**31)), # sample seed
    min_size=1, max_size=6)


@PROP
@given(audio_clips_strategy)
def test_audio_dhash_agrees_with_python_reference(spark, clips):
    import struct

    from clif_spark import multimodal

    rows = []
    expected = {}
    for doc, (ch, nf, seed) in enumerate(clips):
        vals = [((seed + 37 * i * i + 11 * i) % 4093) - 2046
                for i in range(nf * ch)]
        payload = multimodal.build_wav_bytes(
            8000, ch, nf, struct.pack(f"<{len(vals)}h", *vals))
        rows.append((doc, payload))
        s = [sum(vals[f * ch:(f + 1) * ch])
             for f in (i * nf // 65 for i in range(65))]
        bits = 0
        for i in range(64):
            if s[i + 1] > s[i]:
                bits |= 1 << i
        expected[doc] = tuple((bits >> (16 * m)) & 0xFFFF
                              for m in range(4))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.c0, r.c1, r.c2, r.c3)
           for r in multimodal.audio_dhash(df).collect()}
    assert got == expected


# Random MJPEG containers: frame counts shorter/longer than the grid,
# repeated frame values (decode memoization must not conflate docs),
# and single-frame videos. video_dhash must agree with a direct
# python rendering of its documented definition.
video_clips_strategy = st.lists(
    st.tuples(st.integers(min_value=1, max_value=140),    # frames
              st.integers(min_value=0, max_value=2**31)), # value seed
    min_size=1, max_size=5)


@PROP
@given(video_clips_strategy)
def test_video_dhash_agrees_with_python_reference(spark, clips):
    from clif_spark import multimodal
    from clif_spark.multimodal import jpeg as J

    build_mp4, _ = multimodal._mp4_sample_codecs()
    rows = []
    expected = {}
    for doc, (nf, seed) in enumerate(clips):
        vals = [(seed + 53 * k * k + 19 * k) % 256 for k in range(nf)]
        frames = [J.jpeg_encode_gray(8, 8, lambda x, y, v=v: v)
                  for v in vals]
        rows.append((doc, build_mp4(1000, 40, frames)))
        means = [vals[i * nf // 65] for i in range(65)]
        bits = 0
        for i in range(64):
            if means[i + 1] > means[i]:
                bits |= 1 << i
        expected[doc] = tuple((bits >> (16 * m)) & 0xFFFF
                              for m in range(4))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.c0, r.c1, r.c2, r.c3)
           for r in multimodal.video_dhash(df).collect()}
    assert got == expected
