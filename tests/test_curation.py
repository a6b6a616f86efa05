"""Operator-level invariants for clif_spark.curation (the oracle gate
covers value equality; these pin the semantic contracts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clif_spark import curation, io

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return io.load_table(spark, SF_DIR, "documents")


def test_redact_pii_masks_everything(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-ample.org and call +44-123-4567 now"),
         (2, "no pii here")],
        ["id", "text"])
    out = df.select("id", curation.redact_pii(F.col("text")).alias("t"),
                    *[c.alias(n) for c, n in
                      zip(curation.pii_counts(F.col("text")),
                          ["n_emails", "n_phones"])]).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["t"] == "mail [EMAIL] and call [PHONE] now"
    assert (by_id[1]["n_emails"], by_id[1]["n_phones"]) == (1, 1)
    assert (by_id[2]["n_emails"], by_id[2]["n_phones"]) == (0, 0)


def test_tfidf_ranks_descending_within_doc(docs):
    rows = curation.tfidf_top_terms(docs.limit(50), k=3).collect()
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append((r["rank"], r["tfidf"]))
    for doc, rr in per_doc.items():
        rr.sort()
        assert [x[0] for x in rr] == list(range(1, len(rr) + 1))
        scores = [x[1] for x in rr]
        assert scores == sorted(scores, reverse=True)
        assert len(rr) <= 3


def test_contamination_finds_planted_overlap(spark, docs):
    eval_df = docs.filter(F.col("doc_id") < 5).select("doc_id", "text")
    # corpus doc 100 = eval doc 0's text verbatim -> must collide heavily
    corpus = (docs.filter(F.col("doc_id") == 0)
                  .select(F.lit(100).alias("doc_id"), "text"))
    out = curation.contamination_overlap(corpus, eval_df, n=5).collect()
    assert len(out) == 1 and out[0]["n_shared"] >= 10


def test_pack_sequences_conserves_tokens(docs):
    budget = 256
    packed = curation.pack_sequences(docs, budget=budget, shards=4)
    rows = packed.collect()
    total_packed = sum(r["bin_tokens"] for r in rows)
    total = docs.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))).first()[0]
    assert total_packed == total
    # bins are dense 0..max per shard (greedy in-order packing never skips)
    per_shard: dict = {}
    for r in rows:
        per_shard.setdefault(r["shard"], []).append(r["bin"])
    for shard, bins in per_shard.items():
        assert sorted(bins) == list(range(len(bins)))
    # chunk-straddle bound: a bin overshoots the budget by less than the
    # largest straddling doc, and only the shard's last bin may undershoot
    max_doc = docs.select(
        F.max(F.size(F.split(F.trim("text"), r"\s+")))).first()[0]
    for shard, bins in per_shard.items():
        by_bin = {r["bin"]: r["bin_tokens"] for r in rows
                  if r["shard"] == shard}
        for b, tok in by_bin.items():
            if b != max(bins):
                assert tok >= 1
            assert tok < budget + max_doc


def test_quantize_int8_error_bound(spark):
    emb = io.load_table(spark, SF_DIR, "embeddings")
    rows = curation.quantize_int8(emb).collect()
    assert len(rows) == emb.count()
    for r in rows:
        # |q| <= ceil(127.5) per element, 64 dims
        assert abs(r["checksum"]) <= 128 * 64
        # half-step reconstruction bound: err <= scale/2 (+ rounding slack)
        assert r["max_err"] <= r["amax"] / 127.0 * 0.5 + 1e-6


def test_remove_repeated_ngram_spans_semantics(spark):
    """Hand-built corpus: a shared 8-gram between docs 1/2 is cut from
    both; overlapping repeats merge into ONE maximal span; a sub-8-word
    doc and a unique doc pass through untouched."""
    from clif_spark import curation

    shared = "w1 w2 w3 w4 w5 w6 w7 w8"          # the repeated 8-gram
    docs = spark.createDataFrame([
        (1, f"alpha beta {shared} gamma"),       # span covers words 2..9
        (2, f"{shared} tail1 tail2"),            # span at the front
        # overlapping repeats: words 0..8 shared with doc 4 -> grams at
        # pos 0 and 1 both repeat -> ONE merged span 0..9
        (3, "o1 o2 o3 o4 o5 o6 o7 o8 o9 only3"),
        (4, "o1 o2 o3 o4 o5 o6 o7 o8 o9 only4"),
        (5, "too short to have grams"),
        (6, "entirely unique words that repeat nowhere at all ok"),
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           curation.remove_repeated_ngram_spans(docs, n=8).collect()}
    assert out[1].clean_text == "alpha beta gamma" and out[1].n_removed == 8
    assert out[2].clean_text == "tail1 tail2"
    assert out[3].clean_text == "only3" and out[3].n_removed == 9
    assert out[4].clean_text == "only4"
    assert out[5].n_removed == 0
    assert out[5].clean_text == "too short to have grams"
    assert out[6].n_removed == 0
    assert out[6].clean_text == "entirely unique words that repeat nowhere at all ok"


def test_chunk_dedup_semantics(spark):
    """Chunk dedup: whole-dup doc empties (first occurrence wins by id),
    partial overlap drops only the shared chunk, unique docs intact."""
    from clif_spark.dedup import chunk_dedup

    a = "a b c"                     # 1 chunk (k=3)
    rows = [(1, a), (2, a),          # doc 2 fully deduped away
            (3, "a b c x y z"),      # first chunk dups doc 1's
            (4, "p q r")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in chunk_dedup(df, chunk_tokens=3).collect()}
    assert (out[1].n_chunks, out[1].n_kept, out[1].kept_text) == (1, 1, a)
    assert (out[2].n_kept, out[2].kept_text) == (0, "")
    assert (out[3].n_chunks, out[3].n_kept, out[3].kept_text) == (2, 1, "x y z")
    assert out[4].kept_text == "p q r"


def test_rare_bigram_score_short_doc_guard_and_flagging(spark):
    """Docs under 2 chars are excluded (Spark's sequence(1,0) descends);
    a bigram occurring once in a large corpus flags as rare, dominant
    bigrams do not."""
    from clif_spark.curation import rare_bigram_score

    rows = [(1, "aaaaaaaaaa"), (2, "aaaaaaaaaZ"), (3, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           rare_bigram_score(df, rare_denom=10).collect()}
    assert 3 not in out
    assert out[1].rare_bigrams == 0
    # doc 2: bigrams aa*8 + aZ*1; aZ count=1, total=18, 1*10 < 18 -> rare
    assert out[2].rare_bigrams == 1 and out[2].total_bigrams == 9
    assert out[2].rare_ppm == 1000000 // 9


# --- distributed BPE (functions/bpe.py) -------------------------------------

def _ref_bpe_train(word_counts, n_merges, min_pair_count=2):
    """Pure-Python reference BPE (Sennrich alg. 1) for parity checks."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for w, n in word_counts.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = \
                    pairs.get((syms[i], syms[i + 1]), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b) = best[0]
        merges.append((a, b))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_reference_on_classic_corpus(spark):
    """Exact merge-sequence and tokenization parity with the textbook BPE
    on the Sennrich 'low/lower/newest/widest' corpus."""
    from clif_spark.functions import bpe

    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    docs = spark.createDataFrame(
        [(i, " ".join([w] * n)) for i, (w, n) in enumerate(counts.items())],
        "doc_id long, text string")
    merges = bpe.bpe_train(docs, n_merges=6)
    ref_merges, ref_vocab = _ref_bpe_train(counts, 6)
    assert merges == ref_merges
    got = {r.word: list(r.bpe_tokens) for r in bpe.bpe_apply_vocab(
        spark.createDataFrame([(w,) for w in counts], "word string"),
        merges).collect()}
    assert got == ref_vocab


def test_bpe_train_matches_reference_on_real_docs(spark):
    """Parity on the sf0.001 documents corpus: same merges, same per-doc
    BPE token counts as the reference implementation."""
    from collections import Counter

    from clif_spark import io
    from clif_spark.functions import bpe

    sf = "/root/testdata/sf0.001"
    # doc_id < 50, not limit(50): an un-ordered limit may pick different
    # rows across the three plan executions below (collect / train / apply)
    d = io.load_table(spark, sf, "documents").filter("doc_id < 50")
    rows = [(r.doc_id, r.text) for r in d.collect()]
    wc = Counter(w for _, t in rows for w in t.lower().split() if w)
    merges = bpe.bpe_train(d, n_merges=8)
    ref_merges, ref_vocab = _ref_bpe_train(dict(wc), 8)
    assert merges == ref_merges
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in bpe.bpe_tokenize(d, merges).collect()}
    for doc_id, text in rows:
        words = [w for w in text.lower().split() if w]
        exp = sum(len(ref_vocab[w]) for w in words)
        assert got[doc_id] == (len(words), exp), doc_id


def test_mix_epochs_copy_semantics(spark):
    """Epoch materialization: floor copies for everyone, the fractional
    extra goes to a stable hash-subset, 0.x sources keep only that
    subset, and copy counts are reproducible across invocations."""
    from clif_spark.curation import mix_epochs

    df = spark.createDataFrame(
        [(i, "a" if i < 200 else "b") for i in range(400)],
        "doc_id long, source string")
    out = mix_epochs(df, {"a": 2.5, "b": 0.5}).collect()
    from collections import Counter
    per_doc = Counter((r.doc_id) for r in out)
    a_counts = {per_doc.get(i, 0) for i in range(200)}
    b_counts = {per_doc.get(i, 0) for i in range(200, 400)}
    assert a_counts == {2, 3}          # everyone twice, some thrice
    assert b_counts == {0, 1}          # only the hash-subset survives
    n_a = sum(per_doc.get(i, 0) for i in range(200))
    assert 400 < n_a < 600             # ~2.5 * 200 within hash tolerance
    again = Counter(r.doc_id for r in
                    mix_epochs(df, {"a": 2.5, "b": 0.5}).collect())
    assert again == per_doc
    # epoch index is 1..reps per doc
    epochs = sorted(r.epoch for r in out if r.doc_id == 0)
    assert epochs == list(range(1, len(epochs) + 1))


def test_winsorize_null_and_empty_recipe_edges(spark):
    """Review-pinned edges: NULLs are excluded from winsorize bounds and
    pass through unclamped; mix_epochs with an empty recipe applies the
    default to every source."""
    from clif_spark.curation import mix_epochs
    from clif_spark.operators.profile import winsorize

    rows = [("g", float(v), i) for i, v in enumerate(range(1, 11))]
    rows += [("g", None, 99), ("h", None, 100)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    out = {r.id: r.v_winsor
           for r in winsorize(df, ["g"], "v", tiebreakers=["id"]).collect()}
    assert out[0] == 1.0 and out[9] == 10.0   # p05=1, p95=10 over non-nulls
    assert out[99] is None and out[100] is None
    d2 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, source string")
    got = mix_epochs(d2, {}).collect()
    assert sorted((r.doc_id, r.epoch) for r in got) == [(1, 1), (2, 1)]


def test_chunk_windows_rejects_lossy_stride(spark):
    """stride > size would silently drop inter-window tokens and emit
    empty trailing chunks — loud ValueError instead."""
    import pytest as _pt

    from clif_spark.curation import chunk_windows

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pt.raises(ValueError, match="stride"):
        chunk_windows(df, size=20, stride=30)
    with _pt.raises(ValueError, match="stride"):
        chunk_windows(df, size=20, stride=0)


def test_bm25_query_terms_case_folded(spark):
    """Mixed-case query terms must match the lowercased postings — the
    casing contract lives inside bm25_rational_topk, not with callers."""
    from clif_spark import curation

    docs = spark.createDataFrame(
        [(1, "Spark shuffles data"), (2, "duck walks on data")],
        ["doc_id", "text"])
    upper = curation.bm25_rational_topk(docs, ["SPARK", "Data"], k=2).collect()
    lower = curation.bm25_rational_topk(docs, ["spark", "data"], k=2).collect()
    assert [tuple(r) for r in upper] == [tuple(r) for r in lower]
    assert len(upper) == 2


def test_prefix_filter_join_equals_brute_force(spark):
    """Completeness of the prefix filter (its whole point): on a corpus
    with pairs straddling the threshold, prefix_filter_pairs must equal
    the all-pairs answer exactly — no false negatives from the prefix
    cut, no false positives from bucketing."""
    from clif_spark import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon zeta"),   # J(1,2) = 5/6
         (3, "alpha beta gamma delta EPSILON prime"),  # case-folds to near 1
         (4, "totally different tokens entirely here"),
         (5, "alpha omega psi chi phi")],              # shares 1 with doc 1
        ["doc_id", "text"])
    got = {(r.a, r.b): r.jaccard
           for r in dedup.prefix_filter_pairs(docs, threshold=0.5).collect()}
    # brute force over token sets
    toks = {r.doc: set()
            for r in dedup.doc_tokens(docs).collect()}
    for r in dedup.doc_tokens(docs).collect():
        toks[r.doc].add(r.tok)
    want = {}
    ids = sorted(toks)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
            if round(j, 4) >= 0.5:
                want[(a, b)] = round(j, 4)
    assert got == want and (1, 2) in got and (4, 5) not in got


def test_dsir_importance_orders_target_like_content(spark):
    """The estimator must rank a document made of target-sample n-grams
    above one made of raw-only n-grams: target docs (doc_id % 5 == 0
    here) speak 'quant finance'; probe docs 11/12 copy the two registers
    without being in the target sample themselves."""
    from clif_spark import curation
    from pyspark.sql import functions as F

    rows = [(0, "alpha signal risk premium decay"),
            (5, "risk premium alpha signal carry"),
            (10, "signal decay risk carry premium"),
            (1, "bananas are yellow fruit snacks"),
            (2, "yellow fruit snacks taste great"),
            (11, "alpha signal risk premium carry"),   # target-like probe
            (12, "bananas yellow fruit taste snacks")]  # raw-only probe
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in curation.dsir_importance(
        docs, F.col("doc_id") % 5 == 0).collect()}
    assert len(out) == len(rows)
    assert out[11].mean_ratio > out[12].mean_ratio
    # exact-arithmetic invariants: micros sum is an integer multiple of
    # nothing float; every doc's mean_ratio = micros / n_feats / 1e6
    for r in out.values():
        assert r.importance_micros > 0
        assert abs(r.mean_ratio
                   - round(r.importance_micros / r.n_feats / 1e6, 6)) == 0


def test_dsir_single_token_doc_has_no_bigram_artifacts(spark):
    """Regression for the sequence(0, -1) descending-range trap: a
    single-token document must contribute exactly one feature (its
    unigram), not phantom bigrams from a [0, -1] index sequence."""
    from clif_spark import curation
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(0, "lonetoken"), (1, "two tokens")], ["doc_id", "text"])
    out = {r.doc_id: r for r in curation.dsir_importance(
        docs, F.lit(False)).collect()}
    assert out[0].n_feats == 1       # 1 unigram, 0 bigrams
    assert out[1].n_feats == 3       # 2 unigrams + 1 bigram


def test_prefix_filter_exact_through_mega_buckets(spark):
    """Regression for the r7 silent-cap bug: a bucket far beyond any
    per-bucket state cap (300 identical docs sharing every prefix token)
    must still yield the complete C(300,2) answer — exactness is the
    operator's contract at ANY bucket size."""
    from clif_spark import dedup

    docs = spark.createDataFrame(
        [(i, "same template text repeated verbatim") for i in range(300)]
        + [(1000, "an entirely different document body")],
        ["doc_id", "text"])
    out = dedup.prefix_filter_pairs(docs, threshold=0.95)
    assert out.count() == 300 * 299 // 2
    assert out.filter("a = 1000 or b = 1000").count() == 0


def test_incremental_near_dups_sides_and_normalization(spark):
    """Cross-side screening: planted batch copies surface as
    (old_id, new_id) regardless of id ordering; intra-corpus and
    intra-batch duplicates are excluded by construction."""
    from clif_spark import dedup

    corpus = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),
         (11, "alpha beta gamma delta epsilon zeta"),   # intra-corpus dup
         (12, "totally different corpus text body here")],
        ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta"),  # id SMALLER than corpus
         (2, "novel unseen content entirely fresh words")],
        ["doc_id", "text"])
    rows = dedup.incremental_near_dups(corpus, batch,
                                       threshold=0.5).collect()
    got = {(r.old_id, r.new_id) for r in rows}
    assert (10, 1) in got and (11, 1) in got  # normalized despite 1 < 10
    assert all(n in (1, 2) for _, n in got)   # new side is always batch
    assert (10, 11) not in got and (11, 10) not in got  # intra-corpus excluded


def test_equi_depth_histogram_buckets_balance(spark):
    """a25's operator on a skewed column: every bucket holds n/k +- 1
    rows (the equal-depth guarantee uniform-width binning cannot give on
    zipfian data), boundaries are actual data values, and buckets tile
    the domain in order."""
    from clif_spark.operators.profile import equi_depth_histogram
    from pyspark.sql import functions as F

    # zipf-ish: value v appears ~ 1000/v times
    rows = [(i, v) for i, v in enumerate(
        v for v in range(1, 60) for _ in range(1000 // v))]
    df = spark.createDataFrame(rows, ["id", "v"])
    n = len(rows)
    out = sorted(equi_depth_histogram(df, "v", n_buckets=8,
                                      tiebreakers=("id",)).collect(),
                 key=lambda r: r.bucket)
    assert len(out) == 8
    assert all(abs(r.n_rows - n / 8) <= 1 for r in out)
    for prev, cur in zip(out, out[1:]):
        assert prev.hi <= cur.lo
        assert prev.lo <= prev.hi


def test_chisq_association_detects_dependence(spark):
    """a24's operator: a perfectly dependent pair yields a large chi2
    (~n * (k-1)), an independent pair yields ~0, and degrees of freedom
    come out (r-1)(c-1)."""
    from clif_spark.operators.profile import chisq_association
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, f"g{i % 4}", i % 4, (i // 4) % 2) for i in range(4000)],
        ["id", "a", "dep", "ind"])
    r_dep = chisq_association(df, "a", "dep").first()
    assert r_dep.n == 4000 and r_dep.df_degrees == 9
    assert r_dep.chi2 > 4000 * 2  # perfect association: chi2 = n*(k-1)
    r_ind = chisq_association(df, "a", "ind").first()
    assert r_ind.df_degrees == 3
    assert r_ind.chi2 < 1e-6  # exactly balanced: observed == expected


def test_bloom_screen_zero_false_negatives_and_determinism(spark):
    """The Bloom membership screen's two contracts: every true
    duplicate is flagged (zero false negatives — guaranteed by
    construction, pinned here against a planted mix), and the filter
    is a deterministic function of the data (two independent builds
    produce identical word relations, so a re-run can never flip a
    verdict). Whitespace/case variants of a corpus text must also
    flag (the screen keys on the NORMALIZED fingerprint)."""
    from clif_spark.dedup import bloom_build, bloom_screen

    docs = spark.createDataFrame(
        [(i, f"document number {i} with body text {i * 7}")
         for i in range(200)], "doc_id long, text string")
    bm1, m1 = bloom_build(docs, m_bits=4096)
    bm2, m2 = bloom_build(docs, m_bits=4096)
    assert m1 == m2 == 4096
    assert (sorted((r.word, r.bits) for r in bm1.collect())
            == sorted((r.word, r.bits) for r in bm2.collect()))

    delivery = spark.createDataFrame(
        # exact copy, whitespace/case variant, two novel docs
        [(1000, "document number 5 with body text 35"),
         (1001, "  Document   NUMBER 7 with body TEXT 49 "),
         (1002, "entirely new content alpha"),
         (1003, "entirely new content beta")],
        "doc_id long, text string")
    got = {r.doc_id: r.flagged for r in
           bloom_screen(delivery, bm1, m1).collect()}
    assert got[1000] is True   # exact dup: never missed
    assert got[1001] is True   # normalized variant: same fingerprint
    # novel docs: not guaranteed unflagged (Bloom FP), but at 4096 bits
    # for 200 docs the deterministic outcome is no-FP; pin it so an
    # accidental hash/packing change surfaces as a test diff
    assert got[1002] is False and got[1003] is False


def test_url_canonicalize_edge_cases(spark):
    """functions.url rule-by-rule edges the gated row's planted corpus
    doesn't reach: non-default ports kept, utm params removed wherever
    they sit, root path, already-canonical input is a fixed point."""
    from clif_spark.functions import url as urlfn

    cases = [
        ("https://Site.com:8080/a?b=1", "https://site.com:8080/a?b=1"),
        ("http://www.site.com:80/", "http://site.com/"),
        ("https://site.com", "https://site.com/"),
        ("https://site.com/a/b/?z=1&a=2&utm_medium=m#frag",
         "https://site.com/a/b?a=2&z=1"),
        ("HTTPS://SITE.COM/A?fbclid=x", "https://site.com/A"),
        ("https://site.com/?utm_source=s", "https://site.com/"),
        ("https://site.com/a?b=1", "https://site.com/a?b=1"),  # fixed point
        # port stripping is SCHEME-AWARE: :443 on http and :80 on https
        # are NOT default ports — they name different resources and must
        # survive (stripping them would merge distinct URLs)
        ("http://site.com:443/x", "http://site.com:443/x"),
        ("https://site.com:80/x", "https://site.com:80/x"),
        ("http://www.site.com:80/x", "http://site.com/x"),
        ("https://site.com:443/x", "https://site.com/x"),
        # unknown scheme: no default-port notion, port always kept
        ("ftp://site.com:80/x", "ftp://site.com:80/x"),
        # RFC 3986 §6.2.2 percent-normalization (r12): unreserved
        # decodes, reserved keeps UPPERCASE hex, malformed passes
        # through, disguised tracking name still drops
        ("https://site.com/art%69cles/5?i%64=3",
         "https://site.com/articles/5?id=3"),
        ("https://site.com/a%2fb?x=%7ey", "https://site.com/a%2Fb?x=~y"),
        ("https://site.com/p%G1?a=1", "https://site.com/p%G1?a=1"),
        ("https://site.com/p%", "https://site.com/p%"),
        ("https://site.com/p?%75tm_source=s&id=9",
         "https://site.com/p?id=9"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    out = [r["c"] for r in
           df.select(urlfn.canonicalize_url("url").alias("c"))
             .collect()]
    assert out == [e for _, e in cases]


def test_resolve_href_reference_resolution(spark):
    """functions.url.resolve_href: RFC 3986 §5 reference resolution —
    absolute passthrough, protocol-relative, root-relative, relative
    splice against the base path's directory, §5.2.4 dot-segment
    collapse (`..` at root stays at root), fragment strip, query
    survival, and NULL for non-hierarchical refs. Deliberate
    normalizations pinned: empty segments collapse and a trailing
    directory-form slash is dropped (both identical to what
    canonicalize_url does next)."""
    from clif_spark.functions import url as urlfn

    base = ("https", "h.com", "/a/b/page")
    cases = [
        # absolute passes through (fragment stripped)
        ("http://x.com/p#frag", "http://x.com/p"),
        # absolute with dot segments: §5.2.2 collapses this branch too
        # (ADVICE r11 — was a verbatim passthrough)
        ("http://x.com/a/../b?q=2#f", "http://x.com/b?q=2"),
        ("https://x.com", "https://x.com"),  # empty path untouched
        # protocol-relative takes the base scheme
        ("//cdn.com/asset", "https://cdn.com/asset"),
        ("//cdn.com/dl/../x", "https://cdn.com/x"),
        # root-relative joins scheme://host, dot segments collapse
        ("/top/x", "https://h.com/top/x"),
        ("/a/./x/../y", "https://h.com/a/y"),
        # relative splices onto the base DIRECTORY (/a/b/)
        ("sub/doc", "https://h.com/a/b/sub/doc"),
        ("./same", "https://h.com/a/b/same"),
        ("../up", "https://h.com/a/up"),
        ("../../../root", "https://h.com/root"),  # .. at root stays
        ("x/y/../z?q=1", "https://h.com/a/b/x/z?q=1"),  # query kept
        ("a//b", "https://h.com/a/b/a/b"),  # empty segment collapses
        # non-hierarchical -> NULL
        ("mailto:x@y", None),
        ("javascript:void(0)", None),
        ("#frag-only", None),
        ("?q=only", None),
        ("", None),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], ["href"])
    out = [r["u"] for r in df.select(urlfn.resolve_href(
        "href", f"'{base[0]}'", f"'{base[1]}'",
        base_path=f"'{base[2]}'").alias("u")).collect()]
    assert out == [e for _, e in cases]
    # without a base_path, relative refs fall back to NULL (the
    # pre-round-11 documented subset)
    out2 = [r["u"] for r in df.select(urlfn.resolve_href(
        "href", f"'{base[0]}'", f"'{base[1]}'").alias("u"))
        .collect()]
    expect2 = [e if (h.startswith(("/", "//"))
                     or "://" in h) and e else None
               for h, e in cases]
    assert out2 == expect2
    # §5.3 empty-base merge (ADVICE r11): an empty or slash-less base
    # path merges as '/' + ref — never a bare host/ref concat
    rel_cases = [("sub/doc", "https://h.com/sub/doc"),
                 ("./same", "https://h.com/same"),
                 ("../up", "https://h.com/up")]
    rdf = spark.createDataFrame([(h,) for h, _ in rel_cases], ["href"])
    for empty_base in ("", "page"):
        out3 = [r["u"] for r in rdf.select(urlfn.resolve_href(
            "href", "'https'", "'h.com'",
            base_path=f"'{empty_base}'").alias("u")).collect()]
        assert out3 == [e for _, e in rel_cases], empty_base


def test_robots_disallow_rules_grammar(spark):
    """functions.robots: hand-written robots.txt bodies (not our own
    planted builder) — CRLF line endings, comments, mixed case,
    multi-agent groups, a specific-agent group that must be ignored for
    '*', empty Disallow (allow-all marker, dropped), duplicate rules."""
    from clif_spark.functions import robots as robotsfn

    crlf_body = ("# site robots\r\n"
                 "User-Agent: GoogleBot\r\n"
                 "Disallow: /private\r\n"
                 "\r\n"
                 "User-agent: *\r\n"
                 "user-agent: CCBot\r\n"
                 "Disallow: /search   # inline comment\r\n"
                 "Allow: /search/about\r\n"
                 "DISALLOW: /tmp/\r\n"
                 "Disallow: /tmp/\r\n")
    allow_all = "User-agent: *\nDisallow:\n"   # empty = allow all
    no_wild = "User-agent: bingbot\nDisallow: /\n"
    df = spark.createDataFrame(
        [("a.com", crlf_body), ("b.com", allow_all), ("c.com", no_wild)],
        "host string, robots_txt string")
    rules = {(r.host, r.disallow_prefix)
             for r in robotsfn.robots_disallow_rules(df).collect()}
    assert rules == {("a.com", "/search"), ("a.com", "/tmp/")}

    # agent-specific extraction: googlebot sees ITS group, not '*'
    g = {(r.host, r.disallow_prefix) for r in
         robotsfn.robots_disallow_rules(df, agent="googlebot").collect()}
    assert g == {("a.com", "/private")}


def test_apply_robots_rules_prefix_match(spark):
    """apply_robots_rules: literal path-prefix semantics, per host; a
    host with no rules is never blocked."""
    from pyspark.sql import functions as F

    from clif_spark.functions import robots as robotsfn

    urls = spark.createDataFrame(
        [(1, "a.com", "/search/q"), (2, "a.com", "/searching"),
         (3, "a.com", "/about"), (4, "b.com", "/search/q")],
        "doc_id long, host string, path string")
    rules = spark.createDataFrame(
        [("a.com", "/search", False)],
        "host string, prefix string, allow boolean")
    out = {r.doc_id: r.robots_blocked for r in
           robotsfn.apply_robots_rules(urls, rules).collect()}
    # prefix semantics: /searching matches /search (RFC 9309 literal
    # prefix — that IS the spec's rule, not a bug)
    assert out == {1: True, 2: True, 3: False, 4: False}
    # the plan broadcasts the rules; no sort-merge join
    plan = (robotsfn.apply_robots_rules(urls, rules)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_apply_robots_rules_longest_match_precedence(spark):
    """RFC 9309 §2.2.2: the longest matching prefix decides; an
    equal-length Allow/Disallow pair resolves to Allow; the classic
    ``Disallow: /`` + ``Allow: /public`` idiom keeps the carved
    subtree crawlable."""
    from clif_spark.functions import robots as robotsfn

    urls = spark.createDataFrame(
        [(1, "a.com", "/private/x"),     # blocked by Disallow: /
         (2, "a.com", "/public/doc"),    # Allow: /public (longer) wins
         (3, "a.com", "/public/tmp/z"),  # Disallow: /public/tmp re-blocks
         (4, "a.com", "/tie/x"),         # equal-length tie -> Allow
         (5, "b.com", "/private/x")],    # no rules -> kept
        "doc_id long, host string, path string")
    rules = spark.createDataFrame(
        [("a.com", "/", False),
         ("a.com", "/public", True),
         ("a.com", "/public/tmp", False),
         ("a.com", "/tie", True),
         ("a.com", "/tie", False)],
        "host string, prefix string, allow boolean")
    out = {r.doc_id: r.robots_blocked for r in
           robotsfn.apply_robots_rules(urls, rules).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False, 5: False}


def test_robots_rules_allow_parse_and_agent_case(spark):
    """robots_rules keeps Allow rows (with the allow flag), drops
    empty-value no-op markers, and matches the caller's agent token
    case-insensitively (``CCBot`` selects the same group as ``ccbot``
    — the r10 ADVICE under-block). A ``*`` wildcard rule is evaluated
    as a pattern (RFC 9309 §2.2.3, in scope since round 11)."""
    from clif_spark.functions import robots as robotsfn

    body = ("User-agent: CCBot\n"
            "Disallow: /deny\n"
            "Allow: /deny/ok\n"
            "Allow:\n"             # empty Allow: no-op, dropped
            "Disallow: /*.php\n")  # wildcard pattern (§2.2.3)
    df = spark.createDataFrame([("a.com", body)],
                               "host string, robots_txt string")
    got = {(r.prefix, r.allow)
           for r in robotsfn.robots_rules(df, agent="CCBot").collect()}
    assert got == {("/deny", False), ("/deny/ok", True),
                   ("/*.php", False)}
    # lowercase caller agent selects the same group
    low = {(r.prefix, r.allow)
           for r in robotsfn.robots_rules(df, agent="ccbot").collect()}
    assert low == got
    # the wildcard pattern fires on any .php path; the '.' is escaped
    # so '/indexXphp' survives
    urls = spark.createDataFrame(
        [(1, "a.com", "/index.php"), (2, "a.com", "/deny/x"),
         (3, "a.com", "/deny/ok/x"), (4, "a.com", "/indexXphp")],
        "doc_id long, host string, path string")
    out = {r.doc_id: r.robots_blocked for r in robotsfn.apply_robots_rules(
        urls, robotsfn.robots_rules(df, agent="CCBot")).collect()}
    assert out == {1: True, 2: True, 3: False, 4: False}


def test_robots_wildcard_patterns(spark):
    """§2.2.3 special characters: ``*`` spans character runs, a
    trailing ``$`` anchors the end, mid-pattern ``$`` is literal,
    regex metacharacters in rule values are escaped, and specificity
    is the RAW rule-value length for wildcard and literal rules
    alike."""
    from clif_spark.functions import robots as robotsfn

    rules = spark.createDataFrame(
        [("a.com", "/a/*/sec", False),   # * spans a segment
         ("a.com", "/b$", False),        # $ anchors: /b only, not /bb
         ("a.com", "/c$d", False),       # mid-pattern $ is literal
         ("a.com", "/d/*.png$", False),  # escape + star + anchor
         ("a.com", "/a/", True)],        # shorter allow loses to /a/*/sec
        "host string, prefix string, allow boolean")
    urls = spark.createDataFrame(
        [(1, "a.com", "/a/x/sec"), (2, "a.com", "/a/x/y/sec"),
         (3, "a.com", "/a/open"),
         (4, "a.com", "/b"), (5, "a.com", "/bb"),
         (6, "a.com", "/c$d"), (7, "a.com", "/cXd"),
         (8, "a.com", "/d/i.png"), (9, "a.com", "/d/i.png.txt"),
         (10, "a.com", "/d/iXpng")],
        "doc_id long, host string, path string")
    out = {r.doc_id: r.robots_blocked for r in
           robotsfn.apply_robots_rules(urls, rules).collect()}
    assert out == {1: True, 2: True, 3: False,
                   4: True, 5: False,
                   6: True, 7: False,
                   8: True, 9: False, 10: False}


def test_robots_crawl_delay_parse_and_fallback(spark):
    """robots_crawl_delay: directive from the SELECTED groups (specific
    token, else '*' fallback), non-numeric values dropped, MAX kept
    when a host states several."""
    from clif_spark.functions import robots as robotsfn

    body_a = ("User-agent: googlebot\nCrawl-delay: 99\n\n"
              "User-agent: *\nCrawl-delay: 5\nDisallow: /x\n"
              "Crawl-delay: 2\n")        # two directives -> max 5
    body_b = "User-agent: *\nCrawl-delay: fast\n"   # junk -> dropped
    body_c = "User-agent: mybot\nCrawl-delay: 7\n"
    body_d = "User-agent: *\nCrawl-delay: 0.5\n"    # fractional -> ceil 1
    df = spark.createDataFrame(
        [("a.com", body_a), ("b.com", body_b), ("c.com", body_c),
         ("d.com", body_d)],
        "host string, robots_txt string")
    star = {r.host: r.crawl_delay_s
            for r in robotsfn.robots_crawl_delay(df).collect()}
    # 99 is googlebot-only; junk dropped; 0.5 ceils to 1 (the politest
    # integer reading — NOT a truncating cast)
    assert star == {"a.com": 5, "d.com": 1}
    # specific agent sees its own section; elsewhere falls back to '*'
    my = {r.host: r.crawl_delay_s
          for r in robotsfn.robots_crawl_delay(df, agent="mybot").collect()}
    assert my == {"a.com": 5, "c.com": 7, "d.com": 1}


def test_quality_classifier_weights_path_matches_hand_computation(spark):
    """The production path (trained weights vector as an array literal):
    score equals the hand computation token for token, and the logit
    threshold is monotone in sigmoid (the documented reason the gate
    thresholds on the logit)."""
    import hashlib

    from clif_spark.curation import quality_classifier_logit

    dim = 16
    weights = [round((i * 7 % 11) / 10 - 0.5, 2) for i in range(dim)]

    def bucket(tok: str) -> int:
        return int(hashlib.md5(f"qc:{tok}".encode()).hexdigest()[:8],
                   16) % dim

    rows = [(1, "alpha beta gamma"), (2, "Beta  beta beta"), (3, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.logit for r in df.select(
        "doc_id",
        quality_classifier_logit(
            F.col("text"), dim=dim, weights=weights, bias=0.25)
        .alias("logit")).collect()}
    for doc_id, text in rows:
        toks = text.strip().lower().split()
        expected = sum(weights[bucket(t)] for t in toks) / len(toks) + 0.25
        assert abs(out[doc_id] - expected) < 1e-12, (doc_id, toks)


def test_robots_parser_randomized_vs_reference(spark):
    """Seeded randomized differential test: 40 generated robots.txt
    bodies with random group structures (multi-agent groups, comments,
    blank lines, CRLF/LF mix, empty disallows, Allow lines, random
    casing) parsed by the Catalyst chain must match an independent
    pure-Python reference implementation of the same documented subset
    — one Spark job for all bodies, not one per example."""
    import random

    from clif_spark.functions import robots as robotsfn

    rng = random.Random(20260815)

    def ref_parse(body: str, agent: str = "*") -> set:
        """Independent reference: group = run of consecutive user-agent
        lines + following rules; Disallow-only; exact agent token."""
        rules, agents, in_ua_run = set(), [], False
        cur_agents: list = []
        for line in body.split("\n"):
            ln = line.replace("\r", "")
            ln = ln.split("#", 1)[0].strip().lower()
            if ln.startswith("user-agent:"):
                if not in_ua_run:
                    cur_agents = []
                cur_agents.append(ln[len("user-agent:"):].strip())
                in_ua_run = True
                continue
            in_ua_run = False
            if ln.startswith("disallow:"):
                pfx = ln[len("disallow:"):].strip()
                if pfx and agent in cur_agents:
                    rules.add(pfx)
        return rules

    agents_pool = ["*", "ccbot", "googlebot", "MyBot"]
    paths = ["/", "/a", "/a/b", "/search", "/tmp/", "/cgi-bin/x", ""]
    bodies = []
    for i in range(40):
        lines = []
        for _ in range(rng.randint(1, 4)):  # groups
            if rng.random() < 0.3:
                lines.append("# comment %d" % rng.randint(0, 9))
            for _ in range(rng.randint(1, 3)):  # agents per group
                a = rng.choice(agents_pool)
                key = rng.choice(["User-agent", "user-agent", "USER-AGENT"])
                lines.append(f"{key}: {a}")
            for _ in range(rng.randint(0, 4)):  # rules per group
                kind = rng.choice(["Disallow", "disallow", "Allow"])
                p = rng.choice(paths)
                cmt = "  # inline" if rng.random() < 0.2 else ""
                lines.append(f"{kind}: {p}{cmt}")
            # Sitemap: discovery lines may appear ANYWHERE (r12) — the
            # rules parser must ignore them wherever they land
            if rng.random() < 0.3:
                lines.append(f"Sitemap: https://cdn.example/s{_}.xml")
            if rng.random() < 0.5:
                lines.append("")
        sep = "\r\n" if i % 3 == 0 else "\n"
        bodies.append((f"h{i}.com", sep.join(lines)))
    df = spark.createDataFrame(bodies, "host string, robots_txt string")
    got: dict = {}
    for r in robotsfn.robots_disallow_rules(df).collect():
        got.setdefault(r.host, set()).add(r.disallow_prefix)
    for host, body in bodies:
        assert got.get(host, set()) == ref_parse(body), (host, body)


def test_robots_precedence_randomized_vs_reference(spark):
    """Seeded randomized differential for the FULL RFC 9309 chain:
    parse (Allow + Disallow) and longest-match application. 30
    generated bodies x 8 probe paths each; the Catalyst verdict must
    match an independent pure-Python reference of §2.2.2 (longest
    matching prefix decides, equal-length tie -> Allow, no match ->
    kept) — one Spark job for all probes."""
    import random

    from clif_spark.functions import robots as robotsfn

    rng = random.Random(20260816)

    def ref_groups(body: str) -> list:
        """[(agents, rules)] — group structure, shared by both refs."""
        groups, in_ua_run, cur = [], False, None
        for line in body.split("\n"):
            ln = line.replace("\r", "").split("#", 1)[0].strip().lower()
            if ln.startswith("user-agent:"):
                if not in_ua_run:
                    cur = (set(), [])
                    groups.append(cur)
                cur[0].add(ln[len("user-agent:"):].strip())
                in_ua_run = True
                continue
            in_ua_run = False
            if cur is None:
                continue
            for kw, allow in (("allow:", True), ("disallow:", False)):
                if ln.startswith(kw):
                    pfx = ln[len(kw):].strip()
                    if pfx:
                        cur[1].append((pfx, allow))
        return groups

    def ref_rules(body: str, agent: str = "*") -> set:
        """RFC 9309 §2.2.1 selection incl. the wildcard fallback: exact
        product-token groups if any exist, else the '*' groups."""
        groups = ref_groups(body)
        specific = [g for g in groups if agent in g[0]]
        chosen = specific or ([g for g in groups if "*" in g[0]]
                              if agent != "*" else [])
        return {r for g in chosen for r in g[1]}

    def ref_matches(rule: str, path: str) -> bool:
        """Independent §2.2.3 reference: trailing $ anchors, * spans,
        everything else literal — via re with escaped segments."""
        import re as _re
        if "*" not in rule and not rule.endswith("$"):
            return path.startswith(rule)
        anchored = rule.endswith("$")
        body = rule[:-1] if anchored else rule
        rx = ("^" + ".*".join(_re.escape(seg) for seg in body.split("*"))
              + ("$" if anchored else ""))
        return _re.search(rx, path) is not None

    def ref_blocked(rules: set, path: str) -> bool:
        hits = [(len(p), a) for p, a in rules if ref_matches(p, path)]
        if not hits:
            return False
        best_len = max(h[0] for h in hits)
        return not any(a for plen, a in hits if plen == best_len)

    paths_pool = ["/", "/a", "/a/b", "/a/b/c", "/search", "/search/x",
                  "/tmp/", "/pub", "/pub/ok", "/pub/ok/deep",
                  "/img/x.png", "/img/xypng",
                  # wildcard rule values mixed into the RULE pool below
                  "/a/*", "/*.png$", "/a*b", "/pub/*/deep", "/a/b$"]
    bodies, probes = [], []
    for i in range(30):
        lines = []
        for _ in range(rng.randint(1, 3)):
            for _ in range(rng.randint(1, 2)):
                lines.append("User-agent: "
                             + rng.choice(["*", "ccbot", "googlebot"]))
            for _ in range(rng.randint(0, 5)):
                kind = rng.choice(["Disallow", "Allow"])
                lines.append(f"{kind}: {rng.choice(paths_pool + [''])}")
            if rng.random() < 0.5:
                lines.append("")
        host = f"h{i}.com"
        bodies.append((host, "\n".join(lines)))
        for j, p in enumerate(rng.sample(paths_pool, 8)):
            probes.append((i * 100 + j, host, p))
    df = spark.createDataFrame(bodies, "host string, robots_txt string")
    urls = spark.createDataFrame(probes,
                                 "doc_id long, host string, path string")
    # three agent perspectives over the same bodies: the wildcard
    # crawler, an agent some bodies name (specific-group selection),
    # and an agent no body names (pure wildcard fallback)
    for agent in ("*", "ccbot", "unnamedbot"):
        rules = robotsfn.robots_rules(df, agent=agent)
        got = {r.doc_id: r.robots_blocked for r in
               robotsfn.apply_robots_rules(urls, rules).collect()}
        ref = {host: ref_rules(body, agent) for host, body in bodies}
        for doc_id, host, path in probes:
            assert got[doc_id] == ref_blocked(ref[host], path), \
                (agent, host, path, sorted(ref[host]))


def test_url_canonicalize_randomized_vs_reference(spark):
    """Seeded randomized differential: 120 generated URLs (random
    scheme/case/port/www/path-slash/query-order/tracking-param/fragment
    combinations) canonicalized by the Catalyst chain must match an
    independent pure-Python reference of the documented rule list —
    one Spark job for all of them."""
    import random
    import re

    from clif_spark.functions import url as urlfn

    unreserved = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                  "abcdefghijklmnopqrstuvwxyz0123456789-._~")

    def ref_pct(s: str) -> str:
        # RFC 3986 §6.2.2: decode unreserved escapes, uppercase the
        # hex of the rest, malformed escapes verbatim
        if "%" not in s:
            return s
        parts = s.split("%")
        out = [parts[0]]
        for p in parts[1:]:
            h = p[:2].upper()
            if not re.match(r"^[0-9A-F]{2}$", h):
                out.append("%" + p)
            elif chr(int(h, 16)) in unreserved:
                out.append(chr(int(h, 16)) + p[2:])
            else:
                out.append("%" + h + p[2:])
        return "".join(out)

    def ref_canon(url: str) -> str:
        u = re.sub(r"#.*$", "", url)
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", u)
        scheme = m.group(1).lower() if m else ""
        am = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", u)
        host = am.group(1).lower() if am else ""
        if scheme == "http":
            host = re.sub(r":80$", "", host)
        elif scheme == "https":
            host = re.sub(r":443$", "", host)
        host = re.sub(r"^www\.", "", host)
        pm = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", u)
        path = pm.group(1) if pm else ""
        path = path or "/"
        path = ref_pct(re.sub(r"^(.+?)/+$", r"\1", path))
        qm = re.search(r"\?([^#]*)", u)
        q = qm.group(1) if qm else ""
        keep = [x for x in (ref_pct(p) for p in q.split("&"))
                if x != ""
                and not x.split("=", 1)[0].startswith("utm_")
                and x.split("=", 1)[0] != "fbclid"]
        qs = "&".join(sorted(keep))
        return f"{scheme}://{host}{path}" + (f"?{qs}" if qs else "")

    rng = random.Random(20260815)
    schemes = ["http", "https", "HTTP", "HTTPS", "ftp"]
    hosts = ["Example.com", "www.example.com", "SUB.site.ORG", "a.b.c"]
    ports = ["", ":80", ":443", ":8080"]
    path_parts = ["", "/", "/a", "/a/b", "/a/b/", "/x//", "/a%20b",
                  "/art%69cles", "/a%2fb", "/p%", "/p%g1", "/%7e%2E%2f"]
    params = ["id=1", "b=2", "a=3", "utm_source=x", "utm_campaign=y",
              "fbclid=z", "id=fbclid", "utm", "", "k",
              "k=%7ex", "%75tm_source=x", "r=a%2fb", "m=%", "n=%zz"]
    frags = ["", "#top", "#sec/2"]
    urls = []
    for _ in range(120):
        q = "&".join(rng.sample(params, rng.randint(0, 5)))
        urls.append(
            rng.choice(schemes) + "://" + rng.choice(hosts)
            + rng.choice(ports) + rng.choice(path_parts)
            + (f"?{q}" if q or rng.random() < 0.2 else "")
            + rng.choice(frags))
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r.c for r in
           df.select(urlfn.canonicalize_url("url").alias("c"))
             .collect()]
    expected = [ref_canon(u) for u in urls]
    mism = [(u, g, e) for u, g, e in zip(urls, got, expected) if g != e]
    assert not mism, mism[:5]


def test_extract_main_content_block_classification(spark):
    """curation.extract_main_content: nav/footer (anchor-dominated)
    and short blocks drop; prose blocks keep, INCLUDING inline anchor
    text (content, not chrome); a script-body <a> decoy must be
    removed page-level before the block split; entities decode in the
    kept text; density boundary is integer percent."""
    from pyspark.sql import functions as F

    from clif_spark import curation

    prose = ("This is a long enough paragraph of body prose that "
             "easily clears the minimum block length threshold.")
    page = (
        '<html><head><script>var x = "<a href=j>ghost</a>";</script>'
        "</head><body>"
        '<nav><a href="/">Home</a> <a href="/a">About page</a> '
        '<a href="/c">Contact link</a></nav>'
        "<div>tiny</div>"
        f"<p>{prose} With an inline <a href=\"/r\">anchor text</a> "
        "and an entity: a &amp; b.</p>"
        '<footer><a href="/t">Terms of service text</a> '
        '<a href="/p">Privacy policy text</a> (c)</footer>'
        "</body></html>")
    df = spark.createDataFrame([(page,)], ["html"])
    out = df.select(curation.extract_main_content(
        F.col("html")).alias("m")).collect()[0].m
    assert prose in out
    assert "anchor text" in out          # inline link text is content
    assert "a & b." in out               # entity decoded
    assert "ghost" not in out            # script decoy never a block
    assert "Home" not in out             # nav dropped
    assert "Privacy policy" not in out   # footer dropped
    assert "tiny" not in out             # under min block chars


def test_registered_domains_psl_wildcard_exception_and_case(spark):
    """The full PSL rule algebra (r14): '*.ck' makes any direct
    subdomain a public suffix (one extra label consumed; bare 'ck'
    falls through to the default rule), '!www.ck' overrides the
    wildcard making www.ck registrable (and deeper hosts register to
    it), exceptions beat longer wildcard matches, and matching is
    case-insensitive with original host bytes preserved."""
    from clif_spark.functions import url as U

    hosts = spark.createDataFrame(
        [("foo.bar.ck",), ("bar.ck",), ("www.ck",), ("sub.www.ck",),
         ("ck",), ("Shop.MegaCorp.CO.UK",), ("plain.zz",)],
        "host string")
    rules = spark.createDataFrame(
        [("co.uk",), ("*.ck",), ("!www.ck",)], "rule string")
    got = {r.host: (r.public_suffix, r.reg_domain)
           for r in U.registered_domains(hosts, rules).collect()}
    assert got == {
        "foo.bar.ck": ("bar.ck", "foo.bar.ck"),   # wildcard +1 label
        "bar.ck": ("bar.ck", None),               # host IS wild suffix
        "www.ck": ("ck", "www.ck"),               # exception wins
        "sub.www.ck": ("ck", "www.ck"),           # registers to www.ck
        "ck": ("ck", None),                       # wildcard needs +1
        "Shop.MegaCorp.CO.UK":                    # case-insensitive,
            ("co.uk", "megacorp.co.uk"),          # lowercase outputs
        "plain.zz": ("zz", "plain.zz"),           # default rule
    }


def test_registered_domains_rejects_single_label_exception(spark):
    """r14 review catch: a '!ck' exception has no suffix left after
    dropping its leftmost label — fail loud instead of emitting an
    empty public_suffix."""
    import pytest

    from clif_spark.functions import url as U

    hosts = spark.createDataFrame([("foo.ck",)], "host string")
    rules = spark.createDataFrame([("*.ck",), ("!ck",)], "rule string")
    with pytest.raises(ValueError, match="single-label exception"):
        U.registered_domains(hosts, rules)
