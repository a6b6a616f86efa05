"""Corpus-curation operators for training-data pipelines (north star:
BASELINE.json): PII redaction, TF-IDF salient terms, benchmark
decontamination, token-budget sequence packing, and embedding int8
quantization.

Everything is Catalyst-native column expressions or shuffle-bounded
DataFrame plans — no Python UDFs — so each operator scales with input
splits. Scale notes per operator:

- PII redaction is a pure narrow projection (regexp_count/regexp_replace
  inside whole-stage codegen): zero shuffles at any corpus size.
- TF-IDF shuffles twice, both on the term key with map-side combine
  (document frequency, then per-doc ranking window keyed on the doc) —
  the vocabulary relation is orders of magnitude smaller than the corpus.
- Decontamination broadcasts the EVAL-side shingle set: benchmark suites
  are fixed-size (thousands of docs) regardless of corpus scale, so the
  corpus side streams map-only against a broadcast hash set — the only
  formulation that survives 100 TB.
- Sequence packing partitions by a shard key and packs within shards
  (window cumulative sum): packing parallelism = shard count, and no
  global coordination — the trade every distributed packer makes.
- Quantization is per-row HOF arithmetic: narrow, embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clif_spark.functions.text import tokens
from clif_spark.operators.core import materialize

#: PII patterns shared by the Spark and oracle forms. Kept RE2-compatible
#: (no lookaround/backreferences) so Java regex (Spark) and RE2 (DuckDB)
#: match identically.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{2,6}"


def pii_counts(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts for a text column."""
    return (F.regexp_count(col, F.lit(PII_EMAIL_RE)).cast("long"),
            F.regexp_count(col, F.lit(PII_PHONE_RE)).cast("long"))


def redact_pii(col: Column) -> Column:
    """Mask emails then phone numbers with typed placeholder tokens."""
    return F.regexp_replace(
        F.regexp_replace(col, PII_EMAIL_RE, "[EMAIL]"),
        PII_PHONE_RE, "[PHONE]")


#: html_to_text's regex passes, in order. Shared with the DuckDB oracle
#: mirror (queries/web.py builds the identical regexp_replace chain), so
#: the extraction rules live in exactly one place.
HTML_STRIP_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),  # executable, never content
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),                  # comments (can nest tags)
    (r"(?is)</?(p|br|div|h[1-6]|li|tr|td|th)\b[^>]*>", " "),
    (r"<[^>]+>", ""),                          # inline tags join words
]

#: Entity decode pairs; ``&amp;`` is deliberately LAST so escaped escapes
#: ("&amp;lt;") resolve to the literal "&lt;" and not to "<".
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
]


def html_to_text(col: Column) -> Column:
    """HTML -> visible text: the boilerplate-strip step between a crawl
    archive (clif_spark.warc) and every text operator in this module.

    All Catalyst regexp/replace — whole-stage codegen, zero Python, zero
    shuffles, linear per doc; at 100 TB this runs fused into the same
    stage as the WARC parse output it consumes. Rules (block-level tags
    become spaces so words don't fuse; inline tags vanish; entities
    decode after tag removal; whitespace collapses) are the standard
    text-extraction core of C4/CC-Net-style pipelines — deliberately
    rule-based: layout-aware readability extraction is a model, not an
    engine primitive."""
    out = col
    for pat, repl in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, repl)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


#: Block-boundary tags for the main-content extractor: a page splits
#: into candidate text blocks at these (the jusText/boilerpipe block
#: grain). Shared with the DuckDB oracle mirror.
MAIN_BLOCK_SPLIT_RE = (
    r"(?is)</?(p|div|section|article|aside|nav|header|footer|ul|ol|li"
    r"|h[1-6]|table|tr|td|th|br)\b[^>]*>")

MAIN_MIN_BLOCK_CHARS = 30
#: link_density above this marks a block as boilerplate (navigation,
#: footers, related-links rails are anchor-dominated; body prose is not)
MAIN_MAX_LINK_DENSITY_PCT = 33


def _block_visible(x: Column) -> Column:
    """Visible text of one block: script/style/comment removal happened
    page-level before the split; here inline tags drop, entities decode,
    whitespace collapses — html_to_text's tail, per block."""
    out = F.regexp_replace(x, r"<[^>]+>", " ")
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def extract_main_content(col: Column) -> Column:
    """HTML -> MAIN-content text by block link-density classification —
    the boilerplate-removal step between raw extraction and quality
    scoring (jusText / boilerpipe's core heuristic, rule-based like
    everything in this module: navigation, footers, and related-links
    rails are anchor-dominated; body prose is not). ``html_to_text``
    keeps every visible character including nav/footer chrome; THIS
    keeps only blocks that read like content:

    1. script/style/comment content drops page-level (never text);
    2. the page splits into candidate blocks at block-level tag
       boundaries (MAIN_BLOCK_SPLIT_RE);
    3. per block: visible text, anchor-enclosed visible text, and the
       integer-percent link density len(anchor_text)*100/len(text);
    4. blocks survive with >= MAIN_MIN_BLOCK_CHARS visible chars AND
       link density <= MAIN_MAX_LINK_DENSITY_PCT; survivors join with
       one space.

    Density is INTEGER percent (floor division both engines) so the
    gate is bit-exact — no float ratio crosses the oracle boundary.
    Pure Catalyst: page-level regexp passes + one split + one
    higher-order filter/transform; fused, shuffle-free, linear per
    page. DuckDB mirror beside the gated row (queries/web.py
    text_main_content) — keep rule-for-rule in sync."""
    return F.array_join(
        F.transform(main_content_blocks(col), _block_visible), " ")


def main_content_blocks(col: Column) -> Column:
    """The kept-blocks ARRAY under ``extract_main_content`` (steps 1-2
    + the step-4 survival filter), exposed so a caller needing BOTH the
    joined text and a block statistic can alias this array once in its
    own Project and derive both from the shared value — spelling the
    chain twice defeats codegen's subexpression elimination across
    higher-order-function trees and re-runs every page-level regex
    (r17; measured 2x at sf0.1 in text_main_content)."""
    page = col
    for pat, repl in HTML_STRIP_STEPS[:3]:  # script / style / comments
        page = F.regexp_replace(page, pat, repl)
    blocks = F.split(page, MAIN_BLOCK_SPLIT_RE)
    return F.filter(blocks, _main_block_keeps)


def _main_block_keeps(x: Column) -> Column:
    """The per-block survival predicate (module-level so gated rows can
    count kept blocks with the identical rule)."""
    vis = _block_visible(x)
    atext = _block_visible(F.array_join(F.regexp_extract_all(
        x, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), F.lit(1)), " "))
    density = F.floor(F.length(atext) * 100 /
                      F.greatest(F.length(vis), F.lit(1)))
    return ((F.length(vis) >= MAIN_MIN_BLOCK_CHARS)
            & (density <= MAIN_MAX_LINK_DENSITY_PCT))


def tfidf_top_terms(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 3) -> DataFrame:
    """Top-k salient terms per document by TF-IDF.

    idf uses the log-free ratio form ``(N + 1) / (df + 1)``: the ranking is
    identical to the log form (log is monotone) and the score stays exact
    rational double arithmetic — no cross-engine libm (ln) last-ulp
    divergence to flip a rounded digit or a rank tie.

    Output: (doc_id, term, rank, tfidf) with rank 1..k, ties broken by
    term. Shuffle geometry: one term-keyed aggregate for document
    frequency (map-side combined), one term-keyed join back, one doc-keyed
    window — every stage keyed, nothing driver-side.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
    # Corpus size as a broadcast 1-row relation, not a driver-side action:
    # the plan stays lazy and the count rides the same job.
    nd = docs.agg(F.countDistinct(id_col).cast("double").alias("n_corpus"))
    tf = (toks.groupBy("doc", "term")
              .agg(F.count(F.lit(1)).alias("n"))
              .withColumn("doc_len",
                          F.sum("n").over(Window.partitionBy("doc"))))
    df_ = (toks.distinct().groupBy("term")
               .agg(F.count(F.lit(1)).alias("df")))
    scored = (tf.join(df_, "term")
                .crossJoin(F.broadcast(nd))
                .select("doc", "term",
                        F.round((F.col("n") / F.col("doc_len"))
                                * ((F.col("n_corpus") + F.lit(1.0))
                                   / (F.col("df") + F.lit(1))), 6)
                         .alias("tfidf")))
    w = Window.partitionBy("doc").orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k)
                  .select(F.col("doc").alias(id_col), "term", "rank", "tfidf"))


def contamination_overlap(corpus: DataFrame, eval_df: DataFrame,
                          id_col: str = "doc_id", text_col: str = "text",
                          n: int = 5) -> DataFrame:
    """Benchmark-decontamination check: per corpus document, the number of
    distinct word n-grams it shares with ANY eval-set document.

    The eval side is reduced to a distinct-shingle set and broadcast —
    benchmark suites stay benchmark-sized however large the corpus grows,
    so the corpus side is a map-only probe (no corpus-wide shuffle until
    the per-doc count, which is keyed and map-side combined).

    Output: (doc_id, n_shared) for documents with at least one collision.
    """
    from clif_spark.functions.text import word_ngrams

    def shingles(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("doc"),
            F.explode(F.array_distinct(
                word_ngrams(F.lower(F.col(text_col)), n))).alias("sh"))

    eval_sh = shingles(eval_df).select("sh").distinct()
    return (shingles(corpus)
            .join(F.broadcast(eval_sh), "sh")
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .select(F.col("doc").alias(id_col), "n_shared"))


def pack_sequences(docs: DataFrame, budget: int, shards: int,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Token-budget sequence packing: assign documents to training-sequence
    bins of ``budget`` tokens, packing greedily in id order within
    ``shards`` parallel lanes (shard = id % shards).

    Chunk-straddle semantics (the concat-then-split layout LLM training
    uses): the running token total within a shard is cut every ``budget``
    tokens, so a document may straddle two bins and is assigned to the bin
    its first token lands in. One window over (shard, id) — packing is
    deterministic, embarrassingly parallel across shards, and needs no
    driver-side loop; shard count is the packing-parallelism dial at scale.

    Output per bin: (shard, bin, n_docs, bin_tokens).
    """
    did = F.col(id_col)
    w = (Window.partitionBy("shard").orderBy(id_col)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toks = docs.select(
        did.alias(id_col),
        (did % shards).cast("long").alias("shard"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"))
    binned = toks.withColumn(
        "bin", F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens"))
                       / F.lit(budget)).cast("long"))
    return (binned.groupBy("shard", "bin")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("n_tokens").alias("bin_tokens")))


def quantize_int8(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization with reconstruction error.

    scale = amax / 127; q_i = floor(x_i / scale + 0.5) (half-up, identical
    IEEE ops both engines). Output per vector: amax (round 6), checksum =
    Σ q_i (exact integer — the cross-engine bit-identity witness), and
    max_err = max |x_i - q_i * scale| (round 6). Pure narrow HOF
    arithmetic; zero-vector guard emits amax 0 / checksum 0 / err 0.
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)))
    err = F.round(F.aggregate(
        F.zip_with(v, q, lambda x, qq: F.abs(x - qq * scale)),
        F.lit(0.0), lambda a, e: F.greatest(a, e)), 6)
    out = (emb.select(
        F.col(id_col),
        F.round(amax, 6).alias("amax"),
        F.when(amax == 0, F.lit(0)).otherwise(
            F.aggregate(q, F.lit(0).cast("long"),
                        lambda a, x: a + x.cast("long"))).alias("checksum"),
        F.when(amax == 0, F.lit(0.0)).otherwise(err).alias("max_err")))
    return out


def c4_line_filter(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   min_words: int = 3) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 heuristics,
    re-expressed as Catalyst HOFs): keep only lines that end in terminal
    punctuation and carry at least ``min_words`` words; drop whole
    documents that contain code braces or the 'lorem ipsum' placeholder.

    Output: (doc_id, n_lines, n_kept, clean_text). Pure narrow projection
    — split/filter/join run inside the JVM per row, zero shuffles at any
    corpus size; the dropped-document predicate pushes into the scan."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    keep = F.filter(
        lines,
        lambda x: (F.size(F.split(F.trim(x), " +")) >= min_words)
        & F.trim(x).rlike('[.!?"]$'))
    return (docs.filter(~F.lower(text).contains("lorem ipsum")
                        & ~text.contains("{"))
                .select(F.col(id_col),
                        F.size(lines).cast("long").alias("n_lines"),
                        F.size(keep).cast("long").alias("n_kept"),
                        F.array_join(keep, "\n").alias("clean_text")))


def rare_bigram_score(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      rare_denom: int = 2000) -> DataFrame:
    """Corpus-trained character-bigram rarity score — the deterministic
    core of a perplexity-style quality filter (CCNet/KenLM's "does this
    text look like the corpus?" signal, without the float log-likelihoods
    that cannot hash-match across engines' libm builds).

    Two-pass distributed LM shape: pass 1 aggregates the corpus-wide
    bigram frequency table (the "model" — vocabulary is bounded by
    |alphabet|^2, so it broadcasts by construction at ANY corpus size);
    pass 2 re-derives each document's bigrams and joins them against the
    broadcast model. A bigram is "rare" when its corpus frequency is
    below 1/``rare_denom``; the score is the rare fraction in exact
    integer ppm (floor-division — no float in the data path at all, so
    a production run can threshold on it reproducibly).

    Output: (id, total_bigrams, rare_bigrams, rare_ppm). Plan: one
    shuffle to build the model, a broadcast join + one keyed aggregate to
    score — the same shape a real n-gram LM scorer needs at 100 TB.
    """
    bigrams = F.expr(
        f"transform(sequence(1, length({text_col}) - 1),"
        f" i -> substring({text_col}, i, 2))")
    # length<2 guard: Spark's sequence(1, 0) yields a DESCENDING [1, 0],
    # not an empty array — short docs must be excluded, as they are in the
    # oracle (DuckDB's range(1, 1) is empty, so they emit no bigrams).
    bg = (docs.filter(F.length(text_col) >= 2)
              .select(id_col, F.explode(bigrams).alias("bg")))
    cnt = bg.groupBy("bg").agg(F.count("*").alias("c"))
    tot = cnt.agg(F.sum("c").alias("t"))
    model = cnt.crossJoin(F.broadcast(tot)).select(
        "bg",
        (F.col("c") * rare_denom < F.col("t")).cast("long").alias("rare"))
    return (bg.join(F.broadcast(model), "bg")
              .groupBy(id_col)
              .agg(F.count("*").alias("total_bigrams"),
                   F.sum("rare").alias("rare_bigrams"))
              .withColumn("rare_ppm",
                          F.expr("div(rare_bigrams * 1000000,"
                                 " total_bigrams)")))


def repeated_ngram_profile(docs: DataFrame, n: int = 8,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           shape: str = "window") -> DataFrame:
    """Corpus-level repeated n-gram profiling — the candidate-generation
    half of exact-substring training-data dedup (Lee et al. 2022): every
    word-position n-gram is checked for repetition ANYWHERE in the corpus
    (intra- or cross-document), and each document reports how much of it
    is duplicated text.

    Output: (doc_id, n_grams, n_repeated). Documents shorter than ``n``
    words produce no grams and are absent.

    Two scale shapes (A/B'd at sf1, BASELINE.md round 5):

    - ``"window"`` (default, 2.1x faster: 25.9 vs 55.1 s): derive the
      (doc, gram) relation ONCE, count occurrences with an unbounded
      window over the gram partition, re-aggregate per document. One
      corpus scan and two exchanges; the gram exchange carries every row
      (no map-side combine), and a pathologically hot gram lands its
      copies on one reducer — acceptable for natural-text corpora where
      gram frequency is Zipfian but bounded.
    - ``"join"``: count per gram with a map-side-combined aggregate, then
      shuffle-join the counts back. Derives the gram relation twice (two
      corpus scans) but the combiner collapses hot grams to one row per
      partition — the shape for corpora with adversarially repeated
      content (boilerplate-dominated crawls).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    gram_idx = F.when(
        F.size(words) >= n,
        F.sequence(F.lit(0), F.size(words) - n)).otherwise(
        F.array().cast("array<int>"))
    grams = (docs.select(
                 F.col(id_col),
                 F.explode(F.transform(
                     gram_idx,
                     lambda i: F.concat_ws(" ", F.slice(words, i + 1, n))))
                 .alias("gram")))
    if shape == "window":
        counted = grams.withColumn(
            "__c", F.count(F.lit(1)).over(Window.partitionBy("gram")))
    else:
        counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__c"))
        counted = grams.join(counts, "gram")
    return (counted.groupBy(id_col)
                   .agg(F.count(F.lit(1)).alias("n_grams"),
                        F.sum((F.col("__c") > 1).cast("long"))
                         .alias("n_repeated")))


def mix_epochs(docs: DataFrame, epochs: dict[str, float],
               source_col: str = "source", key_col: str = "doc_id",
               seed: str = "epoch", default: float = 1.0) -> DataFrame:
    """Fractional-epoch dataset mixing — the execution half of a data
    recipe (temperature_mix chooses the per-source rates; this MATERIALIZES
    them): every document of source s appears floor(e_s) times, plus one
    more copy iff its deterministic hash-draw falls below frac(e_s). So
    epochs=2.5 repeats the whole source twice and a uniform half of it a
    third time — expected copy count exactly e_s, zero RNG state, and the
    same documents get the extra copy on every run/engine/partitioning
    (the property that keeps downstream packing and dedup reproducible).

    Output adds an ``epoch`` column (1..reps) so downstream shuffling/
    packing can interleave copies instead of emitting them adjacent.

    Scale shape: the epochs table folds into a CASE literal (recipe-sized),
    the draw is a narrow hash, and the repeat is a per-row explode of at
    most ceil(max epochs) elements — no join, no shuffle, output size
    sum(e_s * n_s) by construction."""
    from clif_spark import sampling

    expr_whole, expr_frac = None, None
    for s, e in epochs.items():
        w, fr = int(e), round(e - int(e), 6)
        cond = F.col(source_col) == s
        expr_whole = (F.when(cond, w) if expr_whole is None
                      else expr_whole.when(cond, w))
        expr_frac = (F.when(cond, fr) if expr_frac is None
                     else expr_frac.when(cond, fr))
    if expr_whole is None:  # empty recipe: every source at `default`
        expr_whole = F.lit(int(default))
        expr_frac = F.lit(round(default - int(default), 6))
    else:
        expr_whole = expr_whole.otherwise(int(default))
        expr_frac = expr_frac.otherwise(round(default - int(default), 6))
    reps = (expr_whole
            + (sampling.u01(key_col, seed) < expr_frac).cast("int"))
    return (docs.withColumn("__reps", reps)
                .withColumn("epoch", F.explode(F.expr(
                    "CASE WHEN __reps >= 1 THEN sequence(1, __reps)"
                    " ELSE CAST(array() AS ARRAY<INT>) END")))
                .withColumn("epoch", F.col("epoch").cast("long"))
                .drop("__reps"))


def temperature_mix(docs: DataFrame, source_col: str = "source",
                    key_col: str = "doc_id",
                    temperature: float = 2.0,
                    seed: str = "mix") -> DataFrame:
    """Temperature-flattened source mixing — the multilingual/multi-source
    rebalance step of an LLM data recipe (the alpha = 1/T convention of
    multilingual-pretraining sampling): keep fraction
    ``(n_min / n_source) ** (1 - 1/T)`` of each source, so kept counts
    scale as ``n_source ** (1/T)`` — T=1 keeps everything (proportional),
    T→∞ keeps n_min of every source (uniform) — with the smallest source
    always kept whole. Membership is the deterministic hash of
    (seed, key): reproducible at any parallelism.

    T=2 uses SQRT, which IEEE-754 requires to be correctly rounded — the
    fraction is bit-identical across engines, so the hash threshold
    cannot flip a document near the boundary (POWER for general T carries
    no such guarantee; oracle-gate only the sqrt form).

    Scale shape: per-source counts are a dimension-sized aggregate
    (sources, not documents), broadcast back over the scan; the filter
    itself is a narrow expression."""
    from clif_spark import sampling

    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    n_min = counts.agg(F.min("__n").alias("__n_min"))
    enriched = (docs.join(F.broadcast(counts), source_col)
                    .crossJoin(F.broadcast(n_min)))
    if temperature == 2.0:
        frac = F.sqrt(F.col("__n_min").cast("double") / F.col("__n"))
    else:
        frac = F.pow(F.col("__n_min").cast("double") / F.col("__n"),
                     1.0 - 1.0 / temperature)
    return (enriched.filter(sampling.u01(key_col, seed) < frac)
                    .drop("__n", "__n_min"))


def remove_repeated_ngram_spans(docs: DataFrame, n: int = 8,
                                id_col: str = "doc_id",
                                text_col: str = "text") -> DataFrame:
    """The second half of exact-substring dedup (Lee et al. 2022):
    corpus-repeated word n-grams are merged into maximal overlapping SPANS
    per document, and the covered words are cut out of the text.

    Output: (doc_id, n_words, n_removed, clean_text) — clean_text is the
    original word sequence minus every span, '' when the whole document is
    repeated text. Docs shorter than ``n`` words carry no spans.

    All DataFrame algebra, no UDFs:
      1. gram occurrences counted with a window over the gram partition
         (the shape A/B'd in repeated_ngram_profile);
      2. repeated positions interval-merged per document with the classic
         gap-merge pair of windows (running max-end lagged one row ->
         new-span flag -> running sum = span id);
      3. spans exploded back to covered word indexes (bounded by document
         length), anti-joined against the positioned word relation;
      4. surviving words re-joined in order via sort_array(collect_list(
         struct(idx, word))) — the deterministic ordered-agg idiom (A15).
    Every shuffle is keyed on doc_id (or gram) — bucket the corpus by
    doc_id and stages 2-4 are exchange-free."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(F.col(id_col).alias("doc_id"),
                       words.alias("w"))
    gram_idx = F.when(
        F.size("w") >= n,
        F.sequence(F.lit(0), F.size("w") - n)).otherwise(
        F.array().cast("array<int>"))
    grams = base.select(
        "doc_id",
        F.posexplode(F.transform(
            gram_idx, lambda i: F.concat_ws(" ", F.slice("w", i + 1, n))))
        .alias("pos", "gram"))
    rep = (grams
           .withColumn("__c", F.count(F.lit(1)).over(
               Window.partitionBy("gram")))
           .filter(F.col("__c") > 1)
           .select("doc_id", "pos"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + n).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1))
    flagged = rep.withColumn(
        "__new", (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)))
        .cast("long"))
    spans = (flagged
             .withColumn("__sid", F.sum("__new").over(
                 w_doc.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy("doc_id", "__sid")
             .agg(F.min("pos").alias("s"),
                  F.max(F.col("pos") + n).alias("e")))
    covered = (spans.select(
                   "doc_id",
                   F.explode(F.sequence(F.col("s"), F.col("e") - 1))
                   .alias("idx"))
               .distinct())
    wordidx = base.select(
        "doc_id", F.size("w").alias("n_words"),
        F.posexplode("w").alias("idx", "word"))
    kept = wordidx.join(covered, ["doc_id", "idx"], "left_anti")
    kept_agg = (kept.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("__kept"),
                     F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(
                                 F.struct("idx", "word"))),
                             lambda x: x["word"]), " ").alias("clean_text")))
    return (base.select("doc_id", F.size("w").cast("long").alias("n_words"))
                .join(kept_agg, "doc_id", "left")
                .select(
                    "doc_id", "n_words",
                    (F.col("n_words")
                     - F.coalesce(F.col("__kept"), F.lit(0))).cast("long")
                    .alias("n_removed"),
                    F.coalesce(F.col("clean_text"), F.lit(""))
                    .alias("clean_text")))


def chunk_windows(docs: DataFrame, size: int = 20, stride: int = 15,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Overlapping token-window chunking — the retrieval-corpus prep step
    (RAG indexing) that cuts each document into ``size``-token windows
    every ``stride`` tokens, so no sentence is lost at a hard boundary
    (the chunk_dedup/pack_sequences grain is disjoint; this one overlaps
    by design, overlap = size - stride).

    Chunk count: 1 for docs of <= ``size`` tokens, else
    1 + ceil((n - size) / stride) — the last window may be short, never
    empty. Pure narrow HOF projection over the scan: zero shuffles at
    any corpus size; emitted token counts are the index's length column.

    Output: (id, chunk_id, n_tokens, chunk_text).
    """
    if not 0 < stride <= size:
        raise ValueError(
            f"stride must be in (0, size]: stride={stride} size={size} "
            "(stride > size would silently drop the tokens between "
            "windows and emit empty trailing chunks)")
    toks = f"split({text_col}, ' ')"
    n_chunks = (f"CASE WHEN size({toks}) <= {size} THEN 1"
                f" ELSE cast(ceil((size({toks}) - {size}) / {stride}.0)"
                f" as int) + 1 END")
    windows = F.expr(
        f"transform(sequence(0, {n_chunks} - 1),"
        f" i -> slice({toks}, i * {stride} + 1, {size}))")
    return (docs.filter(F.col(text_col).isNotNull())
                .select(id_col, F.posexplode(windows).alias("chunk_id",
                                                            "__w"))
                .select(id_col, F.col("chunk_id").cast("long"),
                        F.size("__w").cast("long").alias("n_tokens"),
                        F.array_join("__w", " ").alias("chunk_text")))


def bm25_rational_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
                       k1: float = 1.2, b: float = 0.75,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """BM25-shaped ranked retrieval with fully rational arithmetic — the
    batch scoring half of a search index (the chunk_windows output is
    the natural input corpus).

    Two documented deviations from textbook BM25, both forced by the
    engine-exactness contract (the tfidf_top_terms rationale):
    - idf is the log-FREE ratio (N - df + 0.5)/(df + 0.5) + 1. Unlike
      tfidf's per-term ranking, BM25 SUMS contributions, so this is not
      ranking-equivalent to log idf — it up-weights rare terms more
      aggressively. It remains a coherent, monotone-in-rarity scorer.
    - per-(doc, term) contributions are rounded to integer micros and
      summed as BIGINT (the dsum trick), so the per-doc total is
      order-independent and bit-identical across engines.
    The length normalization dl/avgdl is computed as the exact rational
    dl * N / total_tokens (no pre-divided average), keeping one fixed
    IEEE op sequence.

    Shuffle geometry: the query-term filter prunes the explode to
    matching postings, the per-term df and corpus totals are
    dimension-sized broadcasts, and the final per-doc sum is one keyed
    aggregate. Output: (id, score_micros, rank), rank 1..k.
    """
    # Document tokens are lowercased below, so mixed-case query terms
    # would silently match zero postings — fold them here instead of
    # making every caller remember the casing contract.
    terms = F.array(*[F.lit(t.lower()) for t in query_terms])
    # Literal single-space split, NOT the \s+ tokens() helper: this is
    # the token grain chunk_windows uses and the one the oracle mirrors
    # (string_split) — mixing grains would make dl disagree with the
    # chunk lengths on whitespace-irregular text. Normalize whitespace
    # upstream (c4_line_filter territory) before scoring.
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"))
    dl = docs.select(
        F.col(id_col).alias("doc"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("dl"))
    corpus = docs.agg(
        F.countDistinct(id_col).cast("double").alias("n_docs"))
    total = dl.agg(F.sum("dl").cast("double").alias("total_tokens"))
    tf = (toks.filter(F.array_contains(terms, F.col("term")))
              .groupBy("doc", "term").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(df_), "term")
                .join(dl, "doc")
                .crossJoin(F.broadcast(corpus))
                .crossJoin(F.broadcast(total)))
    idf = ((F.col("n_docs") - F.col("df") + F.lit(0.5))
           / (F.col("df") + F.lit(0.5)) + F.lit(1.0))
    norm = (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
            + F.lit(b) * F.col("dl") * F.col("n_docs")
            / F.col("total_tokens")))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm
    per_doc = (scored
               .select("doc", F.floor(contrib * F.lit(1000000.0)
                                      + F.lit(0.5)).cast("long")
                       .alias("c"))
               .groupBy("doc").agg(F.sum("c").alias("score_micros")))
    w = Window.orderBy(F.col("score_micros").desc(), F.col("doc"))
    return (per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
                   .filter(F.col("rank") <= k)
                   .select(F.col("doc").alias(id_col),
                           "score_micros", "rank"))


def unigram_surprisal(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      counts: DataFrame | None = None) -> DataFrame:
    """Per-document UNIGRAM-LM cross-entropy in WHOLE BITS — the
    CCNet/KenLM perplexity-filtering idea (Wenzek et al. 2020: score
    each document under a language model, keep the middle band —
    too-predictable is boilerplate, too-surprising is noise) made
    engine-exact: a token's surprisal under the corpus unigram model
    is -log2(c/N) = log2(N/c) bits, and its WHOLE-BIT floor is
    computed with pure integer arithmetic as

        floor(log2(N / c)) = length(bin(N // c)) - 1

    (exact: for x >= 1, floor(log2(floor(x))) == floor(log2(x)) — no
    power of two lies strictly between floor(x) and x). Both engines
    share the identity, so per-token bits are BIGINTs and a
    document's total is an order-independent integer sum — the dsum
    discipline applied to an information measure; no libm, no
    tolerance band. The deliberate granularity cost: whole bits
    quantize surprisal (a 3.9-bit token counts 3) — fine for the
    band-pass filtering use; a production LM filter plugs its own
    scores into the same groupBy.

    Returns (id, n_tokens, total_bits, mean_bits) — mean_bits =
    total/count, one deterministic float division.

    ``counts`` (term, c) substitutes a PRECOMPUTED vocabulary
    histogram for the in-query aggregation — the incremental-
    maintenance hook: a standing histogram kept by additive folds
    (streaming.fold_agg_snapshot) scores each new delivery at
    O(delivery + vocab) instead of re-tokenizing the whole corpus,
    and because counts merge by exact integer SUM the standing
    histogram equals the batch recompute bit-for-bit (gated by
    text_surprisal_incremental). The caller owns the contract that
    ``counts`` covers every token of ``docs`` (an inner join drops
    unseen terms — scoring docs outside the histogram's corpus needs
    a fold first).

    Scale shape: one tokenize pass -> vocabulary-sized count relation
    (BROADCAST back to the exploded tokens — the corpus-stats join is
    map-side), one keyed sum per doc. N is a single-row aggregate
    broadcast, never collected."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("term"))
    if counts is None:
        counts = toks.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("c"))
    else:
        counts = counts.select("term", F.col("c").cast("long"))
    total = counts.agg(F.sum("c").cast("long").alias("ntot"))
    bits = (F.length(F.bin(F.expr("ntot div c"))) - F.lit(1)) \
        .cast("long")
    per_doc = (toks.join(F.broadcast(counts), "term")
               .crossJoin(F.broadcast(total))
               .select("doc", bits.alias("b"))
               .groupBy("doc")
               .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                    F.sum("b").cast("long").alias("total_bits")))
    return per_doc.select(
        F.col("doc").alias(id_col), "n_tokens", "total_bits",
        (F.col("total_bits") / F.col("n_tokens")).cast("double")
         .alias("mean_bits"))


def pmi_collocations(docs: DataFrame, k: int = 20,
                     min_pair_count: int = 5,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Top-k word COLLOCATIONS by positive pointwise mutual
    information in WHOLE BITS — the classic corpus-analysis signal
    (Church & Hanks 1990) for multiword-expression discovery,
    tokenizer-merge candidates, and boilerplate phrase detection:
    PMI(x,y) = log2(p(xy) / (p(x)p(y))) measures how much more often
    the bigram occurs than independence predicts. The whole-bit floor
    is exact integer arithmetic via the unigram_surprisal identity:

        floor(log2((c_xy * N_uni) / (c_x * c_y)))
          = length(bin((c_xy * N_uni) div (c_x * c_y))) - 1

    computed only where the ratio floors to >= 1 (POSITIVE PMI — the
    standard PPMI cut; sub-independence pairs carry no collocation
    signal), with ``min_pair_count`` pruning the unstable low-count
    tail exactly as practitioners do. Overflow bound: c_xy * N_uni
    needs < 2^63 — safe while pair count x corpus tokens stays under
    9.2e18 (any realistic shard; partition the corpus first beyond
    that).

    Note the deliberate estimator simplification: p(xy) uses the
    UNIGRAM total N as denominator rather than the bigram total
    (N - n_docs) — a constant factor inside the log that shifts every
    PMI equally, irrelevant for ranking and stated for readers.

    Returns (bigram, n_pair, pmi_bits, rank), rank 1..k by
    (pmi_bits DESC, n_pair DESC, bigram) — fully deterministic.

    Scale shape: one tokenize pass producing adjacent pairs via
    word-array self-zip (no corpus self-join), vocabulary- and
    pair-vocabulary-sized count relations, unigram counts BROADCAST
    onto the pair counts twice (left and right word), one bounded
    top-k window."""
    words = docs.select(
        F.split(F.lower(F.col(text_col)), " ").alias("w"))
    uni = (words.select(F.explode("w").alias("term"))
           .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                .alias("c")))
    total = uni.agg(F.sum("c").cast("long").alias("ntot"))
    heads = words.select(
        F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0)))
         .alias("xs"),
        F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0)))
         .alias("ys"))
    pairs = (heads.select(F.explode(F.arrays_zip("xs", "ys"))
                          .alias("p"))
             .select(F.col("p.xs").alias("x"), F.col("p.ys").alias("y"))
             .groupBy("x", "y")
             .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
             .filter(F.col("n_pair") >= min_pair_count))
    cx = uni.select(F.col("term").alias("x"),
                    F.col("c").alias("c_x"))
    cy = uni.select(F.col("term").alias("y"),
                    F.col("c").alias("c_y"))
    ratio = F.expr("(n_pair * ntot) div (c_x * c_y)")
    scored = (pairs.join(F.broadcast(cx), "x")
              .join(F.broadcast(cy), "y")
              .crossJoin(F.broadcast(total))
              .withColumn("__r", ratio)
              .filter(F.col("__r") >= 1)
              .select(F.concat_ws(" ", "x", "y").alias("bigram"),
                      "n_pair",
                      (F.length(F.bin(F.col("__r"))) - F.lit(1))
                      .cast("long").alias("pmi_bits")))
    w = Window.orderBy(F.col("pmi_bits").desc(),
                       F.col("n_pair").desc(), F.col("bigram"))
    return (scored
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k))


def dsir_importance(docs: DataFrame, target: Column,
                    id_col: str = "doc_id", text_col: str = "text",
                    n_buckets: int = 128) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by how much its hashed n-gram feature profile
    looks like a TARGET sample relative to the raw corpus, so a trainer
    can importance-resample the raw pool toward the target domain without
    labels. Features are word unigrams + bigrams hashed into
    ``n_buckets`` buckets (the DSIR trick that keeps the estimator a
    fixed-width multinomial whatever the vocabulary size); ``target`` is
    a boolean Column marking the target-sample rows.

    Determinism contract (why no log-likelihood floats): the paper's
    log(p_target/p_raw) sum is order-sensitive float addition, which can
    hash-diverge across engines; an equivalent-for-ranking exact form is
    used instead — each feature contributes
    floor(1e6 * (n_target_f + 1) / (n_raw_f + 1)) (add-one-smoothed
    frequency ratio in integer micros), and a document's importance is
    the SUM over its distinct features, all BIGINT. One float division
    at the end (mean per feature) is deterministic.

    Scale shape (ZERO data-sized shuffles — the broadcast-corpus-stats
    discipline BM25 uses, taken to its limit): tokenize, hash and
    per-doc bucket-dedup are all NARROW array expressions (array_distinct
    replaces a 13M-row post-explode DISTINCT exchange); the only exchange
    in pass 1 is the map-side-combined n_buckets-row histogram; pass 2
    folds each doc's bucket array against the histogram inlined as a
    LITERAL n_buckets-int array (dimension-scale driver traffic, like
    k-means centroids) — per-doc scoring needs no groupBy at all.
    Measured at 50k docs: 62 s (explode + two data-sized shuffles) ->
    narrow form, BASELINE.md round 7. The target predicate rides along
    as a column, so the target sample never materializes separately.
    """
    w = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    unigrams = F.filter(w, lambda t: t != "")
    # guard: sequence(0, -1) would DESCEND ([0, -1]) on single-token docs
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.concat_ws(" ", F.element_at(w, i + 1),
                                  F.element_at(w, i + 2)))
    ).otherwise(F.array().cast("array<string>"))
    bucket_of = lambda f: (
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), f)), 1, 4),
               16, 10).cast("long") % n_buckets)
    # materialized: the bucket-array relation feeds BOTH passes, and
    # tokenize+hash is the dominant cost — recomputing it for the second
    # pass measurably loses (A/B at 50k docs: recompute 107 s vs
    # materialize-once; BASELINE.md round 7). The materialized form is
    # doc-count rows of n_buckets-bounded int arrays — far smaller than
    # the corpus text it replaces.
    base = materialize(docs.select(
        F.col(id_col).alias("doc"), target.alias("is_target"),
        F.array_distinct(F.transform(
            F.filter(F.array_distinct(F.concat(unigrams, bigrams)),
                     lambda f: f != ""),
            bucket_of)).alias("bks")))
    hist_rows = (base.select("is_target", F.explode("bks").alias("bucket"))
                 .groupBy("bucket")
                 .agg(F.count(F.lit(1)).alias("n_raw"),
                      F.count_if(F.col("is_target")).alias("n_tgt"))
                 .collect())
    ratio = [1_000_000] * n_buckets  # empty bucket: (0+1)*1e6 DIV (0+1)
    for r in hist_rows:
        ratio[int(r["bucket"])] = (r["n_tgt"] + 1) * 1_000_000 \
            // (r["n_raw"] + 1)
    lit = "array(" + ",".join(f"{v}L" for v in ratio) + ")"
    return base.select(
        F.col("doc").alias(id_col),
        F.size("bks").cast("long").alias("n_feats"),
        F.expr(f"aggregate(bks, CAST(0 AS BIGINT), "
               f"(acc, b) -> acc + element_at({lit}, CAST(b + 1 AS INT)))")
         .alias("importance_micros"),
    ).select(
        id_col, "n_feats", "importance_micros",
        F.round(F.col("importance_micros")
                / F.col("n_feats") / 1e6, 6).alias("mean_ratio"))


def quality_classifier_logit(col: Column, dim: int = 1024,
                             weights: list[float] | None = None,
                             weight_of=None, bias: float = 0.0,
                             salt: str = "qc") -> Column:
    """Hashed-bag-of-words LINEAR quality scorer — the classifier-based
    filtering stage (CC-Net / DataComp's fasttext quality model shape)
    that sits between the rule heuristics (Gopher/C4) and an external
    model: tokens hash into ``dim`` buckets (md5 slice, engine-portable
    — the rolling_fingerprint convention), each bucket carries a learned
    weight, and the document's logit is the mean bucket weight plus
    ``bias``. Pure Catalyst: transform + left-fold aggregate fused into
    the scan stage, no shuffle, no Python — scoring 100 TB costs one
    narrow pass, exactly like the heuristics it complements.

    Weights come either as ``weights`` (a trained vector, embedded as an
    array literal and indexed per token — the production path) or as
    ``weight_of`` (bucket-Column -> weight-Column, computed in-plan —
    what the differential gate uses, since a planted integer-valued
    weight function folds EXACTLY in double arithmetic: integer-valued
    doubles sum exactly below 2^53, so the fold is order-independent
    and bit-identical across engines with no dsum machinery).

    The logit is the gateable output; squash with ``F.expr('1/(1+exp(-z
    ))')`` for a probability when thresholding — exp() is libm-bound
    and NOT bit-stable across engines, so keep sigmoid out of any
    hash-compared result and threshold on the logit instead (same
    decision boundary: sigmoid is monotone)."""
    toks = F.split(F.trim(F.lower(col)), r"\s+")

    def bucket(t: Column) -> Column:
        h = F.conv(F.substring(
            F.md5(F.concat(F.lit(salt + ":"), t)), 1, 8), 16, 10)
        return F.pmod(h.cast("long"), F.lit(dim))

    if weights is not None:
        if len(weights) != dim:
            raise ValueError(f"weights must have length dim={dim}")
        arr = F.array(*[F.lit(float(w)) for w in weights])

        def weight_of(b: Column) -> Column:  # noqa: F811 - intended
            return F.element_at(arr, (b + 1).cast("int"))
    elif weight_of is None:
        raise ValueError("pass weights or weight_of")
    summed = F.aggregate(
        F.transform(toks, lambda t: weight_of(bucket(t))),
        F.lit(0.0).cast("double"), lambda acc, x: acc + x)
    return summed / F.size(toks) + F.lit(float(bias))
