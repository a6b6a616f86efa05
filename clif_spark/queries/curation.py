"""Corpus-curation queries (clif_spark.curation operators, oracle-gated):
PII redaction, TF-IDF salient terms, benchmark decontamination,
token-budget sequence packing, embedding int8 quantization.

The documents/embeddings testdata carries no natural PII or benchmark
contamination, so those two queries plant it inside the query — both the
Spark plan and the oracle construct the identical augmented corpus, and the
gate verifies the full operator end-to-end (the dedup-query pattern,
queries/llm.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from clif_spark import curation, io, sampling
from clif_spark.queries import pq, query

_PII_DOCS2_SQL = """
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN
               text || ' contact user' || doc_id || '@example.com or +1-555-'
                    || (doc_id % 9973) || ' now'
             ELSE text END AS text
      FROM documents
"""


@query(
    "pii_redact",
    oracle=rf"""
    WITH docs2 AS ({_PII_DOCS2_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '{curation.PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '{curation.PII_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(text,
             '{curation.PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{curation.PII_PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
    FROM docs2
    """,
)
def pii_redact(spark, sf_dir):
    """PII detection + redaction (curation.redact_pii): per-doc email/phone
    match counts and the md5 of the masked text. Pure narrow regex
    projection — whole-stage codegen, zero shuffles at any corpus size.
    Every 7th document gets a planted email+phone; its counts must read
    (1, 1) and the masked fingerprint must match the oracle's."""
    d = io.load_table(spark, sf_dir, "documents")
    docs2 = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"),
                        F.lit(" contact user"), F.col("doc_id"),
                        F.lit("@example.com or +1-555-"),
                        (F.col("doc_id") % 9973).cast("long"),
                        F.lit(" now")))
         .otherwise(F.col("text")).alias("text"))
    n_emails, n_phones = curation.pii_counts(F.col("text"))
    return docs2.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(curation.redact_pii(F.col("text"))).alias("redacted_fp"))


@query(
    "tfidf_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS doc,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc, term, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc, SUM(n) AS doc_len FROM tf GROUP BY 1),
    dfreq AS (SELECT term, COUNT(DISTINCT doc) AS df FROM toks GROUP BY 1),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_corpus
           FROM documents),
    scored AS (
      SELECT tf.doc, tf.term,
             ROUND((CAST(tf.n AS DOUBLE) / dl.doc_len)
                   * ((nd.n_corpus + 1.0) / (dfreq.df + 1)), 6) AS tfidf
      FROM tf JOIN dl USING (doc) JOIN dfreq USING (term) CROSS JOIN nd
    )
    SELECT doc AS doc_id, term, CAST(rank AS BIGINT) AS rank, tfidf
    FROM (SELECT *, row_number() OVER
            (PARTITION BY doc ORDER BY tfidf DESC, term) AS rank
          FROM scored)
    WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 salient terms per document by TF-IDF
    (curation.tfidf_top_terms). Ratio-form idf (N+1)/(df+1): same ranking
    as the log form with no cross-engine libm divergence — every score is
    exact rational double arithmetic, bit-identical in both engines."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.tfidf_top_terms(d, k=3)


_CONTAM_EVAL_SQL = "SELECT doc_id, text FROM documents WHERE doc_id < 10"


@query(
    "contamination_check",
    oracle=rf"""
    WITH eval_docs AS ({_CONTAM_EVAL_SQL}),
    first8 AS (
      SELECT doc_id,
             array_to_string(list_slice(
               regexp_split_to_array(trim(text), '\s+'), 1, 8), ' ') AS snippet
      FROM eval_docs
    ),
    corpus AS (
      SELECT c.doc_id,
             c.text || COALESCE(' ' || f.snippet, '') AS text
      FROM documents c
      LEFT JOIN first8 f ON f.doc_id = c.doc_id - 10 AND c.doc_id < 20
      WHERE c.doc_id >= 10
    ),
    eval_sh AS (
      SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
               || w[i+3] || ' ' || w[i+4] AS sh
      FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
            FROM eval_docs) t,
           unnest(range(1, greatest(len(w) - 3, 1))) u(i)
    ),
    corpus_sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
               || w[i+3] || ' ' || w[i+4] AS sh
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(lower(text)), '\s+') AS w
            FROM corpus) t,
           unnest(range(1, greatest(len(w) - 3, 1))) u(i)
    )
    SELECT c.doc_id, COUNT(*) AS n_shared
    FROM corpus_sh c JOIN eval_sh e ON c.sh = e.sh
    GROUP BY c.doc_id
    """,
)
def contamination_check(spark, sf_dir):
    """Benchmark decontamination (curation.contamination_overlap): count of
    distinct 5-gram collisions between each corpus doc and a broadcast
    eval-set shingle dictionary. Docs 10-14 get the first 8 words of an
    eval doc planted (>= 4 guaranteed collisions each); chance collisions
    from the shared vocabulary surface too — both engines agree exactly."""
    d = io.load_table(spark, sf_dir, "documents")
    eval_df = d.filter(F.col("doc_id") < 10).select("doc_id", "text")
    first8 = eval_df.select(
        (F.col("doc_id") + 10).alias("pid"),
        F.array_join(F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8),
                     " ").alias("snippet"))
    corpus = (d.filter(F.col("doc_id") >= 10)
               .join(first8, (F.col("doc_id") == F.col("pid"))
                             & (F.col("doc_id") < 20), "left")
               .select("doc_id",
                       F.concat(F.col("text"),
                                F.coalesce(F.concat(F.lit(" "),
                                                    F.col("snippet")),
                                           F.lit(""))).alias("text")))
    return curation.contamination_overlap(corpus, eval_df, n=5)


@query(
    "seq_pack_bins",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    binned AS (
      SELECT shard, n_tokens,
             CAST(FLOOR(CAST(SUM(n_tokens) OVER
                    (PARTITION BY shard ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens AS DOUBLE)
                  / 256) AS BIGINT) AS bin
      FROM toks
    )
    SELECT shard, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM binned GROUP BY shard, bin
    """,
)
def seq_pack_bins(spark, sf_dir):
    """Token-budget sequence packing (curation.pack_sequences): documents
    packed greedily in id order into 256-token bins within 4 parallel
    shards (chunk-straddle semantics — the concat-then-split layout LLM
    training uses). One keyed window, no driver loop; shard count is the
    packing-parallelism dial at scale."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.pack_sequences(d, budget=256, shards=4)


@query(
    "emb_quantize_int8",
    oracle=r"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
               FROM embeddings),
    m AS (SELECT vec_id, x,
                 list_aggregate(list_transform(x, e -> abs(e)), 'max') AS amax
          FROM v)
    SELECT vec_id,
           ROUND(amax, 6) AS amax,
           CASE WHEN amax = 0 THEN 0 ELSE
             CAST(list_aggregate(list_transform(x,
               e -> FLOOR(e / (amax / 127.0) + 0.5)), 'sum') AS BIGINT)
           END AS checksum,
           CASE WHEN amax = 0 THEN 0.0 ELSE
             ROUND(list_aggregate(list_transform(x,
               e -> abs(e - FLOOR(e / (amax / 127.0) + 0.5)
                            * (amax / 127.0))), 'max'), 6)
           END AS max_err
    FROM m
    """,
)
def emb_quantize_int8(spark, sf_dir):
    """Symmetric per-vector int8 quantization (curation.quantize_int8):
    amax scale, integer checksum (the cross-engine bit-identity witness —
    Σ q_i is exact in 64-bit), and max reconstruction error. Narrow HOF
    arithmetic, embarrassingly parallel."""
    e = io.load_table(spark, sf_dir, "embeddings")
    return curation.quantize_int8(e)


def _gopher_sql(engine: str) -> str:
    """Gopher-style repetition/diversity profile, one relation per engine.

    Every ratio divides two EXACT integers (token counts, max count, sum of
    squared counts, distinct bigram count) cast to double at the very end, so
    both engines produce bit-identical doubles with no accumulation-order
    dependence; Simpson diversity (1 - Σc²/n²) replaces Shannon entropy
    precisely because it needs no log() — libm log differs in the last ulp
    across engines, a hash-mismatch waiting to happen.
    """
    if engine == "spark":
        toks = r"split(trim(lower(text)), '\\s+')"
        bg = ("CASE WHEN size(t) < 2 THEN cast(array() AS array<string>) "
              "ELSE transform(sequence(0, size(t) - 2), "
              "i -> concat(t[i], ' ', t[i + 1])) END")
        unnest = "LATERAL VIEW explode(t) u AS tok"
        sz, dedup = "size", "array_distinct"
    else:
        toks = r"regexp_split_to_array(trim(lower(text)), '\s+')"
        bg = ("CASE WHEN len(t) < 2 THEN [] "
              "ELSE list_transform(range(len(t) - 1), "
              "i -> t[i + 1] || ' ' || t[i + 2]) END")
        unnest = ", unnest(t) AS u(tok)"
        sz, dedup = "len", "list_distinct"
    return f"""
    tokd AS (
      SELECT doc_id, {toks} AS t FROM documents
    ),
    bigs AS (
      SELECT doc_id, {sz}(bg) AS n_bigrams,
             {sz}({dedup}(bg)) AS n_distinct_bigrams
      FROM (SELECT doc_id, {bg} AS bg FROM (SELECT doc_id, t FROM tokd))
    ),
    uni AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM tokd {unnest}
      GROUP BY doc_id, tok
    ),
    unistats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(MAX(c) AS BIGINT) AS top_c,
             CAST(SUM(c * c) AS BIGINT) AS sq
      FROM uni GROUP BY doc_id
    ),
    profile AS (
      SELECT u.doc_id, u.n_tokens,
             ROUND(CAST(u.top_c AS DOUBLE) / u.n_tokens, 4) AS top_tok_frac,
             CASE WHEN b.n_bigrams > 0 THEN
               ROUND(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 4)
             ELSE 0.0 END AS dup_bigram_frac,
             ROUND(1.0 - CAST(u.sq AS DOUBLE) / (u.n_tokens * u.n_tokens), 4)
               AS simpson_diversity
      FROM unistats u JOIN bigs b ON b.doc_id = u.doc_id
    )
    """


@query(
    "gopher_repetition_filter",
    oracle=f"""
    WITH {_gopher_sql('duck')}
    SELECT doc_id, n_tokens, top_tok_frac, dup_bigram_frac, simpson_diversity,
           (n_tokens BETWEEN 30 AND 1000
            AND top_tok_frac <= 0.2
            AND dup_bigram_frac <= 0.6) AS keep
    FROM profile
    """,
)
def gopher_repetition_filter(spark, sf_dir):
    """Gopher-style repetition filtering (the quality-rule family of
    Rae et al. 2021, restated for this corpus): per-document top-unigram
    fraction, duplicate-bigram fraction, and Simpson lexical diversity,
    plus the keep/drop verdict. Unigram stats flow through one explode +
    two hash aggregates (map-side combined — the shuffle carries one row
    per (doc, token), then one per doc); bigram duplication never leaves
    the row (array HOFs). At corpus scale this is the same shuffle
    geometry as a word-count — the canonical linearly-scaling job."""
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
         .createOrReplaceTempView("gq_documents")
    body = _gopher_sql("spark").replace("FROM documents", "FROM gq_documents")
    return spark.sql(f"""
        WITH {body}
        SELECT doc_id, n_tokens, top_tok_frac, dup_bigram_frac,
               simpson_diversity,
               (n_tokens BETWEEN 30 AND 1000
                AND top_tok_frac <= 0.2
                AND dup_bigram_frac <= 0.6) AS keep
        FROM profile
    """)


#: Line-structure synthesis shared by both engines: the single-line corpus
#: text becomes multi-line prose (every ' data ' token starts a new
#: sentence/line; the tail line keeps no terminal punctuation), with code
#: braces planted every 17th doc and a lorem-ipsum banner every 23rd.
_C4_SYNTH = """
    SELECT doc_id,
           CONCAT(
             CASE WHEN doc_id % 23 = 0 THEN 'Lorem ipsum dolor sit. '
                  ELSE '' END,
             REPLACE(text, ' data ', CONCAT('.', CHR(10), 'Data ')),
             CASE WHEN doc_id % 17 = 0
                  THEN CONCAT(CHR(10), 'function() SYMBOL_OPEN')
                  ELSE '' END) AS text
    FROM {table}
"""


_C4_ORACLE = """
    WITH lined AS (%s)
    SELECT doc_id,
           CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
           CAST(len(list_filter(string_split(text, chr(10)),
                x -> len(regexp_split_to_array(trim(x), ' +')) >= 3
                     AND regexp_matches(trim(x), '[.!?\"]$')))
                AS BIGINT) AS n_kept,
           COALESCE(array_to_string(list_filter(
                string_split(text, chr(10)),
                x -> len(regexp_split_to_array(trim(x), ' +')) >= 3
                     AND regexp_matches(trim(x), '[.!?\"]$')), chr(10)), '')
             AS clean_text  -- DuckDB: empty-list join is NULL, Spark: ''
    FROM lined
    WHERE NOT (LOWER(text) LIKE '%%lorem ipsum%%')
      AND NOT (text LIKE '%%{%%')
""" % _C4_SYNTH.format(table="documents").replace("SYMBOL_OPEN", "{")


@query(
    "corpus_c4_line_filter",
    oracle=_C4_ORACLE,
)
def corpus_c4_line_filter(spark, sf_dir):
    """C4-style line-level corpus cleaning (Raffel et al. 2020 §2.2) over
    synthesized multi-line prose: terminal-punctuation + min-word line
    keeps, whole-document drops for code braces and lorem-ipsum
    boilerplate. The oracle replays the same HOF lambda in DuckDB
    (list_filter) so kept-line sets, counts, and the rejoined clean text
    all hash-match."""
    lined = spark.sql(
        _C4_SYNTH.format(table=pq(spark, sf_dir, "documents"))
        .replace("SYMBOL_OPEN", "{"))
    return curation.c4_line_filter(lined)


@query(
    "dedup_repeated_ngrams",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             array_to_string(w[t.k + 1 : t.k + 8], ' ') AS gram
      FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(k)
    ),
    counted AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS c
      FROM grams
    )
    SELECT doc_id, COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated
    FROM counted
    GROUP BY doc_id
    """,
)
def dedup_repeated_ngrams(spark, sf_dir):
    """Corpus-level repeated 8-gram profiling — the candidate half of
    exact-substring dedup (Lee et al. 2022): per document, how many of its
    word-position 8-grams occur more than once anywhere in the corpus.
    Two map-side-combined exchanges on the gram key (count, join back),
    nothing broadcast at corpus scale; the oracle counts the same grams
    with a DuckDB window."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.repeated_ngram_profile(d, n=8)


#: Skewed-source synthesis: the driver corpus is source-uniform (fraction
#: would be 1.0 everywhere, a vacuous gate), so the mix is exercised over
#: a planted 60/30/10 head/mid/tail skew instead.
_MIX_SYNTH = """
    SELECT doc_id,
           CASE WHEN doc_id % 10 < 6 THEN 'head'
                WHEN doc_id % 10 < 9 THEN 'mid'
                ELSE 'tail' END AS source
    FROM {table}
"""


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH docs AS ({_MIX_SYNTH.format(table='documents')}),
    c AS (SELECT source, COUNT(*) AS n FROM docs GROUP BY source),
    m AS (SELECT MIN(n) AS n_min FROM c)
    SELECT d.doc_id, d.source
    FROM docs d JOIN c USING (source), m
    WHERE {sampling.sql_u01('d.doc_id', 'mix')}
          < SQRT(CAST(m.n_min AS DOUBLE) / c.n)
    """,
)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-flattened source mixing (T=2): keep
    sqrt(n_min/n_source) of every source so kept counts scale as
    sqrt(n_source) — the data-recipe rebalance between
    proportional (T=1) and uniform (T=inf) mixing, exercised over a
    planted 60/30/10 source skew (the driver corpus is uniform). SQRT is
    IEEE correctly-rounded on both engines, so the per-source fraction is
    bit-identical and the deterministic u01 membership threshold cannot
    flip at the boundary. Per-source counts broadcast (dimension-sized);
    the membership filter is a narrow expression over the scan."""
    docs = spark.sql(_MIX_SYNTH.format(table=pq(spark, sf_dir, "documents")))
    return curation.temperature_mix(docs, "source", "doc_id",
                                    temperature=2.0).select(
        "doc_id", "source")


@query(
    "dedup_remove_repeated_spans",
    oracle="""
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, t.k AS pos,
             array_to_string(w[t.k + 1 : t.k + 8], ' ') AS gram
      FROM words, unnest(range(greatest(len(w) - 7, 0))) AS t(k)
    ),
    rep AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS c
        FROM grams
      ) WHERE c > 1
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos > COALESCE(MAX(pos + 8) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 1 ELSE 0 END AS is_new
      FROM rep
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(pos + 8) AS e
      FROM (SELECT doc_id, pos,
                   SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged)
      GROUP BY doc_id, sid
    ),
    covered AS (
      SELECT DISTINCT doc_id, t.k AS idx
      FROM spans, unnest(range(s, e)) AS t(k)
    ),
    wordidx AS (
      SELECT doc_id, t.k AS idx, w[t.k + 1] AS word
      FROM words, unnest(range(len(w))) AS t(k)
    ),
    kept AS (
      SELECT wi.doc_id, wi.idx, wi.word
      FROM wordidx wi
      LEFT JOIN covered c ON wi.doc_id = c.doc_id AND wi.idx = c.idx
      WHERE c.idx IS NULL
    )
    SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_words,
           CAST(len(w.w) - COUNT(k.word) AS BIGINT) AS n_removed,
           COALESCE(string_agg(k.word, ' ' ORDER BY k.idx), '')
             AS clean_text
    FROM words w LEFT JOIN kept k ON w.doc_id = k.doc_id
    GROUP BY w.doc_id, len(w.w)
    """,
)
def dedup_remove_repeated_spans(spark, sf_dir):
    """Exact-substring dedup, span-removal half (Lee et al. 2022): merge
    corpus-repeated 8-grams into maximal spans per document and cut the
    covered words out, returning the cleaned text with removal counts.
    Pure DataFrame algebra (window count -> gap-merge windows -> explode
    to covered indexes -> anti-join -> deterministic ordered re-join);
    the oracle replays every stage in DuckDB including the ORDER BY
    string_agg."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.remove_repeated_ngram_spans(d, n=8)


@query(
    "sample_reservoir_per_key",
    oracle="""
    SELECT doc_id, lang, sample_rank FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('perkey:' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS sample_rank
        FROM documents)
    WHERE sample_rank <= 3
    """,
)
def sample_reservoir_per_key(spark, sf_dir):
    """Deterministic k-per-stratum subsample (k=3 docs per language) — the
    batch form of per-key reservoir sampling used to cap dominant strata
    before mixing a training corpus. Rows rank by full-md5 of the key, so
    the kept set is a uniform k-subset, identical across runs/engines/
    parallelism, and rank<=j prefixes are themselves uniform j-subsets
    (sampling.per_key_sample). One exchange on the stratum key; the rank
    window is the same shape as o3_topk_per_group so the bucketed layout
    collapses it."""
    d = io.load_table(spark, sf_dir, "documents")
    return (sampling.per_key_sample(d.select("doc_id", "lang"),
                                    partition=["lang"], key_col="doc_id",
                                    k=3, seed="perkey")
            .select("doc_id", "lang", "sample_rank"))


@query(
    "text_rare_bigram_score",
    oracle="""
    WITH bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, length(text)),
                                     i -> substring(text, i, 2))) AS bg
        FROM documents WHERE length(text) >= 2),
    cnt AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
    tot AS (SELECT sum(c) AS t FROM cnt),
    flag AS (SELECT bg, CASE WHEN c * 2000 < (SELECT t FROM tot)
                             THEN 1 ELSE 0 END AS rare
             FROM cnt)
    SELECT b.doc_id,
           count(*) AS total_bigrams,
           CAST(sum(f.rare) AS BIGINT) AS rare_bigrams,
           (CAST(sum(f.rare) AS BIGINT) * 1000000) // count(*) AS rare_ppm
    FROM bg b JOIN flag f USING (bg)
    GROUP BY b.doc_id
    """,
)
def text_rare_bigram_score(spark, sf_dir):
    """Perplexity-proxy quality scoring: train a corpus-wide char-bigram
    frequency model (one shuffle; vocabulary bounded by |alphabet|^2 so
    the model broadcasts at any corpus size), then score every document
    by its fraction of rare bigrams in exact integer ppm
    (curation.rare_bigram_score). The distributed shape of a KenLM-style
    quality filter with a hash-matchable score (no libm in the data
    path). Non-Latin scripts in the corpus (zh/hi docs) surface as
    high-rarity outliers — the filter signal."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.rare_bigram_score(d)


@query(
    "dedup_chunk_paragraphs",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    lst AS (SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(len(toks) / 10.0) AS INT)),
                       i -> struct_pack(
                           idx := i,
                           chunk := array_to_string(
                               toks[i * 10 + 1 : i * 10 + 10], ' ')))) AS s
            FROM t),
    ch AS (SELECT doc_id, s.idx AS idx, s.chunk AS chunk FROM lst),
    marked AS (SELECT doc_id, idx, chunk,
                      CASE WHEN row_number() OVER
                               (PARTITION BY chunk ORDER BY doc_id, idx) = 1
                           THEN 1 ELSE 0 END AS keep
               FROM ch)
    SELECT doc_id,
           count(*) AS n_chunks,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           COALESCE(array_to_string(list(chunk ORDER BY idx)
                                    FILTER (keep = 1), ' '), '') AS kept_text
    FROM marked
    GROUP BY doc_id
    """,
)
def dedup_chunk_paragraphs(spark, sf_dir):
    """Sub-document exact dedup at 10-token-chunk grain — the C4/Dolma
    paragraph dedup ("drop any paragraph seen before, keep first
    occurrence") generalized to fixed-size chunks for single-line corpora
    (dedup.chunk_dedup). One exchange on the chunk value marks global
    first occurrences; re-aggregation reassembles surviving text in chunk
    order. The word-soup corpus collides naturally at this grain, so the
    gate exercises real cross-document chunk drops (no planted dups
    needed)."""
    d = io.load_table(spark, sf_dir, "documents")
    from clif_spark import dedup
    return dedup.chunk_dedup(d)


@query("text_bpe_tokenize", oracle=None)
def text_bpe_tokenize(spark, sf_dir):
    """Distributed BPE: learn 8 merges from the corpus (vocab-sized
    rounds — pair explode, map-side-combined count, ONE argmax row to the
    driver per round, kmeans discipline), then tokenize every document
    through a broadcast word->tokens vocabulary join
    (functions/bpe.py). Rows-only like ann_ivf_trained_topk: the
    training loop is the sanctioned iterative-algorithm case — exactness
    is pinned instead by unit tests proving merge-sequence and token-
    count parity with a pure-Python reference BPE on real documents."""
    from clif_spark.functions import bpe
    d = io.load_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(d, n_merges=8)
    return bpe.bpe_tokenize(d, merges)


@query(
    "text_bpe_roundtrip",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '\s+')) AS word
      FROM documents),
    nz AS (SELECT doc_id, word FROM w WHERE word <> '')
    SELECT doc_id, COUNT(*) AS n_words, TRUE AS tokens_lossless
    FROM nz GROUP BY doc_id
    """,
)
def text_bpe_roundtrip(spark, sf_dir):
    """BPE's driver row via the contract pattern: train 8 merges on the
    corpus, tokenize the distinct-word vocabulary, and assert the
    LOSSLESSNESS invariant — concatenating a word's BPE tokens must
    reproduce the word exactly (merges only fuse adjacent symbols; any
    split/merge bookkeeping bug breaks the identity). Per document the
    gate emits the whitespace-token count (oracle-recomputable) plus a
    bool_and of per-word losslessness; the iterative TRAINING stays
    un-oracled (sanctioned), but a tokenizer that corrupts words now
    flips a hash the driver sees. Word grain mirrors bpe_tokenize:
    lower + \\s+ split, empty tokens dropped."""
    from clif_spark.functions import bpe
    d = io.load_table(spark, sf_dir, "documents")
    merges = bpe.bpe_train(d, n_merges=8)
    dw = (d.select("doc_id",
                   F.explode(F.split(F.lower(F.col("text")), r"\s+"))
                    .alias("word"))
           .filter(F.col("word") != ""))
    vocab = bpe.bpe_apply_vocab(dw.select("word").distinct(), merges)
    check = vocab.select(
        "word",
        (F.concat_ws("", F.col("bpe_tokens")) == F.col("word"))
        .alias("lossless"))
    return (dw.join(F.broadcast(check), "word")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_words"),
                   F.bool_and("lossless").alias("tokens_lossless")))


@query(
    "sample_mix_epochs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             (CASE WHEN source = 'src0' THEN 2
                   WHEN source = 'src1' THEN 0 ELSE 1 END)
             + (CASE WHEN {sampling.sql_u01('doc_id', 'epoch')} <
                     (CASE WHEN source = 'src0' THEN 0.5
                           WHEN source = 'src1' THEN 0.5 ELSE 0.0 END)
                THEN 1 ELSE 0 END) AS reps
      FROM documents)
    SELECT doc_id, source, CAST(e AS BIGINT) AS epoch
    FROM (SELECT doc_id, source, unnest(range(1, reps + 1)) AS e FROM d)
    """,
)
def sample_mix_epochs(spark, sf_dir):
    """Fractional-epoch mixing (curation.mix_epochs): materialize a data
    recipe where src0 runs 2.5 epochs (twice + a deterministic uniform
    half a third time), src1 runs 0.5 (a uniform half once), everything
    else 1.0 — expected copy counts exact, the SAME documents get the
    extra copy on every run/engine/partitioning, and the emitted epoch
    index lets packing interleave copies. Recipe folds into a CASE
    literal; the repeat is a per-row explode — no join, no shuffle."""
    d = io.load_table(spark, sf_dir, "documents")
    return (curation.mix_epochs(d, {"src0": 2.5, "src1": 0.5})
            .select("doc_id", "source", "epoch"))


@query(
    "text_chunk_windows",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE text IS NOT NULL),
    d AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) <= 20 THEN 1
                      ELSE CAST(ceil((len(toks) - 20) / 15.0) AS INT) + 1
                 END AS nch
          FROM t),
    w AS (SELECT doc_id,
                 unnest(list_transform(range(0, nch),
                     i -> struct_pack(cid := i,
                                      w := toks[i*15+1 : i*15+20]))) AS s
          FROM d)
    SELECT doc_id, CAST(s.cid AS BIGINT) AS chunk_id,
           CAST(len(s.w) AS BIGINT) AS n_tokens,
           array_to_string(s.w, ' ') AS chunk_text
    FROM w
    """,
)
def text_chunk_windows(spark, sf_dir):
    """Overlapping token-window chunking (size 20, stride 15 — 5-token
    overlap) for retrieval indexing: every document becomes 1 +
    ceil((n-20)/15) windows, the last possibly short, none lost at a
    boundary (curation.chunk_windows). Pure narrow HOF projection, zero
    shuffles at any corpus size."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.chunk_windows(d, size=20, stride=15)


@query(
    "text_bm25_topk",
    oracle="""
    WITH toks AS (SELECT doc_id AS doc,
                         unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
    dl AS (SELECT doc_id AS doc,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
           FROM documents),
    corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
               FROM documents),
    total AS (SELECT CAST(SUM(dl) AS DOUBLE) AS total_tokens FROM dl),
    tf AS (SELECT doc, term, COUNT(*) AS tf FROM toks
           WHERE term IN ('spark', 'join', 'window')
           GROUP BY doc, term),
    df_ AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc,
             FLOOR((((c.n_docs - df_.df + 0.5) / (df_.df + 0.5) + 1.0)
                    * (tf.tf * 2.2)
                    / (tf.tf + 1.2 * (0.25
                       + 0.75 * dl.dl * c.n_docs / t.total_tokens)))
                   * 1000000.0 + 0.5) AS c_micros
      FROM tf JOIN df_ USING (term) JOIN dl USING (doc),
           corpus c, total t),
    per_doc AS (SELECT doc, CAST(SUM(CAST(c_micros AS BIGINT)) AS BIGINT)
                       AS score_micros
                FROM scored GROUP BY doc)
    SELECT doc AS doc_id, score_micros, rank FROM (
      SELECT doc, score_micros,
             row_number() OVER (ORDER BY score_micros DESC, doc) AS rank
      FROM per_doc)
    WHERE rank <= 10
    """,
)
def text_bm25_topk(spark, sf_dir):
    """BM25-shaped ranked retrieval for the query {spark, join, window}
    (curation.bm25_rational_topk): log-free rational idf and
    integer-micros contribution sums keep the per-doc score
    order-independent and bit-identical across engines (deviations
    documented on the operator). Posting-list explode pruned by the
    query terms; df/corpus stats are dimension-sized broadcasts; one
    keyed sum + a bounded top-k window."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.bm25_rational_topk(d, ["spark", "join", "window"], k=10)


@query(
    "text_unigram_surprisal",
    oracle="""
    WITH utoks AS (SELECT doc_id AS doc,
                          unnest(string_split(lower(text), ' ')) AS term
                   FROM documents),
    ucounts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
                FROM utoks GROUP BY term),
    utotal AS (SELECT CAST(SUM(c) AS BIGINT) AS ntot FROM ucounts),
    ubits AS (SELECT doc,
                     CAST(length(bin(ntot // c)) - 1 AS BIGINT) AS b
              FROM utoks JOIN ucounts USING (term), utotal),
    uper AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                    CAST(SUM(b) AS BIGINT) AS total_bits
             FROM ubits GROUP BY doc)
    SELECT doc AS doc_id, n_tokens, total_bits,
           CAST(total_bits / n_tokens AS DOUBLE) AS mean_bits
    FROM uper
    """,
)
def text_unigram_surprisal(spark, sf_dir):
    """Unigram-LM cross-entropy per document in WHOLE BITS — the
    CCNet-style perplexity-filtering signal (curation.
    unigram_surprisal): token surprisal floor(log2(N/c)) computed as
    length(bin(N // c)) - 1, pure integer arithmetic on both engines
    (the exact-floor identity is proved on the operator), per-doc
    totals as order-independent BIGINT sums. Corpus curation reads
    mean_bits as the band-pass axis: boilerplate scores low,
    noise/garble scores high, the keep band sits between. Shape: one
    tokenize pass, vocabulary-sized counts broadcast back map-side,
    one keyed sum — no second corpus scan, no libm."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.unigram_surprisal(d)


@query(
    "text_surprisal_incremental",
    oracle="""
    WITH utoks AS (SELECT doc_id AS doc,
                          unnest(string_split(lower(text), ' ')) AS term
                   FROM documents),
    ucounts AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
                FROM utoks GROUP BY term),
    utotal AS (SELECT CAST(SUM(c) AS BIGINT) AS ntot FROM ucounts),
    ubits AS (SELECT doc,
                     CAST(length(bin(ntot // c)) - 1 AS BIGINT) AS b
              FROM utoks JOIN ucounts USING (term), utotal),
    uper AS (SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                    CAST(SUM(b) AS BIGINT) AS total_bits
             FROM ubits GROUP BY doc)
    SELECT doc AS doc_id, n_tokens, total_bits,
           CAST(total_bits / n_tokens AS DOUBLE) AS mean_bits
    FROM uper
    """,
)
def text_surprisal_incremental(spark, sf_dir):
    """INCREMENTAL LM-filter maintenance: the vocabulary histogram the
    surprisal scorer needs is kept as a STANDING aggregate store
    (streaming.fold_agg_snapshot — additive per-term count folds, one
    row per vocab term) instead of being re-tokenized from the whole
    corpus each delivery. The corpus arrives as two deliveries (doc
    parity); each folds its per-term partial counts in at O(delivery
    + vocab), a redelivery of delivery 1 at its own ordinal must SKIP
    (the additive-fold replay guard — if it rots, every count
    double-counts and the hash flips), and the final scoring pass
    reads the standing histogram. Because counts merge by exact
    integer SUM, the standing histogram equals the batch recompute
    BIT-FOR-BIT — the oracle is literally text_unigram_surprisal's
    whole-corpus SQL, which is the gate's point.

    Production shape: per delivery O(delivery tokens + vocab) fold +
    O(delivery) scoring, never O(corpus); the store is the CDC
    snapshot format, so compaction/time-travel apply unchanged."""
    import tempfile

    from clif_spark import streaming as STR

    d = io.load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="clif_vocab_store_")
    did = F.col("doc_id")
    for v in (0, 1):
        part = d.filter(did % 2 == v)
        partial = (part.select(F.explode(F.split(F.lower("text"), " "))
                               .alias("term"))
                   .groupBy("term")
                   .agg(F.count(F.lit(1)).cast("long").alias("c")))
        STR.fold_agg_snapshot(partial, root, keys=["term"], version=v,
                              add_cols=["c"], lineage="vocab")
    # replay-guard probe: refolding delivery 1 at its ordinal must skip
    redo = (d.filter(did % 2 == 1)
            .select(F.explode(F.split(F.lower("text"), " "))
                    .alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).cast("long")
                                 .alias("c")))
    if STR.fold_agg_snapshot(redo, root, keys=["term"], version=1,
                             add_cols=["c"], lineage="vocab") is not None:
        raise RuntimeError("additive-fold redelivery must skip")
    stored = STR.read_cdc_snapshot(spark, root).select("term", "c")
    return curation.unigram_surprisal(d, counts=stored)


# The planted-collocation fixture: the base corpus is word-i.i.d. (no
# organic collocations — every independent pair floors to 0 bits), so
# the PMI surface is made load-bearing by appending phrases of
# DIFFERENT strengths to deterministic doc subsets: 'deep learning'
# once per 7th doc (~8 bits), 'gradient descent' TWICE per 13th doc
# (~8 bits forward, ~7 bits for the weaker reversed 'descent gradient'
# — asymmetry a direction bug would flip), and the docs divisible by
# 91 chain both phrases, making the cross-phrase 'learning gradient'
# pair clear the min-count cut at a distinct ~4-bit level. Organic
# 0-bit pairs fill the remaining top-k by (n_pair, bigram) order, so
# both regimes sit in the gate.
_PMI_EXTRA_SQL = ("(CASE WHEN doc_id % 7 = 0 THEN ' deep learning' "
                  "ELSE '' END || CASE WHEN doc_id % 13 = 0 THEN "
                  "' gradient descent gradient descent' ELSE '' END)")


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH pw AS (SELECT string_split(lower(text || {_PMI_EXTRA_SQL}),
                                    ' ') AS w
                FROM documents),
    puni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
             FROM (SELECT unnest(w) AS term FROM pw) s
             GROUP BY term),
    ptot AS (SELECT CAST(SUM(c) AS BIGINT) AS ntot FROM puni),
    ppairs AS (SELECT w[i] AS x, w[i + 1] AS y
               FROM pw, unnest(range(1, greatest(len(w), 1))) t(i)),
    pcnt AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_pair
             FROM ppairs GROUP BY x, y HAVING COUNT(*) >= 5),
    ps AS (SELECT x || ' ' || y AS bigram, n_pair,
                  (n_pair * ntot) // (ux.c * uy.c) AS r
           FROM pcnt
           JOIN puni ux ON ux.term = pcnt.x
           JOIN puni uy ON uy.term = pcnt.y, ptot)
    SELECT bigram, n_pair, pmi_bits, rank FROM (
      SELECT bigram, n_pair,
             CAST(length(bin(r)) - 1 AS BIGINT) AS pmi_bits,
             row_number() OVER (
               ORDER BY CAST(length(bin(r)) - 1 AS BIGINT) DESC,
                        n_pair DESC, bigram) AS rank
      FROM ps WHERE r >= 1)
    WHERE rank <= 20
    """,
)
def text_pmi_collocations(spark, sf_dir):
    """Top-k collocations by positive PMI in whole bits (curation.
    pmi_collocations, Church & Hanks 1990) — multiword-expression
    discovery / tokenizer-merge candidates / boilerplate phrase
    detection over the corpus, engine-exact via the bin-length log2
    identity (no libm, BIGINT throughout, one deterministic top-k
    order). The planted phrases grade the surface: see the fixture
    comment above — strong forward pairs, a weaker reversed pair
    (direction-sensitive), a cross-phrase pair at its own level, and
    organic independent pairs flooring to 0 bits below them.

    Shape: one tokenize pass, adjacent pairs via word-array self-zip
    (never a corpus self-join), vocabulary-sized unigram counts
    broadcast onto pair counts, bounded top-k window."""
    d = io.load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    extra = F.concat(
        F.when(did % 7 == 0, F.lit(" deep learning"))
         .otherwise(F.lit("")),
        F.when(did % 13 == 0,
               F.lit(" gradient descent gradient descent"))
         .otherwise(F.lit("")))
    docs2 = d.select("doc_id", F.concat("text", extra).alias("text"))
    return curation.pmi_collocations(docs2)


def _dsir_bucket_sql(expr: str, n_buckets: int) -> str:
    """DuckDB mirror of the Spark-side feature hash: integer value of the
    first 4 hex chars of md5('dsir:' || f), mod n_buckets (strpos nibbles
    stand in for conv, same trick as sampling.sql_u01)."""
    h = f"md5('dsir:' || {expr})"
    nib = (lambda i, w: f"(strpos('0123456789abcdef',"
           f" substr({h}, {i}, 1)) - 1) * {w}")
    return (f"(({nib(1, 4096)} + {nib(2, 256)} + {nib(3, 16)}"
            f" + {nib(4, 1)}) % {n_buckets})")


@query(
    "curation_dsir_importance",
    oracle=rf"""
    -- DSIR-style importance weights: hashed unigram+bigram features
    -- (128 buckets), add-one-smoothed target/raw frequency ratio per
    -- bucket in integer micros, summed per doc — the exact-arithmetic
    -- form of the paper's log-ratio score (see curation.dsir_importance
    -- determinism contract). Target sample: doc_id % 5 = 0.
    WITH w AS (
      SELECT doc_id AS doc, doc_id % 5 = 0 AS is_target,
             regexp_split_to_array(trim(lower(text)), '\s+') AS w
      FROM documents
    ),
    uni AS (SELECT doc, is_target, unnest(w) AS f FROM w),
    bi AS (
      SELECT doc, is_target, w[i] || ' ' || w[i + 1] AS f
      FROM w, unnest(range(1, greatest(len(w), 1))) t(i)
    ),
    feats AS (
      SELECT DISTINCT doc, is_target,
             CAST({_dsir_bucket_sql('f', 128)} AS BIGINT) AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      WHERE f <> ''
    ),
    hist AS (
      SELECT bucket, COUNT(*) AS n_raw,
             COUNT(*) FILTER (is_target) AS n_tgt
      FROM feats GROUP BY bucket
    )
    SELECT f.doc AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM((h.n_tgt + 1) * 1000000 // (h.n_raw + 1)) AS BIGINT)
             AS importance_micros,
           ROUND(CAST(SUM((h.n_tgt + 1) * 1000000 // (h.n_raw + 1))
                      AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean_ratio
    FROM feats f JOIN hist h USING (bucket)
    GROUP BY f.doc
    """,
)
def curation_dsir_importance(spark, sf_dir):
    """Data-selection importance resampling weights (DSIR, Xie et al.
    2023) over the documents corpus, target sample = every fifth doc
    standing in for a practitioner's curated seed set: hashed n-gram
    features keep the estimator fixed-width at any vocabulary, the
    128-row bucket histogram broadcasts back to the exploded features,
    and the add-one-smoothed frequency ratio accumulates in integer
    micros so the score is order-independent and engine-exact (the
    BM25 rational-arithmetic discipline applied to the DSIR estimator).
    A trainer feeds importance_micros into weighted/temperature
    sampling (sample_temperature_mix) to tilt the corpus toward the
    target domain."""
    d = io.load_table(spark, sf_dir, "documents")
    return curation.dsir_importance(d, F.col("doc_id") % 5 == 0)



@query(
    "text_sentence_chunks",
    oracle=r"""
    -- Sentence-boundary chunking: the retrieval-indexing grain between
    -- whole documents and fixed token windows. The splitter is the
    -- lookbehind-free pattern [^.!?]+[.!?]* (Java regex and RE2 agree on
    -- it; lookbehind would be Spark-only), sentences are trimmed and
    -- empties dropped, ordinality preserved.
    WITH docs2 AS (
      -- the synthetic corpus has no sentence enders, so the fixture
      -- plants them: every doc gains a three-sentence tail with mixed
      -- terminators and surrounding whitespace
      SELECT doc_id, text || '. Planted second sentence no ' || doc_id
             || '!  Third one?   Tail without terminator' AS text
      FROM documents WHERE text IS NOT NULL
    ),
    arrs AS (
      SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]*') AS arr
      FROM docs2
    ),
    sent AS (
      SELECT doc_id, g.i - 1 AS raw_idx, trim(arr[g.i]) AS sentence
      FROM arrs, unnest(range(1, greatest(len(arr), 0) + 1)) AS g(i)
    ),
    kept AS (
      SELECT doc_id, sentence,
             row_number() OVER (PARTITION BY doc_id ORDER BY raw_idx) - 1
               AS sent_idx
      FROM sent WHERE sentence <> ''
    )
    SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx, sentence,
           CAST(len(regexp_split_to_array(sentence, '\s+')) AS BIGINT)
             AS n_tokens
    FROM kept
    """,
)
def text_sentence_chunks(spark, sf_dir):
    """Sentence-grain chunking for retrieval indexing — the boundary-
    aware complement to text_chunk_windows' fixed token windows (a RAG
    pipeline typically chunks at sentence groups so embeddings don't
    straddle thoughts). Pure narrow Catalyst: regexp_extract_all with a
    lookbehind-free pattern both engines implement identically,
    posexplode for ordinality, trim + empty-drop, re-rank to a dense
    sentence index. Zero shuffles at any corpus size."""
    d = io.load_table(spark, sf_dir, "documents")
    planted = (d.filter(F.col("text").isNotNull())
               .select("doc_id",
                       F.concat(F.col("text"),
                                F.lit(". Planted second sentence no "),
                                F.col("doc_id").cast("string"),
                                F.lit("!  Third one?   "
                                      "Tail without terminator"))
                        .alias("text")))
    sent = planted.select(
        "doc_id",
        F.posexplode(F.expr(
            "regexp_extract_all(text, '[^.!?]+[.!?]*', 0)"))
         .alias("raw_idx", "raw"))
    kept = (sent.select("doc_id", "raw_idx",
                        F.trim(F.col("raw")).alias("sentence"))
            .filter(F.col("sentence") != ""))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("raw_idx")
    return kept.select(
        "doc_id",
        (F.row_number().over(w) - 1).cast("long").alias("sent_idx"),
        "sentence",
        F.size(F.split("sentence", r"\s+")).cast("long").alias("n_tokens"))
