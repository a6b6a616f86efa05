"""Distributed byte-pair-encoding (BPE) training and application — the
subword-tokenizer half of "token counting" (functions.text.bpe_token_count
is the regex PRE-tokenizer; this learns the merges table).

Why this shape scales (the Sennrich/GPT-2 training loop, re-expressed as
the kmeans/connected-components driver-loop discipline):
- Training operates on the (word, count) VOCABULARY, not the corpus: one
  corpus-wide pre-tokenize + groupBy up front, then every merge round
  touches vocab-sized data (millions of rows at web scale, not billions).
- Each round is: adjacent-pair explode weighted by word count ->
  map-side-combined pair count -> ONE argmax row to the driver (the same
  dimension-scale collect budget as the k-means centroid pull). The merge
  is then applied vocab-wide as a pure narrow HOF fold — no shuffle.
- ``core.materialize`` per round cuts lineage like kmeans and releases
  the round it replaces; the driver loop is control flow only.
- Application to a corpus goes through the vocabulary again: tokenize the
  DISTINCT words (vocab-sized narrow work), broadcast-join the word ->
  tokens mapping back to the corpus. Documents never re-fold merges.

Determinism: the argmax tie-breaks lexicographically on the pair, so the
merge sequence is a pure function of the corpus — reproducible anywhere,
no RNG. Unit tests pin exact parity with a pure-Python reference BPE on
the classic corpus AND on real documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from clif_spark.operators.core import materialize, release


def _sql_str(s: str) -> str:
    """Escape a symbol for embedding in a SQL string literal."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


def merge_pair(symbols_col: str, a: str, b: str) -> Column:
    """Greedy leftmost merge of adjacent (a, b) into 'ab' over a symbol
    array column (referenced by NAME — the fold is a SQL expression) —
    the standard BPE merge application: non-overlapping, left to right,
    so (a,a) on [a,a,a] -> [aa, a]."""
    ea, eb = _sql_str(a), _sql_str(b)
    return F.expr(f"""
    aggregate({symbols_col}, CAST(array() AS ARRAY<STRING>),
        (acc, x) -> CASE WHEN size(acc) > 0
                          AND element_at(acc, -1) = '{ea}' AND x = '{eb}'
                    THEN concat(slice(acc, 1, size(acc) - 1),
                                array('{ea}{eb}'))
                    ELSE concat(acc, array(x)) END)
    """)


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) vocabulary with initial character symbols — the
    corpus-wide pre-tokenize + groupBy that makes training vocab-sized."""
    return (docs.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                         .alias("word"))
                .filter(F.col("word") != "")
                .groupBy("word").agg(F.count("*").alias("n"))
                .withColumn("syms", F.expr("split(word, '')")))


def bpe_train(docs: DataFrame, n_merges: int = 10,
              text_col: str = "text",
              min_pair_count: int = 2) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from a corpus. Returns the ordered
    merges table [(a, b), ...]; stops early when no adjacent pair reaches
    ``min_pair_count`` weighted occurrences.

    Each round: pair explode over the vocab (weighted by word count),
    keyed count, one argmax row to the driver (count desc, pair asc — the
    deterministic tiebreak), then a narrow fold applies the merge."""
    state = materialize(word_vocab(docs, text_col))
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = state.select(
            F.col("n"),
            F.explode(F.expr(
                "zip_with(slice(syms, 1, size(syms) - 1),"
                " slice(syms, 2, size(syms) - 1),"
                " (a, b) -> struct(a, b))")).alias("p"))
        top = (pairs.groupBy("p").agg(F.sum("n").alias("c"))
                    .orderBy(F.col("c").desc(), F.col("p.a"), F.col("p.b"))
                    .limit(1).collect())
        if not top or top[0]["c"] < min_pair_count:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        old = state
        state = materialize(state.withColumn("syms", merge_pair("syms", a, b)))
        release(old)
    release(state)
    return merges


def bpe_apply_vocab(words: DataFrame, merges: list[tuple[str, str]],
                    word_col: str = "word") -> DataFrame:
    """Apply an ordered merges table to a word table: adds ``bpe_tokens``
    (array<string>). Narrow fold chain, one application per merge —
    vocab-sized work by contract (callers broadcast-join the result back
    to the corpus rather than folding per document)."""
    out = words.withColumn("bpe_tokens", F.expr(f"split({word_col}, '')"))
    for a, b in merges:
        out = out.withColumn("bpe_tokens", merge_pair("bpe_tokens", a, b))
    return out


def bpe_tokenize(docs: DataFrame, merges: list[tuple[str, str]],
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Tokenize a corpus with a trained merges table. Output:
    (id, n_words, n_bpe_tokens) per document.

    Corpus-side work is one explode + a BROADCAST join against the
    tokenized DISTINCT-word vocabulary — documents never re-fold merges,
    so adding merges costs vocab-sized work only."""
    dw = (docs.select(F.col(id_col),
                      F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                       .alias("word"))
              .filter(F.col("word") != ""))
    vocab = bpe_apply_vocab(dw.select("word").distinct(), merges)
    tok = vocab.select("word", F.size("bpe_tokens").alias("n_tok"))
    return (dw.join(F.broadcast(tok), "word")
              .groupBy(id_col)
              .agg(F.count("*").alias("n_words"),
                   F.sum("n_tok").cast("long").alias("n_bpe_tokens")))
