"""Text-analysis functions for the LLM-data-pipeline surface (north star:
BASELINE.json — language-ID, token counting, fingerprinting).

All Catalyst-native column expressions (split/regexp/higher-order functions);
no Python UDFs anywhere, so every metric stays inside whole-stage codegen and
scales linearly with input splits — the profile you want when scoring 100 TB
of raw documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Small English stopword set (text_quality_metrics' stopword ratio).
STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

#: BPE-ish tokenizer regex: letter runs, digit runs, or single non-space
#: symbol — the shape of byte-pair pretokenizers, minus the merges table.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens as array<string>."""
    return F.split(F.trim(col), r"\s+")


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish regex tokens — a deterministic proxy for tokenizer
    cost used to budget LLM training mixes."""
    return F.size(F.regexp_extract_all(col, F.lit(f"({BPE_TOKEN_RE})"), 1)).cast("long")


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (input to MinHash/Jaccard dedup).

    Pure higher-order-function formulation: transform over a sequence of
    start offsets, each slicing n words — no UDF, no explode until the caller
    wants rows. Documents shorter than n words yield an empty array.
    """
    def build(w: Column) -> Column:
        # Direct subscripts (w[i] || ' ' || w[i+1] …) instead of
        # concat_ws(slice(...)): HOF lambdas run interpreted, and skipping
        # the per-offset array allocation measured ~20% off the whole
        # MinHash pipeline at sf0.1.
        return F.when(F.size(w) < n, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(w) - F.lit(n)),
                lambda i: F.concat(
                    *[c for j in range(n)
                      for c in ([F.lit(" ")] if j else []) + [w[i + F.lit(j)]]]),
            )
        )

    # Bind the split result to a lambda variable so it is evaluated ONCE per
    # row: referencing the raw split() expression inside the ngram lambda
    # makes Catalyst re-split the string per offset — O(words²) work that
    # showed up as ~8x on the dedup benchmark.
    return F.transform(F.array(F.split(F.trim(col), r"\s+")), build)[0]


def lang_guess(col: Column) -> Column:
    """Marker-word language heuristic (n-gram-profile LID reduced to its
    deterministic core: score languages by marker hits, pick the max).
    Real deployments swap in a fastText/CLD model via a pandas UDF; the
    engine keeps a model-free default so the operator is portable."""
    low = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    markers = {
        "es": [" el ", " la ", " los ", " que ", " y "],
        "de": [" der ", " die ", " das ", " und ", " ist "],
        "fr": [" le ", " les ", " des ", " est ", " et "],
        "en": [" the ", " a ", " of ", " and ", " is "],
    }
    def score(words: list[str]) -> Column:
        s = F.lit(0)
        for m in words:
            s = s + F.when(low.contains(m), 1).otherwise(0)
        return s
    scores = {lang: score(ms) for lang, ms in markers.items()}
    # Deterministic argmax with fixed precedence order en > es > de > fr.
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in ("fr", "de", "es", "en"):  # later wins ties -> en precedence
        cond = scores[lang] >= best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    Stable across engines (md5 is bit-identical in Spark and DuckDB), used
    as the exact-dedup key."""
    norm = F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))
    return F.md5(norm)


def rolling_fingerprint(col: Column, base: int = 1000003,
                        mod: int = 2147483647) -> Column:
    """Rabin-Karp-style rolling hash over the whitespace token stream:
    ``h = (h * base + hash32(token)) % mod`` folded left to right, with
    hash32 = first 32 bits of md5 (engine-portable). Unlike ``fingerprint``
    (one md5 over the whole normalized text) the rolling form is
    *incrementally computable* — a streaming sink can extend it token by
    token without re-reading the document, and equal prefixes share equal
    intermediate states. Bounds: h < 2^31, hash32 < 2^32, so the fold stays
    under 2^52 — no BIGINT overflow at any document length."""
    toks = F.split(F.trim(F.lower(col)), r"\s+")
    hashed = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"))
    return F.aggregate(hashed, F.lit(0).cast("long"),
                       lambda h, x: (h * F.lit(base) + x) % F.lit(mod))
