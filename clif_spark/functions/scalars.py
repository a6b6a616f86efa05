"""Scalar function library (SURVEY §2.8 F1-F13) — builtin-first, zero UDFs.

Every scalar the reference pipelines use, expressed as Catalyst-native column
expressions so they stay inside whole-stage codegen. The reference's only two
custom functions (SURVEY §2.9) are replaced by built-ins: rowwise med matching
-> join formulation (operators.core.fuzzy_vocab_match); digest() -> sha2.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1: multi-branch conditional (case_when, first-match-wins).
# Reference: `code/RCLIF_vitals.Rmd:125-135` (O2 device, 9 branches),
# `code/RCLIF_demographics.Rmd:55-76` (race), `code/RCLIF_adt.Rmd:34-87`.
# ---------------------------------------------------------------------------

def classify(branches: Sequence[tuple[Column, Column | str]],
             default: Column | str | None = None) -> Column:
    """Chained when/otherwise with R case_when first-match-wins semantics."""
    expr: Column | None = None
    for cond, value in branches:
        value = F.lit(value) if isinstance(value, str) else value
        expr = F.when(cond, value) if expr is None else expr.when(cond, value)
    if expr is None:
        raise ValueError("classify requires at least one branch")
    if default is not None:
        default = F.lit(default) if isinstance(default, str) else default
        expr = expr.otherwise(default)
    return expr


# ---------------------------------------------------------------------------
# F3-F5: the med-dose string surgery (`code/RCLIF_medications.Rmd:138-140`).
# ---------------------------------------------------------------------------

#: Signed/decimal/scientific numeric token — the reference's extraction regex
#: at `code/RCLIF_medications.Rmd:139`.
NUMERIC_TOKEN_RE = r"[-+]?[0-9]*\.?[0-9]+([eE][-+]?[0-9]+)?"


def strip_digits(col: Column) -> Column:
    """F3: remove numeric characters to isolate a unit string
    (`str_replace_all(x, "[0-9.]+", "")`, `code/RCLIF_medications.Rmd:138`)."""
    return F.trim(F.regexp_replace(col, r"[0-9.]+", ""))


def extract_numeric_tokens(col: Column) -> Column:
    """F4: all numeric tokens as array<string>
    (`str_extract_all`, `code/RCLIF_medications.Rmd:139`)."""
    return F.regexp_extract_all(col, F.lit(f"({NUMERIC_TOKEN_RE})"), 1)


def extract_dose(col: Column) -> Column:
    """F4: concatenated numeric tokens cast to double — NULL when none
    (R paste(collapse='') on empty -> NA; SURVEY §7.4.3)."""
    joined = F.array_join(extract_numeric_tokens(col), "")
    return F.when(joined == "", None).otherwise(joined).cast("double")


def first_n_words(col: Column, n: int = 2, sep: str = " ") -> Column:
    """F5: first-two-words key used by the fuzzy med match
    (`str_split` + slice, `code/RCLIF_medications.Rmd:113`)."""
    return F.concat_ws(sep, F.slice(F.split(col, sep), 1, n))


# ---------------------------------------------------------------------------
# F6: conditional defaults / coalesce chains.
# ---------------------------------------------------------------------------

def default_if_blank(col: Column, fallback: Column) -> Column:
    """`ifelse(is.na(u) | u == "", derived, u)` (`code/RCLIF_medications.Rmd:138`)."""
    return F.when(col.isNull() | (F.trim(col) == ""), fallback).otherwise(col)


# ---------------------------------------------------------------------------
# F7-F10: time functions.
# ---------------------------------------------------------------------------

def epoch_to_ts(col: Column) -> Column:
    """F7: epoch seconds -> TimestampType (the engine keeps real timestamps;
    the reference formats to string at `code/RCLIF_vitals.Rmd:60` — we format
    only at sinks, SURVEY §1.5)."""
    return F.timestamp_seconds(col.cast("long"))


def ts_to_rclif_string(col: Column) -> Column:
    """F7 sink-side: the reference's "%Y-%m-%d %H:%M:%S" presentation."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def parse_ts(col: Column, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """F8: string -> timestamp (`ymd_hms`, `code/RCLIF_medications.Rmd:143`)."""
    return F.to_timestamp(col, fmt)


def age_years(birth: Column, at: Column) -> Column:
    """F10: age in whole years — `interval(birth, adm) %/% years(1)`
    (`code/RCLIF_demographics.Rmd:118`); months_between matches calendar-year
    semantics better than datediff/365 (SURVEY §2.8 F10)."""
    return F.floor(F.months_between(at, birth) / 12).cast("long")


# ---------------------------------------------------------------------------
# F11: numeric casts / clamps.
# ---------------------------------------------------------------------------

def to_double(col: Column) -> Column:
    """`as.numeric` fidelity: junk -> NULL (requires ANSI off; session.py)."""
    return col.cast("double")


def clamp(col: Column, lo: float | None = None, hi: float | None = None) -> Column:
    """Range clamp (lpm cleaning `code/RCLIF_vitals.Rmd:146-148`).

    NULL-preserving: Spark's least/greatest *skip* NULL arguments
    (least(NULL, hi) -> hi), which would resurrect junk-cast NULLs, so the
    bounds are applied with when() instead.
    """
    out = col
    if hi is not None:
        out = F.when(out > F.lit(hi), F.lit(hi)).otherwise(out)
    if lo is not None:
        out = F.when(out < F.lit(lo), F.lit(lo)).otherwise(out)
    return out


# ---------------------------------------------------------------------------
# F12: pseudonymization hash.
# ---------------------------------------------------------------------------

def hash_id(col: Column) -> Column:
    """Stable one-way id hash (digest() at `code/RCLIF_disposition.Rmd:89-90`;
    sha2-256 chosen over R digest's md5 default — any stable hash satisfies
    the de-identification intent, SURVEY §2.8 F12)."""
    return F.sha2(col.cast("string"), 256)


#: Accent-fold mapping (Latin-1/Latin-Extended vowels + c/n/y): a pure
#: codepoint translate — no ICU dependency, identical semantics in DuckDB's
#: translate(), so oracle-checkable (full Unicode normalization would need
#: an NFD pass; this covers the Western-European fold vocab pipelines use).
ACCENTED = "áàâäéèêëíìîïóòôöúùûüçñýÁÀÂÄÉÈÊËÍÌÎÏÓÒÔÖÚÙÛÜÇÑÝ"
FOLDED = "aaaaeeeeiiiioooouuuucnyAAAAEEEEIIIIOOOOUUUUCNY"


def fold_accents(col: Column) -> Column:
    """F16: accent folding for match keys (vocab joins, dedup shingles,
    fuzzy med match) — 'Café' and 'Cafe' must hash/join identically."""
    return F.translate(col, ACCENTED, FOLDED)
