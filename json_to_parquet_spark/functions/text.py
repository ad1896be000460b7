"""Text-analysis column functions for training-data pipelines.

All pure JVM-side Column expressions (pyspark.sql.functions only — no
Python UDFs): language-ID by Unicode-script histogram, quality scoring,
token counting, and document fingerprinting. Each has an ANSI-SQL twin in
`__spark_entry__.oracle_sql` so the driver's DuckDB harness can verify
values; per-row doubles are safe to compare because both engines evaluate
the identical scalar expression tree (aggregates of doubles are rounded
at the aggregate level instead).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "for", "on",
             "with", "that", "as", "are", "was", "by")


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank → 0."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))).cast("long")


def word_tokens(col: Column) -> Column:
    """Distinct whitespace tokens (lowercased) — the word-shingle set.
    NULL input → empty array (not NULL: downstream dedup kernels index
    into these arrays)."""
    t = F.lower(F.trim(F.coalesce(col, F.lit(""))))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.split(t, r"\s+")))


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-grams (JVM-side: sequence + transform +
    substring — no Python). NULL or shorter-than-k input → empty array."""
    safe = F.coalesce(col, F.lit(""))
    n = F.length(safe)
    # sequence(1, 0) would step backwards — guard short inputs explicitly
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: safe.substr(i, F.lit(k)))))


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lowercased text (the classic near-canonical exact-dup key)."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


def _script_frac(col: Column, pattern: str) -> Column:
    return F.regexp_count(col, F.lit(pattern)) / F.greatest(F.length(col), F.lit(1))


def lang_id(col: Column) -> Column:
    """Heuristic language family ID from Unicode script histograms.

    Returns one of: zh, ja, ko, ru, ar, el, he, th, latin, unknown.
    Pure expression; matching RE2 SQL twin in oracle_sql (Java regex and
    RE2 both support \\p{IsHan} etc. script classes).
    """
    han = _script_frac(col, r"\p{IsHan}")
    kana = _script_frac(col, r"[\p{IsHiragana}\p{IsKatakana}]")
    hangul = _script_frac(col, r"\p{IsHangul}")
    cyr = _script_frac(col, r"\p{IsCyrillic}")
    arab = _script_frac(col, r"\p{IsArabic}")
    greek = _script_frac(col, r"\p{IsGreek}")
    heb = _script_frac(col, r"\p{IsHebrew}")
    thai = _script_frac(col, r"\p{IsThai}")
    latin = _script_frac(col, r"\p{IsLatin}")
    return (F.when(kana > 0.05, "ja")
            .when(han > 0.15, "zh")
            .when(hangul > 0.15, "ko")
            .when(cyr > 0.25, "ru")
            .when(arab > 0.25, "ar")
            .when(greek > 0.25, "el")
            .when(heb > 0.25, "he")
            .when(thai > 0.25, "th")
            .when(latin > 0.3, "latin")
            .otherwise("unknown"))


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: alpha ratio, stopword ratio,
    punctuation balance, and a length term. Mirrors common web-corpus
    quality filters (ratio features, no model)."""
    n = F.greatest(F.length(col), F.lit(1))
    toks = F.greatest(token_count(col), F.lit(1))
    alpha = F.regexp_count(col, F.lit(r"[A-Za-z]")) / n
    punct = F.regexp_count(col, F.lit(r"[.!?,;:]")) / n
    stop_pat = r"\b(" + "|".join(STOPWORDS) + r")\b"
    stop = F.regexp_count(F.lower(col), F.lit(stop_pat)) / toks
    length_term = F.least(toks / F.lit(100.0), F.lit(1.0))
    return (F.lit(0.35) * alpha + F.lit(0.25) * F.least(stop, F.lit(1.0))
            + F.lit(0.2) * (F.lit(1.0) - F.least(punct * 5, F.lit(1.0)))
            + F.lit(0.2) * length_term)
