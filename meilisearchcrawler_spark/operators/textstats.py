"""Text analysis for training-data curation — language ID, quality
scoring, token counting, fingerprinting.

The reference sniffs language from markup only (crawler.py:1040-1043)
and gates indexing on raw length (crawler.py:1038). A 100 TB corpus
pipeline needs content-based signals; all of these are pure column
algebra (no UDF, single scan, aggregates push partial map-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import spread_by_id

# Tiny high-frequency stopword lists: the n-gram-free heuristic langid.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"],
    "es": ["el", "los", "las", "de", "que", "y", "en", "un", "una", "es"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"],
}


def words_col(text: Column) -> Column:
    return F.split(F.lower(F.regexp_replace(text, r"\s+", " ")), " ")


def token_count(text: Column) -> Column:
    """Whitespace token count (JVM regexp, no UDF)."""
    return F.size(words_col(text))


def stopword_hits(text: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(words_col(text), sw))


def quality_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document quality signals + a composite score:
    length, tokens, mean word length, punctuation density, stopword
    ratio (best language), uppercase ratio. A narrow input is spread
    first (:func:`spread_by_id`): the regex counts and four stopword
    intersections per row are worth a shuffle of the text."""
    df = spread_by_id(df, id_col)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    n_upper = F.regexp_count(t, F.lit(r"[A-Z]"))
    best_sw = None
    for lang in STOPWORDS:
        hits = stopword_hits(t, lang)
        best_sw = hits if best_sw is None else F.greatest(best_sw, hits)
    sw_ratio = F.round(best_sw / F.greatest(n_tokens, F.lit(1)), 6)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    upper_ratio = F.round(n_upper / F.greatest(n_chars, F.lit(1)), 6)
    mean_wlen = F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6)
    score = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + sw_ratio * F.lit(2.0) * F.lit(0.3)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0))) * F.lit(0.3),
        6,
    )
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        mean_wlen.alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        upper_ratio.alias("upper_ratio"),
        sw_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of stopword hits across the
    configured languages; ties and zero-hit rows → 'und'. Pure column
    algebra (greatest + chained when); a narrow input is spread first,
    as in :func:`quality_features`."""
    df = spread_by_id(df, id_col)
    t = F.col(text_col)
    hits = {lang: stopword_hits(t, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    # deterministic tie-break: first lang in dict order with the max
    guess = F.lit("und")
    for lang in reversed(list(STOPWORDS)):
        guess = F.when(hits[lang] == best, F.lit(lang)).otherwise(guess)
    guess = F.when(best <= 0, F.lit("und")).otherwise(guess)
    return df.select(F.col(id_col), guess.alias("lang_guess"),
                     best.alias("stopword_hits"))


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over the whitespace-canonicalized,
    lowercased text plus a coarse 60-bit numeric form (both JVM-side).
    The numeric form feeds range-partitioned similarity sweeps."""
    canon = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    fp = F.md5(canon)
    return df.select(
        F.col(id_col),
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint60"),
    )
