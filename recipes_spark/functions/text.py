"""Text-analysis column builders (SURVEY.md §2.12 X4 + north-star text
ops): tokenization, shingling, fingerprinting, language-ID scoring,
quality metrics. All pure Catalyst expressions (zero Python UDFs) so the
whole text pipeline stays inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Tiny deterministic stopword lists for the n-gram/stopword language-ID
# heuristic. Real deployments swap in real lists; the engine mechanics
# (score → argmax) are what matters here.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "fr": ("le", "la", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "ein", "eine", "mit"),
    "es": ("el", "la", "y", "los", "las", "un", "una"),
    "zh": ("de", "shi", "le", "zai", "he", "you", "wo"),
}


def tokens(col: str | Column) -> Column:
    """Whitespace tokenization."""
    return F.split(col, r"\s+")


def token_count(col: str | Column) -> Column:
    return F.size(tokens(col))


def word_shingles(col: str | Column, n: int = 3) -> Column:
    """Distinct word n-grams: transform over a position sequence +
    slice/concat_ws — vectorized, no explode (the shingle array stays
    row-local until LSH banding needs it)."""
    toks = tokens(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def char_ngrams(col: str | Column, n: int = 5) -> Column:
    """Distinct character n-grams via transform over a position
    sequence + Column.substr — stays in whole-stage codegen. Texts
    shorter than n yield their (single) truncated gram, so every doc
    has ≥1 gram and Jaccard is total."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - n + 1, F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def fingerprint(col: str | Column) -> Column:
    """Document fingerprint: sha256 of the sorted distinct-token bag —
    canonicalizes word order, so shuffled near-duplicates collide
    (X1-adjacent; the reference's sha256 cache key pattern,
    insitu…/recipe.py:31-33)."""
    canon = F.array_join(F.array_sort(F.array_distinct(F.split(F.lower(col), r"\s+"))), " ")
    return F.sha2(canon, 256)


def punct_ratio(col: str | Column) -> Column:
    n = F.length(col)
    return F.when(n > 0, F.regexp_count(col, F.lit(r"[^\w\s]")) / n).otherwise(0.0)


def digit_ratio(col: str | Column) -> Column:
    n = F.length(col)
    return F.when(n > 0, F.regexp_count(col, F.lit(r"[0-9]")) / n).otherwise(0.0)


def stopword_ratio(col: str | Column, lang: str = "en") -> Column:
    toks = tokens(col)
    sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits / n).otherwise(0.0)


def quality_score(col: str | Column) -> Column:
    """Composite doc-quality heuristic in [0,1]: 0.4·stopword ratio +
    0.3·(1 − punctuation ratio) + 0.3·(1 − digit ratio), clamped and
    rounded to 4 digits — rewards stopword presence, penalizes
    punctuation/digit noise. Deterministic + SQL-expressible →
    oracle-checkable."""
    return F.round(
        F.greatest(
            F.least(
                0.4 * stopword_ratio(col)
                + 0.3 * (1.0 - punct_ratio(col))
                + 0.3 * (1.0 - digit_ratio(col)),
                F.lit(1.0),
            ),
            F.lit(0.0),
        ),
        4,
    )


def lang_scores(col: str | Column) -> Column:
    """array<struct<lang,score>> of stopword-hit counts per language —
    the argmax is the language-ID prediction."""
    toks = tokens(col)
    entries = []
    for lang, words in STOPWORDS.items():
        sw = F.array([F.lit(w) for w in words])
        score = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        entries.append(F.struct(F.lit(lang).alias("lang"), score.alias("score")))
    return F.array(*entries)


def lang_id(col: str | Column) -> Column:
    """Predicted language: max score, ties → lexicographically first
    lang (deterministic, mirrored in the DuckDB oracle)."""
    scores = lang_scores(col)
    best = F.array_max(F.transform(scores, lambda s: s["score"]))
    winners = F.filter(scores, lambda s: s["score"] == best)
    return F.array_min(F.transform(winners, lambda s: s["lang"]))
