"""Text-analysis operators for training-data curation.

Quality scoring, language identification (marker-profile heuristic), token
counting, and content fingerprinting — every one a native columnar
expression (no Python in the hot path), so a 100 TB documents table is one
codegen'd scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny stopword list used by the quality heuristics.
STOPWORDS = ("the", "a", "of", "and", "to")

#: Marker-word profiles for the language-ID heuristic. Real language ID
#: uses char n-gram profiles; the structure (per-profile score -> argmax)
#: is identical, and the profiles are data here, not code.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast"),
    "es": ("data", "table", "row"),
    "de": ("column", "vector", "merge"),
    "fr": ("join", "filter", "sort"),
    "zh": ("spark", "stream", "batch"),
}


def words(text: Column) -> Column:
    return F.split(text, " ")


def n_words(text: Column) -> Column:
    return F.size(words(text)).cast("long")


def n_distinct_words(text: Column) -> Column:
    return F.size(F.array_distinct(words(text))).cast("long")


def stopword_count(text: Column) -> Column:
    return F.size(F.filter(words(text), lambda w: w.isin(*STOPWORDS))).cast("long")


def avg_word_len(text: Column) -> Column:
    """Mean word length = non-space chars / word count (single exact
    division, deterministic)."""
    return F.length(F.replace(text, F.lit(" "), F.lit(""))) * 1.0 / n_words(text)


def token_estimate(text: Column) -> Column:
    """BPE-ish token estimate: alpha runs + leftover non-space chars/4
    (a standard chars/4 heuristic; real BPE is a vocab lookup, out of
    scope for a relational engine)."""
    alpha_runs = F.size(F.regexp_extract_all(text, F.lit("[a-z]+"), 0)).cast("long")
    # floor, not cast: double->int CAST truncates in Spark but rounds in
    # other engines — floor is unambiguous everywhere.
    return alpha_runs + F.floor(F.length(text) / 4.0).cast("long")


def quality_features(df: DataFrame) -> DataFrame:
    """Per-doc quality features of ``text`` + composite score in one
    projection."""
    t = F.col("text")
    nw = n_words(t)
    nd = n_distinct_words(t)
    sw = stopword_count(t)
    return df.withColumns(
        {
            "n_words": nw,
            "n_distinct_words": nd,
            "uniq_ratio": nd * 1.0 / nw,
            "stopword_ratio": sw * 1.0 / nw,
            "avg_word_len": avg_word_len(t),
            "token_est": token_estimate(t),
            "quality_score": (
                F.least(F.lit(1.0), nw / F.lit(100.0)) * 0.4
                + (nd * 1.0 / nw) * 0.4
                + F.least(F.lit(1.0), (sw * 1.0 / nw) * F.lit(5.0)) * 0.2
            ),
        }
    )


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over the word multiset."""
    w = words(text)
    return {
        lang: F.size(F.filter(w, lambda x: x.isin(*markers))).cast("long")
        for lang, markers in LANG_PROFILES.items()
    }


def predict_lang(text: Column) -> Column:
    """Argmax over profile scores, first-wins tie order = profile order
    (deterministic)."""
    scores = lang_scores(text)
    langs = list(scores)
    expr = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        for prev in langs[:i]:
            c = scores[lang] > scores[prev]
            cond = c if cond is None else (cond & c)
        branch = F.when(cond if cond is not None else F.lit(True), F.lit(lang))
        expr = branch if expr is None else expr.when(
            cond if cond is not None else F.lit(True), F.lit(lang)
        )
    return expr.otherwise(F.lit(langs[0]))


def fingerprint(df: DataFrame) -> DataFrame:
    """Content fingerprints: full md5 of the normalized ``text`` plus a
    short 64-bit prefix key (the join/shuffle-friendly form)."""
    norm = F.lower(F.col("text"))
    return df.withColumns(
        {
            "content_md5": F.md5(norm),
            "content_key": F.substring(F.md5(norm), 1, 16),
        }
    )
