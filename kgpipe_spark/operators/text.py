"""Text-analysis operators for training-data pipelines.

Each reads a ``(doc_id, text)`` frame. All pure JVM column expressions
(regexp/size/aggregate) — these run over every document of a 100 TB corpus,
so they must stay inside whole-stage codegen; no Python anywhere.

 - ``token_count``      — whitespace tokens + BPE-ish subword piece count.
 - ``quality_features`` — length / punctuation ratio / stopword ratio /
                           mean word length → composite quality score.
 - ``language_id``      — n-gram/stopword-hit heuristic over a tiny
                           per-language marker list (en/de/fr/es).
 - ``fingerprint``      — md5 content fingerprint over normalized text plus
                           a shingle-set fingerprint (order-insensitive).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.functions.literals import round6

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "dans", "que", "pour", "une", "des"],
    "es": ["el", "la", "los", "y", "es", "que", "en", "por", "una", "del"],
}


def _words(col: Column) -> Column:
    return F.filter(F.split(F.trim(F.lower(col)), r"\s+"), lambda w: w != "")


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_subword_tokens, n_chars).

    n_subword_tokens uses a BPE-ish regex: word pieces ≤4 chars count 1,
    longer words count ceil(len/4) — a deterministic token estimator.
    """
    words = _words(F.col("text"))
    subword = F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("bigint"),
    )
    return docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_ws_tokens"),
        subword.alias("n_subword_tokens"),
        F.length(F.col("text")).cast("bigint").alias("n_chars"),
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """(doc_id, n_words, punct_ratio, stopword_ratio, mean_word_len, quality).

    quality ∈ [0,1]: length-capped × (1 - excess punctuation) ×
    stopword presence — a deterministic analog of common quality filters.
    """
    text = F.col("text")
    words = _words(text)
    n_words = F.size(words)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    en_stops = _STOPWORDS["en"]
    n_stop = F.size(F.filter(words, lambda w: w.isin(en_stops)))
    stopword_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w)) / n_words,
    ).otherwise(F.lit(0.0))
    length_score = F.least(n_words / F.lit(20.0), F.lit(1.0))
    quality = length_score * (F.lit(1.0) - F.least(punct_ratio * 2, F.lit(1.0))) * (
        F.lit(0.5) + F.least(stopword_ratio * 2, F.lit(0.5))
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        round6(punct_ratio).alias("punct_ratio"),
        round6(stopword_ratio).alias("stopword_ratio"),
        round6(mean_wl).alias("mean_word_len"),
        round6(quality).alias("quality"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang) — argmax of stopword hits per language, 'und' when
    all zero; ties break by language code order (deterministic)."""
    words = _words(F.col("text"))

    def _hits(lang: str) -> Column:
        stops = list(_STOPWORDS[lang])
        return F.size(F.filter(words, lambda w: w.isin(stops)))

    hit_cols = []
    for lang in sorted(_STOPWORDS):
        hit_cols.append(F.struct(_hits(lang).alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*hit_cols))
    return docs.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("pred_lang"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, content_fp, shingle_fp) — md5 of normalized text and md5 of
    the sorted distinct word set (order-insensitive)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    words_sorted = F.sort_array(F.array_distinct(_words(F.col("text"))))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        F.md5(F.concat_ws("\x01", words_sorted)).alias("shingle_fp"),
    )
