"""Text-analysis operators over document tables.

Language ID, quality features, Gopher-style quality gates and token counts:
per-document projections, all JVM-side Spark SQL with no per-row Python and
no shuffle. Every feature is exact integer or rounded-ratio arithmetic, so
the DuckDB oracles in ``__spark_entry__.oracle_sql()`` match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_STOPWORDS = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "es": ["el", "la", "de"],
}


def _count_occurrences(text, needle: str):
    """Occurrence count via the portable length/replace trick (identical
    semantics in Spark SQL and ANSI SQL — used by the DuckDB oracles)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def lang_id_heuristic(documents: DataFrame) -> DataFrame:
    """n-gram/stopword language ID: argmax of per-language stopword hit counts
    (space-padded needles), ties → 'und'."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: sum(
            (_count_occurrences(padded, f" {w} ") for w in words[1:]),
            _count_occurrences(padded, f" {words[0]} "),
        )
        for lang, words in _STOPWORDS.items()
    }
    df = documents.select("doc_id", "text", *[v.alias(f"s_{k}") for k, v in scores.items()])
    langs = list(_STOPWORDS)
    best = F.greatest(*[F.col(f"s_{k}") for k in langs])
    pick = F.lit("und")
    for k in reversed(langs):  # earlier langs win ties (stable argmax)
        pick = F.when((F.col(f"s_{k}") == best) & (best > 0), F.lit(k)).otherwise(pick)
    return df.select("doc_id", pick.alias("lang_pred"), *[f"s_{k}" for k in langs])


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality features: char length, word count, mean word length,
    stopword ratio — integer/exact-division outputs, oracle-safe."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("long")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    stop_hits = sum(
        (_count_occurrences(padded, f" {w} ") for w in ["and", "of"]),
        _count_occurrences(padded, " the "),
    )
    return documents.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        n_words.alias("n_words"),
        F.round(F.length("text") / n_words, 6).alias("mean_word_len"),
        stop_hits.alias("stopword_hits"),
        F.round(stop_hits / n_words, 6).alias("stopword_ratio"),
    )


def gopher_quality_rules(
    documents: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality gates (public rule family: Rae et al.
    2021, "Scaling Language Models" §A1.1): word-count bounds, mean-word-
    length bounds, alphabetic-word ratio, minimum stopword evidence. Pure
    Catalyst — whole-stage codegen, no Python — and every feature is exact
    integer/ratio arithmetic so the DuckDB oracle matches bit-for-bit.

    Output: per-doc rule features + the per-rule booleans + the final
    ``keep`` conjunction (the pipeline filter is ``.filter("keep")``, kept
    separate here so rejected docs stay inspectable — the reference's
    quarantine pattern, S24)."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words).cast("long")
    mean_wl = F.length("text") / n_words
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))).cast("long")
    alpha_ratio = alpha_words / n_words
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    stop_hits = sum(
        (_count_occurrences(padded, f" {w} ") for w in ["and", "of", "to", "in"]),
        _count_occurrences(padded, " the "),
    )
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mwl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_alpha = alpha_ratio >= min_alpha_word_ratio
    ok_stop = stop_hits >= min_stopword_hits
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        alpha_words.alias("alpha_words"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        stop_hits.alias("stopword_hits"),
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha_ratio"),
        ok_stop.alias("ok_stopwords"),
        (ok_words & ok_mwl & ok_alpha & ok_stop).alias("keep"),
    )


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (chars/4 heuristic +
    punctuation splits), all JVM-side."""
    words = F.split(F.col("text"), " ")
    return documents.select(
        "doc_id",
        F.size(words).cast("long").alias("ws_tokens"),
        (F.ceil(F.length("text") / 4)).cast("long").alias("bpe_est_tokens"),
    )
