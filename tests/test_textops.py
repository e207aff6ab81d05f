"""Text-analysis ops: lang-ID, quality score, Gopher gates, token counts."""

import pytest

from crawlspark.textops import (
    lang_id_heuristic,
    quality_score,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat and the dog slept", "en"),
        (2, "the cat sat on the mat and the dog slept", "en"),     # exact dup of 1
        (3, "the cat sat on the mat and the dog snored", "en"),    # near dup
        (4, "der hund und die katze und der vogel", "de"),
        (5, "completely different words entirely unrelated tokens", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_gopher_quality_rules(spark):
    from crawlspark.textops import gopher_quality_rules

    rows = [
        (1, " ".join(["the quick brown fox jumps over the lazy dog and runs to the hills in peace"] * 3)),
        (2, "short text"),                                   # too few words
        (3, " ".join(["1234 5678 9999"] * 20)),              # no alpha words, no stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_quality_rules(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["ok_word_count"] is False
    assert out[3]["keep"] is False and out[3]["ok_alpha_ratio"] is False
    assert out[1]["alpha_word_ratio"] == 1.0


def test_lang_id(docs):
    preds = {r["doc_id"]: r["lang_pred"] for r in lang_id_heuristic(docs).collect()}
    assert preds[1] == "en"
    assert preds[4] == "de"
    assert preds[5] == "und"  # no stopword hits


def test_quality_and_tokens(docs):
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert q[1]["n_words"] == 10
    assert q[1]["stopword_hits"] == 4  # 'the' x3 + 'and' x1
    t = {r["doc_id"]: r for r in token_count(docs).collect()}
    assert t[1]["ws_tokens"] == 10


# ---------------------------------------------------------------------------
