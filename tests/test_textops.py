"""Training-data ops: text analysis / corpus curation."""

import pytest

from pyspark.sql import functions as F

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


def test_winnow_fingerprints(spark):
    """Winnowing guarantee: docs sharing a run of >= window+n-1 words share
    at least one fingerprint; disjoint texts share none. Values pinned by an
    in-test pure-Python mirror."""
    from crawlspark.canonical import xxhash64_py
    from crawlspark.textops import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, shared + " nine ten eleven twelve thirteen"),
        (3, "totally different words with no overlap at all whatsoever here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])

    def mirror(text, n=3, w=4):
        words = text.split(" ")
        sh = [" ".join(words[i : i + n]) for i in range(max(len(words) - n + 1, 1))]
        hs = [xxhash64_py(s) for s in sh]
        return {min(hs[i : i + w]) for i in range(max(len(hs) - w + 1, 1))}

    for doc_id, text in rows:
        assert got[doc_id] == mirror(text), doc_id
    assert got[1] & got[2]           # shared 8-word run -> shared fingerprint
    assert not (got[1] & got[3])     # disjoint texts -> disjoint fingerprints


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
# decontamination / domain quota / split assignment
# ---------------------------------------------------------------------------

def test_decontaminate_ngram_overlap(spark):
    from crawlspark.textops import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a totally different document about spark engines here"),
            (3, "prefix words then quick brown fox jumps over suffix tail"),
            (4, "short doc"),  # < 5 words: whole-text gram
            (5, "short doc"),  # identical short doc in benchmark → both hit
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [
            (100, "quick brown fox jumps over"),  # exactly one 5-gram
            (101, "short doc"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["contaminated"] for r in decontaminate(docs, bench).collect()}
    assert got == {1: True, 2: False, 3: True, 4: True, 5: True}


def test_decontaminate_benchmark_in_corpus_always_flagged(spark):
    from crawlspark.textops import decontaminate

    docs = spark.createDataFrame(
        [(i, f"doc {i} unique words alpha beta gamma delta {i}") for i in range(20)],
        ["doc_id", "text"],
    )
    bench = docs.filter("doc_id % 5 = 0")
    got = {r["doc_id"]: r["contaminated"] for r in decontaminate(docs, bench).collect()}
    for i in range(20):
        if i % 5 == 0:
            assert got[i], f"benchmark doc {i} must self-flag"
    assert len(got) == 20


def test_domain_quota_matches_single_window(spark):
    from pyspark.sql import Window, functions as F
    from crawlspark.textops import domain_quota

    # skewed domains: one mega-domain (200 docs), several small
    rows = [(i, "mega", (i * 37) % 500) for i in range(200)]
    rows += [(1000 + i, f"d{i % 7}", (i * 11) % 300) for i in range(70)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    got = {(r["doc_id"], r["domain"]) for r in domain_quota(docs, k=10).collect()}

    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    want = {
        (r["doc_id"], r["source"])
        for r in docs.withColumn("r", F.row_number().over(w))
        .filter("r <= 10")
        .collect()
    }
    assert got == want
    # cap respected per domain
    from collections import Counter
    per = Counter(d for _, d in got)
    assert all(v <= 10 for v in per.values())
    assert per["mega"] == 10


def test_split_assign_deterministic_and_partition_invariant(spark):
    from crawlspark.textops import split_assign

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(500)], ["doc_id", "text"]
    )
    a = {r["doc_id"]: (r["bucket"], r["split"]) for r in split_assign(docs).collect()}
    b = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in split_assign(docs.repartition(13)).collect()
    }
    assert a == b  # invariant under partitioning
    splits = [s for _, s in a.values()]
    # roughly 5/5/90 (md5 is uniform; 500 ids → loose bounds)
    assert 0.02 < splits.count("test") / 500 < 0.10
    assert 0.02 < splits.count("val") / 500 < 0.10
    assert splits.count("train") / 500 > 0.8
    # buckets in range and consistent with split labels
    for bkt, s in a.values():
        assert 0 <= bkt < 100
        assert s == ("test" if bkt < 5 else "val" if bkt < 10 else "train")


# ---------------------------------------------------------------------------
# PII redaction / sequence packing
# ---------------------------------------------------------------------------

def test_pii_redact(spark):
    from crawlspark.textops import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail a.user+tag@sub.example.org or b@x.io now"),
            (2, "server 192.168.1.200 and 10.0.0.7 up"),
            (3, "call 555-123-4567 today"),
            (4, "mixed: c@d.com at 8.8.8.8 tel 555-000-1111"),
            (5, "no pii here, just words and 12345"),
            (6, "version 1.2.3 is not an ip, 1.2.3.4 is"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in pii_redact(docs).collect()}
    assert got[1]["n_emails"] == 2
    assert got[1]["redacted"] == "mail <EMAIL> or <EMAIL> now"
    assert got[2]["n_ips"] == 2
    assert got[2]["redacted"] == "server <IP> and <IP> up"
    assert got[3]["n_phones"] == 1
    assert got[3]["redacted"] == "call <PHONE> today"
    assert (got[4]["n_emails"], got[4]["n_ips"], got[4]["n_phones"]) == (1, 1, 1)
    assert got[4]["redacted"] == "mixed: <EMAIL> at <IP> tel <PHONE>"
    assert got[5]["redacted"] == got[5]["redacted"] and got[5]["n_emails"] == 0
    assert got[6]["n_ips"] == 1
    assert got[6]["redacted"] == "version 1.2.3 is not an ip, <IP> is"


def test_pack_sequences(spark):
    from crawlspark.textops import pack_sequences

    # token counts: doc i has (i % 5) + 1 words
    rows = [(i, " ".join(f"t{j}" for j in range((i % 5) + 1))) for i in range(300)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in
           pack_sequences(docs, ctx=16).collect()}
    cum = 0
    for i, text in rows:
        nt = len(text.split(" "))
        assert got[i]["n_tokens"] == nt
        assert got[i]["start_offset"] == cum, i
        assert got[i]["seq_index"] == cum // 16, i
        cum += nt
    # adaptive paths identical
    ranged = {r["doc_id"]: r.asDict() for r in
              pack_sequences(docs, ctx=16, small_threshold=0).collect()}
    assert got == ranged


# ---------------------------------------------------------------------------
# HTML → text / term postings
# ---------------------------------------------------------------------------

def test_html_to_text_strips_boilerplate(spark):
    """script/style/comment blocks drop, block closes become newlines,
    entities decode (amp last -- no double decode), whitespace collapses."""
    from crawlspark.textops import html_to_text

    html = (
        "<html><head><style>p{}</style><script>if(a<b){}</script></head>"
        "<body><h1>Title</h1><p>Hello   <b>world</b></p>"
        "<!-- hidden --><div>A &amp;amp; B &lt;x&gt; &#39;q&#39;</div>"
        "<ul><li>one</li><li>two</li></ul>tail</body></html>"
    )
    out = html_to_text(
        spark.createDataFrame([(1, html)], ["doc_id", "payload"])
    ).collect()[0]
    assert out["text"] == (
        "Title\nHello world\nA &amp; B <x> 'q'\none\ntwo\ntail"
    )
    assert out["n_chars"] == len(out["text"])


def test_term_postings_exact_counts(spark):
    """TF per (term, doc), DF per term, n_docs scalar -- tokenizer is
    lowercase [a-z0-9]+ runs (punctuation splits, case folds)."""
    from crawlspark.textops import term_postings

    docs = spark.createDataFrame(
        [(1, "The cat, the CAT!"), (2, "a cat"), (3, "dog-house dog")],
        ["doc_id", "text"],
    )
    got = {(r["term"], r["doc_id"]): (r["tf"], r["df"], r["n_docs"])
           for r in term_postings(docs).collect()}
    assert got[("the", 1)] == (2, 1, 3)
    assert got[("cat", 1)] == (2, 2, 3)
    assert got[("cat", 2)] == (1, 2, 3)
    assert got[("a", 2)] == (1, 1, 3)
    assert got[("dog", 3)] == (2, 1, 3)
    assert got[("house", 3)] == (1, 1, 3)
    assert len(got) == 6
