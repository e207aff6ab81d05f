"""Training-data ops: dedup / text analysis / corpus curation."""

import pytest

from pyspark.sql import functions as F

from crawlspark.textops import (
    exact_dedup_groups,
    lang_id_heuristic,
    minhash_lsh_pairs,
    quality_score,
    simhash,
    simhash_near_pairs,
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


def test_exact_dedup(docs):
    groups = exact_dedup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["keep_doc_id"] == 1 and groups[0]["n_copies"] == 2


def test_minhash_finds_dups(docs):
    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()}
    assert (1, 2) in pairs          # exact dup always collides, jaccard 1.0
    assert all(a < b for a, b in pairs)


def test_minhash_jaccard_exact_for_identical(docs):
    rows = minhash_lsh_pairs(docs, jaccard_threshold=0.99).collect()
    assert any(r["a"] == 1 and r["b"] == 2 and r["jaccard"] == 1.0 for r in rows)


def test_minhash_degenerate_all_duplicates(spark):
    """An all-identical corpus — the common degenerate case in web data — must
    not concentrate a quadratic explode in one LSH task: the exact-dup
    pre-pass collapses it to ONE representative before any bucketing, and the
    full pair set comes out of the distributed class self-join."""
    n = 500
    rows = [(i, "exact same boilerplate error page text repeated here") for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_lsh_pairs(df, jaccard_threshold=0.9)
    assert out.count() == n * (n - 1) // 2
    sample = out.filter((F.col("a") == 0)).collect()
    assert len(sample) == n - 1 and all(r["jaccard"] == 1.0 for r in sample)


def test_bucket_pairs_big_bucket_same_output(spark):
    """Buckets over max_bucket_size take the join path; output is identical
    to the explode path (nothing silently dropped)."""
    from crawlspark.textops import bucket_pairs

    rows = [("big", i) for i in range(40)] + [("small", i) for i in range(100, 103)]
    df = spark.createDataFrame(rows, ["bkt", "id"])
    small_path = {(r["a"], r["b"]) for r in bucket_pairs(df, ["bkt"], "id", 1024).collect()}
    hybrid = {(r["a"], r["b"]) for r in bucket_pairs(df, ["bkt"], "id", 10).collect()}
    assert hybrid == small_path
    assert len(hybrid) == 40 * 39 // 2 + 3
    assert all(a < b for a, b in hybrid)


def test_dedup_clusters_transitive(spark, docs):
    """CC over real minhash pairs: docs 1,2 (identical) and 3 (near-dup of 1)
    form ONE cluster with keeper 1, even where the pair (2,3) alone wouldn't
    imply it without transitivity."""
    from crawlspark.textops import dedup_clusters

    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    out = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
    assert out[1]["cluster_id"] == 1 and out[1]["is_keeper"] is True
    assert out[2]["cluster_id"] == 1 and out[2]["is_keeper"] is False
    if 3 in out:  # LSH found the near-dup pair
        assert out[3]["cluster_id"] == 1


def test_dedup_clusters_chain(spark):
    """Long chain forces multiple propagation rounds to the fixpoint."""
    from crawlspark.textops import dedup_clusters

    edges = spark.createDataFrame([(i, i + 1) for i in range(10)], ["a", "b"])
    out = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(edges).collect()}
    assert out == {i: 0 for i in range(11)}


def test_simhash_identical_and_near(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2]
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_near_pairs(docs, max_hamming=16).collect()}
    assert pairs[(1, 2)] == 0
    if (1, 3) in pairs:
        assert pairs[(1, 3)] > 0


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


def test_dedup_clusters_nonconvergence_raises(spark):
    """A chain with diameter > max_iters must fail loudly, never return
    silently-split clusters (round-3 ADVICE)."""
    import pytest

    from crawlspark.textops import dedup_clusters

    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iters=3)
    # and with enough rounds the same graph converges to one cluster
    got = dedup_clusters(chain, max_iters=15).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert sum(r["is_keeper"] for r in got) == 1


def test_minhash_max_class_pairs_guard(spark, caplog):
    """A 10⁴-copy exact-dup class: the guard fires (logged, star emission —
    9 999 rows instead of ~5·10⁷) and dedup_clusters output is unaffected."""
    import logging

    from crawlspark.textops import dedup_clusters

    n = 10_000
    rows = [(i, "same boilerplate page text for every single copy") for i in range(n)]
    rows += [(n + 1, "an unrelated document with different words"),
             (n + 2, "an unrelated document with different words")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with caplog.at_level(logging.WARNING, logger="crawlspark.textops"):
        pairs = minhash_lsh_pairs(df, jaccard_threshold=0.9, max_class_pairs=1000)
        got = pairs.collect()
    assert "max_class_pairs" in caplog.text and "9999" not in ""  # guard logged
    # big class → star (n-1 rows from keeper 0); small class → all-pairs (1 row)
    big = [(r["a"], r["b"]) for r in got if r["b"] <= n]
    assert len(big) == n - 1 and all(a == 0 for a, _ in big)
    assert ((n + 1, n + 2) in {(r["a"], r["b"]) for r in got})
    # clusters identical to the uncapped contract: one component per class
    cl = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in dedup_clusters(pairs).collect()}
    assert all(cl[i] == (0, i == 0) for i in range(n))
    assert cl[n + 1] == (n + 1, True) and cl[n + 2] == (n + 1, False)


def test_minhash_cross_class_cap_routing(spark, caplog):
    """Round-4 advice (low): two CAPPED exact-dup classes that are near-dups
    of EACH OTHER must not expand members(A)×members(B) — the cross-class
    rep pair is routed as a single rep-to-rep edge, and the per-class
    spanning stars preserve dedup_clusters connectivity (one merged
    cluster), with |output| = (nA-1) + (nB-1) + O(1) rep edges instead of
    nA×nB."""
    import logging

    from crawlspark.textops import dedup_clusters

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the crawler parses every single page of text")
    nA, nB = 200, 200
    rows = [(i, base) for i in range(nA)]
    rows += [(1000 + j, base + " tail") for j in range(nB)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with caplog.at_level(logging.WARNING, logger="crawlspark.textops"):
        pairs = minhash_lsh_pairs(df, jaccard_threshold=0.5, max_class_pairs=1000)
        got = pairs.collect()
    edges = {(r["a"], r["b"]) for r in got}
    # the quadratic cross product would be 40 000 rows; the routed shape is
    # two stars + rep-level edge(s)
    assert len(edges) < 500, f"cross-class expansion leaked: {len(edges)} rows"
    assert all((0, i) in edges for i in range(1, nA))          # star A
    assert all((1000, 1000 + j) in edges for j in range(1, nB))  # star B
    assert (0, 1000) in edges                                   # rep-to-rep
    # connectivity contract: everything is ONE cluster, keeper = min id
    cl = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
          for r in dedup_clusters(pairs).collect()}
    assert all(cl[i] == (0, i == 0) for i in range(nA))
    assert all(cl[1000 + j] == (0, False) for j in range(nB))


def test_line_dedup(spark):
    """Corpus-level boilerplate-line removal: ordering preserved, threshold
    respected, all-boilerplate docs come back empty (not dropped)."""
    from crawlspark.textops import line_dedup

    rows = [
        (1, "unique one. COOKIE NOTICE. body of one. FOOTER"),
        (2, "COOKIE NOTICE. unique two. FOOTER"),
        (3, "only in doc three. also only here"),
        (4, "COOKIE NOTICE"),                   # pure boilerplate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in line_dedup(df, min_docs=2).collect()}
    assert got[1]["text"] == "unique one. body of one"
    assert (got[1]["n_lines"], got[1]["n_removed"]) == (4, 2)
    assert got[2]["text"] == "unique two"
    assert got[3]["text"] == rows[2][1] and got[3]["n_removed"] == 0
    assert got[4]["text"] == "" and got[4]["n_removed"] == 1
    # threshold: min_docs=3 keeps FOOTER (2 docs) but still strips COOKIE (3)
    got3 = {r["doc_id"]: r for r in line_dedup(df, min_docs=3).collect()}
    assert got3[1]["text"] == "unique one. body of one. FOOTER"
    assert got3[2]["text"] == "unique two. FOOTER"
    assert got3[4]["text"] == ""


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
# PII redaction / sequence packing / substring dedup
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
# substring (duplicated-span) dedup
# ---------------------------------------------------------------------------

def test_substring_dedup_keep_first(spark):
    from crawlspark.textops import substring_dedup

    span = " ".join(f"s{k}" for k in range(8))  # exactly one window at w=8,s=4
    docs = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4 " + span),           # 12 toks, span at 4..11
            (2, "b1 b2 b3 b4 " + span),           # same alignment -> dup
            (3, "c1 c2 c3 " + span),               # 11 toks: windows 0..7? no
            (4, "short doc"),                      # < window: untouched
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in
           substring_dedup(docs, window=8, stride=4).collect()}
    # doc1: windows i=0 (a1..s3), i=1 (s0..s7); doc2: (b1..s3), (s0..s7);
    # doc3 (11 toks): i=0 only (c1..s4) -- unique. Shared hash = s0..s7 in
    # docs 1 and 2 at widx=1; keeper = doc 1 -> doc 2 loses tokens 4..11.
    assert got[1]["text"] == "a1 a2 a3 a4 " + span
    assert got[1]["n_removed"] == 0 and got[1]["n_dup_windows"] == 0
    assert got[2]["text"] == "b1 b2 b3 b4"
    assert got[2]["n_removed"] == 8 and got[2]["n_dup_windows"] == 1
    assert got[3]["text"].startswith("c1") and got[3]["n_removed"] == 0
    assert got[4]["text"] == "short doc" and got[4]["n_tokens"] == 2


def test_substring_dedup_python_mirror(spark):
    """Counter-based textbook recomputation (the oracle's formulation) must
    agree with the distributed plan on varied docs, including in-document
    repeats and multi-way duplicates."""
    from crawlspark.textops import substring_dedup

    W, S = 6, 3
    rows = []
    for i in range(30):
        toks = [f"w{i}x{j}" for j in range(i % 11)]
        if i % 4 == 0:
            toks += [f"p{k}" for k in range(9)]          # shared span
        if i % 7 == 0:
            toks += [f"q{i}r{k}" for k in range(6)] * 2  # in-doc repeat
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in
           substring_dedup(docs, window=W, stride=S).collect()}

    # mirror
    wins = {}
    for i, text in rows:
        w = text.split(" ")
        if len(w) >= W:
            for x in range((len(w) - W) // S + 1):
                wins.setdefault(" ".join(w[x * S:x * S + W]), []).append((i, x))
    dup = {}
    for occ in wins.values():
        if len(occ) >= 2:
            for i, x in sorted(occ)[1:]:
                dup.setdefault(i, []).append(x)
    for i, text in rows:
        w = text.split(" ")
        dws = sorted(dup.get(i, []))
        kept = [t for j, t in enumerate(w)
                if not any(x * S <= j < x * S + W for x in dws)]
        assert got[i]["text"] == " ".join(kept), i
        assert got[i]["n_tokens"] == len(w), i
        assert got[i]["n_removed"] == len(w) - len(kept), i
        assert got[i]["n_dup_windows"] == len(dws), i


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
