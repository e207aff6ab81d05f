"""Training-data ops: dedup / similarity / text analysis."""

import pytest

from pyspark.sql import functions as F

from crawlspark.textops import (
    ann_bruteforce_topk,
    ann_lsh_topk,
    embedding_near_dup_pairs,
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


def test_ann_bruteforce_self_vector(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),     # identical to query
        (2, [0.0, 1.0, 0.0]),
        (3, [0.9, 0.1, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = sorted(ann_bruteforce_topk(df, query_vec_id=0, k=3).collect(),
                 key=lambda r: r["rank"])
    assert [r["vec_id"] for r in top] == [1, 3, 2]


def test_ann_lsh_contains_identical(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(1, 40)]
    rows.append((0, rows[4][1]))  # query identical to vec_id 5
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = sorted(ann_lsh_topk(df, query_vec_id=0, k=5, planes=4).collect(),
                 key=lambda r: r["rank"])
    assert top and top[0]["vec_id"] == 5  # bucket shares the identical vector


def test_ann_lsh_recall(spark):
    """LSH's retrieval contract, quantified: on a corpus with PLANTED
    high-cosine neighbors (the structure LSH exists for), hamming-1
    multi-probe at planes=6 recovers the exact brute-force top-k — recall
    1.0. (On isotropic random vectors no sublinear probe can do this; see
    ann_lsh_topk docstring for the measured numbers.)"""
    import random

    rng = random.Random(7)
    dims = 16
    base = [rng.uniform(-1, 1) for _ in range(dims)]
    rows = [(0, base)]
    for i in range(1, 11):  # 10 planted neighbors: tiny perturbations
        rows.append((i, [x + rng.uniform(-0.01, 0.01) for x in base]))
    for i in range(11, 200):  # background: random directions
        rows.append((i, [rng.uniform(-1, 1) for _ in range(dims)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    bf = {r["vec_id"] for r in ann_bruteforce_topk(df, 0, 10).collect()}
    lsh = {r["vec_id"] for r in ann_lsh_topk(df, 0, 10, planes=6, probe_hamming=1).collect()}
    recall = len(lsh & bf) / len(bf)
    assert recall == 1.0, f"recall {recall}: missed {bf - lsh}"


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [1.0, 2.0, 3.0]),
        (3, [3.0, -1.0, 0.5]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(df, threshold=0.999).collect()}
    assert pairs == {(1, 2)}


def test_ann_knn_join_matches_per_query(spark):
    """Batch k-NN join == per-query brute-force top-k, query by query."""
    from crawlspark.textops import ann_knn_join_bruteforce

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {}
    for r in ann_knn_join_bruteforce(df, df.filter(F.col("vec_id") < 3), k=4).collect():
        got.setdefault(r["q_id"], {})[r["rank"]] = r["vec_id"]
    for qid in range(3):
        per_query = sorted(
            ann_bruteforce_topk(df, query_vec_id=qid, k=4).collect(),
            key=lambda r: r["rank"],
        )
        assert [r["vec_id"] for r in per_query] == [got[qid][k] for k in sorted(got[qid])]


def test_ann_knn_join_lsh_recall(spark):
    """LSH-bucketed batch k-NN join recovers the exact top-k on planted
    high-cosine neighbor structure (the LSH retrieval contract)."""
    import random

    from crawlspark.textops import ann_knn_join_bruteforce, ann_knn_join_lsh

    rng = random.Random(11)
    dims = 16
    rows = []
    vid = 0
    for cl in range(4):  # 4 clusters x 6 near-copies
        base = [rng.uniform(-1, 1) for _ in range(dims)]
        for _ in range(6):
            rows.append((vid, [x + rng.uniform(-0.005, 0.005) for x in base]))
            vid += 1
    for _ in range(120):  # background
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(dims)]))
        vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id").isin(0, 6, 12, 18))  # one per cluster
    exact = {(r["q_id"], r["vec_id"]) for r in ann_knn_join_bruteforce(df, queries, k=5).collect()}
    lsh = {(r["q_id"], r["vec_id"]) for r in
           ann_knn_join_lsh(df, queries, k=5, planes=6, probe_hamming=1).collect()}
    recall = len(lsh & exact) / len(exact)
    assert recall == 1.0, f"recall {recall}"


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


def test_embed_neardup_recall_vs_bruteforce(spark):
    """Banded-sketch candidates must recover the full exact pair set on a
    clustered corpus (near-dups = tiny perturbations -> same sign pattern in
    at least one band with overwhelming probability)."""
    import itertools
    import math

    base = [[float((i * 13 + j * 5) % 17 - 8) for j in range(16)] for i in range(12)]
    rows = []
    vid = 0
    for b in base:
        for rep in range(3):  # 3 near-copies per cluster
            rows.append((vid, [x + rep * 1e-6 for x in b]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    exact = {
        (a, b)
        for (a, va), (b, vb) in itertools.combinations(rows, 2)
        if cos(va, vb) >= 0.9999
    }
    got = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(df, threshold=0.9999).collect()}
    assert got <= exact          # verification step guarantees no false positives
    recall = len(got & exact) / len(exact)
    assert recall == 1.0, f"recall {recall}: {exact - got}"


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


def test_ann_ivf_recall(spark):
    """IVF retrieval contract: planted near-neighbors share the query's
    coarse cell, so nprobe>=1 recovers the exact brute-force top-k."""
    import random

    from crawlspark.textops import ann_ivf_topk

    rng = random.Random(11)
    dims = 16
    # background FIRST: ids < nlist become the coarse centroids (spread-out
    # directions); the query + planted cluster live at high ids and all fall
    # into the same coarse cell
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(100)]
    base = [rng.uniform(-1, 1) for _ in range(dims)]
    rows.append((100, base))
    for i in range(101, 109):  # planted neighbors of the query
        rows.append((i, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bf = {r["vec_id"] for r in ann_bruteforce_topk(df, 100, 8).collect()}
    ivf = {r["vec_id"] for r in ann_ivf_topk(df, 100, 8, nlist=8, nprobe=2).collect()}
    assert len(ivf & bf) / len(bf) == 1.0, f"missed {bf - ivf}"


def test_ann_ivf_kmeans_recall(spark):
    """Trained quantizer contract (round-4 verdict #4): deterministic
    k-means centroids must retrieve at least as well as the untrained
    first-nlist quantizer on the planted-neighbor corpus."""
    import random

    from crawlspark.textops import ann_ivf_topk

    rng = random.Random(11)
    dims = 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(100)]
    base = [rng.uniform(-1, 1) for _ in range(dims)]
    rows.append((100, base))
    for i in range(101, 109):
        rows.append((i, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bf = {r["vec_id"] for r in ann_bruteforce_topk(df, 100, 8).collect()}
    first = {r["vec_id"]
             for r in ann_ivf_topk(df, 100, 8, nlist=8, nprobe=2).collect()}
    km = {r["vec_id"]
          for r in ann_ivf_topk(df, 100, 8, nlist=8, nprobe=2,
                                quantizer="kmeans", train_n=64).collect()}
    assert len(km & bf) / len(bf) >= len(first & bf) / len(bf)
    # and the trained path is deterministic: same call, same result set
    km2 = {r["vec_id"]
           for r in ann_ivf_topk(df, 100, 8, nlist=8, nprobe=2,
                                 quantizer="kmeans", train_n=64).collect()}
    assert km == km2


def test_ann_ivf_probe_fraction(spark):
    """The probe set really prunes: candidates scored = vectors whose
    assigned list is probed, not the whole corpus (checked via the
    assignment closed over a tiny corpus)."""
    from crawlspark.textops import ann_ivf_topk

    rows = [(i, [float((i * 13 + j * 7) % 19 - 9) for j in range(8)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = ann_ivf_topk(df, query_vec_id=0, k=60, nlist=8, nprobe=2).collect()
    # k=60 asks for everything retrievable: fewer than the full corpus comes
    # back because unprobed lists are never scored
    assert 0 < len(got) < 59


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
# repetition rules / PII redaction / sequence packing
# ---------------------------------------------------------------------------

def test_repetition_rules_features(spark):
    from crawlspark.textops import repetition_rules

    docs = spark.createDataFrame(
        [
            # 4 lines, "dup" 3× → dup_lines=2, dup chars 6/ (3+5+3+3)=14
            (1, "dup\nfresh\ndup\ndup"),
            (2, "a perfectly normal line\nanother normal line"),
            # "spam ham" 2-gram repeats: words s h s h s h → top 2-gram
            # "spam ham" count 3 (overlapping), len 8 → 24/26 chars
            (3, "spam ham spam ham spam ham"),
            (4, "one"),       # <2 words: no grams, frac 0
            (5, ""),          # empty: all fracs 0
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_rules(docs).collect()}
    r1 = got[1]
    assert r1["n_lines"] == 4 and r1["dup_lines"] == 2
    assert r1["dup_line_frac"] == 0.5
    assert r1["dup_line_char_frac"] == round(6 / 14, 6)
    assert not r1["ok_dup_lines"] and not r1["keep"]
    r2 = got[2]
    assert r2["dup_lines"] == 0 and r2["dup_line_frac"] == 0.0
    assert r2["keep"]
    r3 = got[3]
    assert r3["top2gram_char_frac"] == round(3 * len("spam ham") / 26, 6)
    assert not r3["ok_top2gram"] and not r3["keep"]
    assert got[4]["top2gram_char_frac"] == 0.0 and got[4]["keep"]
    r5 = got[5]
    assert r5["n_lines"] == 1 and r5["dup_line_char_frac"] == 0.0
    assert r5["top2gram_char_frac"] == 0.0 and r5["keep"]


def test_repetition_rules_python_mirror(spark):
    """Textbook counter-based recomputation must agree with the sorted-array
    folds on varied synthetic docs (the oracle's formulation)."""
    from collections import Counter
    from crawlspark.textops import repetition_rules

    rows = []
    for i in range(40):
        words = [f"w{(i * j) % 7}" for j in range(i % 13)]
        lines = [" ".join(words[k:k + 3]) for k in range(0, len(words), 2)]
        rows.append((i, "\n".join(lines)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r.asDict() for r in repetition_rules(docs).collect()}
    for i, text in rows:
        lines = text.split("\n")
        lc = Counter(lines)
        dup_lines = sum(c - 1 for c in lc.values())
        line_chars = sum(len(x) for x in lines)
        dup_chars = sum((c - 1) * len(x) for x, c in lc.items())
        w = text.split(" ")
        for n, col in [(2, "top2gram_char_frac"), (3, "top3gram_char_frac")]:
            grams = [" ".join(w[k:k + n]) for k in range(len(w) - n + 1)]
            best = max(
                (c * len(g) for g, c in Counter(grams).items() if c >= 2),
                default=0,
            )
            want = round(best / len(text), 6) if len(text) else 0.0
            assert got[i][col] == want, (i, col)
        assert got[i]["dup_lines"] == dup_lines, i
        assert got[i]["dup_line_char_frac"] == (
            round(dup_chars / line_chars, 6) if line_chars else 0.0
        ), i


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


def test_lm_likelihood_hand_computed(spark):
    """Add-one bigram LM on a 3-doc corpus small enough to verify by hand;
    includes a 1-token doc (no bigrams -> zeros)."""
    from crawlspark.textops import lm_likelihood

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "x")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r.asDict() for r in lm_likelihood(docs).collect()}
    # bigrams: doc0 -> (a,b) (b,a) (a,b); doc1 -> (a,b)
    # c1: a=3, b=1 ; c2: (a,b)=3, (b,a)=1 ; V = |{a,b,x}| = 3
    S = 10**9
    ab = (3 + 1) * S // (3 + 3)    # 666666666
    ba = (1 + 1) * S // (1 + 3)    # 500000000
    assert got[0] == {
        "doc_id": 0, "n_bigrams": 3, "lm_score_sum": 2 * ab + ba,
        "lm_score_mean": (2 * ab + ba) // 3,
    }
    assert got[1] == {
        "doc_id": 1, "n_bigrams": 1, "lm_score_sum": ab, "lm_score_mean": ab,
    }
    assert got[2] == {
        "doc_id": 2, "n_bigrams": 0, "lm_score_sum": 0, "lm_score_mean": 0,
    }


def test_lm_likelihood_parallelism_invariant(spark):
    """Integer fixed-point axis: identical output at 1 and 32 shuffle
    partitions (the reason the op avoids float log-sums)."""
    from crawlspark.textops import lm_likelihood

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} common w{(i * 3) % 7} tail common w{i % 5}")
         for i in range(60)],
        ["doc_id", "text"],
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        a = sorted(map(tuple, lm_likelihood(docs).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        b = sorted(map(tuple, lm_likelihood(docs).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_lm_buckets_thirds_and_tie_sharing(spark):
    """quant=1 -> every distinct score is its own histogram bucket: 6 docs
    with strictly increasing scores split into exact CCNet thirds; docs
    sharing a score share a class even when the cut lands between them."""
    from crawlspark.textops import lm_buckets

    # doc i = token 'w{i}' repeated k times: its only bigram (w_i, w_i) has
    # c1 = c2 = k-1, so score rises with k and docs never interact
    rows = [(i, " ".join([f"w{i}"] * k), "xx") for i, k in enumerate([2, 3, 4, 5, 6, 7])]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    got = {r["doc_id"]: r["ppl_bucket"] for r in lm_buckets(docs, quant=1).collect()}
    # k: 2 3 4 5 6 7 -> score ascending -> head = k in {7, 6}
    assert got == {5: "head", 4: "head", 3: "middle", 2: "middle", 1: "tail", 0: "tail"}

    # tie: three docs with identical score (same k, disjoint vocab) — all
    # land in ONE bucket whose start position is 0 -> everyone 'head'
    rows2 = [(i, " ".join([f"v{i}"] * 4), "yy") for i in range(3)]
    docs2 = spark.createDataFrame(rows2, ["doc_id", "text", "lang"])
    got2 = {r["doc_id"]: r["ppl_bucket"] for r in lm_buckets(docs2, quant=1).collect()}
    assert set(got2.values()) == {"head"}


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
