"""Training-data pipeline operators over document tables.

These are the web-scale data-curation ops a 100 TB text pipeline needs on top
of the crawl engine (task brief: text analysis, corpus curation). All hot
paths are JVM-side Spark SQL (higher-order array functions); no per-row
Python anywhere. Each operator's docstring states its scale shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .canonical import _bind_once

# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def shingles_expr(text, n: int = 3):
    """Array of n-word shingles (JVM-side).

    The token array is BOUND once (_bind_once) before the per-shingle
    lambda reads it: a lambda body re-evaluates any outer (non-lambda-var)
    expression per element, so referencing ``F.split`` directly re-split the
    text once PER SHINGLE — O(n²) splitting, because Spark applies no
    subexpression elimination inside higher-order-function lambdas.
    Output strings are identical."""
    words = F.split(text, " ")

    def build(w):
        k = F.size(w) - (n - 1)
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", w)))

    return _bind_once(words, build)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

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
    carry_cols: tuple = (),
) -> DataFrame:
    """Gopher-style document quality gates (public rule family: Rae et al.
    2021, "Scaling Language Models" §A1.1): word-count bounds, mean-word-
    length bounds, alphabetic-word ratio, minimum stopword evidence. Pure
    Catalyst — whole-stage codegen, no Python — and every feature is exact
    integer/ratio arithmetic so the DuckDB oracle matches bit-for-bit.

    Output: per-doc rule features + the per-rule booleans + the final
    ``keep`` conjunction (the pipeline filter is ``.filter("keep")``, kept
    separate here so rejected docs stay inspectable — the reference's
    quarantine pattern, S24). ``carry_cols`` passes input columns through
    the projection so composed pipelines need no self-join (the gates are
    pure expressions of ``text``)."""
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
        *carry_cols,
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


def fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprints: md5 (oracle-portable) + xxhash64 (engine key)."""
    return documents.select(
        "doc_id",
        F.md5("text").alias("md5_fp"),
        F.xxhash64("text").alias("xx_fp"),
    )


def winnow_fingerprints(
    documents: DataFrame, shingle_n: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (public algorithm: Schleimer,
    Wilkerson, Aiken, SIGMOD 2003): hash every positional word ``shingle_n``-
    gram, slide a ``window`` over the hash sequence, keep each window's
    minimum — the distinct minima are the document's fingerprint set, the
    standard local-similarity sketch (plagiarism/near-dup evidence at
    sub-document granularity, where whole-doc hashes see nothing).

    Pure Catalyst: one expression per doc (positional shingles → xxhash64 →
    per-window array_min → array_distinct), exploded to (doc_id, fp) rows.
    Guarantee (winnowing's own): any shared run of ``window + shingle_n - 1``
    words between two docs yields at least one shared fingerprint. Oracle:
    independent pure-Python mirror (tools/make_fixtures.py)."""
    sh = shingles_expr(F.col("text"), shingle_n)  # positional — NOT deduped
    hs = F.transform(sh, lambda s: F.xxhash64(s))

    def windows(h):
        nwin = F.greatest(F.size(h) - (window - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), nwin - 1),
            lambda i: F.array_min(F.slice(h, i + 1, window)),
        )

    fps = F.array_distinct(_bind_once(hs, windows))
    return documents.select("doc_id", F.explode(fps).alias("fp"))


# ---------------------------------------------------------------------------
# corpus curation: decontamination, domain quotas, split assignment
# ---------------------------------------------------------------------------

def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    shingle_n: int = 5,
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the GPT-3 appendix-C /
    PaLM / Llama eval-leakage guard, public method): a training document is
    contaminated iff it shares at least one word ``shingle_n``-gram with any
    benchmark document. Returns (doc_id, contaminated) for every input doc.

    Scale shape (100 TB corpus, benchmark ≪ corpus): the benchmark gram set
    is distinct-hashed and BROADCAST — eval suites are at most millions of
    grams — so the corpus side is a map-only explode + broadcast LEFT SEMI
    join with NO corpus shuffle; the only exchange is the id-only distinct of
    contaminated ids (cardinality ≤ corpus rows, few bytes/row), then an
    id-only broadcast-unfriendly join back is avoided by LEFT SEMI/ANTI on
    doc_id. Gram arrays are ``array_distinct``-ed per doc before the explode
    so boilerplate repetition inside one doc costs one row, not many.

    Short docs follow shingles_expr's own edge rule (fewer than ``shingle_n``
    words ⇒ one whole-text gram), so a benchmark doc is always contaminated
    by its own presence in the corpus — the property decontamination exists
    to enforce.
    """
    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        g = F.explode(
            F.array_distinct(shingles_expr(F.col("text"), shingle_n))
        ).alias("gram")
        cols = (["doc_id", g] if keep_id else [g])
        return df.select(*cols)

    bench_grams = (
        grams(benchmark, keep_id=False)
        .select(F.md5("gram").alias("gram_hash"))
        .distinct()
    )
    contaminated = (
        grams(documents, keep_id=True)
        .select("doc_id", F.md5("gram").alias("gram_hash"))
        .join(F.broadcast(bench_grams), "gram_hash", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return documents.select("doc_id").join(
        contaminated.withColumn("contaminated", F.lit(True)), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


def domain_quota(documents: DataFrame, k: int = 50,
                 domain_col: str = "source") -> DataFrame:
    """Per-domain contribution cap (C4 §2.3 / RefinedWeb §3.1 style: no
    single site may dominate the corpus): keep at most ``k`` docs per domain,
    preferring longer documents (``n_chars`` desc, ``doc_id`` asc as the
    deterministic tiebreak). Returns the surviving (doc_id, domain) rows.

    Scale shape: a single global window over a mega-domain serializes one
    task, so the top-k runs in TWO phases (the scheduler's salted politeness
    top-k pattern, scheduler.py): phase 1 takes a local top-k inside each
    (domain, salt) group — bounding every task at O(k) survivors per salt —
    and phase 2 takes the true top-k over the ≤ SALTS*k finalists per
    domain. Output is identical to the single-window plan for every input
    (both phases use the same total order; any true top-k row is in its
    salt's top-k).
    """
    SALTS = 32
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    base = documents.select("doc_id", F.col(domain_col).alias("domain"), "n_chars")
    salted = Window.partitionBy(
        "domain", (F.col("doc_id") % SALTS).alias("salt")
    ).orderBy(*order)
    finalists = (
        base.withColumn("r", F.row_number().over(salted))
        .filter(F.col("r") <= k)
        .drop("r")
    )
    final = Window.partitionBy("domain").orderBy(*order)
    return (
        finalists.withColumn("r", F.row_number().over(final))
        .filter(F.col("r") <= k)
        .select("doc_id", "domain")
    )


def split_assign(documents: DataFrame, val_pct: int = 5,
                 test_pct: int = 5) -> DataFrame:
    """Deterministic train/val/test assignment by content-free id hashing —
    the standard reproducible-split idiom for training corpora (stable under
    re-runs, insertions and partitioning, unlike randomSplit whose output
    depends on partition layout). Bucket = first 4 hex digits of
    md5(doc_id-as-string) mod 100; buckets [0, test) → test, [test,
    test+val) → val, rest → train. md5 keeps the hash portable to the ANSI
    SQL oracle (DuckDB computes the identical bytes). Pure projection: no
    shuffle, no state, safe at any scale.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    return documents.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < test_pct, "test")
        .when(bucket < test_pct + val_pct, "val")
        .otherwise("train")
        .alias("split"),
    )

# ---------------------------------------------------------------------------
# PII redaction, sequence packing
# ---------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_redact(documents: DataFrame) -> DataFrame:
    """PII scrubbing for published training corpora (the BigScience ROOTS /
    RefinedWeb release step, public method): replace emails, IPv4 addresses
    and NANP-style phone numbers with typed placeholder tokens, and report
    per-doc match counts (the audit trail release pipelines keep).

    The three patterns are deliberately restricted to the regex subset where
    Java (Spark) and RE2 (DuckDB/Go) agree byte-for-byte — char classes,
    bounded repetition, ``\\b`` — so the oracle runs the IDENTICAL patterns.
    Order matters and is pinned: emails first (an email can embed digit
    runs), then IPs (dotted, can't overlap the dashed phone form), then
    phones. Pure projection: one regexp pass per pattern inside whole-stage
    codegen, no shuffle, no Python."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>"),
        PII_PHONE, "<PHONE>")
    return documents.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
                PII_IPV4, "<IP>"),
            F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    )


def pack_sequences(
    documents: DataFrame,
    ctx: int = 2048,
    small_threshold: int = 2_000_000,
    keep: list | None = None,
) -> DataFrame:
    """GPT-2-style concat-and-chunk sequence packing: documents in doc_id
    order are laid head-to-tail on one global token axis; each doc gets its
    exclusive start offset and the index of the fixed-``ctx`` training
    sequence its first token lands in. The writer that materializes packed
    sequences groups by ``seq_index`` downstream; this operator computes the
    assignment, which is the distributed-hard part (a global prefix sum).

    Scale shape — the dense_rank_range pattern applied to SUMS: adaptive
    single-window fast path at/below ``small_threshold`` docs, else
    range-repartition by doc_id + per-partition running sum + exclusive
    partition offsets from the triangular metadata join
    (seen._cumsum_offsets — O(p²) over a shuffle-partition-count-sized
    frame, never a global window). Token counts here are whitespace tokens
    (size(split)) — the same public approximation token_count uses; a BPE
    UDF slots in by swapping the count expression."""
    from crawlspark.seen import _cumsum_offsets

    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    src = documents.select("doc_id", toks.alias("n_tokens")).persist()
    if keep is not None:
        keep.append(src)
    out_cols = [
        "doc_id", "n_tokens",
        (F.col("_cum") - F.col("n_tokens")).alias("start_offset"),
        F.floor((F.col("_cum") - F.col("n_tokens")) / ctx)
        .cast("long").alias("seq_index"),
    ]
    if src.count() <= small_threshold:
        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
        return src.withColumn("_cum", F.sum("n_tokens").over(w)).select(*out_cols)
    d = (
        src.repartitionByRange("doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if keep is not None:
        keep.append(d)
    sums = d.groupBy("_pid").agg(F.sum("n_tokens").alias("_ptok"))
    offsets = _cumsum_offsets(sums, [("_ptok", "_off")])
    w_local = (
        Window.partitionBy("_pid").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        d.withColumn("_lcum", F.sum("n_tokens").over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("_cum", F.col("_lcum") + F.col("_off"))
        .select(*out_cols)
    )


# --------------------------------------------------------------------------
# HTML → text extraction and term postings (search-side surfaces)
# --------------------------------------------------------------------------

def html_to_text(
    pages: DataFrame, html_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Visible-text extraction from raw HTML — the WET-file step of a
    Common-Crawl-style corpus (WARC response → plain text record): drop
    script/style/comment blocks, break block-level closes into newlines,
    strip the remaining tags, decode the five XML entities + &nbsp;, and
    collapse whitespace.

    Pure Catalyst regexp chain (one projection, no Python, pushes through
    shuffles for free at 10^10 pages). Patterns stay inside the Java∩RE2
    common subset — the same discipline as pii_redact — so a DuckDB oracle
    runs the identical chain.

    Output: (doc_id, text, n_chars).
    """
    s = F.col(html_col).cast("string")
    s = F.regexp_replace(s, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"(?i)</(p|div|li|tr|h[1-6]|br)>|<br[^>]*>", "\n")
    s = F.regexp_replace(s, r"<[^>]+>", " ")
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]:
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.regexp_replace(s, r"[ \t]+", " ")
    s = F.regexp_replace(s, r" ?\n ?", "\n")
    s = F.regexp_replace(s, r"\n{2,}", "\n")
    s = F.regexp_replace(s, r"^\s+|\s+$", "")  # trim ALL edge whitespace (trim() spares \n)
    return pages.select(
        F.col(id_col).alias("doc_id"),
        s.alias("text"),
        F.length(s).cast("long").alias("n_chars"),
    )


def term_postings(documents: DataFrame) -> DataFrame:
    """Exact TF/DF postings over the corpus — the inverted-index fact table
    (and the exact-integer core of TF-IDF: weights need only ln(n_docs/df),
    which the CONSUMER applies so every stored number stays an associative
    long, so the sums are associative and order-independent and a DuckDB
    oracle matches bit-for-bit).

    Tokens are lowercase ``[a-z0-9]+`` runs. Scale shape: tf is one
    map-side-combinable groupBy(term, doc) over the exploded tokens; df
    aggregates the ALREADY-AGGREGATED tf table (never the raw token
    stream); n_docs rides a 1-row broadcast. Stopword-term skew lands in
    combinable counts and the df probe join, where AQE skew-split applies.

    Output: (term, doc_id, tf, df, n_docs).
    """
    toks = documents.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z0-9]+)"), 1)
        ).alias("term"),
    )
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("term", "doc_id", "tf", "df", "n_docs")
    )
