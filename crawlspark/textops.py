"""Training-data pipeline operators over document tables.

These are the web-scale data-curation ops a 100 TB text pipeline needs on top
of the crawl engine (task brief: dedup, text analysis, corpus curation).
All hot paths are JVM-side Spark SQL (higher-order array functions); no
per-row Python anywhere.

Scale notes:
* exact dedup: one hash-groupBy shuffle; map-side partial aggregation applies.
* MinHash+LSH: an exact-dup pre-pass collapses identical texts to one
  representative (web corpora are 30-50% exact dups — error pages,
  boilerplate — which otherwise concentrate one quadratic LSH bucket in one
  task); signatures are one aggregate pass (2 xxhash64 per shingle —
  permutations derived as h1+j*h2 on hashes masked into [0, 2^59), so the
  arithmetic can NEVER overflow a long and is identical under ANSI and
  non-ANSI sessions); candidate pairs come from ONE groupBy per (band,
  bucket) with an in-bucket pair explode (bucket_pairs) — output
  ~O(duplicates), not O(n²), and no self-join so the signature subtree is
  evaluated once.
* SimHash: shuffle-free — all 64 bit votes fold in one aggregate pass over
  the token array (array accumulator, 1 xxhash64/token); near-dup candidates
  bucket on 16-bit chunks (hamming ≤ 3 ⇒ one of 4 chunks equal, pigeonhole),
  same bucket_pairs shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .canonical import _bind_once

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): keeper = min doc_id (first-seen
    analog of src/storage/surrogate_key.rs:24-34 applied to content)."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def shingles_expr(text, n: int = 3):
    """Array of n-word shingles (JVM-side).

    The token array is BOUND once (_bind_once) before the per-shingle
    lambda reads it: a lambda body re-evaluates any outer (non-lambda-var)
    expression per element, so referencing ``F.split`` directly re-split the
    text once PER SHINGLE — O(n²) splitting, because Spark applies no
    subexpression elimination inside higher-order-function lambdas
    (measured 33.8 s → ~5 s for the sfbig minhash signature pass when
    combined with the fold fix below). Output strings are identical."""
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


def minhash_signature(documents: DataFrame, num_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """doc_id + minhash signature array.

    Permutation j is derived as ``h1 + j*h2`` from TWO base hashes per shingle
    (the standard public double-hashing construction), so each shingle string
    is xxhash64'd exactly twice regardless of ``num_hashes`` — the naive
    per-permutation ``xxhash64(s, j)`` rehashed every shingle 16×, which
    dominated the query's runtime. All ``num_hashes`` minima are folded in a
    single ``aggregate`` pass over the shingle array with an array
    accumulator, so h1/h2 are computed once per element inside one expression.

    ANSI-safe: both base hashes are logically-right-shifted into
    [0, 2^(63-ceil(log2(num_hashes)))), so ``h1 + j*h2`` is provably below
    2^63 for every j < num_hashes — no long overflow, hence identical results
    (and no ARITHMETIC_OVERFLOW) whether the session runs ANSI on or off.
    """
    # shift such that (num_hashes) * 2^(64-shift) <= 2^63
    shift = (num_hashes - 1).bit_length() + 1
    sh = F.array_distinct(shingles_expr(F.col("text"), shingle_n))
    acc0 = F.array(*[F.lit(0x7FFFFFFFFFFFFFFF).cast("long")] * num_hashes)

    return documents.select(
        "doc_id", sh.alias("shingles"),
        F.aggregate(sh, acc0, _minhash_fold(shift)).alias("sig"),
    )


def _minhash_fold(shift: int):
    """Minhash fold step: per shingle, BOTH base hashes are bound once
    (_bind_once) before the 16-slot accumulator transform reads them —
    referencing ``F.xxhash64(s)`` directly inside the inner lambda
    re-evaluated both hashes once PER ACCUMULATOR SLOT (num_hashes × 2
    hashes per shingle instead of 2; the docstring's 'exactly twice'
    contract now actually holds). Same arithmetic, same single-STRING
    xxhash64 calls the fixture oracle (canonical.xxhash64_py) mirrors —
    identical signatures."""

    def fold(acc, s):
        h = F.struct(
            F.shiftrightunsigned(F.xxhash64(s), shift).alias("h1"),
            F.shiftrightunsigned(
                F.xxhash64(F.concat(F.lit("mh2|"), s)), shift
            ).alias("h2"),
        )
        return _bind_once(
            h,
            lambda hh: F.transform(
                acc, lambda m, i: F.least(m, hh["h1"] + i.cast("long") * hh["h2"])
            ),
        )

    return fold


def minhash_lsh_pairs(
    documents: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_class_pairs: int | None = None,
    keep: list | None = None,
) -> DataFrame:
    """Near-duplicate pairs (a<b) via banded MinHash, verified with exact
    shingle-set Jaccard (no false positives in the output).

    Scale shape: an exact-dup pre-pass first collapses identical texts to one
    representative (min doc_id per md5(text) class). Web corpora are 30-50%
    EXACT duplicates concentrated in few texts (error pages, boilerplate) —
    without the collapse those classes all land in the same LSH buckets and
    one task runs a quadratic in-bucket explode. After the collapse, LSH/
    signature work runs over unique texts only; identical-class pairs are
    emitted directly (jaccard exactly 1.0), and representative near-dup pairs
    are expanded back to member pairs with two keyed joins (distributed,
    AQE-skew-splittable). Output is identical to running LSH over all docs:
    signatures depend only on text, so same-class docs share every bucket.

    ``max_class_pairs`` guards the pair CONTRACT's O(class²) in-class term —
    a 10⁶-copy boilerplate class would emit 5·10¹¹ (a,b,1.0) rows by
    definition. When set, classes whose all-pairs count exceeds the cap emit
    a SPANNING STAR instead (keeper→member, n-1 rows): downstream
    ``dedup_clusters`` output is IDENTICAL (connectivity preserved, keeper =
    min id either way); only the diagnostic pair list is reduced, and the
    reduction is logged (count of classes + pairs elided — no silent caps).
    At 10^10-doc scale set this (and consume clusters, not pairs); the
    default None keeps the exact all-pairs contract for the oracle battery.

    ``keep``: persisted intermediates (the op's working set: unique-text reps
    + signatures/shingle sets) are appended here for the caller to unpersist
    after materialization; left cached for the session otherwise.
    """
    rows_per_band = num_hashes // bands
    docs_h = documents.select("doc_id", "text", F.md5("text").alias("_th"))
    # ONE persisted frame is the op's whole working set: the class
    # representative (min doc_id per md5 class), class size, precomputed
    # shingle set AND minhash signature — filled in a single job. (Round 3
    # cached `reps` and `sig` separately: two sequential cache fills with an
    # intermediate exchange cost ~1.3 s extra at sf0.1. Lazy subtrees are NOT
    # reused across separate join branches, so WITHOUT the persist every
    # consumer re-ran scan+md5+groupBy+signature — measured 9 s → 25 s.)
    # MEMORY_AND_DISK; shingle sets ride along so the exact-Jaccard verify
    # reads them from cache instead of re-shingling both texts per candidate
    # pair. No collect_list of member ids anywhere: a degenerate class
    # (millions of identical pages) stays row-per-member, never one giant
    # array row.
    reps = docs_h.groupBy("_th").agg(
        # texts within a class are identical, so any member's text works
        F.min("doc_id").alias("doc_id"),
        F.first("text").alias("text"),
        F.count("*").alias("_n"),
    )
    shift = (num_hashes - 1).bit_length() + 1
    sh_expr = F.array_distinct(shingles_expr(F.col("text"), shingle_n))
    acc0 = F.array(*[F.lit(0x7FFFFFFFFFFFFFFF).cast("long")] * num_hashes)

    rep_sig = (
        reps.select("_th", "doc_id", "_n", sh_expr.alias("shingles"))
        # same construction (and ANSI-safety proof) as minhash_signature;
        # _minhash_fold binds both base hashes once per shingle
        .withColumn("sig", F.aggregate("shingles", acc0, _minhash_fold(shift)))
        .persist()
    )
    mem = docs_h.select("_th", "doc_id")
    if keep is not None:
        keep.append(rep_sig)
    # the banded frame carries ONLY (doc_id, band, bucket); candidate pairs
    # come from ONE groupBy per (band, bucket) with an in-bucket pair explode
    # (bucket populations are O(near-dup-group) by LSH construction) — no
    # self-join, so the signature projection is computed exactly once and
    # nothing needs persist()
    banded = rep_sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # (bucket_pairs' two branches each re-derive `banded` — a cheap explode
    # over the cached `rep_sig`)

    # distinct=True: a rep pair sharing several band-buckets would otherwise
    # drag both (~shingle-count-sized) cached shingle arrays through the
    # verify joins and pay the exact-Jaccard intersect once PER SHARED BAND
    # (near-identical texts share all `bands` buckets by construction). The
    # dedup exchange carries only 16-byte id pairs — far cheaper than the
    # duplicated intersects + array-carrying join rows it removes.
    pairs = bucket_pairs(banded, ["band", "bucket"], "doc_id", distinct=True)
    # exact-Jaccard verification (no false positives in the output): the
    # surviving REPRESENTATIVE pair ids join the cached rep_sig frame for
    # their precomputed shingle sets. No broadcast hint: the pair set is
    # O(near-dups) — NOT broadcast-sized at 10^10 docs with realistic dup
    # rates — so these are plain keyed joins (AQE picks broadcast itself when
    # the set really is tiny).
    sh = rep_sig.select("doc_id", "shingles")
    cand = (
        pairs
        .join(sh.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sa")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sb")), "b")
    )
    # |A ∪ B| = |A| + |B| − |A ∩ B| for the (array_distinct-ed) shingle
    # sets, so the union's second O(|A|+|B|) set build is skipped; the
    # division sees the same two integers → bit-identical jaccard.
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    rep_pairs = (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    # In-class pairs ride the SAME two expansion joins as cross-class pairs:
    # a class with >1 member contributes a self rep-pair (r, r, 1.0), whose
    # (ma, mb) expansion enumerates exactly the class's unordered pairs
    # (each twice — the final dropDuplicates collapses them). This replaces
    # round 3's separate in-class self-join + union branch.
    npairs = F.col("_n") * (F.col("_n") - 1) / 2
    self_small = rep_sig.filter(
        (F.col("_n") > 1)
        & (F.lit(True) if max_class_pairs is None else npairs <= max_class_pairs)
    ).select(
        F.col("doc_id").alias("a"), F.col("doc_id").alias("b"),
        F.lit(1.0).alias("jaccard"),
    )
    all_rep_pairs = rep_pairs.unionByName(self_small)
    # Classes over the pair cap must NEVER reach the quadratic member
    # expansion — neither via their self pair (excluded from self_small
    # above) nor via a CROSS-class rep pair (round-4 advice: two ~10^6-copy
    # boilerplate variants at jaccard≥threshold would otherwise expand
    # members(A)×members(B)). Pairs touching a capped class stay as a single
    # rep-to-rep edge; the class's spanning star below preserves
    # dedup_clusters connectivity (member —star→ rep —edge→ other rep).
    if max_class_pairs is not None:
        capped = rep_sig.filter(npairs > max_class_pairs)
        ca = capped.select(F.col("doc_id").alias("a"), F.lit(True).alias("_ca"))
        cb = capped.select(F.col("doc_id").alias("b"), F.lit(True).alias("_cb"))
        marked = all_rep_pairs.join(ca, "a", "left").join(cb, "b", "left")
        to_expand = marked.filter(
            F.col("_ca").isNull() & F.col("_cb").isNull()
        ).select("a", "b", "jaccard")
        rep_level = (
            marked.filter(F.col("_ca").isNotNull() | F.col("_cb").isNotNull())
            .filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("a"),
                F.greatest("a", "b").alias("b"),
                "jaccard",
            )
        )
    else:
        to_expand = all_rep_pairs
        rep_level = None
    rm = mem.select("_th", F.col("doc_id").alias("_m")).join(
        rep_sig.select("_th", F.col("doc_id").alias("_rep")), "_th"
    ).select("_rep", "_m")
    expanded = (
        to_expand
        .join(rm.select(F.col("_rep").alias("a"), F.col("_m").alias("ma")), "a")
        .join(rm.select(F.col("_rep").alias("b"), F.col("_m").alias("mb")), "b")
        .filter(F.col("ma") != F.col("mb"))
        .select(
            F.least("ma", "mb").alias("a"),
            F.greatest("ma", "mb").alias("b"),
            "jaccard",
        )
    )
    if max_class_pairs is not None:
        stats = capped.agg(
            F.count("*").alias("classes"),
            F.sum(npairs - (F.col("_n") - 1)).alias("elided"),
        ).collect()[0]
        if stats["classes"]:
            import logging

            logging.getLogger(__name__).warning(
                "minhash_lsh_pairs: %d exact-dup class(es) exceed "
                "max_class_pairs=%d — emitting spanning stars + rep-level "
                "edges instead of all-pairs (%d diagnostic pairs elided; "
                "dedup_clusters output unaffected)",
                stats["classes"], max_class_pairs, int(stats["elided"]),
            )
        # spanning star for capped classes: keeper (min id) → each member —
        # n-1 rows, never through the quadratic self expansion
        star = (
            mem.join(capped.select("_th", F.col("doc_id").alias("_rep")), "_th")
            .filter(F.col("doc_id") != F.col("_rep"))
            .select(
                F.col("_rep").alias("a"),
                F.col("doc_id").alias("b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        expanded = expanded.unionByName(rep_level).unionByName(star)
    return expanded.dropDuplicates(["a", "b"])


def bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int = 1024,
    distinct: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (a<b) of ids sharing a bucket — one shuffle.
    (``distinct=False`` skips the final dedup exchange for callers that
    deduplicate downstream anyway — a pair may then appear once per shared
    bucket.)

    ``collect_list`` per bucket + in-bucket combination explode replaces the
    classic bucket self-join: same output, half the upstream compute (the
    self-join evaluates its child twice), no cache needed. Bucket populations
    are small under LSH (O(near-dup-group) sizes).

    Degenerate buckets — a boilerplate-heavy corpus where one bucket holds
    millions of ids — would put a quadratic explode in ONE task. Buckets
    larger than ``max_bucket_size`` therefore take a different physical path
    with IDENTICAL output (nothing is dropped): their ids are re-exploded and
    self-joined on the bucket key, which AQE's skew-join split distributes
    across tasks. Both branches filter the same aggregate, so the expensive
    child (the signature computation + its shuffle) is planned once and the
    exchange is reused (ReuseExchange), not recomputed.

    ``id_col`` may be a struct column whose FIRST field is the id (payload
    fields ride along into the output pairs); pairs are ordered/deduplicated
    by the struct's natural order, i.e. by id.
    """
    ids = F.sort_array(F.collect_list(id_col)).alias("ids")
    grouped = df.groupBy(*bucket_cols).agg(ids).filter(F.size("ids") > 1)
    combos = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    small_pairs = (
        grouped.filter(F.size("ids") <= max_bucket_size)
        .select(F.explode(combos).alias("p"))
        .select("p.a", "p.b")
    )
    big = grouped.filter(F.size("ids") > max_bucket_size)
    bl = big.select(*bucket_cols, F.explode("ids").alias("a"))
    br = big.select(*bucket_cols, F.explode("ids").alias("b"))
    big_pairs = (
        bl.join(br, bucket_cols)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    out = small_pairs.unionByName(big_pairs)
    return out.dropDuplicates(["a", "b"]) if distinct else out


def dedup_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs → (node, cluster_id,
    is_keeper): the step that turns pairwise dup evidence into the keep/drop
    decision a dedup pipeline actually executes (cluster_id = min doc_id in
    the component; that doc is the keeper).

    Iterative min-label propagation (the standard distributed CC shape:
    per round one keyed join + min-aggregation over the symmetric edge set,
    all map-side-combinable), driver-looped to a fixpoint — rounds needed =
    graph diameter, which for near-dup clusters is tiny (they are dense
    clique-ish blobs, not paths). Each round's labels are checkpointed and
    the PREVIOUS round's checkpoint blocks released once superseded; the
    fixpoint check rides the same action that materializes the round (one
    job per round). Diameter-proof variants (large-star/small-star, Kiveris
    et al. 2014) drop in here if a corpus ever produces chain-shaped
    components; the exchange shape is the same.

    Raises RuntimeError if the fixpoint is NOT reached within ``max_iters``
    (a chain-shaped component with diameter > max_iters would otherwise be
    silently split into several clusters) — raise ``max_iters`` or switch to
    the diameter-proof variant for such graphs.
    """
    edges = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    edges = edges.unionByName(
        edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).persist()
    # localCheckpoint (not persist) per round: each round's plan references
    # the previous round's labels in TWO places, so an uncut lineage doubles
    # every iteration — ~10 rounds OOM the driver on plan analysis alone.
    # Checkpointing truncates the lineage to the materialized partitions,
    # the standard Spark idiom for iterative algorithms.
    labels = (
        edges.select(F.col("x").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    def step(lbls):
        nbr_min = (
            edges.join(
                lbls.select(F.col("node").alias("y"), F.col("label").alias("ylab")),
                "y",
            )
            .groupBy("x")
            .agg(F.min("ylab").alias("nlab"))
        )
        # the per-round change flag RIDES THE STEP's own left join
        # (new != old ⟺ the neighbor minimum strictly improved the label),
        # so the fixpoint test below is a filter+count over the checkpointed
        # frame instead of a full new⋈old self-join — one join + exchange
        # fewer per round, identical rounds and labels
        return lbls.join(nbr_min, lbls["node"] == nbr_min["x"], "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nlab"), F.col("label"))).alias(
                "label"
            ),
            (F.coalesce(F.col("nlab"), F.col("label")) < F.col("label")).alias("_chg"),
        )

    changed = -1
    for _ in range(max_iters):
        # exactly ONE step per materialized round: a step references its
        # input twice (the nbr_min branch and the join's left side), so the
        # input must be a checkpoint — chaining two steps before the
        # checkpoint recomputes the un-materialized intermediate twice
        # (A/B-measured: double-stepping was ~40% SLOWER despite halving
        # the driver round count)
        new_labels = step(labels).localCheckpoint(eager=False)
        # lazy checkpoint: the fixpoint count below materializes it
        # (1 job/round); the _chg flag column rides the checkpoint
        changed = new_labels.filter(F.col("_chg")).count()
        # the count materialized new_labels' checkpoint; the superseded
        # round's blocks can go (otherwise one checkpoint per round
        # accumulates for the session lifetime in a long-running driver)
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        labels.unpersist()
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iters={max_iters} "
            f"({changed} labels still changing): the pair graph has a component "
            "with diameter > max_iters. Raise max_iters, or use a diameter-"
            "proof variant (large-star/small-star) for chain-shaped graphs."
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def line_dedup(
    documents: DataFrame, sep: str = ". ", min_docs: int = 2
) -> DataFrame:
    """Corpus-level line/sentence deduplication (public pipeline step: C4's
    line filtering, Raffel et al. 2020 §2.2; RefinedWeb's line-wise dedup,
    Penedo et al. 2023): a line occurring in ≥ ``min_docs`` DISTINCT
    documents is boilerplate (cookie banners, navigation, footers) and is
    removed from EVERY document; surviving lines are re-assembled in their
    original order. Returns (doc_id, text, n_lines, n_removed) — a document
    that was pure boilerplate comes back with empty text, not dropped
    (curation pipelines filter on n_removed/n_lines downstream).

    Scale shape: one explode + one md5-keyed aggregation find the
    boilerplate set (map-side combinable; the shuffle carries (hash,
    doc_id)); the removal is an anti-join on the hash; re-assembly is a
    per-document sort_array over collected (pos, line) structs — grouped by
    doc_id, so no global window and no skew beyond a single document's line
    count. The boilerplate set is O(distinct repeated lines); it is NOT
    broadcast-hinted (web boilerplate sets are huge at 10^10 docs — AQE
    broadcasts when genuinely small)."""
    import re as _re

    lines = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), _re.escape(sep))).alias("pos", "line"),
    ).withColumn("_lh", F.md5("line"))
    boiler = (
        lines.groupBy("_lh")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_lh")
    )
    kept = lines.join(boiler, "_lh", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
        ).alias("_text"),
        F.count("*").alias("_n_kept"),
    )
    totals = documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), _re.escape(sep))).cast("long").alias("n_lines"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_text"), F.lit("")).alias("text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def simhash(documents: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document, fully JVM-side: tokens are exploded and
    all 64 bit votes run as COMPILED sum aggregates in one whole-stage-
    codegen hash aggregation (1 xxhash64 per token, projected once below
    the aggregate).

    Why not the shuffle-free HOF fold (rounds 3-5): higher-order-function
    lambdas are interpreted expression-by-expression — the 64-lane vote
    fold cost ~320 interpreted evals per token and dominated the query.
    The explode+groupBy shape runs the same arithmetic in codegen
    (A/B-measured 11.1 s → 1.6-2.8 s on the 10x profiling corpus, identical
    hashes). The one exchange it adds is DOC-count-sized, not token-sized:
    partial aggregation collapses each document's votes map-side, so the
    shuffle carries one 64-long vote row per document — the same order of
    bytes as the operator's own output. Integer vote sums are order-
    independent, so the hash is bit-identical at any parallelism (same
    single-string xxhash64 the fixture oracle mirrors); a NULL text yields
    a NULL simhash exactly like the fold did."""
    mk = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    toks = documents.select(
        id_col,
        F.explode_outer(F.split(F.col(text_col), " ")).alias("_t"),
    )
    # NULL text → one NULL-token row → NULL hash (xxhash64(NULL) would be
    # the seed, so the hash is nulled explicitly); real tokens are never NULL
    h = toks.select(
        id_col,
        F.when(F.col("_t").isNull(), F.lit(None).cast("long"))
        .otherwise(F.xxhash64("_t")).alias("_h"),
    )
    sums = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("_h").isNull(), F.lit(None).cast("int"))
                .when(F.col("_h").bitwiseAND(F.lit(m).cast("long")) != 0, 1)
                .otherwise(-1)
            ).alias(f"_v{i}")
            for i, m in enumerate(mk)
        ]
    )
    out = None
    for i, m in enumerate(mk):
        term = F.when(F.col(f"_v{i}") > 0, F.lit(m).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        out = term if out is None else out.bitwiseOR(term)
    hash_expr = F.when(F.col("_v0").isNull(), F.lit(None).cast("long")).otherwise(out)
    return sums.select(id_col, hash_expr.alias("simhash"))


def simhash_near_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, candidates
    pruned by 16-bit chunk equality (pigeonhole over 4 chunks)."""
    sh = simhash(documents)
    # the hash rides inside the bucket id-struct, so simhash() is evaluated
    # exactly once and the pairs arrive verification-ready (no re-join)
    chunks = sh.select(
        F.struct("doc_id", "simhash").alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("item", "cc.chunk", "cc.val")
    # distinct deferred to the (much smaller) post-hamming-filter pair set:
    # a pair sharing several equal chunks re-verifies a cached bit_count
    # instead of paying a dedup exchange on the full candidate set
    pairs = bucket_pairs(chunks, ["chunk", "val"], "item", distinct=False)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"), "hamming")
        .dropDuplicates(["a", "b"])
    )


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
# PII redaction, sequence packing, substring dedup
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


def substring_dedup(
    documents: DataFrame,
    window: int = 32,
    stride: int = 16,
    keep: list | None = None,
) -> DataFrame:
    """Duplicated-span (exact-substring) deduplication — the scalable window
    relaxation of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", ExactSubstr, public method): any span of
    ``window`` whitespace tokens whose text occurs MORE THAN ONCE anywhere in
    the corpus is removed from every occurrence EXCEPT the first, where
    "first" is the lexicographic minimum (doc_id, window_index) — keep-one,
    like the paper's dedup, unlike line_dedup's remove-all boilerplate rule.
    The paper's suffix array is replaced by fixed-width windows at ``stride``
    tokens: a duplicated run of >= window + stride - 1 tokens is guaranteed
    to contain an aligned duplicated window; shorter duplicates (down to
    ``window``) are detected when their alignments coincide. Documents with
    fewer than ``window`` tokens are never touched.

    Returns (doc_id, text, n_tokens, n_removed, n_dup_windows): the
    reassembled text (surviving tokens in original order, space-joined), the
    original whitespace-token count, how many tokens were removed, and how
    many duplicate windows hit the document.

    Scale shape: window hashing is one per-doc HOF projection (md5 over
    token slices — no corpus-sized gram explode of TEXT); the only
    corpus-wide exchange carries (hash, doc_id, window_index) — 16-byte
    digests plus ids, map-side combinable into the min-struct keeper
    aggregate (order-independent, so partitioning never changes the answer).
    Duplicate window ids join back per doc_id and a token-index filter
    rebuilds the text — no global window; skew is bounded by one document's
    token count times its duplicate-window count (worst case O(n*d) per doc,
    d = n/stride for a fully-duplicated document)."""
    toks = F.split(F.col("text"), " ")

    def _win_hashes(tk):
        k = F.floor((F.size(tk) - window) / stride).cast("int")
        return F.when(
            F.size(tk) >= window,
            F.transform(
                F.sequence(F.lit(0), k),
                lambda i: F.md5(F.concat_ws(" ", F.slice(tk, i * stride + 1, window))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    wins = documents.select(
        "doc_id",
        F.posexplode(_bind_once(toks, _win_hashes)).alias("widx", "_h"),
    ).persist()
    if keep is not None:
        keep.append(wins)
    # keeper per duplicated hash: order-independent min-struct aggregate
    dup_stats = (
        wins.groupBy("_h")
        .agg(F.count("*").alias("_c"), F.min(F.struct("doc_id", "widx")).alias("_k"))
        .filter(F.col("_c") >= 2)
        .select("_h", "_k")
    )
    dup_occ = (
        wins.join(dup_stats, "_h")
        .filter(
            ~((F.col("doc_id") == F.col("_k.doc_id")) & (F.col("widx") == F.col("_k.widx")))
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("widx")).alias("_dw"))
    )
    dw = F.coalesce(F.col("_dw"), F.array().cast("array<int>"))

    def _rebuild(tk):
        kept = F.filter(
            tk,
            lambda t, j: ~F.exists(
                dw, lambda w: (w * stride <= j) & (j < w * stride + window)
            ),
        )
        return F.struct(
            F.concat_ws(" ", kept).alias("text"),
            F.size(tk).cast("long").alias("n_tokens"),
            (F.size(tk) - F.size(kept)).cast("long").alias("n_removed"),
        )

    out = documents.join(dup_occ, "doc_id", "left").select(
        "doc_id",
        _bind_once(toks, _rebuild).alias("_r"),
        F.size(dw).cast("long").alias("n_dup_windows"),
    )
    return out.select(
        "doc_id",
        F.col("_r.text").alias("text"),
        F.col("_r.n_tokens").alias("n_tokens"),
        F.col("_r.n_removed").alias("n_removed"),
        "n_dup_windows",
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
