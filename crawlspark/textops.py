"""Training-data pipeline operators over document/embedding tables.

These are the web-scale data-curation ops a 100 TB text pipeline needs on top
of the crawl engine (task brief: dedup, similarity search, text analysis).
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
* ANN: brute-force cosine is one broadcast of the query vector and a single
  pass (F.aggregate dot products) + TakeOrderedAndProject top-k (no global
  window); the LSH variant prunes candidates by sign-bit sketch first.
* embedding near-dup: BANDED sign-sketches (4×16 planes) — any-band equality,
  the MinHash banding trick, so candidates stay O(near-dups) at 10^10 vectors.
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
    text once PER SHINGLE — O(n²) splitting (the same defect
    repetition_rules documents; measured 33.8 s → ~5 s for the sfbig minhash
    signature pass when combined with the fold fix below). Output strings
    are identical."""
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
# similarity search (embeddings)
# ---------------------------------------------------------------------------

def cosine_expr(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def ann_bruteforce_topk(embeddings: DataFrame, query_vec_id: int = 0, k: int = 10,
                        keep: list | None = None) -> DataFrame:
    """Exact top-k cosine neighbors of one vector — the correctness baseline.
    The query vector is a 1-row broadcast; scoring is one scan."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine_expr(F.col("embedding"), F.col("qvec")).alias("cos"))
    )
    return _rank_topk(scored, k, keep)


def _rank_topk(scored: DataFrame, k: int, keep: list | None = None) -> DataFrame:
    """(vec_id, rank) of the k best by (cos desc, vec_id asc) WITHOUT a global
    window: ``orderBy().limit(k)`` compiles to TakeOrderedAndProject (per-
    partition top-k + driver merge — no single-partition shuffle), then ranks
    the k survivors by a broadcast self-count (k² comparisons, k≤~100)."""
    topk = scored.orderBy(F.col("cos").desc(), F.col("vec_id").asc()).limit(k).persist()
    # ^ k rows; both sides of the rank self-join read it — unpersisted, the
    # full scoring scan ran twice
    if keep is not None:
        keep.append(topk)
    l, r = topk.alias("l"), topk.alias("r")
    better = (F.col("r.cos") > F.col("l.cos")) | (
        (F.col("r.cos") == F.col("l.cos")) & (F.col("r.vec_id") < F.col("l.vec_id"))
    )
    return (
        l.join(F.broadcast(r), better, "left")
        .groupBy(F.col("l.vec_id").alias("vec_id"))
        .agg((F.count(F.col("r.vec_id")) + 1).cast("int").alias("rank"))
    )


def _plane_weight(i: int, p: int) -> float:
    """Deterministic pseudo-random hyperplane weight for (dimension i,
    plane p): xxhash64 of "i_p" → truncated Java %, scaled to [-1, 1). Driver-
    side and LITERAL in the plan — the naive in-expression form cost
    dims×planes runtime hashes per row (4096 for 64-dim × 64-plane banding)
    and blew up codegen. The values match the co-regenerated fixture oracles
    (tools/make_fixtures.py mirrors this formula); xxhash64_py's bit-parity
    with Spark's native xxhash64 is pinned separately by test_canonical.
    No stored model: reproducible anywhere from the formula alone."""
    from .canonical import xxhash64_py

    h = xxhash64_py(f"{i}_{p}")
    r = abs(h) % 1000
    return float(r if h >= 0 else -r) / 500.0 - 1.0


def _projections_expr(vec, n_planes: int, plane_offset: int = 0, dims: int = 64):
    """Array of ``n_planes`` hyperplane dot products in ONE aggregate pass
    with an array accumulator (64 per-plane aggregates each compiled their
    own HOF tree — ~10 s of plan/codegen overhead; this is one expression).
    Per plane the fold order over dimensions is unchanged (i ascending), so
    every projection double — and hence every sketch bit and the fixture
    oracles — is bit-identical to the per-plane formulation."""
    w_matrix = F.array(
        *[
            F.array(*[F.lit(_plane_weight(i, plane_offset + p)) for p in range(n_planes)])
            for i in range(dims)
        ]
    )  # w_matrix[i][p]
    indexed = F.transform(vec, lambda v, i: F.struct(v.alias("v"), i.alias("i")))
    acc0 = F.array(*[F.lit(0.0)] * n_planes)
    return F.aggregate(
        indexed,
        acc0,
        lambda acc, d: F.zip_with(
            acc, F.element_at(w_matrix, d["i"] + 1), lambda a, w: a + d["v"] * w
        ),
    )


def _bits_expr(proj, lo: int, n: int):
    """Long whose bit b (0-based) = sign(proj[lo + b])."""
    out = None
    for b in range(n):
        bit = F.when(F.element_at(proj, lo + b + 1) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        out = term if out is None else out.bitwiseXOR(term)
    return out


def sign_sketch_expr(vec, planes: int = 16, plane_offset: int = 0, dims: int = 64):
    """LSH sign-bit sketch: bit p = sign of the dot product with a
    deterministic pseudo-random hyperplane (weights: _plane_weight, literal
    in the plan). ``plane_offset`` selects an independent plane family."""
    proj = _projections_expr(vec, planes, plane_offset, dims)
    return _bind_once(proj, lambda pr: _bits_expr(pr, 0, planes))


def banded_sketch_expr(vec, bands: int = 4, planes_per_band: int = 16, dims: int = 64):
    """Array of ``bands`` independent sign-sketches (the MinHash-LSH banding
    trick applied to random hyperplanes): a pair is a candidate if ANY band's
    sketch matches exactly, so recall grows with bands while each band's
    bucket stays selective — candidates remain O(near-dups), never
    O(n²/2^planes). All bands' projections come from one aggregate pass,
    evaluated once (_bind_once)."""
    proj = _projections_expr(vec, bands * planes_per_band, 0, dims)
    return _bind_once(
        proj,
        lambda pr: F.array(
            *[_bits_expr(pr, b * planes_per_band, planes_per_band) for b in range(bands)]
        ),
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    planes: int = 8,
    probe_hamming: int = 1,
    keep: list | None = None,
) -> DataFrame:
    """Bucketed ANN with hamming-``probe_hamming`` multi-probe: candidates
    share any sketch within ``probe_hamming`` bit flips of the query's (the
    query row explodes into C(planes,<=r) probe sketches — still a tiny
    broadcast), then exact cosine re-scoring inside the probed buckets. At
    10^10 scale the sketch is the partition key, so each query touches only
    the probed buckets' partitions (~sum C(planes,i)/2^planes of the corpus).

    Recall contract (pinned by test_ann_lsh_recall): sign-LSH retrieves
    HIGH-COSINE neighbors — recall 1.0 on a planted-neighbor corpus
    (cos >= 0.95) at planes=6, r=1. On isotropic random vectors (the synthetic
    testdata: the top-10 'neighbors' of any query sit at cos ~= 0.3) NO
    sublinear probe retrieves the exact top-k reliably — measured 0.0 (r=0)
    -> 0.1-0.2 (r=1) there; raise ``probe_hamming`` or fall back to
    ann_bruteforce_topk when the corpus has no near-duplicate structure."""
    from itertools import combinations

    sk = embeddings.withColumn("sketch", sign_sketch_expr(F.col("embedding"), planes))
    q = sk.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec"), F.col("sketch").alias("qsketch")
    )
    if probe_hamming > 0:
        masks = [
            sum(1 << p for p in bits)
            for r in range(probe_hamming + 1)
            for bits in combinations(range(planes), r)
        ]
        # probe sketches are pairwise distinct, so no candidate matches twice
        q = q.select(
            "qvec",
            F.explode(
                F.array(*[F.col("qsketch").bitwiseXOR(F.lit(m).cast("long")) for m in masks])
            ).alias("qsketch"),
        )
    cand = sk.filter(F.col("vec_id") != query_vec_id).join(
        F.broadcast(q), F.col("sketch") == F.col("qsketch")
    )
    scored = cand.select("vec_id", cosine_expr(F.col("embedding"), F.col("qvec")).alias("cos"))
    return _rank_topk(scored, k, keep)


def kmeans_centroids(
    sample: list[tuple[int, list[float]]],
    nlist: int,
    iters: int = 5,
) -> dict[int, list[float]]:
    """Deterministic Lloyd k-means for the IVF coarse quantizer — pure Python
    floats, fixed iteration count, members folded in vec_id order (order-
    stable f64 sums), so the SAME code run on the same sample always yields
    bit-identical centroids (mirrored verbatim by tools/make_fixtures.py).

    Seeding: centroids = the first ``nlist`` sample vectors (k-means with
    fixed deterministic seeding is standard public practice — FAISS trains
    its IVF quantizer on a sample the same way). Assignment uses the same
    score the IVF assignment uses (dot / |centroid|, strict-> argmax, lowest
    cell id wins ties); an emptied cluster keeps its previous centroid.
    """
    import math

    sample = sorted(sample)  # vec_id order — fold order pinned
    if len(sample) < nlist:
        raise ValueError(
            f"kmeans_centroids: training sample has {len(sample)} vectors but "
            f"nlist={nlist} — supply at least nlist sample vectors (raise "
            "train_n or lower nlist)"
        )
    cents: dict[int, list[float]] = {
        c: [float(x) for x in sample[c][1]] for c in range(nlist)
    }
    for _ in range(iters):
        norm = {c: math.sqrt(sum(x * x for x in cents[c])) for c in cents}
        zero = [c for c in cents if norm[c] == 0.0]
        if zero:
            raise ValueError(
                f"kmeans_centroids: centroid(s) {zero} are all-zero (degenerate "
                "training sample) — the dot/|centroid| assignment score is "
                "undefined for a zero centroid"
            )
        sums: dict[int, list[float]] = {c: [0.0] * len(cents[c]) for c in cents}
        counts = {c: 0 for c in cents}
        for _vid, vec in sample:
            best = (float("-inf"), -1)
            for c in range(nlist):
                dot = 0.0
                for x, w in zip(vec, cents[c]):
                    dot += x * w
                s = dot / norm[c]
                if s > best[0]:
                    best = (s, c)
            cc = best[1]
            counts[cc] += 1
            acc = sums[cc]
            for i, x in enumerate(vec):
                acc[i] += float(x)
        for c in cents:
            if counts[c]:
                cents[c] = [s / counts[c] for s in sums[c]]
    return cents


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    keep: list | None = None,
    quantizer: str = "first",
    train_n: int = 256,
    kmeans_iters: int = 5,
) -> DataFrame:
    """IVF (inverted-file) ANN: the corpus is coarse-quantized into ``nlist``
    posting lists (nearest centroid by cosine), the query probes its
    ``nprobe`` nearest lists, and exact cosine re-ranks inside them — the
    classic IVF structure (public: Sivic & Zisserman 2003 'Video Google';
    FAISS IVF family), complementing the sign-LSH variant.

    Two coarse quantizers, same plan shape (the quantizer only changes the
    literal centroid matrix):

    * ``quantizer='first'`` — centroids are the embeddings of
      ``vec_id < nlist``: zero training, fully deterministic.
    * ``quantizer='kmeans'`` — centroids from deterministic driver-side
      Lloyd k-means (``kmeans_centroids``) trained on the ``vec_id <
      train_n`` sample (sample-based IVF training is the standard public
      construction — FAISS trains its quantizer on a corpus sample; at
      10^10 vectors the sample read is one pruned scan of ~train_n rows).

    Either way the centroids are collected once as a driver-side dim
    (nlist-row — robots-table-sized) and inlined as literals, so list
    assignment is a PURE PROJECTION: no shuffle, no join, whole-stage
    codegen.

    Scale shape (10^10 vectors): ``list_id`` is the corpus partition key, so
    a query's candidate read touches only ~nprobe/nlist of the data
    (partition pruning on the broadcast probe join); scoring + top-k reuse
    the no-global-window _rank_topk. Expected recall follows the probed
    mass; exact on corpora whose near neighbors share the query's coarse
    cell (pinned by test_ann_ivf_recall).
    """
    import math

    if quantizer == "kmeans":
        sample_rows = (
            embeddings.filter(F.col("vec_id") < train_n)
            .select("vec_id", "embedding")
            .collect()
        )
        sample = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
                  for r in sample_rows]
        cents = kmeans_centroids(sample, nlist, kmeans_iters)
    elif quantizer == "first":
        cent_rows = (
            embeddings.filter(F.col("vec_id") < nlist)
            .select("vec_id", "embedding")
            .collect()
        )
        cents = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
                 for r in cent_rows}
    else:
        raise ValueError(f"unknown quantizer {quantizer!r} (use 'first' or 'kmeans')")
    cent_ids = sorted(cents)
    dims = len(cents[cent_ids[0]])
    # centroid norms are driver-side literals — the fixture mirror computes
    # them with the SAME python expression, so the division is bit-identical
    cnorm = {c: math.sqrt(sum(x * x for x in cents[c])) for c in cent_ids}

    def cell_scores(vec):
        # all nlist dot products in ONE aggregate pass over the vector with a
        # dim×cell literal matrix (the _projections_expr idiom — per-centroid
        # cosine_expr calls re-ran the |v| norm fold nlist times per row).
        # Cell ranking only needs a per-row monotone transform of cosine, so
        # score = dot/|centroid| and |v| never enters. f64 products
        # (float value auto-widened × double literal), mirrored exactly by
        # plain python float arithmetic in tools/make_fixtures.py.
        w_matrix = F.array(
            *[F.array(*[F.lit(cents[c][i]) for c in cent_ids]) for i in range(dims)]
        )
        indexed = F.transform(vec, lambda v, i: F.struct(v.alias("v"), i.alias("i")))
        acc0 = F.array(*[F.lit(0.0)] * len(cent_ids))
        dots = F.aggregate(
            indexed,
            acc0,
            lambda acc, d: F.zip_with(
                acc, F.element_at(w_matrix, d["i"] + 1), lambda a, w: a + d["v"] * w
            ),
        )
        return _bind_once(
            dots,
            lambda ds: F.array(
                *[
                    F.struct(
                        (F.element_at(ds, j + 1) / F.lit(cnorm[c])).alias("score"),
                        F.lit(c).alias("c"),
                    )
                    for j, c in enumerate(cent_ids)
                ]
            ),
        )

    # corpus-side list assignment via posexplode + COMPILED sum aggregates
    # (the _banded_sketch_sums shape — the interpreted dims×nlist HOF fold
    # was the assignment pass's cost; rounds 3-5 used a per-row aggregate
    # argmax over cell_scores). Same ascending-dim f64 fold order
    # (posexplode order + one partial per group), same score expression
    # dot/|centroid|, and the argmax keeps the fold's tie rule: the maximum
    # wins and among equal scores the FIRST-listed centroid (equality picks
    # the earliest match; Spark orders NaN largest on both paths). The
    # centroid table stays a driver-side literal dim; the one exchange +
    # vec-keyed join added are vector-count-sized. cell_scores remains the
    # single-row/query-side form used by the probe branch below.
    ex = embeddings.select("vec_id", F.posexplode("embedding").alias("_i", "_v"))
    dots_tab = ex.groupBy("vec_id").agg(
        *[
            F.sum(
                F.col("_v")
                * F.element_at(
                    F.array(*[F.lit(cents[c][i]) for i in range(dims)]),
                    F.col("_i") + 1,
                )
            ).alias(f"_d{j}")
            for j, c in enumerate(cent_ids)
        ]
    )
    score_cols = [
        (F.col(f"_d{j}") / F.lit(cnorm[c])) for j, c in enumerate(cent_ids)
    ]
    mx = F.greatest(*score_cols) if len(score_cols) > 1 else score_cols[0]
    pick = None
    for j, c in enumerate(cent_ids):
        pick = (
            F.when(score_cols[j] == mx, F.lit(c))
            if pick is None
            else pick.when(score_cols[j] == mx, F.lit(c))
        )
    assigned = embeddings.select("vec_id", "embedding").join(
        dots_tab.select("vec_id", pick.alias("list_id")), "vec_id"
    )
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qvec")
    )
    # the query's nprobe nearest lists, in-frame (no driver collect of the
    # query vector): sort cells asc by (cos, c), reverse, take nprobe
    probes = (
        q.select(
            "qvec",
            F.explode(
                F.slice(F.reverse(F.array_sort(cell_scores(F.col("qvec")))), 1, nprobe)
            ).alias("p"),
        )
        .select("qvec", F.col("p.c").alias("list_id"))
    )
    cand = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col("vec_id") != query_vec_id
    )
    scored = cand.select(
        "vec_id", cosine_expr(F.col("embedding"), F.col("qvec")).alias("cos")
    )
    return _rank_topk(scored, k, keep)


def ann_knn_join_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact batch k-NN join: top-k cosine neighbors in ``corpus`` for EVERY
    query vector — the all-queries generalization of ann_bruteforce_topk.

    The query set is a broadcast dim (a retrieval batch is small relative to
    a 10^10-vector corpus); scoring is one corpus scan; ranking is a window
    PARTITIONED by query id (per-partition rows = corpus candidates for one
    query — never a global single-partition window)."""
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec"))
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cosine_expr(F.col("embedding"), F.col("qvec")).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


def ann_knn_join_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    probe_hamming: int = 1,
) -> DataFrame:
    """Scale-path batch k-NN join: corpus sketched ONCE (the sketch is the
    corpus partition key at 10^10 vectors), each query probes its own bucket
    plus hamming<=r neighbors; exact cosine re-scoring + per-query window
    rank inside the probed buckets only. Same recall contract as
    ann_lsh_topk: exact on high-cosine (near-duplicate) neighbor structure
    (pinned by test_ann_knn_join_lsh_recall), approximate on isotropic
    corpora."""
    from itertools import combinations

    sk_c = corpus.withColumn("sketch", sign_sketch_expr(F.col("embedding"), planes))
    sk_q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qvec"),
        sign_sketch_expr(F.col("embedding"), planes).alias("qsketch"),
    )
    masks = [
        sum(1 << p for p in bits)
        for r in range(probe_hamming + 1)
        for bits in combinations(range(planes), r)
    ]
    probes = sk_q.select(
        "q_id",
        "qvec",
        F.explode(
            F.array(*[F.col("qsketch").bitwiseXOR(F.lit(m).cast("long")) for m in masks])
        ).alias("sketch"),
    )
    cand = sk_c.join(F.broadcast(probes), "sketch").filter(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id", "vec_id", cosine_expr(F.col("embedding"), F.col("qvec")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "rank")
    )


def _banded_sketch_sums(
    embeddings: DataFrame,
    bands: int,
    planes_per_band: int,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sketches) — banded_sketch_expr's values computed via posexplode +
    COMPILED sum aggregates instead of the interpreted HOF projection fold
    (the simhash lesson: whole-stage codegen runs the same arithmetic 3-6x
    faster; A/B-measured 6.3 s → 2.0 s for the 4×16-plane sketch pass on the
    10x profiling corpus, zero sketch mismatches).

    Bit-parity argument: each plane's projection is Σ_i v_i·w_ip with i
    ascending — posexplode emits positions in order within the vector's
    (narrow-dependency) partition, and the hash aggregate folds a group's
    rows in arrival order with a single partial per group, so every f64
    addition happens in the same order as the HOF fold. (The fold seeds 0.0
    and sum seeds the first term — indistinguishable through the sign
    comparison that builds the bits.) NULL vectors drop on both paths; a
    ZERO-LENGTH vector produced an all-zero sketch on the old path and is
    absent here — indistinguishable in near-dup output, since empty-vector
    cosines are NaN and never pass the threshold filter.

    The one exchange added is VECTOR-count-sized (map-side combine), the
    same order of bytes as the sketch frame itself."""
    ex = embeddings.select(id_col, F.posexplode(vec_col).alias("_i", "_v"))
    aggs = [
        F.sum(
            F.col("_v")
            * F.element_at(
                F.array(*[F.lit(_plane_weight(i, p)) for i in range(dims)]),
                F.col("_i") + 1,
            )
        ).alias(f"_p{p}")
        for p in range(bands * planes_per_band)
    ]
    sums = ex.groupBy(id_col).agg(*aggs)

    def band_long(b: int):
        out = None
        for bit in range(planes_per_band):
            p = b * planes_per_band + bit
            term = F.shiftleft(
                F.when(F.col(f"_p{p}") > 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                bit,
            )
            out = term if out is None else out.bitwiseXOR(term)
        return out

    return sums.select(
        id_col, F.array(*[band_long(b) for b in range(bands)]).alias("sketches")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bands: int = 4,
    planes_per_band: int = 16,
    keep: list | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a<b). Candidates via BANDED
    sign-sketches (any of ``bands`` 16-plane sketches equal ⇒ candidate — the
    same O(near-dups) shape as MinHash-LSH; a single flat 8-plane bucket join
    degraded to O(n²/256) within giant buckets at 10^10 vectors), verified by
    exact cosine ≥ threshold."""
    sk = _banded_sketch_sums(embeddings, bands, planes_per_band)
    # the bucket shuffle carries ONLY (vec_id, band, sketch); embeddings are
    # re-read for the surviving pair ids via keyed joins — at 10^10 vectors
    # dragging the float arrays through collect_list/dedup would dominate the
    # shuffle
    banded = sk.select("vec_id", F.posexplode("sketches").alias("band", "sketch")).persist()
    # ^ persisted: both bucket_pairs branches read it — unpersisted they each
    # re-run the 64-projection sketch pass. 20 bytes × bands per vector.
    if keep is not None:
        keep.append(banded)
    # distinct BEFORE the verify joins: a multi-band candidate (near-exact
    # dups share all `bands` buckets) would otherwise drag its two float
    # arrays through the joins and pay the cosine fold once PER SHARED BAND.
    # The dedup exchange carries only 16-byte id pairs — far cheaper than
    # the duplicated verifies it removes (measured 50.8 s → see
    # OPTIMIZATION_r06.md on the 10x profiling corpus).
    pairs = bucket_pairs(banded, ["band", "sketch"], "vec_id", distinct=True)
    # norms precomputed ONCE per vector and carried through the joins: the
    # per-pair verify is then a single dot-product fold instead of three
    # (dot + both norms). cos = dot / (na * nb) is the exact expression
    # cosine_expr builds — same folds over the same arrays — so every
    # verified cosine is bit-identical.
    nrm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda acc, v: acc + v * v))
    vecs = embeddings.select("vec_id", "embedding", nrm.alias("_nrm"))
    # no broadcast hint: the pair set is O(near-dups) — gigabytes at 10^10
    # vectors with realistic dup rates — so these are plain keyed joins on the
    # ids (AQE still picks broadcast itself when the set really is tiny)
    cand = (
        pairs
        .join(vecs.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"),
                          F.col("_nrm").alias("_na")), "a")
        .join(vecs.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"),
                          F.col("_nrm").alias("_nb")), "b")
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    cos = dot / (F.col("_na") * F.col("_nb"))
    return cand.filter(cos >= threshold).select("a", "b").dropDuplicates(["a", "b"])


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
# repetition filters, PII redaction, sequence packing
# ---------------------------------------------------------------------------

def repetition_rules(
    documents: DataFrame,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2gram_char_frac: float = 0.20,
    max_top3gram_char_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition gates (Rae et al. 2021 §A1.2, public rule
    family): duplicate-line fraction, duplicate-line CHARACTER fraction, and
    the character coverage of the most-repeated word 2-gram / 3-gram.

    Scale shape — SHUFFLE-FREE: the textbook implementation explodes lines /
    n-grams and re-aggregates by (doc_id, value), a corpus-sized exchange.
    Here every feature folds over a per-doc ``array_sort``-ed array (equal
    values become adjacent, so duplicate counting is one zip of the array
    against itself shifted by one, and the top n-gram is a longest-equal-run
    fold) — O(n log n) per document inside whole-stage codegen, ZERO
    exchanges at any corpus size. Each sorted array feeds exactly one
    expression (HOF columns get no subexpression elimination — the
    _bind_once rule), and the per-doc features are built as ONE struct then
    expanded in a separate projection (CollapseProject keeps non-cheap
    producers un-inlined, so the struct is evaluated once).

    Definitions (pinned so the DuckDB oracle matches bit-for-bit):
    duplicate line = any occurrence beyond a line's first (frac over total
    lines; char frac over total line chars); top n-gram coverage =
    max over grams occurring >= 2 times of count*len(gram) / len(text)
    (0 when nothing repeats, the doc has fewer than n words, or is empty —
    a gram seen once is not repetition). Ratios rounded to 6 places like
    gopher_quality_rules."""

    def _dup_line_struct(s):
        # s = sorted line array: occurrence i>1 of a line sits next to i-1
        n = F.size(s)
        rep = F.zip_with(
            F.slice(s, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(s, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.struct(
                F.when(a == b, 1).otherwise(0).alias("c"),
                F.when(a == b, F.length(b)).otherwise(0).alias("ch"),
            ),
        )
        zero = F.struct(F.lit(0).cast("long").alias("c"),
                        F.lit(0).cast("long").alias("ch"))
        tot = F.aggregate(
            rep, zero,
            lambda acc, x: F.struct((acc["c"] + x["c"]).alias("c"),
                                    (acc["ch"] + x["ch"]).alias("ch")),
        )
        chars = F.aggregate(s, F.lit(0).cast("long"),
                            lambda acc, x: acc + F.length(x))
        return F.struct(
            n.cast("long").alias("n_lines"),
            tot["c"].alias("dup_lines"),
            tot["ch"].alias("dup_line_chars"),
            chars.alias("line_chars"),
        )

    def _top_run_chars(s):
        # longest equal-run fold over the sorted gram array, scored by
        # run_length * len(gram) for runs of length >= 2 ONLY (a gram seen
        # once is not repetition — without this, every short doc's longest
        # single gram fails the gate); returns max score (0 for empty array)
        zero = F.struct(
            F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        )
        fold = F.aggregate(
            s, zero,
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("long")).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"],
                           (acc["run"] + 1) * F.length(x))
                    .otherwise(F.lit(0).cast("long")),
                ).alias("best"),
            ),
        )
        return fold["best"]

    def _top_gram_struct(words):
        # BOTH gram families from one BOUND token array: a lambda body
        # re-evaluates any outer (non-lambda-var) expression per element, so
        # building grams from a free-standing F.split would re-split the
        # text once PER GRAM — O(n^2) splitting (measured ~6x slowdown on
        # the sf0.1 battery before binding).
        def grams(n):
            # strict n-grams: EMPTY array (not the whole-text fallback)
            # below n words, so short docs score 0 repetition rather than 1.0
            k = F.size(words) - (n - 1)
            return F.when(
                k >= 1,
                F.transform(
                    F.sequence(F.lit(0), k - 1),
                    lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))

        return F.struct(
            _top_run_chars(F.array_sort(grams(2))).alias("g2"),
            _top_run_chars(F.array_sort(grams(3))).alias("g3"),
        )

    feats = F.struct(
        _bind_once(F.array_sort(F.split(F.col("text"), "\n")),
                   _dup_line_struct).alias("ln"),
        _bind_once(F.split(F.col("text"), " "), _top_gram_struct).alias("g"),
        F.length("text").cast("long").alias("n_chars"),
    )
    # explode(array(feats)) routes the struct through a Generate, which
    # evaluates it ONCE per row into a bound attribute. A plain projection
    # alias does NOT survive: SimplifyExtractValueOps inlines GetStructField
    # over CreateNamedStruct, so each of the ~12 downstream references would
    # re-run its sort+fold (HOFs get no subexpression elimination — measured
    # 6-7x slower on the sf0.1 battery before this barrier).
    base = documents.select("doc_id", F.explode(F.array(feats)).alias("_r"))

    r = F.col("_r")
    dup_line_frac = F.round(r["ln"]["dup_lines"] / r["ln"]["n_lines"], 6)
    dup_char_frac = F.round(
        F.when(r["ln"]["line_chars"] > 0,
               r["ln"]["dup_line_chars"] / r["ln"]["line_chars"])
        .otherwise(0.0), 6)
    top2 = F.round(
        F.when(r["n_chars"] > 0, r["g"]["g2"] / r["n_chars"]).otherwise(0.0), 6)
    top3 = F.round(
        F.when(r["n_chars"] > 0, r["g"]["g3"] / r["n_chars"]).otherwise(0.0), 6)
    ok_dl = dup_line_frac <= max_dup_line_frac
    ok_dc = dup_char_frac <= max_dup_line_char_frac
    ok_g2 = top2 <= max_top2gram_char_frac
    ok_g3 = top3 <= max_top3gram_char_frac
    return base.select(
        "doc_id",
        r["ln"]["n_lines"].alias("n_lines"),
        r["ln"]["dup_lines"].alias("dup_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
        top2.alias("top2gram_char_frac"),
        top3.alias("top3gram_char_frac"),
        ok_dl.alias("ok_dup_lines"),
        ok_dc.alias("ok_dup_line_chars"),
        ok_g2.alias("ok_top2gram"),
        ok_g3.alias("ok_top3gram"),
        (ok_dl & ok_dc & ok_g2 & ok_g3).alias("keep"),
    )


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
# bigram language-model likelihood (CCNet-style quality signal)
# --------------------------------------------------------------------------

def lm_likelihood(documents: DataFrame, scale: int = 10**9) -> DataFrame:
    """Corpus-trained add-one bigram LM likelihood per document — the
    public CCNet recipe (Wenzek et al. 2020 filter Common Crawl by LM
    score; KenLM there, an in-corpus add-one bigram model here so the
    whole computation is one Spark job with no external model file).

    Per bigram occurrence (w1, w2) the add-one likelihood is
    ``(c2(w1,w2) + 1) / (c1(w1) + V)``; a document's score is the sum of
    its bigrams' likelihoods. Everything stays on an INTEGER fixed-point
    axis (each term is ``(c2+1)*scale  div  (c1+V)``, summed as longs):
    long sums are associative, so the result is bit-identical at any
    parallelism and a DuckDB oracle reproduces it exactly — the reason
    logs/doubles are avoided (libm vs JVM ``log`` differ in ulps; float
    sums depend on partition order). Higher = more predictable text.

    Scale shape: the bigram fact is built once and persisted; context and
    bigram counts are two map-side-combinable aggregations over it; the
    probe re-joins counts by key (stopword-headed keys are skewed — AQE
    skew-join splits them; at petabyte scale broadcast the top-K frequent
    bigrams and shuffle only the tail). Vocabulary size rides a 1-row
    broadcast. With per-shard counts ≤ ~1e9, ``(c2+1)*scale`` fits a
    long; beyond that lower ``scale`` or move the ratio to decimal(38).

    Output: (doc_id, n_bigrams, lm_score_sum, lm_score_mean) — longs;
    docs with <2 tokens keep zeros.
    """
    toks = documents.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    n = F.size("w")
    bigrams = (
        toks.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("w", 1, n - 1),
                    F.slice("w", 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .persist()
    )
    # c1 = Σ_w2 c2 derives from the already-aggregated c2 (one combinable
    # pass over the distinct-bigram frame instead of a second pass over raw
    # occurrences), and the per-bigram likelihood TERM is assembled on the
    # aggregated frames (c2 ⋈ c1, both distinct-bigram-sized) BEFORE the
    # occurrence probe — the occurrence-cardinality frame is shuffled ONCE
    # (the terms join) instead of twice (the former ⋈c2 then ⋈c1 chain).
    # Same integer term per (w1, w2), same per-occurrence sum — identical.
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = toks.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    terms = (
        c2.join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1", "w2",
            F.expr(f"(c2 + 1) * CAST({scale} AS BIGINT) div (c1 + v)").alias("lik"),
        )
    )
    agg = (
        bigrams.join(terms, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("lik").alias("s"))
    )
    return documents.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("s", F.lit(0)).cast("long").alias("lm_score_sum"),
        F.coalesce(
            F.expr("s div n_bigrams"), F.lit(0)
        ).cast("long").alias("lm_score_mean"),
    )


def lm_buckets(
    documents: DataFrame,
    lang_col: str = "lang",
    quant: int = 10**5,
    scale: int = 10**9,
) -> DataFrame:
    """CCNet head/middle/tail partition by LM score within each language
    (Wenzek et al. 2020 §4.3 bucket Common Crawl into thirds by per-lang
    perplexity; higher likelihood == lower perplexity == 'head').

    Scale-first construction: a per-language GLOBAL sort/window over the
    corpus would funnel each language through one partition chain — at
    100 TB the few-big-languages skew makes that the whole job. Instead the
    score axis is quantized (``lm_score_mean div quant``) and classes are
    cut on the QUANTIZED HISTOGRAM: one map-side-combinable
    groupBy(lang, q) whose result is bounded by the score range (~1e4 rows
    per lang at the defaults), a histogram-sized window to accumulate
    descending counts, and a broadcast-sized join back. Docs sharing a
    quantum share a class (CCNet's cutoffs are approximate by design);
    classes are exact integer functions of the histogram, so a DuckDB
    oracle reproduces them bit-for-bit.

    A bucket whose first doc sits at descending-rank position p (0-based,
    p = count of docs in strictly-higher quanta) is 'head' when 3p < n,
    'middle' when 3p < 2n, else 'tail'.

    Output: (doc_id, lang, lm_score_mean, ppl_bucket).
    """
    from pyspark.sql import Window

    scored = lm_likelihood(documents, scale=scale).join(
        documents.select("doc_id", F.col(lang_col).alias("lang")), "doc_id"
    )
    qd = scored.select(
        "doc_id", "lang", "lm_score_mean",
        F.expr(f"lm_score_mean div {quant}").alias("q"),
    )
    hist = qd.groupBy("lang", "q").agg(F.count(F.lit(1)).alias("c"))
    w_desc = (
        Window.partitionBy("lang")
        .orderBy(F.col("q").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_lang = Window.partitionBy("lang")
    cuts = hist.select(
        "lang", "q",
        F.coalesce(F.sum("c").over(w_desc), F.lit(0)).alias("above"),
        F.sum("c").over(w_lang).alias("n"),
    ).select(
        "lang", "q",
        F.when(F.col("above") * 3 < F.col("n"), F.lit("head"))
        .when(F.col("above") * 3 < F.col("n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )
    return qd.join(cuts, ["lang", "q"]).select(
        "doc_id", "lang", "lm_score_mean", "ppl_bucket"
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
    long and a DuckDB oracle matches bit-for-bit; same reasoning as
    lm_likelihood's fixed-point axis).

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
