"""Host-graph PageRank for frontier prioritization — fixed-point integer
arithmetic so the answer is BIT-EXACT and partition-order-independent.

The reference crawler fetches a curated provider list in settings order
(``ref:src/main.rs:154-267``) — it never has to decide WHICH hosts matter.
A Common-Crawl-style frontier at 10^10 URLs does: the standard public
prioritizer is PageRank over the host graph (Page et al. 1999; Cho,
Garcia-Molina & Page 1998 use it to order crawl frontiers). This module
computes it with LONG fixed-point arithmetic (rank mass scaled by
``scale``), because float64 PageRank is NOT reproducible under Spark: a
groupBy sum of doubles depends on partition order, so the same job on the
same data can rank two close hosts differently run-to-run. Integer sums are
associative — the result is identical at any parallelism, which is also what
lets a DuckDB oracle reproduce it bit-for-bit.

Pinned semantics (one iteration, all integer ops, ``//`` = floor division on
non-negative longs):

    u            = scale // n                      (uniform mass per host)
    base         = ((100 - damping_pct) * u) // 100
    contrib(e)   = rank(src) // outdeg(src)        per edge
    inflow(v)    = sum of contrib over in-edges    (exact long sum)
    dangling     = sum of rank over out-degree-0 hosts
    rank'(v)     = base + (damping_pct * (inflow(v) + dangling // n)) // 100

Total mass decays by the floor-division remainders (bounded by n + edges
per iteration — at scale=10^12 a negligible 1e-6 relative loss for 10^6
hosts); ranks are COMPARABLE, which is all a prioritizer needs.

Scale shape: per-iteration cost is one hash join (ranks ⋈ edges on src) and
one long-sum aggregation keyed by dst — map-side combinable, skew limited to
genuinely high-in-degree hosts (the same hosts AQE skew-split handles). The
dangling total rides a 1-row broadcast, never a driver collect. Each
iteration ends in an eager ``localCheckpoint``: each step reads the previous
ranks twice, so an uncut lineage would double the plan every iteration; the
checkpoint keeps it one step deep, and superseded checkpoints are released."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_rank(
    edges: DataFrame,
    iterations: int = 8,
    damping_pct: int = 85,
    scale: int = 10**12,
    checkpoint: bool = True,
) -> DataFrame:
    """(src, dst) host-link edges → (host, rank) with ``rank`` a long on the
    ``scale`` fixed-point axis (uniform mass = scale // n). Self-loops and
    duplicate edges are dropped (standard construction). ``iterations`` is
    fixed — deterministic output, no convergence test (8 iterations separate
    hub tiers; rank ordering stabilizes long before values converge).
    ``checkpoint=False`` skips the per-iteration localCheckpoint — ONLY for
    plan inspection / few-iteration runs (lineage grows per iteration)."""
    e = (
        edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("host"))
        .unionByName(e.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # scalar metadata action (host count, never URL data)
    if n == 0:
        # empty graph (e.g. a single-host batch whose links are all
        # self-edges) → empty ranks, not a ZeroDivisionError
        e.unpersist()
        nodes.unpersist()
        return nodes.select("host", F.lit(0).cast("long").alias("rank"))
    u = scale // n
    base = ((100 - damping_pct) * u) // 100
    deg = e.groupBy("src").agg(F.count("*").alias("_outdeg"))
    # the STATIC out-degree is folded into the rank state once (seed join
    # below) and carried through every iteration, instead of re-joining
    # ranks ⋈ deg per iteration — one fewer join (and its per-iteration
    # broadcast build job) per step; rank arithmetic is unchanged, so the
    # fixed-point longs are bit-identical
    node_deg = (
        nodes.join(deg, nodes["host"] == deg["src"], "left")
        .select("host", "_outdeg")
        .persist()
    )

    ranks = node_deg.select("host", "_outdeg", F.lit(u).cast("long").alias("rank"))
    if checkpoint:
        ranks = ranks.localCheckpoint(eager=True)
    for _ in range(iterations):
        contribs = (
            ranks.filter(F.col("_outdeg").isNotNull())
            .select("host", F.expr("rank DIV _outdeg").alias("_c"))
            .join(e, F.col("host") == e["src"])
            .select(F.col("dst").alias("host"), "_c")
        )
        inflow = contribs.groupBy("host").agg(F.sum("_c").alias("_in"))
        dangling = (
            ranks.filter(F.col("_outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("_dang"))
        )
        new_ranks = (
            node_deg.join(inflow, "host", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "host",
                "_outdeg",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"({damping_pct} * (coalesce(_in, 0L)"
                        f" + (_dang DIV {n}))) DIV 100"
                    )
                ).cast("long").alias("rank"),
            )
        )
        if checkpoint:
            # cut the lineage to one step (an uncut plan grows with every
            # iteration); the superseded checkpoint's blocks are released
            new_ranks = new_ranks.localCheckpoint(eager=True)
            ranks.unpersist()
        ranks = new_ranks
    e.unpersist()
    nodes.unpersist()
    node_deg.unpersist()
    return ranks.select("host", "rank")


def rank_priorities(
    ranks: DataFrame, scale: int = 10**12, levels: int = 4
) -> DataFrame:
    """(host, rank) → (host, rank_priority): ascending scheduler priority by
    FIXED thresholds relative to the uniform mass u = scale // count(hosts) —
    priority 0 for rank >= 2^(levels-2)·u, halving per level down to u
    (priority levels-2), below u ⇒ priority levels-1. (For levels=4:
    4u / 2u / u cut points — pinned by test_rank_priorities.)
    Threshold-based (not quantile-based) on purpose: no global sort, pure
    projection after one metadata count, and a host's tier is stable as the
    graph grows."""
    n = ranks.count()
    if n == 0:
        return ranks.select("host", F.lit(0).cast("int").alias("rank_priority"))
    u = scale // n
    # built inside-out so the HIGHEST threshold is tested first
    pr = F.lit(levels - 1)
    for lvl in reversed(range(levels - 1)):
        pr = F.when(F.col("rank") >= (1 << (levels - 1 - lvl)) * u // 2, F.lit(lvl)).otherwise(pr)
    return ranks.select("host", pr.cast("int").alias("rank_priority"))


def frontier_with_rank(frontier: DataFrame, priorities: DataFrame) -> DataFrame:
    """Overlay host-rank priorities onto a FRONTIER frame: hosts with a
    computed tier take it; unknown hosts keep their existing priority. Plain
    keyed left join — the priorities frame is one row per HOST (broadcast-
    sized relative to the frontier; AQE broadcasts it when it fits)."""
    return (
        frontier.join(priorities, frontier["host"] == priorities["host"], "left")
        .drop(priorities["host"])
        .withColumn("priority", F.coalesce("rank_priority", "priority").cast("int"))
        .drop("rank_priority")
    )


def host_graph_from_pages(
    pages: DataFrame, html_col: str = "payload", base_col: str = "url"
) -> DataFrame:
    """Fetched pages → the (src, dst) HOST link graph ``host_rank``
    consumes — the missing edge between crawl output and frontier
    prioritization (Cho, Garcia-Molina & Page 1998 rank the frontier from
    the link graph the crawl itself discovers).

    Hosts come from the canonicalized page URL and each resolved outlink
    (``canonical.extract_links_expr`` — two-stage transform, JVM-side);
    self-edges drop here and duplicate edges collapse via the DISTINCT
    (host_rank would drop/collapse them anyway — doing it at the source
    shrinks the exploded edge list before the shuffle). One explode + one
    distinct on (src, dst): at 10^10 pages the distinct's shuffle is keyed
    by host pairs — orders of magnitude smaller than the outlink list.
    """
    from .canonical import canonicalize_expr, extract_links_expr, host_expr

    src = host_expr(canonicalize_expr(F.col(base_col)))
    edges = pages.select(
        src.alias("src"),
        F.explode(
            extract_links_expr(F.col(html_col), F.col(base_col))
        ).alias("_link"),
    ).select("src", host_expr(F.col("_link")).alias("dst"))
    return edges.filter(F.col("src") != F.col("dst")).distinct()
