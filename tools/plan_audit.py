#!/usr/bin/env python
"""Plan audit: dump `.explain(formatted)` for the engine's load-bearing plans
and assert the physical properties we designed for (pushdown, broadcast,
whole-stage codegen, partial aggregation). Output → PLANS.md.

Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from crawlspark.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark("plan-audit", master="local[8]", shuffle_partitions=8)
    import __spark_entry__ as em

    sections: list[tuple[str, str, list[str]]] = []

    # 1. filter + projection pushdown into the parquet scan (S1/S3/S10)
    q = em.q_s01_filter_pushdown(spark, SF)
    p = fmt(q)
    checks = []
    checks.append(("PushedFilters carry the predicate", "PushedFilters" in p and "event_type" in p))
    checks.append(("ReadSchema pruned to 4 cols", "ReadSchema" in p and "props" not in p.split("ReadSchema")[1][:400]))
    checks.append(("whole-stage codegen", "codegen id" in p))
    sections.append(("S1: filter/projection pushdown (events scan)", p, checks))

    # 2. broadcast join for small dims (S7 / robots pattern)
    q = em.q_s07_coalesce_fallback(spark, SF)
    p = fmt(q)
    sections.append(
        ("S7: small-dim broadcast join", p,
         [("BroadcastHashJoin chosen", "BroadcastHashJoin" in p)])
    )

    # 3. partial (map-side) aggregation on the Q1-shape agg (S23)
    q = em.q_s23_agg_q1(spark, SF)
    p = fmt(q)
    sections.append(
        ("S23: aggregate with map-side partial agg", p,
         [("HashAggregate partial+final", p.count("HashAggregate") >= 2)])
    )

    # 4. canonicalization stays in one codegen'd projection
    from crawlspark.canonical import canonicalize_expr

    urls = spark.createDataFrame([("https://A.example:443/x/../p/1#f",)], ["url"])
    q = urls.select(canonicalize_expr(F.col("url")).alias("c"))
    p = fmt(q)
    sections.append(
        ("Canonicalizer: single JVM projection (no Python)", p,
         [("whole-stage codegen", "codegen id" in p),
          ("no Python/Arrow operator", "MapInPandas" not in p and "ArrowEval" not in p and "BatchEvalPython" not in p)])
    )

    # 5. seen anti-join shape: broadcast of small seen keys
    from crawlspark.seen import split_new_vs_seen

    batch = spark.range(1000).select(
        F.col("id").alias("url_hash"), F.concat(F.lit("u"), F.col("id")).alias("url")
    )
    seen = spark.range(100).select(
        F.col("id").alias("url_hash"), F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.col("id").alias("surrogate_key"), F.lit(0).alias("first_round"),
    )
    q = split_new_vs_seen(batch, seen, None)
    p = fmt(q)
    sections.append(
        ("Seen-set exact confirm: join on url_hash", p,
         [("join present", "Join" in p)])
    )

    # 6. extraction: exactly one Arrow/Python stage
    from crawlspark import synth
    from crawlspark.extract import extract_pages

    rows = [synth.page_row(i, 3) for i in range(4)]
    df = spark.createDataFrame([(r["url"], r["html"], "p") for r in rows],
                               ["url", "html", "provider"])
    q = extract_pages(df, synth.golden_fields(), synth.LANDING_PAGE_FIELD)
    p = fmt(q)
    sections.append(
        ("Extraction: one MapInPandas stage", p,
         [("exactly one MapInPandas operator", p.count("(2) MapInPandas") >= 1 and p.count("MapInPandas (") == 1)])
    )

    # 7. distributed bloom build: executor-side cogroup, no driver collect
    from crawlspark.seen import distributed_bloom_update

    hashes = spark.range(1000).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    q = distributed_bloom_update(hashes, None, 1 << 16, 5, 32)
    p = fmt(q)
    sections.append(
        ("Bloom build: per-bucket cogroup on executors", p,
         [("FlatMapCoGroupsInPandas operator", "FlatMapCoGroupsInPandas" in p)])
    )

    # 8. routed bloom probe: per-bucket cogroup, no whole-filter broadcast
    from crawlspark.seen import bloom_probe_routed

    bloom_df = distributed_bloom_update(hashes, None, 1 << 16, 5, 32)
    keys = spark.range(500).select(F.xxhash64(F.col("id").cast("string")).alias("h"))
    q = bloom_probe_routed(keys, bloom_df, 32)
    p = fmt(q)
    sections.append(
        ("Bloom probe (scale path): per-bucket cogroup, filter never broadcast", p,
         [("FlatMapCoGroupsInPandas operator", "FlatMapCoGroupsInPandas" in p),
          ("no broadcast of the bitmap table", "BroadcastExchange" not in p)])
    )

    # 9. cuckoo build/probe (deletable seen filter): same per-bucket cogroup
    #     shape as bloom — table never collected or broadcast
    from crawlspark.seen import cuckoo_probe_routed, distributed_cuckoo_update

    ck_df = distributed_cuckoo_update(hashes, None, 1 << 12, 4, 32)
    p = fmt(ck_df)
    checks = [("FlatMapCoGroupsInPandas operator", "FlatMapCoGroupsInPandas" in p)]
    q = cuckoo_probe_routed(keys, ck_df, 32)
    p2 = fmt(q)
    checks += [
        ("probe is a per-bucket cogroup", "FlatMapCoGroupsInPandas" in p2),
        ("no broadcast of the fingerprint table", "BroadcastExchange" not in p2),
    ]
    sections.append(
        ("Cuckoo filter (deletable seen prefilter): build + probe cogroups", p + "\n" + p2, checks)
    )

    # 10. robots.txt parse: one Catalyst fold per body — single projection
    from crawlspark.robots import parse_robots_txt

    bodies = spark.createDataFrame(
        [("h", "User-agent: *\nDisallow: /a\nCrawl-delay: 2\n")], ["host", "body"]
    )
    q = parse_robots_txt(bodies)
    p = fmt(q)
    sections.append(
        ("robots.txt parse: one codegen'd fold per body", p,
         [("no Python/Arrow operator", "MapInPandas" not in p and "ArrowEval" not in p
           and "BatchEvalPython" not in p),
          ("no exchange (pure projection)", "Exchange" not in p)])
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    # 11. host rank: one PageRank iteration — dangling mass rides a 1-row
    #     broadcast, contributions are a map-side-combinable long sum
    from crawlspark.hostrank import host_rank

    edges = docs.select(
        (F.col("doc_id") % 50).cast("string").alias("src"),
        ((F.col("doc_id") * 7 + 1) % 50).cast("string").alias("dst"),
    )
    q = host_rank(edges, iterations=1, checkpoint=False)
    p = fmt(q)
    sections.append(
        ("Host rank (1 iteration): integer PageRank step", p,
         [("dangling mass is a broadcast, not a collect", "BroadcastExchange" in p),
          ("no Python operator",
           "MapInPandas" not in p and "BatchEvalPython" not in p),
          ("inflow is a partial-aggregated long sum", "HashAggregate" in p)])
    )

    # 12. sitemap parse: pure regexp projection + explode — zero exchanges
    from crawlspark.sitemap import parse_sitemap

    q = parse_sitemap(
        docs.select(F.col("doc_id").cast("string").alias("host"),
                    F.col("text").alias("body"))
    )
    p = fmt(q)
    sections.append(
        ("Sitemap ingestion: shuffle-free parse", p,
         [("no Exchange anywhere", "Exchange" not in p),
          ("no Python operator",
           "MapInPandas" not in p and "BatchEvalPython" not in p)])
    )

    # 13. WARC ingestion: the mapInPandas MUST sit on an exchange, never
    #     directly on the scan (Spark 4.1 PythonRunner selector-spin)
    from crawlspark.warc import parse_warc

    q = parse_warc(
        docs.select(F.col("doc_id").cast("string").alias("path"),
                    F.encode("text", "UTF-8").alias("content"))
    )
    p = fmt(q)
    sections.append(
        ("WARC ingestion: exchange below the Python walker", p,
         [("Arrow-batched mapInPandas (not row-at-a-time)",
           "MapInPandas" in p and "BatchEvalPython" not in p),
          ("exchange between scan and UDF (selector-spin guard)",
           "Exchange" in p)])
    )

    # 14. crawl-trap signals: one combinable groupBy(host) — the per-URL
    #     feature extraction is pure projection
    from crawlspark.canonical import url_trap_signals

    q = url_trap_signals(
        docs.select(
            F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                     F.lit(".org/p/"), F.col("doc_id").cast("string")).alias("url"),
            (F.col("doc_id") % 7).cast("string").alias("host"),
        )
    )
    p = fmt(q)
    sections.append(
        ("Crawl-trap signals: single combinable host aggregation", p,
         [("exactly one exchange (the host groupBy)", p.count("Exchange") <= 2),
          ("map-side partial aggregation", "HashAggregate" in p),
          ("no Python operator",
           "MapInPandas" not in p and "BatchEvalPython" not in p)])
    )

    # 15. anchor-text index: data-scale rows pass only through combinable
    #     aggregations; the top-anchor window sits on the (url, anchor)
    #     aggregate
    from crawlspark.canonical import anchor_text_index

    q = anchor_text_index(
        docs.select(
            F.concat(F.lit('<a href="https://t'),
                     (F.col("doc_id") % 5).cast("string"),
                     F.lit('.org/x">a</a>')).alias("payload"),
            F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                     F.lit(".org/p")).alias("url"),
        )
    )
    p = fmt(q)
    sections.append(
        ("Anchor-text index: combinable aggs, window above the aggregate", p,
         [("map-side partial aggregation", "HashAggregate" in p),
          ("no single-partition exchange",
           "Exchange SinglePartition" not in p),
          ("no cartesian product", "CartesianProduct" not in p),
          ("no Python operator",
           "MapInPandas" not in p and "BatchEvalPython" not in p)])
    )

    # 16. freshness recrawl: the lag window partitions by url (bounded by
    #     round count per partition), aggregation is combinable, no Python
    from crawlspark.freshness import change_rates, recrawl_priorities

    hist = docs.select(
        F.concat(F.lit("u"), (F.col("doc_id") % 120).cast("string")).alias("url"),
        (F.col("doc_id") % 4).cast("int").alias("round"),
        F.concat(F.lit("fp"), (F.col("doc_id") % 3).cast("string")).alias("fingerprint"),
    )
    r = change_rates(hist)
    q = r.join(recrawl_priorities(r), "url")
    p = fmt(q)
    sections.append(
        ("Freshness recrawl: keyed lag window + combinable agg", p,
         [("window partitioned by url (never global)",
           "Window" in p and "Exchange SinglePartition" not in p),
          ("map-side partial aggregation", "HashAggregate" in p),
          ("no Python operator",
           "MapInPandas" not in p and "BatchEvalPython" not in p)])
    )

    out = ["# PLANS.md — physical-plan audit (generated by tools/plan_audit.py)", ""]
    ok_all = True
    for title, plan, checks in sections:
        out.append(f"## {title}\n")
        for desc, ok in checks:
            ok_all &= ok
            out.append(f"- [{'x' if ok else ' '}] {desc}")
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n")
    (REPO / "PLANS.md").write_text("\n".join(out) + "\n")
    print("PLANS.md written; all checks pass:", ok_all)
    spark.stop()


if __name__ == "__main__":
    main()
