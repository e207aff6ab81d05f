"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship mini-crawl end-to-end (frontier →
canonicalize → robots → politeness → fetch join → extraction → seen/keys →
metrics) over deterministic synthetic pages sized from sf0.001 documents.

``queries()`` exposes one named query per implemented operator family from
SURVEY.md §2 (S1-S28) plus the crawl, ingestion and text-analysis ops;
``oracle_sql()`` gives the DuckDB-equivalent SQL for every one. Aggregates
use exact decimal arithmetic so Spark and DuckDB agree bit-for-bit; float
formatting uses printf-style rendering available identically on both sides.
"""

from __future__ import annotations

import sys
import tempfile
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


_FIXTURES = str(Path(__file__).resolve().parent / "tests" / "fixtures" / "oracle_sf001")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Mini end-to-end crawl over synthetic pages (size from sf0.001 docs);
    returns the deterministic crawl log (round, seq, url, host, fetched)."""
    from crawlspark import schemas, synth
    from crawlspark.scheduler import Crawler
    from crawlspark.settings import Settings
    from crawlspark.warehouse import Warehouse

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    n = min(100, docs.count())
    n_hosts = 7
    pages = spark.createDataFrame([synth.page_row(i, n_hosts) for i in range(n)], schemas.PAGES)
    frontier = spark.createDataFrame(synth.frontier_rows(n, n_hosts), schemas.FRONTIER)
    robots = spark.createDataFrame(synth.robots_rows(n_hosts), schemas.ROBOTS)
    cache = synth.cache_rows(n, n_hosts)
    cache_df = spark.createDataFrame(cache, schemas.PAGES) if cache else None

    wh = Warehouse(tempfile.mkdtemp(prefix="crawlspark_entry_"))
    crawler = Crawler(
        spark, Settings.new(), wh, synth.golden_fields(), pages, robots, frontier, cache_df
    )
    crawler.run()
    return wh.read_appends(spark, "crawl_log").orderBy("round", "seq")


# ---------------------------------------------------------------------------
# operator queries (S-numbers = SURVEY.md §2.1)
# ---------------------------------------------------------------------------

def q_s01_filter_pushdown(spark, sf):
    # S1: source scan with pushed-down predicate
    return (
        _t(spark, sf, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select("event_id", "user_id", "value")
    )


def q_s02_union_distinct(spark, sf):
    # S2-adjacent frontier union semantics: distinct union
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


def q_s03_nested_projection(spark, sf):
    # S3: nested-field extraction from JSON payloads
    return _t(spark, sf, "events").select(
        "event_id", F.get_json_object("props", "$.k").alias("k_val")
    )


def q_s04_limit_offset(spark, sf):
    # S4: the debug skip/take window (main.rs:154-169)
    return (
        _t(spark, sf, "orders")
        .orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey")
        .offset(10)
        .limit(100)
    )


def q_s05_sanitize(spark, sf):
    # S5: filename sanitization (main.rs:171-179)
    return _t(spark, sf, "customer").select(
        "c_custkey", F.regexp_replace("c_name", "[^a-zA-Z-]", "_").alias("sanitized")
    )


def q_s06_fetch_join(spark, sf):
    # S6: fetch = equi-join of the frontier batch against the pages index
    # (file_downloader.rs:13-28 reimagined as a distributed hit test;
    # engine analog crawlspark/scheduler.py:336-401). SHUFFLE_HASH hint as in
    # the engine: size estimates would pick broadcast for the
    # compressed-parquet index, which is wrong at 10^10 pages.
    d = _t(spark, sf, "documents")
    want = d.select((F.col("doc_id") * 2).alias("want_id"))  # half will miss
    idx = d.select(
        F.col("doc_id").alias("p_id"), F.col("source").alias("p_src")
    ).hint("SHUFFLE_HASH")
    return want.join(idx, F.col("want_id") == F.col("p_id"), "left").select(
        "want_id", F.col("p_src").isNotNull().alias("has_page")
    )


def q_s07_coalesce_fallback(spark, sf):
    # S7: fetch-recovery coalesce across sources (main.rs:182-203)
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").filter(F.col("n_nationkey") < 10)
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left")
        .select("s_suppkey", F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation_name"))
    )


def q_s11_try_cast(spark, sf):
    # S11: NULL-on-failure numeric coercion (abcd_parser.rs:110-114)
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("try_cast(concat(cast(l_linenumber as string), '.5') as double)").alias("good_cast"),
        F.expr("try_cast(l_returnflag as double)").alias("bad_cast"),
    )


def q_s12_landing_coalesce(spark, sf):
    # S12: landing page = extracted else base?archive=url (abcd_parser.rs:137-150)
    d = _t(spark, sf, "documents")
    extracted = F.when(F.col("lang") == "en", F.lit(None).cast("string")).otherwise(
        F.col("source")
    )
    return d.select(
        "doc_id",
        F.coalesce(
            extracted,
            F.concat(F.lit("https://landing.example?archive="), F.col("doc_id").cast("string")),
        ).alias("landing"),
    )


def q_s14_dedup_firstseen(spark, sf):
    # S14: first-seen-wins dedup (surrogate_key.rs:24-34)
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts")
    )


def q_s14b_surrogate_keys(spark, sf):
    # S14: dense surrogate keys in first-seen order — via the engine's
    # skew-robust ranker (seen.rank_and_key), NOT a global single-partition
    # window. Every row counts as fetched, so surrogate_key == seq.
    from crawlspark.seen import rank_and_key

    e = _t(spark, sf, "events")
    firsts = (
        e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
        .withColumn("is_fetched", F.lit(True))
        .persist()
    )
    return rank_and_key(
        firsts, ["first_ts", "user_id"], n_rows=firsts.count()
    ).select("user_id", "first_ts", "surrogate_key")


def q_s15_point_wkt(spark, sf):
    # S15: WKT point construction, NULL unless both present (database_sink.rs:659-679)
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 2000)
    wkt = F.when(
        F.col("l_discount").isNotNull() & F.col("l_tax").isNotNull(),
        F.format_string("POINT(%.2f %.2f)", F.col("l_discount"), F.col("l_tax")),
    )
    return li.select("l_orderkey", "l_linenumber", wkt.alias("geom_wkt"))


def q_s21_topk_sort(spark, sf):
    # S21: sort + limit (post-load CLUSTER analog is sort-on-write)
    return (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(50)
    )


def q_s22_exists_semijoin(spark, sf):
    # S22: the listing view's correlated EXISTS as a semi-join flag
    c = _t(spark, sf, "customer")
    big = (
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_custkey")
        .distinct()
        .withColumn("_flag", F.lit(True))
    )
    return c.join(big, c["c_custkey"] == big["o_custkey"], "left").select(
        "c_custkey", F.coalesce("_flag", F.lit(False)).alias("has_big_order")
    )


def q_s22b_join3_revenue(spark, sf):
    # multi-join + exact-decimal aggregation (TPC-H Q3 shape)
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_s23_agg_q1(spark, sf):
    # S23: aggregation battery (TPC-H Q1 shape, exact decimal sums)
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(4,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_s24_quarantine(spark, sf):
    # S24: per-item error tolerance → status classification + counters
    e = _t(spark, sf, "events")
    status = (
        F.when(F.col("value").isNull(), "null")
        .when(F.col("value") > 90, "outlier")
        .otherwise("ok")
    )
    return e.groupBy("event_type", status.alias("status")).agg(F.count("*").alias("n"))


def q_s25_anti_join(spark, sf):
    # set-op: customers that never ordered (left anti)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").select("o_custkey").distinct()
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey")


def q_s26_politeness_topk(spark, sf):
    # S26: per-host budget-k (politeness) as window top-k per key
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", "rk")
    )


def q_s28_counters(spark, sf):
    # S28: observability counters (post_to_slack.py:14-27 analog)
    return _t(spark, sf, "events").groupBy("event_type").agg(F.count("*").alias("n"))


def q_crawl_canonicalize(spark, sf):
    # the RFC-3986 canonicalizer over synthesized messy urls
    from crawlspark.canonical import canonicalize_expr

    d = _t(spark, sf, "documents")
    raw = F.concat(
        F.lit("HTTPS://HOST"),
        F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit(".EXAMPLE.ORG:443/x/../p/"),
        F.col("doc_id").cast("string"),
        F.lit("#frag"),
    )
    return d.select("doc_id", canonicalize_expr(raw).alias("canonical_url"))


def q_crawl_robots_filter(spark, sf):
    # robots disallow-prefix filtering on canonical paths
    d = _t(spark, sf, "documents")
    path = F.concat(F.lit("/p/"), F.col("doc_id").cast("string"))
    return d.filter(~path.startswith("/p/9")).select("doc_id", path.alias("path"))


def q_crawl_link_extract(spark, sf):
    # outlink discovery (canonical.extract_links_expr): href scrape + the
    # documented RFC-3986 resolution subset over synthesized html — the
    # canonical targets are closed forms of doc_id
    from crawlspark.canonical import extract_links_expr

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 1000)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><a href="https://HOST'), F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit('.EXAMPLE.ORG:443/x/../p/'), (F.col("doc_id") + 1).cast("string"),
        F.lit('#frag">n</a><a href="/rel/'), did,
        F.lit('">r</a><a href="mailto:a@b">skip</a></html>'),
    )
    base = F.concat(
        F.lit("https://host"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        F.lit(".example.org/index.html"),
    )
    return d.select(
        "doc_id",
        F.explode(extract_links_expr(F.encode(html, "UTF-8"), base)).alias("link"),
    )


def q_crawl_robots_parse(spark, sf):
    # raw robots.txt bodies → enforced rules (crawlspark.robots): bodies are
    # deterministic functions of doc_id, so the PARSED output has a closed
    # form the SQL oracle states directly (comments, other-UA sections and
    # an empty Disallow are present to be correctly ignored)
    from crawlspark.robots import parse_robots_txt, robots_rules_table

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 500)
    did = F.col("doc_id").cast("string")
    body = F.concat(
        F.lit("# synthetic robots\nUser-agent: *\nDisallow: /p/9  # note\n"
              "Disallow: /admin"), did,
        F.lit("\nDisallow:\nCrawl-delay: "), (1 + F.col("doc_id") % 5).cast("string"),
        F.lit("\n\nUser-agent: OtherBot\nDisallow: /hidden\n"),
    )
    rules = robots_rules_table(
        parse_robots_txt(
            d.select(F.concat(F.lit("host"), did).alias("host"), body.alias("body"))
        )
    )
    return rules.select(
        "host",
        F.explode("disallow_prefixes").alias("prefix"),
        "crawl_delay_s",
        "max_per_round",
    )


def q_extraction_units(spark, sf):
    # S8+S9: ZIP explode + XML extraction (rows-only; golden bytes in pytest)
    from crawlspark import synth, schemas
    from crawlspark.extract import extract_pages
    from crawlspark.fields import sha1_hex

    rows = [synth.page_row(i, 5) for i in range(40)]
    df = spark.createDataFrame(
        [(r["url"], r["html"], "prov") for r in rows], ["url", "html", "provider"]
    )
    ex = extract_pages(df, synth.golden_fields(), synth.LANDING_PAGE_FIELD)
    unit_id = sha1_hex("/DataSets/DataSet/Units/Unit/UnitID")
    lon = sha1_hex(
        "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/CoordinatesLatLong/LongitudeDecimal"
    )
    return ex.filter(F.col("kind") == "unit").select(
        "url", "member_index", "unit_index", F.col(unit_id).alias("unit_id"), F.col(lon).alias("lon")
    )


def q_extraction_version(spark, sf):
    """ABCD version sniff through the full Spark extraction path
    (abcd_parser.rs:62-78 semantics): three handcrafted archives with 2.06,
    2.1 and no namespace; the sniffed version must ride the abcd_version
    meta column. Closed-form oracle (deterministic input built in-query)."""
    import io
    import zipfile

    from crawlspark import synth
    from crawlspark.extract import extract_pages

    def zip_of(xml: bytes) -> bytes:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr("dataset.xml", xml)
        return buf.getvalue()

    body = b"<DataSet><Units><Unit></Unit></Units></DataSet></DataSets>"
    pages = [
        ("http://v/206", zip_of(
            b'<DataSets xmlns="http://www.tdwg.org/schemas/abcd/2.06">' + body)),
        ("http://v/210", zip_of(
            b"<DataSets xmlns='http://www.tdwg.org/schemas/abcd/2.1'>" + body)),
        ("http://v/none", zip_of(b"<DataSets>" + body)),
    ]
    df = spark.createDataFrame(
        [(u, b, "prov") for u, b in pages], ["url", "html", "provider"]
    )
    ex = extract_pages(df, synth.golden_fields(), synth.LANDING_PAGE_FIELD)
    return ex.filter(F.col("kind") == "dataset").select(
        "url", "abcd_version"
    ).orderBy("url")


def q_crawl_trap_detect(spark, sf):
    # per-host crawl-trap score over synthesized URL shapes: hosts 0-2 get
    # trap-pattern paths (repeated segments / depth-10 / 5 query params),
    # hosts 3-6 stay clean, so the host-level trap flag actually varies
    from crawlspark.canonical import url_trap_signals

    d = _t(spark, sf, "documents")
    host = F.concat(
        F.lit("host"), F.pmod("doc_id", F.lit(7)).cast("string"),
        F.lit(".example.org"),
    )
    tail = F.col("doc_id").cast("string")
    trap_path = (
        F.when(F.pmod("doc_id", F.lit(3)) == 0, F.concat(F.lit("/a/b/a/b/a/b/"), tail))
        .when(
            F.pmod("doc_id", F.lit(3)) == 1,
            F.concat(F.lit("/d1/d2/d3/d4/d5/d6/d7/d8/d9/"), tail),
        )
        .otherwise(F.concat(F.lit("/p/"), tail, F.lit("?a=1&b=2&c=3&d=4&e=5")))
    )
    path = F.when(F.pmod("doc_id", F.lit(7)) < 3, trap_path).otherwise(
        F.concat(F.lit("/p/"), tail)
    )
    urls = d.select(
        F.concat(F.lit("https://"), host, path).alias("url"), host.alias("host")
    )
    return url_trap_signals(urls).orderBy("host")


def q_anchor_text_index(spark, sf):
    # anchor-text inlink index over synthesized HTML: absolute + root-
    # relative links resolve, mailto: drops; oracle states the resolved
    # (src_host, target, anchor) edges in closed form and re-aggregates
    from crawlspark.canonical import anchor_text_index

    d = _t(spark, sf, "documents")
    mod = lambda k: F.pmod("doc_id", F.lit(k)).cast("string")  # noqa: E731
    html = F.concat(
        F.lit('<p>x</p><a href="https://t'), mod(5),
        F.lit('.example.org/x">anchor '), mod(3),
        F.lit('</a><a href="/rel/'), mod(4),
        F.lit('">self '), mod(2),
        F.lit('</a><a href="mailto:z@q">drop</a>'),
    )
    base = F.concat(
        F.lit("https://host"), mod(7), F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    pages = d.select(html.alias("payload"), base.alias("url"))
    return anchor_text_index(pages).orderBy("url")


def q_crawl_robots_sitemaps(spark, sf):
    # Sitemap: directive extraction (RFC 9309 §2.3) — UA-independent, colon
    # in the URL preserved, comments stripped, multiple directives kept
    from crawlspark.robots import robots_sitemaps

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 400)
    h = F.pmod("doc_id", F.lit(9)).cast("string")
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /x\nSitemap: https://s"), h,
        F.lit(".example.org/m"), F.col("doc_id").cast("string"),
        F.lit(".xml # main\n"),
        F.when(
            F.pmod("doc_id", F.lit(3)) == 0,
            F.concat(F.lit("sitemap: https://s"), h,
                     F.lit(".example.org/extra.xml\n")),
        ).otherwise(F.lit("")),
        F.lit("Sitemap:\nNoise line\n"),
    )
    bodies = d.select(
        F.concat(F.lit("host"), h, F.lit(".example.org")).alias("host"),
        body.alias("body"),
    )
    return robots_sitemaps(bodies).orderBy("host", "sitemap_url")


def q_recrawl_priorities(spark, sf):
    # Cho-GM change-rate recrawl tiers over a synthetic fetch history:
    # 120 urls × rounds with planted fingerprint churn and duplicate
    # (url, round) retry rows (min-fp collapse)
    from crawlspark.freshness import change_rates, recrawl_priorities

    d = _t(spark, sf, "documents")
    hist = d.select(
        F.concat(
            F.lit("https://h.org/p/"), F.pmod("doc_id", F.lit(120)).cast("string")
        ).alias("url"),
        F.pmod(F.expr("doc_id div 120"), F.lit(4)).cast("int").alias("round"),
        F.concat(
            F.lit("fp"), F.pmod(F.expr("(doc_id * 13) div 7"), F.lit(3)).cast("string")
        ).alias("fingerprint"),
    )
    rates = change_rates(hist)
    return rates.join(recrawl_priorities(rates), "url").orderBy("url")


def q_crawl_host_graph(spark, sf):
    # fetched pages → the host link graph host_rank consumes (self-host
    # edges drop, duplicates collapse); oracle states the resolved edges
    from crawlspark.hostrank import host_graph_from_pages

    d = _t(spark, sf, "documents")
    h = F.pmod("doc_id", F.lit(7)).cast("string")
    html = F.concat(
        F.lit('<a href="https://t'), F.pmod("doc_id", F.lit(5)).cast("string"),
        F.lit('.example.org/x">a</a><a href="/self">s</a>'
              '<a href="https://host'), h, F.lit('.example.org/p">own</a>'),
    )
    base = F.concat(
        F.lit("https://host"), h, F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    pages = d.select(html.alias("payload"), base.alias("url"))
    return host_graph_from_pages(pages).orderBy("src", "dst")


def q_host_rank(spark, sf):
    # fixed-point integer PageRank over a synthetic host graph (50 hosts,
    # hosts h0/h10/h20/h30/h40 dangling); bit-exact at any parallelism, so
    # the oracle unrolls the same integer recurrence in SQL
    from crawlspark.hostrank import host_rank

    d = _t(spark, sf, "documents").filter(
        (F.col("doc_id") < 500) & ((F.col("doc_id") % 50 % 10) != 0)
    )
    h = lambda e: F.concat(F.lit("h"), e.cast("string"))  # noqa: E731
    e1 = d.select(h(F.col("doc_id") % 50).alias("src"),
                  h((F.col("doc_id") * 7 + 1) % 50).alias("dst"))
    e2 = d.select(h(F.col("doc_id") % 50).alias("src"),
                  h((F.col("doc_id") * 3 + 2) % 50).alias("dst"))
    return host_rank(e1.unionByName(e2), iterations=6).orderBy("host")


def _sitemap_bodies(spark, sf):
    # deterministic sitemap bodies: a urlset with one full entry (loc with
    # padding whitespace + lastmod + priority), one minimal entry
    # (changefreq only), one loc-less entry (must be dropped), then a
    # sitemapindex child — regex parser handles the concatenation fine
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 400)
    did = F.col("doc_id").cast("string")
    day = F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    body = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>\n<urlset '
              'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
              ' <url>\n  <loc> https://site'), did,
        F.lit(".example.org/page/"), did,
        F.lit(" </loc>\n  <lastmod>2024-01-"), day,
        F.lit("</lastmod>\n  <priority>0."), (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority>\n </url>\n <url><loc>https://site"), did,
        F.lit(".example.org/extra</loc><changefreq>daily</changefreq></url>\n"
              " <url><lastmod>2030-01-01</lastmod></url>\n</urlset>\n"
              "<sitemapindex><sitemap>\n<loc>https://site"), did,
        F.lit(".example.org/sitemap-2.xml</loc>\n"
              "<lastmod>2024-02-02</lastmod></sitemap></sitemapindex>"),
    )
    return d.select(F.concat(F.lit("site"), did).alias("host"), body.alias("body"))


def q_crawl_sitemap_parse(spark, sf):
    # sitemaps.org 0.9 ingestion (crawlspark.sitemap): bodies are closed
    # forms of doc_id, so the oracle states the parsed rows directly
    from crawlspark.sitemap import parse_sitemap

    return parse_sitemap(_sitemap_bodies(spark, sf)).orderBy("host", "kind", "loc")


def q_crawl_sitemap_frontier(spark, sf):
    # parsed urlset entries → FRONTIER rows: sitemap priority 0.k maps to
    # scheduler priority 10-k, lastmod to warc_ts, absent priority to the
    # 0.5 protocol default (priority 5)
    from crawlspark.sitemap import parse_sitemap, sitemap_frontier

    parsed = parse_sitemap(_sitemap_bodies(spark, sf))
    return sitemap_frontier(parsed, discovered_round=3).orderBy("url")


def _warc_archives(spark, sf):
    # per doc: one WARC/1.0 response record (HTTP-wrapped payload) + one
    # metadata record (no HTTP wrapper, no status). Every 10th payload
    # EMBEDS the bytes 'WARC/1.0' — Content-Length framing must carry the
    # parser straight past it (the reason this is a byte walk, not a split)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    did = F.col("doc_id").cast("string")
    payload = F.concat(
        F.lit("<html>doc"), did,
        F.when(F.col("doc_id") % 10 == 0, F.lit(" WARC/1.0")).otherwise(F.lit("")),
        F.lit("</html>"),
    )
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), payload
    )
    rec1 = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://w"),
        did, F.lit(".example.org/p\r\nWARC-Date: 2024-01-02T03:04:05Z\r\n"
                   "Content-Type: application/http; msgtype=response\r\n"
                   "Content-Length: "),
        F.length(F.encode(http, "UTF-8")).cast("string"), F.lit("\r\n\r\n"), http, F.lit("\r\n\r\n"),
    )
    meta = F.concat(F.lit("meta"), did)
    rec2 = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: https://w"),
        did, F.lit(".example.org/p\r\nWARC-Date: 2024-01-02T03:04:06Z\r\n"
                   "Content-Length: "),
        F.length(F.encode(meta, "UTF-8")).cast("string"), F.lit("\r\n\r\n"), meta, F.lit("\r\n\r\n"),
    )
    return d.select(
        F.concat(F.lit("w"), did).alias("path"),
        F.encode(F.concat(rec1, rec2), "UTF-8").alias("content"),
    )


def q_crawl_warc_parse(spark, sf):
    # WARC/1.0 archive walk (crawlspark.warc): Content-Length framing via
    # Arrow-batched mapInPandas, one task per archive; payload decoded to
    # string for the value-hash compare
    from crawlspark.warc import parse_warc

    recs = parse_warc(_warc_archives(spark, sf))
    return recs.select(
        "src", "record_index", "warc_type", "target_uri", "warc_date",
        "http_status", F.decode("payload", "UTF-8").alias("payload_text"),
        "payload_len", "error",
    ).orderBy("src", "record_index")


def q_crawl_warc_pages(spark, sf):
    # WARC responses → the north_rule's PAGES load edge (url, warc_ts, html)
    from crawlspark.warc import pages_from_warc, parse_warc

    pages = pages_from_warc(parse_warc(_warc_archives(spark, sf)))
    return pages.select(
        "url", "warc_ts", F.decode("html", "UTF-8").alias("html_text"),
        "text", "lang",
    ).orderBy("url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "s01_filter_pushdown": q_s01_filter_pushdown,
        "s02_union_distinct": q_s02_union_distinct,
        "s03_nested_projection": q_s03_nested_projection,
        "s04_limit_offset": q_s04_limit_offset,
        "s05_sanitize": q_s05_sanitize,
        "s06_fetch_join": q_s06_fetch_join,
        "s07_coalesce_fallback": q_s07_coalesce_fallback,
        "s11_try_cast": q_s11_try_cast,
        "s12_landing_coalesce": q_s12_landing_coalesce,
        "s14_dedup_firstseen": q_s14_dedup_firstseen,
        "s14b_surrogate_keys": q_s14b_surrogate_keys,
        "s15_point_wkt": q_s15_point_wkt,
        "s21_topk_sort": q_s21_topk_sort,
        "s22_exists_semijoin": q_s22_exists_semijoin,
        "s22b_join3_revenue": q_s22b_join3_revenue,
        "s23_agg_q1": q_s23_agg_q1,
        "s24_quarantine": q_s24_quarantine,
        "s25_anti_join": q_s25_anti_join,
        "s26_politeness_topk": q_s26_politeness_topk,
        "s28_counters": q_s28_counters,
        "crawl_canonicalize": q_crawl_canonicalize,
        "crawl_robots_filter": q_crawl_robots_filter,
        "crawl_robots_parse": q_crawl_robots_parse,
        "crawl_link_extract": q_crawl_link_extract,
        "extraction_units": q_extraction_units,
        "extraction_version": q_extraction_version,
        "crawl_trap_detect": q_crawl_trap_detect,
        "anchor_text_index": q_anchor_text_index,
        "crawl_robots_sitemaps": q_crawl_robots_sitemaps,
        "recrawl_priorities": q_recrawl_priorities,
        "crawl_host_graph": q_crawl_host_graph,
        "host_rank": q_host_rank,
        "crawl_sitemap_parse": q_crawl_sitemap_parse,
        "crawl_sitemap_frontier": q_crawl_sitemap_frontier,
        "crawl_warc_parse": q_crawl_warc_parse,
        "crawl_warc_pages": q_crawl_warc_pages,
    }


def _host_rank_sql(iterations: int = 6, damping: int = 85, scale: int = 10**12) -> str:
    """Unrolled fixed-point PageRank recurrence (crawlspark.hostrank pinned
    semantics) — one CTE triple (contribs, dangling, ranks) per iteration.
    All arithmetic is BIGINT floor division, so the values are bit-identical
    to the Spark side regardless of partitioning or summation order."""
    parts = [f"""
        WITH edges AS (
            SELECT src, dst FROM (
                SELECT DISTINCT 'h' || CAST(doc_id % 50 AS VARCHAR) AS src,
                       'h' || CAST((doc_id * 7 + 1) % 50 AS VARCHAR) AS dst
                FROM documents WHERE doc_id < 500 AND (doc_id % 50) % 10 <> 0
                UNION
                SELECT 'h' || CAST(doc_id % 50 AS VARCHAR),
                       'h' || CAST((doc_id * 3 + 2) % 50 AS VARCHAR)
                FROM documents WHERE doc_id < 500 AND (doc_id % 50) % 10 <> 0
            ) WHERE src <> dst
        ),
        nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT count(*) AS c FROM nodes),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        r0 AS (SELECT host, CAST({scale} // nn.c AS BIGINT) AS rank
               FROM nodes CROSS JOIN nn)"""]
    for k in range(1, iterations + 1):
        parts.append(f""",
        c{k} AS (
            SELECT e.dst AS host, CAST(SUM(r.rank // d.outdeg) AS BIGINT) AS inflow
            FROM r{k - 1} r JOIN deg d ON d.src = r.host
            JOIN edges e ON e.src = r.host
            GROUP BY e.dst
        ),
        g{k} AS (
            SELECT CAST(COALESCE(SUM(r.rank), 0) AS BIGINT) AS dang
            FROM r{k - 1} r LEFT JOIN deg d ON d.src = r.host
            WHERE d.src IS NULL
        ),
        r{k} AS (
            SELECT n.host, CAST(
                ((100 - {damping}) * ({scale} // nn.c)) // 100
                + ({damping} * (COALESCE(c.inflow, 0) + g.dang // nn.c)) // 100
                AS BIGINT) AS rank
            FROM nodes n LEFT JOIN c{k} c ON c.host = n.host
            CROSS JOIN g{k} g CROSS JOIN nn
        )""")
    parts.append(f"""
        SELECT host, rank FROM r{iterations} ORDER BY host""")
    return "".join(parts)


# closed form of _sitemap_bodies as the PARSER must see it: 3 surviving
# entries per host (the loc-less urlset entry is dropped)
_SITEMAP_ORACLE_BASE = """
    WITH sm AS (
        SELECT CAST(doc_id AS VARCHAR) AS d,
               lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS day,
               TRY_CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) AS p
        FROM documents WHERE doc_id < 400
    )
    SELECT 'site' || d AS host, 'url' AS kind,
           'https://site' || d || '.example.org/page/' || d AS loc,
           '2024-01-' || day AS lastmod, '' AS changefreq, p AS priority
    FROM sm
    UNION ALL
    SELECT 'site' || d, 'url', 'https://site' || d || '.example.org/extra',
           '', 'daily', CAST(NULL AS DOUBLE)
    FROM sm
    UNION ALL
    SELECT 'site' || d, 'sitemap',
           'https://site' || d || '.example.org/sitemap-2.xml',
           '2024-02-02', '', CAST(NULL AS DOUBLE)
    FROM sm
"""


def oracle_sql() -> dict[str, str]:
    return {
        "s01_filter_pushdown": """
            SELECT event_id, user_id, value FROM events
            WHERE event_type = 'purchase' AND value > 50
        """,
        "s02_union_distinct": """
            SELECT c_nationkey AS nationkey FROM customer
            UNION
            SELECT s_nationkey AS nationkey FROM supplier
        """,
        "s03_nested_projection": """
            SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events
        """,
        "s04_limit_offset": """
            SELECT o_orderkey, o_custkey FROM orders
            ORDER BY o_orderkey LIMIT 100 OFFSET 10
        """,
        "s05_sanitize": """
            SELECT c_custkey, regexp_replace(c_name, '[^a-zA-Z-]', '_', 'g') AS sanitized
            FROM customer
        """,
        "s06_fetch_join": """
            SELECT d.doc_id * 2 AS want_id,
                   (p.doc_id IS NOT NULL) AS has_page
            FROM documents d LEFT JOIN documents p ON d.doc_id * 2 = p.doc_id
        """,
        "s07_coalesce_fallback": """
            SELECT s_suppkey, coalesce(n_name, 'UNKNOWN') AS nation_name
            FROM supplier LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 10) n
              ON s_nationkey = n_nationkey
        """,
        "s11_try_cast": """
            SELECT l_orderkey, l_linenumber,
                   try_cast(cast(l_linenumber AS varchar) || '.5' AS double) AS good_cast,
                   try_cast(l_returnflag AS double) AS bad_cast
            FROM lineitem WHERE l_orderkey < 1000
        """,
        "s12_landing_coalesce": """
            SELECT doc_id,
                   coalesce(CASE WHEN lang = 'en' THEN NULL ELSE source END,
                            'https://landing.example?archive=' || doc_id) AS landing
            FROM documents
        """,
        "s14_dedup_firstseen": """
            SELECT user_id, event_id, ts FROM (
              SELECT user_id, event_id, ts,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "s14b_surrogate_keys": """
            SELECT user_id, first_ts,
                   row_number() OVER (ORDER BY first_ts, user_id) AS surrogate_key
            FROM (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
        """,
        "s15_point_wkt": """
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_discount IS NOT NULL AND l_tax IS NOT NULL
                        THEN printf('POINT(%.2f %.2f)', l_discount, l_tax) END AS geom_wkt
            FROM lineitem WHERE l_orderkey < 2000
        """,
        "s21_topk_sort": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50
        """,
        "s22_exists_semijoin": """
            SELECT c_custkey,
                   (c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000))
                   AS has_big_order
            FROM customer
        """,
        "s22b_join3_revenue": """
            SELECT o_orderkey,
                   cast(sum(cast(l_extendedprice AS decimal(12,2)) *
                            (cast(1 AS decimal(4,2)) - cast(l_discount AS decimal(4,2))))
                        AS double) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND o_orderkey = l_orderkey
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "s23_agg_q1": """
            SELECT l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS sum_qty,
                   cast(sum(cast(l_extendedprice AS decimal(12,2))) AS double) AS sum_base_price,
                   cast(sum(cast(l_extendedprice AS decimal(12,2)) *
                            (cast(1 AS decimal(4,2)) - cast(l_discount AS decimal(4,2))))
                        AS double) AS sum_disc_price,
                   cast(sum(cast(l_extendedprice AS decimal(12,2)) *
                            (cast(1 AS decimal(4,2)) - cast(l_discount AS decimal(4,2))) *
                            (cast(1 AS decimal(4,2)) + cast(l_tax AS decimal(4,2))))
                        AS double) AS sum_charge,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "s24_quarantine": """
            SELECT event_type,
                   CASE WHEN value IS NULL THEN 'null'
                        WHEN value > 90 THEN 'outlier' ELSE 'ok' END AS status,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "s25_anti_join": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "s26_politeness_topk": """
            SELECT user_id, event_id, rk FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
              FROM events
            ) WHERE rk <= 3
        """,
        "s28_counters": """
            SELECT event_type, count(*) AS n FROM events GROUP BY event_type
        """,
        "crawl_canonicalize": """
            SELECT doc_id,
                   'https://host' || (doc_id % 7) || '.example.org/p/' || doc_id
                   AS canonical_url
            FROM documents
        """,
        "crawl_robots_filter": """
            SELECT doc_id, '/p/' || doc_id AS path FROM documents
            WHERE NOT starts_with('/p/' || doc_id, '/p/9')
        """,
        "crawl_link_extract": """
            SELECT doc_id,
                   'https://host' || (doc_id % 7) || '.example.org/p/' || (doc_id + 1)
                   AS link
            FROM documents WHERE doc_id < 1000
            UNION ALL
            SELECT doc_id,
                   'https://host' || (doc_id % 7) || '.example.org/rel/' || doc_id
            FROM documents WHERE doc_id < 1000
        """,
        "crawl_robots_parse": """
            SELECT 'host' || doc_id AS host, p AS prefix,
                   CAST(1 + doc_id % 5 AS double) AS crawl_delay_s,
                   CAST(floor(60.0 / (1 + doc_id % 5)) AS int) AS max_per_round
            FROM documents, unnest(['/p/9', '/admin' || doc_id]) AS t(p)
            WHERE doc_id < 500
        """,
        # the pandas-UDF extraction is not ANSI-SQL-expressible; its oracle is
        # an INDEPENDENT pure-Python mirror (tools/make_fixtures.py — the same
        # strategy as tests/oracle_sim.py and the reference's golden fixtures,
        # abcd_parser.rs:232-298) materialized as parquet for the sf0.01
        # correctness gate and read here via read_parquet.
        "extraction_units": f"""
            SELECT url, member_index, unit_index, unit_id, lon
            FROM read_parquet('{_FIXTURES}/extraction_units.parquet')
        """,
        # closed form: the three in-query archives pin the sniff outcome
        "extraction_version": """
            SELECT url, abcd_version FROM (VALUES
                ('http://v/206', '2.06'),
                ('http://v/210', '2.1'),
                ('http://v/none', CAST(NULL AS VARCHAR))
            ) AS t(url, abcd_version)
            ORDER BY url
        """,
        # Sitemap directives in closed form: every body yields its /m{id}
        # map (comment stripped), doc_id%3==0 adds /extra.xml; empty-value
        # and noise lines contribute nothing
        "crawl_robots_sitemaps": """
            SELECT 'host' || (doc_id % 9) || '.example.org' AS host,
                   sm AS sitemap_url
            FROM (
                SELECT doc_id,
                       'https://s' || (doc_id % 9) || '.example.org/m'
                           || doc_id || '.xml' AS sm
                FROM documents WHERE doc_id < 400
                UNION ALL
                SELECT doc_id,
                       'https://s' || (doc_id % 9) || '.example.org/extra.xml'
                FROM documents WHERE doc_id < 400 AND doc_id % 3 = 0
            )
            ORDER BY host, sitemap_url
        """,
        # lag-window mirror of change_rates + integer tier cuts; duplicate
        # (url, round) retries collapse to min fingerprint first
        "recrawl_priorities": """
            WITH hist AS (
                SELECT 'https://h.org/p/' || (doc_id % 120) AS url,
                       CAST((doc_id // 120) % 4 AS INT) AS round,
                       'fp' || (((doc_id * 13) // 7) % 3) AS fingerprint
                FROM documents
            ),
            obs AS (
                SELECT url, round, min(fingerprint) AS fp
                FROM hist GROUP BY url, round
            ),
            marked AS (
                SELECT url, round,
                       CASE WHEN lag(fp) OVER w IS NULL THEN 0 ELSE 1 END
                           AS has_prev,
                       CASE WHEN lag(fp) OVER w IS NOT NULL
                                 AND fp <> lag(fp) OVER w
                            THEN 1 ELSE 0 END AS changed
                FROM obs
                WINDOW w AS (PARTITION BY url ORDER BY round)
            ),
            rates AS (
                SELECT url,
                       CAST(count(*) AS BIGINT) AS observations,
                       CAST(sum(has_prev) AS BIGINT) AS intervals,
                       CAST(sum(changed) AS BIGINT) AS changes,
                       max(round) AS last_round
                FROM marked GROUP BY url
            )
            SELECT url, observations, intervals, changes, last_round,
                   CAST(CASE WHEN intervals = 0 THEN 2
                             WHEN changes * 100 >= intervals * 50 THEN 0
                             WHEN changes * 100 >= intervals * 10 THEN 1
                             ELSE 3 END AS INT) AS recrawl_priority
            FROM rates ORDER BY url
        """,
        # closed-form resolved edges of q_anchor_text_index's synthetic
        # HTML (mailto: dropped), re-aggregated identically
        "anchor_text_index": """
            WITH e AS (
                SELECT 'host' || (doc_id % 7) || '.example.org' AS src_host,
                       'https://t' || (doc_id % 5) || '.example.org/x' AS url,
                       'anchor ' || (doc_id % 3) AS anchor
                FROM documents
                UNION ALL
                SELECT 'host' || (doc_id % 7) || '.example.org',
                       'https://host' || (doc_id % 7) || '.example.org/rel/'
                           || (doc_id % 4),
                       'self ' || (doc_id % 2)
                FROM documents
            ),
            totals AS (
                SELECT url, count(*) AS n_inlinks,
                       count(DISTINCT src_host) AS n_source_hosts
                FROM e GROUP BY url
            ),
            pa AS (SELECT url, anchor, count(*) AS cnt FROM e GROUP BY url, anchor),
            top AS (
                SELECT url, anchor, cnt,
                       row_number() OVER (PARTITION BY url
                                          ORDER BY cnt DESC, anchor ASC) AS rn
                FROM pa
            )
            SELECT t.url,
                   CAST(t.n_inlinks AS BIGINT) AS n_inlinks,
                   CAST(t.n_source_hosts AS BIGINT) AS n_source_hosts,
                   top.anchor AS top_anchor,
                   CAST(top.cnt AS BIGINT) AS top_anchor_count
            FROM totals t JOIN top ON t.url = top.url AND top.rn = 1
            ORDER BY t.url
        """,
        # URL-shape mirror of q_crawl_trap_detect: hosts 0-2 carry trap
        # patterns (segment repeats / depth 10 / 5 params), 3-6 are clean
        "crawl_trap_detect": """
            WITH u AS (
                SELECT 'host' || (doc_id % 7) || '.example.org' AS host,
                       CASE WHEN doc_id % 7 < 3 THEN
                         CASE doc_id % 3
                           WHEN 0 THEN '/a/b/a/b/a/b/' || doc_id
                           WHEN 1 THEN '/d1/d2/d3/d4/d5/d6/d7/d8/d9/' || doc_id
                           ELSE '/p/' || doc_id || '?a=1&b=2&c=3&d=4&e=5'
                         END
                       ELSE '/p/' || doc_id END AS pq
                FROM documents
            ),
            feat AS (
                SELECT host,
                       CASE WHEN length(p) = 0 THEN 0
                            ELSE length(p) - length(replace(p, '/', '')) + 1
                       END AS depth,
                       CASE WHEN q IS NULL OR length(q) = 0 THEN 0
                            ELSE length(q) - length(replace(q, '&', '')) + 1
                       END AS n_params,
                       COALESCE(list_max(list_transform(segs,
                           s -> len(list_filter(segs, x -> x = s)))), 0)
                       AS seg_repeat
                FROM (
                    SELECT host,
                           string_split(pq, '?')[1][2:] AS p,
                           CASE WHEN position('?' IN pq) > 0
                                THEN string_split(pq, '?')[2] ELSE NULL
                           END AS q,
                           list_filter(
                               string_split(string_split(pq, '?')[1][2:], '/'),
                               s -> length(s) > 0) AS segs
                    FROM u
                )
            )
            SELECT host,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(sum(depth) AS BIGINT) AS sum_depth,
                   CAST(max(depth) AS BIGINT) AS max_depth,
                   CAST(max(seg_repeat) AS BIGINT) AS max_seg_repeat,
                   CAST(sum(CASE WHEN depth > 8 OR seg_repeat > 2
                                      OR n_params > 4
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_trap_urls,
                   sum(CASE WHEN depth > 8 OR seg_repeat > 2 OR n_params > 4
                            THEN 1 ELSE 0 END) * 100 > count(*) * 50 AS trap
            FROM feat GROUP BY host ORDER BY host
        """,
        # resolved host edges in closed form: one cross-host link per doc
        # (host doc%7 -> t doc%5), the root-relative and own-host links are
        # self-edges and drop; DISTINCT collapses repeats
        "crawl_host_graph": """
            SELECT DISTINCT
                   'host' || (doc_id % 7) || '.example.org' AS src,
                   't' || (doc_id % 5) || '.example.org' AS dst
            FROM documents
            ORDER BY src, dst
        """,
        "host_rank": _host_rank_sql(iterations=6),
        # closed form of the parsed WARC archives: two records per doc —
        # the response (HTTP unwrapped, status 200) and the metadata record
        # (raw payload, NULL status); every 10th payload embeds 'WARC/1.0'
        "crawl_warc_parse": """
            WITH wd AS (
                SELECT CAST(doc_id AS VARCHAR) AS d,
                       '<html>doc' || CAST(doc_id AS VARCHAR)
                       || CASE WHEN doc_id % 10 = 0 THEN ' WARC/1.0' ELSE '' END
                       || '</html>' AS payload
                FROM documents WHERE doc_id < 300
            )
            SELECT 'w' || d AS src, 0 AS record_index,
                   'response' AS warc_type,
                   'https://w' || d || '.example.org/p' AS target_uri,
                   '2024-01-02T03:04:05Z' AS warc_date,
                   200 AS http_status, payload AS payload_text,
                   CAST(length(payload) AS BIGINT) AS payload_len,
                   CAST(NULL AS VARCHAR) AS error
            FROM wd
            UNION ALL
            SELECT 'w' || d, 1, 'metadata',
                   'https://w' || d || '.example.org/p',
                   '2024-01-02T03:04:06Z',
                   CAST(NULL AS INT), 'meta' || d,
                   CAST(length('meta' || d) AS BIGINT),
                   CAST(NULL AS VARCHAR)
            FROM wd
            ORDER BY src, record_index
        """,
        "crawl_warc_pages": """
            SELECT 'https://w' || CAST(doc_id AS VARCHAR)
                       || '.example.org/p' AS url,
                   TIMESTAMP '2024-01-02 03:04:05' AS warc_ts,
                   '<html>doc' || CAST(doc_id AS VARCHAR)
                   || CASE WHEN doc_id % 10 = 0 THEN ' WARC/1.0' ELSE '' END
                   || '</html>' AS html_text,
                   CAST(NULL AS VARCHAR) AS text,
                   CAST(NULL AS VARCHAR) AS lang
            FROM documents WHERE doc_id < 300
            ORDER BY url
        """,
        "crawl_sitemap_parse": _SITEMAP_ORACLE_BASE
        + " ORDER BY host, kind, loc",
        # FRONTIER adaptation: priority 0.k -> 10-k (protocol default 0.5 ->
        # 5 for the priority-less entry), lastmod -> warc_ts, sitemapindex
        # rows excluded
        "crawl_sitemap_frontier": """
            WITH parsed AS ({base})
            SELECT loc AS url, CAST(NULL AS VARCHAR) AS host,
                   CAST(round((1.0 - COALESCE(priority, 0.5)) * 10) AS INT)
                       AS priority,
                   TRY_CAST(NULLIF(lastmod, '') AS TIMESTAMP) AS warc_ts,
                   'sitemap' AS provider, CAST(3 AS INT) AS discovered_round,
                   CAST(0 AS INT) AS retries
            FROM parsed WHERE kind = 'url'
            ORDER BY url
        """.replace("{base}", _SITEMAP_ORACLE_BASE),
    }
