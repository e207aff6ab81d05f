"""Settings layering, CSV parity surface, streaming discovery."""

import textwrap

from crawlspark.settings import Settings


def test_settings_layering(tmp_path):
    p = tmp_path / "s.toml"
    p.write_text(
        textwrap.dedent(
            """
            [general]
            debug = true
            [crawl]
            default_host_budget = 3
            """
        )
    )
    s = Settings.new(p, overrides={"crawl": {"max_retries": 5}})
    assert s.general.debug is True                      # from file
    assert s.crawl.default_host_budget == 3             # from file
    assert s.crawl.max_retries == 5                     # override wins
    assert s.abcd.landing_page_field.endswith("/URI")   # default preserved


def test_settings_rejects_unknown_keys(tmp_path):
    p = tmp_path / "s.toml"
    p.write_text("[crawl]\nnot_a_knob = 1\n")
    import pytest

    with pytest.raises(ValueError):
        Settings.new(p)


def test_file_to_csv_golden(spark, tmp_path):
    """--file-to-csv parity (main.rs:54-115): header in spec order, unit rows
    only, NULL→empty, Rust float Display."""
    import io
    import zipfile

    from crawlspark.csvsink import file_to_csv
    from crawlspark.synth import LANDING_PAGE_FIELD, golden_fields
    from test_extract import golden_xml

    arch = tmp_path / "a.zip"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("x.xml", golden_xml())
    arch.write_bytes(buf.getvalue())

    out = file_to_csv(spark, str(arch), golden_fields(), LANDING_PAGE_FIELD)
    lines = out.split("\n")
    f = golden_fields()
    assert lines[0] == ",".join(f.names)
    # one unit row: dataset-level fields empty; floats via Rust Display
    assert lines[1] == ",,,UNIT ID,10.911,49.911,TECHNICAL WGS84 EMAIL"
    assert lines[2] == ""


def test_streaming_discovery(spark, tmp_path):
    import time

    from crawlspark import schemas, synth
    from crawlspark.streaming import discovered_urls_stream
    from crawlspark.warehouse import Warehouse

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = synth.frontier_rows(40, 5)
    spark.createDataFrame(rows, schemas.FRONTIER).write.mode("overwrite").parquet(
        str(in_dir / "drop1")
    )
    robots = spark.createDataFrame(synth.robots_rows(5), schemas.ROBOTS)
    wh = Warehouse(tmp_path / "wh")

    q = discovered_urls_stream(
        spark, str(in_dir / "drop1"), wh, robots, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    time.sleep(0.5)

    out = wh.read_appends(spark, "discovered").collect()
    assert out
    # canonical urls, robots-blocked host3 '/p/9*' paths excluded, unique hashes
    hashes = [r["url_hash"] for r in out]
    assert len(hashes) == len(set(hashes))
    assert all(r["curl"].startswith("https://host") for r in out)

    # RESTART with the same checkpoint: nothing new to read, and the
    # persisted stream epoch keeps every batch-id → round mapping stable, so
    # no batch can be re-appended
    q2 = discovered_urls_stream(
        spark, str(in_dir / "drop1"), wh, robots, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    time.sleep(0.5)
    out2 = wh.read_appends(spark, "discovered").collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))


def test_stateful_host_stream(spark, tmp_path):
    """applyInPandasWithState: per-host counters accumulate across
    micro-batches AND across a stream restart (state from the checkpoint)."""
    import time

    from crawlspark import schemas, synth
    from crawlspark.streaming import host_crawl_state_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = synth.frontier_rows(40, 5)
    cut = len(rows) * 2 // 3  # uneven halves so the two batches differ
    spark.createDataFrame(rows[:cut], schemas.FRONTIER).write.parquet(str(in_dir / "d1"))

    q = host_crawl_state_stream(spark, str(in_dir / "*"), out_dir, ckpt)
    q.awaitTermination(120)
    time.sleep(0.5)
    first = spark.read.parquet(out_dir).collect()
    assert sum(r["batch_rows"] for r in first) == cut
    assert all(r["batch_rows"] == r["cumulative_rows"] for r in first)

    # second drop + RESTARTED stream, same checkpoint: cumulative continues
    spark.createDataFrame(rows[cut:], schemas.FRONTIER).write.parquet(str(in_dir / "d2"))
    q2 = host_crawl_state_stream(spark, str(in_dir / "*"), out_dir, ckpt)
    q2.awaitTermination(120)
    time.sleep(0.5)
    all_rows = spark.read.parquet(out_dir).collect()
    assert sum(r["batch_rows"] for r in all_rows) == len(rows)
    # per host: the max cumulative equals the total rows ever seen for it
    from pyspark.sql import functions as F

    from crawlspark.scheduler import enrich

    enr = enrich(spark.createDataFrame(rows, schemas.FRONTIER))
    per_host = {
        r["chost"]: r["cnt"]
        for r in enr.groupBy("chost").agg(F.count("*").alias("cnt")).collect()
    }
    got = {}
    for r in all_rows:
        got[r["host"]] = max(got.get(r["host"], 0), r["cumulative_rows"])
    assert got == per_host


def test_stream_epoch_stable_across_restarts(tmp_path):
    """The redelivery hole ADVICE flagged: a batch committed to the warehouse
    but not yet in Spark's checkpoint is redelivered with the SAME batch_id
    after a restart — it must map to the SAME round (idempotent no-op), even
    though last_round() has advanced in between."""
    import pyarrow as pa

    from crawlspark.warehouse import Warehouse

    wh = Warehouse(tmp_path / "wh")
    epoch = wh.stream_epoch("ckpt-A")
    assert epoch == -1
    # batch 0 commits round epoch+0+1, then the stream dies pre-checkpoint
    r0 = epoch + 0 + 1
    assert wh.commit_round(r0, local_appends={"t": pa.table({"x": [1]})}) is True

    # restart: fresh Warehouse object, same checkpoint location
    wh2 = Warehouse(tmp_path / "wh")
    assert wh2.stream_epoch("ckpt-A") == epoch          # NOT re-based
    # redelivered batch 0 maps to the same round -> idempotent no-op
    assert wh2.commit_round(epoch + 0 + 1, local_appends={"t": pa.table({"x": [1]})}) is False
    # a different checkpoint (new stream) gets its own epoch
    assert wh2.stream_epoch("ckpt-B") == wh2.last_round()


def test_stream_epoch_detects_recreated_checkpoint(tmp_path):
    """Deleting the Spark checkpoint while keeping the warehouse restarts
    batch ids at 0 — the new stream's query id mismatches the recorded one
    and stream_epoch fails loudly instead of silently no-opping."""
    import pyarrow as pa
    import pytest

    from crawlspark.warehouse import Warehouse

    wh = Warehouse(tmp_path / "wh")
    assert wh.stream_epoch("ckpt-X", query_id="q-original") == -1
    wh.commit_round(0, local_appends={"t": pa.table({"x": [1]})})
    # same id (true restart): stable epoch
    assert wh.stream_epoch("ckpt-X", query_id="q-original") == -1
    # recreated checkpoint → new query id → loud failure
    with pytest.raises(RuntimeError, match="deleted and re-created"):
        wh.stream_epoch("ckpt-X", query_id="q-fresh")
    # a late-arriving id on a legacy (id-less) record is adopted, not refused
    assert wh.stream_epoch("ckpt-Y") == 0
    assert wh.stream_epoch("ckpt-Y", query_id="q-late") == 0
    with pytest.raises(RuntimeError):
        wh.stream_epoch("ckpt-Y", query_id="q-other")


def test_streaming_discovery_matches_batch_eligibility(spark, tmp_path):
    """Cross-surface semantic pin (round-3 VERDICT #8): the streaming
    discovery stage (canonicalize → robots → seen/dup filter) must admit
    EXACTLY the url set the batch round loop deems eligible on the same
    input — the two surfaces claim one semantics."""
    import time

    from crawlspark import schemas, synth
    from crawlspark.scheduler import Crawler
    from crawlspark.settings import Settings
    from crawlspark.streaming import discovered_urls_stream
    from crawlspark.warehouse import Warehouse

    n, n_hosts = 60, 5
    rows = synth.frontier_rows(n, n_hosts)
    frontier = spark.createDataFrame(rows, schemas.FRONTIER)
    robots = spark.createDataFrame(synth.robots_rows(n_hosts), schemas.ROBOTS)

    # streaming surface
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    frontier.write.parquet(str(in_dir / "d1"))
    wh_s = Warehouse(tmp_path / "whS")
    q = discovered_urls_stream(
        spark, str(in_dir / "d1"), wh_s, robots, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    time.sleep(0.5)
    stream_urls = {
        r["curl"] for r in wh_s.read_appends(spark, "discovered").collect()
    }

    # batch surface: bulk mode (unbounded budget) makes selected == eligible,
    # so round-1 crawl_log is precisely the batch loop's eligibility verdict
    pages = spark.createDataFrame(
        [synth.page_row(i, n_hosts) for i in range(n)], schemas.PAGES
    )
    settings = Settings.new(
        overrides={"crawl": {"budget_override": 10**9, "max_retries": 0}}
    )
    wh_b = Warehouse(tmp_path / "whB")
    Crawler(
        spark, settings, wh_b, synth.golden_fields(), pages, robots, frontier
    ).run(max_rounds=1)
    batch_urls = {
        r["url"]
        for r in wh_b.read_appends(spark, "crawl_log").filter("round = 0").collect()
    }
    assert stream_urls == batch_urls


def test_robots_parser(spark):
    """robots.txt parser: comments, blank lines, empty Disallow, other-UA
    sections, ':' inside values, delay parsing, budget derivation."""
    from crawlspark.robots import parse_robots_txt, robots_rules_table

    body = (
        "# comment line\nUser-agent: *\nDisallow: /p/9\n"
        "Disallow:    /admin   # trailing comment\nCrawl-delay: 2.5\n"
        "Disallow:\n\nUser-agent: OtherBot\nDisallow: /secret\n"
    )
    rows = [
        ("h1", body),
        ("h2", "User-agent: googlebot\nDisallow: /only-google\n"),
        ("h3", "Disallow: /before-any-ua\nUser-agent: *\nDisallow: /a:b/c\n"),
        ("h4", ""),
        ("h5", "User-agent: MyBot\nDisallow: /mine\nCrawl-delay: nonsense\n"),
    ]
    df = spark.createDataFrame(rows, ["host", "body"])
    got = {r["host"]: r for r in parse_robots_txt(df).collect()}
    assert list(got["h1"]["disallow_prefixes"]) == ["/p/9", "/admin"]
    assert got["h1"]["crawl_delay_s"] == 2.5
    assert list(got["h2"]["disallow_prefixes"]) == []  # wrong UA for '*' query
    assert list(got["h3"]["disallow_prefixes"]) == ["/a:b/c"]  # pre-UA line ignored
    assert list(got["h4"]["disallow_prefixes"]) == []
    # agent-specific query matches its own section; bad delay ignored
    mine = {r["host"]: r for r in parse_robots_txt(df, user_agent="mybot").collect()}
    assert list(mine["h5"]["disallow_prefixes"]) == ["/mine"]
    assert mine["h5"]["crawl_delay_s"] is None
    rules = {r["host"]: r for r in robots_rules_table(parse_robots_txt(df)).collect()}
    assert rules["h1"]["max_per_round"] == 24   # 60 / 2.5
    assert rules["h2"]["max_per_round"] == 8    # default


def test_metrics_digest(spark, tmp_path):
    """Digest over a multi-round crawl (post_to_slack.py analog): one
    [SUMMARY] header with crawl totals, one [INFO] line per round, and
    failures pulled into [ATTENTION] — content asserted against the metrics
    table the crawl actually committed."""
    from crawlspark import schemas, synth
    from crawlspark.report import metrics_digest
    from crawlspark.scheduler import Crawler
    from crawlspark.settings import Settings
    from crawlspark.warehouse import Warehouse

    n, n_hosts = 60, 5
    pages = spark.createDataFrame(
        [synth.page_row(i, n_hosts) for i in range(0, n, 2)], schemas.PAGES
    )  # half the frontier has no page → failures appear in the digest
    frontier = spark.createDataFrame(synth.frontier_rows(n, n_hosts), schemas.FRONTIER)
    robots = spark.createDataFrame(synth.robots_rows(n_hosts), schemas.ROBOTS)
    wh = Warehouse(str(tmp_path / "wh"))
    settings = Settings.new(overrides={"crawl": {"max_retries": 0}})
    results = Crawler(
        spark, settings, wh, synth.golden_fields(), pages, robots, frontier
    ).run(max_rounds=2)
    assert len(results) >= 2

    digest = metrics_digest(spark, wh)
    total_fetched = sum(r.fetched for r in results)
    total_failed = sum(r.failed for r in results)
    assert f"Crawl contains {len(results)} round(s): {total_fetched} fetched" in digest
    for r_i, r in enumerate(results):  # metrics rounds number from 0
        assert f"[INFO] round {r_i}: fetched={r.fetched}" in digest
    assert total_failed > 0  # the synthetic gap really produced failures
    assert "[ATTENTION]" in digest and f"{results[0].failed} failed" in digest


def test_robots_parser_consecutive_user_agent_grouping(spark):
    """RFC 9309 §2.2.1: consecutive User-agent lines form ONE record — rules
    below apply if ANY of the group's agents matches. A UA line after rule
    lines starts a NEW record (state replaced, not OR-ed). Comments/blank
    lines are transparent to grouping."""
    from crawlspark.robots import parse_robots_txt

    rows = [
        # '*' then OtherBot, one shared rule: applies to '*' queries
        ("g1", "User-agent: *\nUser-agent: OtherBot\nDisallow: /x\n"),
        # reversed order, same record
        ("g2", "User-agent: OtherBot\nUser-agent: *\nDisallow: /y\n"),
        # comment + blank inside the start group must not break it
        ("g3", "User-agent: OtherBot\n# note\n\nUser-agent: *\nDisallow: /z\n"),
        # UA after rule lines RESETS: '*' record closed by its Disallow, the
        # following OtherBot record must not inherit active state
        ("g4", "User-agent: *\nDisallow: /a\nUser-agent: OtherBot\nDisallow: /b\n"),
        # group with no matching agent at all
        ("g5", "User-agent: OtherBot\nUser-agent: ThirdBot\nDisallow: /w\n"),
    ]
    df = spark.createDataFrame(rows, ["host", "body"])
    got = {r["host"]: list(r["disallow_prefixes"])
           for r in parse_robots_txt(df).collect()}
    assert got["g1"] == ["/x"]
    assert got["g2"] == ["/y"]
    assert got["g3"] == ["/z"]
    assert got["g4"] == ["/a"]
    assert got["g5"] == []
    mine = {r["host"]: list(r["disallow_prefixes"])
            for r in parse_robots_txt(df, user_agent="otherbot").collect()}
    # '*' records apply to every agent (documented subset: rules collected
    # from any record matching the agent or '*'), so g4 keeps both
    assert mine["g1"] == ["/x"] and mine["g4"] == ["/a", "/b"] and mine["g5"] == ["/w"]


def test_robots_parser_feeds_crawler(spark, tmp_path):
    """End-to-end wiring: parsed robots.txt rules drive the crawl loop —
    the disallowed prefix is enforced (robots_blocked counts match)."""
    from crawlspark import schemas, synth
    from crawlspark.robots import parse_robots_txt, robots_rules_table
    from crawlspark.scheduler import Crawler
    from crawlspark.settings import Settings
    from crawlspark.warehouse import Warehouse

    n, n_hosts = 40, 5
    pages = spark.createDataFrame(
        [synth.page_row(i, n_hosts) for i in range(n)], schemas.PAGES
    )
    frontier = spark.createDataFrame(synth.frontier_rows(n, n_hosts), schemas.FRONTIER)
    # raw robots bodies reproducing synth.robots_rows' semantics
    raw = spark.createDataFrame(
        [
            (r["host"],
             "User-agent: *\n"
             + "".join(f"Disallow: {p}\n" for p in (r["disallow_prefixes"] or []))
             + (f"Crawl-delay: {60 / r['max_per_round']}\n" if r["max_per_round"] else ""))
            for r in synth.robots_rows(n_hosts)
        ],
        ["host", "body"],
    )
    robots = robots_rules_table(parse_robots_txt(raw))
    wh = Warehouse(tmp_path / "whRB")
    crawler = Crawler(
        spark, Settings.new(), wh, synth.golden_fields(), pages, robots, frontier
    )
    results = crawler.run()
    # reference enforcement: same blocked count as the structured-robots run
    wh2 = Warehouse(tmp_path / "whRB2")
    robots2 = spark.createDataFrame(synth.robots_rows(n_hosts), schemas.ROBOTS)
    results2 = Crawler(
        spark, Settings.new(), wh2, synth.golden_fields(), pages, robots2, frontier
    ).run()
    assert sum(r.robots_blocked for r in results) == sum(r.robots_blocked for r in results2)
    assert [r.fetched for r in results] == [r.fetched for r in results2]


def test_robots_sitemaps_extraction(spark):
    """Sitemap: directives — UA-independent, case-insensitive, URL colons
    preserved (split limit 2), comments stripped, empty values dropped,
    body order kept per host."""
    from crawlspark.robots import robots_sitemaps

    body = (
        "User-agent: Other\nDisallow: /\n"
        "Sitemap: https://a.org/s1.xml # comment\n"
        "sitemap: https://a.org/s2.xml\n"
        "SITEMAP:https://a.org/s3.xml\n"
        "Sitemap:\n"          # empty value -> dropped
        "Sitemap https://no-colon.org\n"  # colon-less -> dropped
    )
    df = spark.createDataFrame([("a.org", body), ("b.org", "no directives")],
                               ["host", "body"])
    rows = [(r["host"], r["sitemap_url"]) for r in robots_sitemaps(df).collect()]
    assert rows == [
        ("a.org", "https://a.org/s1.xml"),
        ("a.org", "https://a.org/s2.xml"),
        ("a.org", "https://a.org/s3.xml"),
    ]


def test_change_rates_and_recrawl_tiers(spark):
    """Interval/change counting incl. duplicate (url, round) retry collapse;
    tier boundaries at exactly 50% and 10% and the never-reobserved case."""
    from crawlspark.freshness import change_rates, recrawl_priorities

    rows = [
        # hot: 2 intervals, 2 changes (100%)
        ("u_hot", 0, "a"), ("u_hot", 1, "b"), ("u_hot", 2, "c"),
        # boundary: 2 intervals, 1 change = 50% -> still hot (>=)
        ("u_edge", 0, "a"), ("u_edge", 1, "a"), ("u_edge", 2, "b"),
        # warm: 10 intervals, 1 change = 10% (>= warm_pct)
        *[("u_warm", r, "x" if r < 5 else "y") for r in range(11)],
        # cold: 3 intervals, 0 changes
        ("u_cold", 0, "k"), ("u_cold", 1, "k"), ("u_cold", 2, "k"), ("u_cold", 3, "k"),
        # unknown: observed once
        ("u_new", 7, "z"),
        # retry dup: same round seen twice with different fp -> min collapses,
        # so NO phantom change interval appears
        ("u_dup", 0, "m"), ("u_dup", 0, "q"), ("u_dup", 1, "m"),
    ]
    hist = spark.createDataFrame(rows, ["url", "round", "fingerprint"])
    rates = change_rates(hist)
    got = {r["url"]: r.asDict() for r in rates.join(
        recrawl_priorities(rates), "url").collect()}
    assert got["u_hot"]["recrawl_priority"] == 0
    assert got["u_edge"]["recrawl_priority"] == 0
    assert got["u_warm"]["recrawl_priority"] == 1
    assert got["u_cold"]["recrawl_priority"] == 3
    assert got["u_new"] == {
        "url": "u_new", "observations": 1, "intervals": 0, "changes": 0,
        "last_round": 7, "recrawl_priority": 2,
    }
    assert got["u_dup"]["observations"] == 2
    assert got["u_dup"]["intervals"] == 1 and got["u_dup"]["changes"] == 0


def test_robots_crlf_bodies(spark):
    """CRLF robots.txt (the common served form) must parse identically to
    LF: no '\\r' tails on prefixes, delays, or sitemap URLs."""
    from crawlspark.robots import parse_robots_txt, robots_sitemaps

    body = ("User-agent: *\r\nDisallow: /x\r\nCrawl-delay: 2.5\r\n"
            "Sitemap: https://a.org/s.xml\r\n")
    df = spark.createDataFrame([("a.org", body)], ["host", "body"])
    r = parse_robots_txt(df).collect()[0]
    assert r["disallow_prefixes"] == ["/x"]
    assert r["crawl_delay_s"] == 2.5
    sm = robots_sitemaps(df).collect()
    assert [x["sitemap_url"] for x in sm] == ["https://a.org/s.xml"]
