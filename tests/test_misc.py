"""Settings layering, CSV parity surface, robots, digest, freshness."""

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
    import pytest

    # an unknown key in a known section, a misspelled section, and values
    # outside the seen-filter and probe-mode choices
    for toml, override in [
        ("[crawl]\nnot_a_knob = 1\n", {"crawl": {"not_a_knob": 1}}),
        ("[crawll]\nmax_rounds = 2\n", {"crawll": {"max_rounds": 2}}),
        ('[crawl]\nseen_filter = "cukoo"\n', {"crawl": {"seen_filter": "cukoo"}}),
        ('[crawl]\nbloom_probe = "route"\n', {"crawl": {"bloom_probe": "route"}}),
    ]:
        p = tmp_path / "s.toml"
        p.write_text(toml)
        with pytest.raises(ValueError):
            Settings.new(p)
        with pytest.raises(ValueError):
            Settings.new(overrides=override)


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


def test_pydaemon_prefers_installed_pyspark(tmp_path, monkeypatch):
    """The Python worker daemon drops Spark's source-only pyspark.zip from
    its path only when the installed pyspark is the same release."""
    import importlib.util
    import sys
    import zipfile
    from pathlib import Path

    from crawlspark import pydaemon

    installed = importlib.util.find_spec("pyspark").origin
    same = Path(installed).with_name("version.py").read_bytes()
    for name, version, kept in [("same", same, False),
                                ("other", b'__version__: str = "0.0.0"\n', True)]:
        archive = tmp_path / name / "pyspark.zip"
        archive.parent.mkdir()
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("pyspark/version.py", version)
        monkeypatch.setattr(sys, "path", [str(archive), *sys.path])
        pydaemon._prefer_installed_pyspark()
        assert (str(archive) in sys.path) == kept, name
