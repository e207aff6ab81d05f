"""Crawl-equivalence + resume tests (SURVEY.md §5d/e).

The engine's round loop must reproduce the pure-Python sequential oracle
exactly: crawl order, final seen set with dense surrogate keys, per-round
counters. Then: killing after round k and resuming must produce a
byte-identical final state (reference analog: the resumable storage-dir
side-cache + atomic publish, src/main.rs:262-266, database_sink.rs:258-284).
"""

import pytest

from pyspark.sql import functions as F

from crawlspark import schemas, synth
from crawlspark.scheduler import Crawler, build_pages_index
from crawlspark.settings import Settings
from crawlspark.warehouse import Warehouse

from oracle_sim import simulate

N_PAGES = 120
N_HOSTS = 7


@pytest.fixture(scope="module")
def synth_dfs(spark):
    pages = spark.createDataFrame(
        [synth.page_row(i, N_HOSTS) for i in range(N_PAGES)], schemas.PAGES
    )
    frontier = spark.createDataFrame(synth.frontier_rows(N_PAGES, N_HOSTS), schemas.FRONTIER)
    robots = spark.createDataFrame(synth.robots_rows(N_HOSTS), schemas.ROBOTS)
    cache = synth.cache_rows(N_PAGES, N_HOSTS)
    cache_df = spark.createDataFrame(cache, schemas.PAGES) if cache else None
    return pages, frontier, robots, cache_df


def oracle(settings: Settings):
    page_urls = {synth.page_url(i, N_HOSTS) for i in range(N_PAGES)}
    cache_urls = {r["url"] for r in synth.cache_rows(N_PAGES, N_HOSTS)}
    robots = {r["host"]: r for r in synth.robots_rows(N_HOSTS)}
    return simulate(
        synth.frontier_rows(N_PAGES, N_HOSTS),
        page_urls,
        robots,
        cache_urls,
        default_budget=settings.crawl.default_host_budget,
        max_retries=settings.crawl.max_retries,
    )


def run_crawler(spark, synth_dfs, wh_dir, max_rounds=None, overrides=None):
    pages, frontier, robots, cache_df = synth_dfs
    settings = Settings.new(overrides=overrides)
    wh = Warehouse(wh_dir)
    crawler = Crawler(
        spark, settings, wh, synth.golden_fields(), pages, robots, frontier, cache_df
    )
    results = crawler.run(max_rounds=max_rounds)
    return settings, wh, results


def assert_resume_refused(spark, synth_dfs, wh, seen, cases):
    """Each (overrides, match) Crawler on the committed warehouse ``wh`` must
    refuse both to resume and to evict, and commit nothing."""
    pages, frontier, robots, cache_df = synth_dfs
    last = wh.last_round()
    victim = spark.createDataFrame([(sorted(seen)[0],)], ["url"])
    for overrides, match in cases:
        crawler = Crawler(
            spark, Settings.new(overrides=overrides), wh, synth.golden_fields(),
            pages, robots, frontier, cache_df,
        )
        with pytest.raises(ValueError, match=match):
            crawler.run()
        with pytest.raises(ValueError, match=match):
            crawler.evict(victim)
    assert wh.last_round() == last


def collect_state(spark, wh: Warehouse):
    log = [
        (r["round"], r["seq"], r["url"])
        for r in wh.read_appends(spark, "crawl_log").orderBy("round", "seq").collect()
    ]
    seen = {
        r["url"]: r["surrogate_key"]
        for r in wh.read_state(spark, "seen", schemas.SEEN).collect()
    }
    metrics = {
        r["round"]: r.asDict()
        for r in wh.read_appends(spark, "metrics", schemas.METRICS).collect()
    }
    return log, seen, metrics


def test_fetch_index_precedence(spark):
    """The fetch index holds the pages winner per canonical url, else the
    recovery copy; a pages row with NULL html takes the copy's html."""
    from datetime import datetime

    ts = datetime(2020, 1, 1)

    def frame(rows):
        return spark.createDataFrame(
            [(u, ts, h, None, None) for u, h in rows], schemas.PAGES
        )

    pages = frame([("https://a.example/page", b"P"), ("https://a.example/both", b"P"),
                   ("https://a.example/null", None)])
    cache = frame([("https://a.example/cache", b"C"), ("https://a.example/both", b"C"),
                   ("https://a.example/null", b"C")])
    got = {r["page_curl"]: r["html"] for r in build_pages_index(pages, cache).collect()}
    assert got == {
        "https://a.example/page": b"P",
        "https://a.example/cache": b"C",
        "https://a.example/both": b"P",
        "https://a.example/null": b"C",
    }


@pytest.fixture(scope="module")
def full_run(spark, synth_dfs, tmp_path_factory):
    wh_dir = tmp_path_factory.mktemp("wh_full")
    settings, wh, results = run_crawler(spark, synth_dfs, wh_dir)
    return settings, wh, results


def test_crawl_matches_oracle(spark, full_run):
    settings, wh, _ = full_run
    sim = oracle(settings)
    log, seen, metrics = collect_state(spark, wh)

    # exact crawl order equality (BASELINE.json:2)
    assert log == sim.crawl_order
    # exact seen set + dense first-seen surrogate keys
    assert seen == sim.seen
    # per-round counters
    assert len(metrics) == len(sim.metrics)
    for m in sim.metrics:
        got = metrics[m["round"]]
        for k in ("fetched", "deduped", "robots_blocked", "retried", "failed", "new_urls"):
            assert got[k] == m[k], (m["round"], k, got[k], m[k])


def test_extraction_outputs_keyed_and_byte_identical(spark, full_run):
    _, wh, _ = full_run
    units = wh.read_appends(spark, "units")
    datasets = wh.read_appends(spark, "datasets")
    assert datasets.filter(F.col("surrogate_key").isNull()).count() == 0
    assert units.filter(F.col("surrogate_key").isNull()).count() == 0

    from crawlspark.csvsink import render_unit_rows_expr

    # byte-identical text: re-render units from the committed table (the
    # vertical split dropped dataset-level columns — they render as NULLs)
    ex = units.withColumn("kind", F.lit("unit"))
    for fs in synth.golden_fields():
        if fs.global_field:
            ex = ex.withColumn(fs.hash, F.lit(None).cast("string"))
    got = {
        r["url"]: r["text"]
        for r in render_unit_rows_expr(ex, synth.golden_fields()).collect()
    }
    assert got
    for url in got:
        i = int(url.rsplit("/", 1)[1])
        assert got[url] == synth.expected_text(i), url


def test_listing_view(spark, full_run):
    from crawlspark.listing import dataset_listing

    _, wh, _ = full_run
    f = synth.golden_fields()
    listing = dataset_listing(
        wh.read_appends(spark, "datasets"), wh.read_appends(spark, "units"), f
    )
    rows = listing.collect()
    assert len(rows) > 0
    assert {r["isGeoReferenced"] for r in rows} <= {True, False}
    assert [r for r in rows if r["isGeoReferenced"]]
    # links: even pages carry an extracted URI, odd pages the proposal
    assert any(r["link"].startswith("https://landing") for r in rows)


def test_crawl_routed_bloom_matches_oracle(spark, synth_dfs, tmp_path):
    """Scale-path probe (bucket-routed cogroup, no driver collect / whole-
    filter broadcast) produces the exact same crawl as the broadcast probe.
    Resuming that warehouse with a resized Bloom filter fails fast: merging
    new keys into the old bitmaps under other sizes would probe older seen
    URLs as new and skip their exact confirm."""
    settings, wh, _ = run_crawler(
        spark, synth_dfs, tmp_path / "whR",
        overrides={"crawl": {"bloom_probe": "routed"}},
    )
    sim = oracle(settings)
    log, seen, _ = collect_state(spark, wh)
    assert log == sim.crawl_order
    assert seen == sim.seen

    assert_resume_refused(spark, synth_dfs, wh, seen, [
        ({"crawl": {"bloom_probe": "routed", "bloom_bits": 1 << 16}}, "bloom_bits=65536"),
        ({"crawl": {"bloom_probe": "routed", "seen_buckets": 8}}, "seen_buckets=8"),
    ])


def test_kill_and_resume_exact(spark, synth_dfs, full_run, tmp_path):
    _, wh_full, _ = full_run
    # killed after 1 round, then resumed (fresh Crawler instance, same warehouse)
    _, wh_part, res1 = run_crawler(spark, synth_dfs, tmp_path / "whB", max_rounds=1)
    assert len(res1) == 1
    _, wh_part, _ = run_crawler(spark, synth_dfs, tmp_path / "whB")
    # a third run on the drained warehouse is a no-op: no round, no commit
    last = wh_part.last_round()
    _, wh_part, res3 = run_crawler(spark, synth_dfs, tmp_path / "whB")
    assert res3 == [] and wh_part.last_round() == last

    a = collect_state(spark, wh_full)
    b = collect_state(spark, wh_part)
    assert a[0] == b[0]  # crawl order
    assert a[1] == b[1]  # seen set + keys
    assert a[2] == b[2]  # metrics
    ua = sorted(map(tuple, wh_full.read_appends(spark, "units").collect()))
    ub = sorted(map(tuple, wh_part.read_appends(spark, "units").collect()))
    assert ua == ub


@pytest.mark.parametrize("empty_seed, max_rounds", [
    (True, None),   # empty seed frontier
    (False, 0),     # full seed frontier, zero rounds asked for
], ids=["empty_frontier", "max_rounds_0"])
def test_empty_frontier_runs_no_round(spark, synth_dfs, tmp_path, empty_seed, max_rounds):
    """An empty seed frontier, or max_rounds=0, runs zero rounds and commits
    nothing."""
    pages, frontier, robots, cache_df = synth_dfs
    wh = Warehouse(tmp_path / "whE")
    crawler = Crawler(
        spark, Settings.new(), wh, synth.golden_fields(), pages, robots,
        frontier.limit(0) if empty_seed else frontier, cache_df,
    )
    assert crawler.run(max_rounds=max_rounds) == []
    assert wh.last_round() == -1


def test_idempotent_recommit(spark, synth_dfs, tmp_path):
    _, wh, _ = run_crawler(spark, synth_dfs, tmp_path / "whC", max_rounds=1)
    pages, frontier, robots, cache_df = synth_dfs
    assert wh.commit_round(0, snapshots={"frontier": frontier.limit(0)}) is False


def test_crawl_cuckoo_matches_oracle(spark, synth_dfs, tmp_path):
    """seen_filter='cuckoo' produces the exact same crawl as the bloom path
    (filter kind is a routing detail; the exact join decides membership).
    Resuming that warehouse under the default 'bloom' setting fails fast: an
    empty Bloom filter would skip the exact confirm for every seen URL. So
    does resuming it with a resized cuckoo filter."""
    settings, wh, _ = run_crawler(
        spark, synth_dfs, tmp_path / "whK",
        overrides={"crawl": {"seen_filter": "cuckoo"}},
    )
    sim = oracle(settings)
    log, seen, _ = collect_state(spark, wh)
    assert log == sim.crawl_order
    assert seen == sim.seen
    assert wh.has_table("cuckoo") and not wh.has_table("bloom")

    assert_resume_refused(spark, synth_dfs, wh, seen, [
        ({}, "'bloom'"),
        ({"crawl": {"seen_filter": "cuckoo", "seen_buckets": 8}}, "seen_buckets=8"),
        ({"crawl": {"seen_filter": "cuckoo", "cuckoo_slots": 2}}, "cuckoo_slots=2"),
    ])
    assert not wh.has_table("bloom")


@pytest.mark.parametrize("overrides", [
    {"crawl": {"seen_filter": "cuckoo"}},
    {"crawl": {"seen_filter": "cuckoo", "bloom_probe": "routed"}},
    {"crawl": {}},  # bloom rebuild path
])
def test_evict_recrawl(spark, synth_dfs, tmp_path, overrides):
    """Full re-crawl eviction loop: crawl → evict 3 urls (seen shrinks, they
    re-enter the frontier) → run() fetches exactly those urls again with
    fresh surrogate keys."""
    settings, wh, _ = run_crawler(spark, synth_dfs, tmp_path / "whE", overrides=overrides)
    _, seen_before, _ = collect_state(spark, wh)
    victims = sorted(seen_before)[:3]
    pages, frontier, robots, cache_df = synth_dfs
    crawler = Crawler(
        spark, settings, wh, synth.golden_fields(), pages, robots, frontier, cache_df
    )
    ev = spark.createDataFrame([(u,) for u in victims], ["url"])
    n = crawler.evict(ev)
    assert n == 3
    seen_mid = {
        r["url"] for r in wh.read_state(spark, "seen", schemas.SEEN).collect()
    }
    assert seen_mid == set(seen_before) - set(victims)
    # evicting urls that are not in the seen set is a no-op (and must NOT
    # delete colliding fingerprints / commit a round)
    last = wh.last_round()
    assert crawler.evict(spark.createDataFrame([("http://nowhere.example/x",)], ["url"])) == 0
    assert wh.last_round() == last
    # the re-crawl: only the evicted urls are eligible again
    results = crawler.run()
    assert sum(r.fetched for r in results) == 3
    _, seen_after, _ = collect_state(spark, wh)
    assert set(seen_after) == set(seen_before)
    # fresh keys continue from the current max (first-seen-wins is per-life)
    max_kept = max(v for u, v in seen_before.items() if u not in victims)
    assert all(seen_after[u] > max_kept for u in victims)


# Spark work of round 0 on the synth fixture at local[4] with 8 shuffle
# partitions, recorded. An empty frame scanned as a Python RDD, an extra
# extraction wave, a separate counting job or a second fetch-index join
# pushes a round over them. Concurrent commit writers sometimes reuse a
# shuffle and complete fewer tasks.
ROUND_JOBS_MAX = 16
ROUND_STAGES_MAX = 40
ROUND_TASKS_MAX = 193


def test_round_spark_cost_bounded(spark, synth_dfs, job_ids, tmp_path):
    """CI guard on a round's fixed cost: the jobs one crawl round starts
    (its commit's writer threads included), their stages and the tasks they
    complete stay within the recorded bounds."""
    pages, frontier, robots, cache_df = synth_dfs
    crawler = Crawler(
        spark, Settings.new(), Warehouse(tmp_path / "whJ"), synth.golden_fields(),
        pages, robots, frontier, cache_df,
    )
    before = job_ids()
    assert len(crawler.run(max_rounds=1)) == 1
    jobs = job_ids() - before
    st = spark.sparkContext.statusTracker()
    stages = {sid for j in jobs for sid in st.getJobInfo(j).stageIds}
    tasks = sum(
        info.numCompletedTasks
        for info in map(st.getStageInfo, stages)
        if info is not None
    )
    assert (
        len(jobs) <= ROUND_JOBS_MAX
        and len(stages) <= ROUND_STAGES_MAX
        and tasks <= ROUND_TASKS_MAX
    ), (len(jobs), len(stages), tasks)
