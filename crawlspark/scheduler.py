"""The crawl round loop — the engine's scheduler.

Reference semantics re-expressed as batch fetch rounds (north_rule):

* the reference crawls the seed list strictly sequentially, one dataset at a
  time (/root/reference/src/main.rs:154-267) — "politeness by construction";
  the engine makes politeness explicit: per-host budget-k selection per round.
* fetch failure → recovery copy → else skip (/root/reference/src/main.rs:182-203)
  becomes: fetch-index join (pages with their recovery copies folded in once,
  at construction) → bounded retry re-enqueue → failed.
* dedup by first-seen id (/root/reference/src/storage/surrogate_key.rs:24-34)
  becomes the canonical-URL seen set (seen.py) with dense first-seen keys.
* per-item error tolerance + counters (/root/reference/src/main.rs:224-266,
  post_to_slack.py:14-27) become the metrics + lineage tables.
* temp→final atomic publish (/root/reference/src/storage/database_sink.rs:258-284)
  becomes the per-round warehouse snapshot commit (warehouse.py) — which also
  gives exact resume.

Deterministic round semantics (the contract shared with tests/oracle_sim.py —
every rule below is implemented twice and asserted equal):

  round r over frontier rows (url, host, priority, warc_ts, provider, retries):
    1. canonicalize url → curl, url_hash = xxhash64(curl), chost, path
    2. robots: any disallow prefix of path ⇒ 'blocked' (dropped permanently)
    3. curl in seen ⇒ 'dup_seen'; later duplicate within batch ⇒ 'dup_batch'
       (first = min by (priority, warc_ts, url)); both dropped permanently
    4. politeness: per chost order by (priority, warc_ts, curl, url), keep
       max_per_round (robots, default settings.crawl.default_host_budget);
       rest ⇒ deferred (stays in frontier)
    5. crawl order = (chost, priority, warc_ts, curl) over the selected set →
       seq 1..k (global within round); chost compared as a string
    6. fetch: fetch-index hit ⇒ fetched (the index holds each page, or its
       recovery copy where the page is missing or has no html);
       else retries < max_retries ⇒ retried (re-enqueued, retries+1)
       else failed (dropped)
    7. surrogate keys: dense, continuing from the seen max, over fetched rows
       in crawl order; seen += fetched
    8. metrics: counters per round; crawl_log: (round, seq, curl, fetched)
    9. frontier' = deferred ∪ retried

Scale notes:
* exact per-host top-k is computed in two phases — a salted local top-k per
  (host, pmod(url_hash, S)) cuts each host's candidates to ≤ budget*S rows
  BEFORE the exact per-host window, so the skewed host (~20% of the frontier)
  never passes through one task whole. Both phases are filters on eligible
  rows only, so the result is exactly the unsalted top-k.
* the only driver-side loop is over rounds; everything inside a round is
  DataFrame ops plus the Python UDFs: one mapInPandas (extraction), the
  seen-set prefilter probe (broadcast, or a per-bucket cogroup in routed
  mode) and the per-bucket filter-update cogroup. All round counters come
  from ONE grouped aggregate over a union of the cached branches, and that
  aggregate's counts also pick rank_and_key's path (no separate count job).
* every Python-worker task pays a fixed start-up cost (~0.3 s on a 4-core
  host) even when it gets no rows, so a round crosses into Python only where
  it has rows: extraction runs one wave (one task per shuffle partition), and
  data-free frames (round 0's seen set, the first filter update's previous
  state, evict's empty add set) come from schemas.empty_frame, which has 0
  partitions and launches no task.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import schemas
from .canonical import canonicalize_expr, host_expr, url_hash_expr
from .extract import extract_pages, split_dataset_units, start_workers
from .fields import AbcdFields
from .seen import (
    PartitionedBloom,
    PartitionedCuckoo,
    distributed_bloom_update,
    distributed_cuckoo_update,
    rank_and_key,
    split_new_vs_seen,
)
from .settings import Settings
from .warehouse import Warehouse

ORDER = ["priority", "warc_ts", "curl", "url"]  # the canonical tie-break chain
FRONTIER_COLS = [f.name for f in schemas.FRONTIER.fields]
# frontier *state* carries the canonical columns: canonicalization runs once
# per url at seed/requeue time, not once per round (deferred/retried rows
# keep their computed values through warehouse snapshots)
ENRICHED_COLS = FRONTIER_COLS + ["curl", "url_hash", "chost", "path"]


def enrich(df: DataFrame) -> DataFrame:
    """Add canonical columns to raw frontier/pages rows (idempotent)."""
    if "curl" in df.columns:
        return df
    return (
        df.withColumn("curl", canonicalize_expr(F.col("url")))
        .withColumn("url_hash", url_hash_expr(F.col("curl")))
        .withColumn("chost", host_expr(F.col("curl")))
        .withColumn("path", F.regexp_extract(F.col("curl"), r"^[^:]+://[^/?]*(/[^?]*)", 1))
    )


def build_pages_index(pages: DataFrame, cache: DataFrame | None = None) -> DataFrame:
    """Canonical fetch index, one row per canonical url: the pages row first
    by (warc_ts, url), with the recovery ``cache`` (src/main.rs:182-203)
    folded in the same way — a cache-only url is fetchable, and the cache
    html stands in where the pages html is NULL. Keyed on (url_hash,
    canonical url) — the hash is the shuffle/bucket key, the string
    disambiguates xxhash64 collisions (expected at the 10^10-URL design point
    by birthday bound). At cluster scale this is a bucketed Iceberg table
    keyed by url_hash (the fetch join is then co-located); locally a parquet
    snapshot with the same layout."""

    def winners(df: DataFrame) -> DataFrame:
        p = enrich(df.select("url", "warc_ts", "html"))
        w = Window.partitionBy("url_hash", "curl").orderBy(
            F.col("warc_ts").asc(), F.col("url").asc()
        )
        return (
            p.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url_hash", "curl", "html")
        )

    idx = winners(pages)
    if cache is not None:
        rec = winners(cache).withColumnRenamed("html", "_cache_html")
        idx = idx.join(rec, ["url_hash", "curl"], "full_outer").select(
            "url_hash", "curl", F.coalesce("html", "_cache_html").alias("html")
        )
    return idx.withColumnRenamed("curl", "page_curl")


@dataclass
class RoundResult:
    round: int
    fetched: int
    deduped: int
    robots_blocked: int
    retried: int
    failed: int
    new_urls: int
    datasets: int
    units: int
    frontier_left: int


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        settings: Settings,
        warehouse: Warehouse,
        fields: AbcdFields,
        pages: DataFrame,
        robots: DataFrame,
        frontier_seed: DataFrame,
        cache: DataFrame | None = None,
        landing_base_url: str = "https://landing.example/landingpage.php",
    ):
        self.spark = spark
        self.settings = settings
        self.wh = warehouse
        self.fields = fields
        self.landing_base_url = landing_base_url

        # Spark starts a session's Python workers at its first Python task.
        # In a crawl that is round 0's extraction, whose tasks would wait
        # 1.5-2.5 s (4 cores) for them, so they start here, in a thread
        # beside the index build, whose driver-side planning leaves the
        # executors idle for seconds.
        with ThreadPoolExecutor(max_workers=1) as pool:
            workers = pool.submit(start_workers, spark)
            # the fetch index (pages + recovery copies) is materialized once
            # (hash-layout parquet — the local stand-in for a bucketed Iceberg
            # table): every round's plan then starts from a plain scan instead
            # of re-optimizing the canonicalize+window index-build subtree
            # (driver plan-compile time was the dominant *serial* cost per
            # round)
            self.wh.write_once(
                "fetch_idx",
                build_pages_index(pages, cache).repartition(
                    settings.crawl.seen_buckets, "url_hash"
                ),
            )
            workers.result()
        # NOTE: deliberately NOT cached in memory — the deserialized payload
        # blobs are several × the parquet size and evict the round's working
        # caches (measured: commit time 4s → 45s under storage pressure);
        # the parquet scan + hash exchange is cheaper than cache thrash. On a
        # real cluster this is a bucketed Iceberg table and the exchange
        # disappears entirely.
        self.fetch_idx = self.wh.read_state(spark, "fetch_idx")
        self.robots = robots

        # one-time dimension: the (name, hash) translation table
        # (src/storage/database_sink.rs:104-125)
        self.wh.write_once(
            "translation",
            spark.createDataFrame(fields.translation_rows(), ["name", "hash"]),
        )

        self._seed = frontier_seed

    # ------------------------------------------------------------------
    @property
    def _filter_table(self) -> str:
        """Warehouse table of the seen-set prefilter ('bloom' or 'cuckoo')."""
        return self.settings.crawl.seen_filter

    def _new_bloom(self) -> "PartitionedBloom | PartitionedCuckoo":
        c = self.settings.crawl
        if c.seen_filter == "cuckoo":
            return PartitionedCuckoo(c.cuckoo_entries, c.cuckoo_slots, c.seen_buckets)
        return PartitionedBloom(c.bloom_bits, c.bloom_hashes, c.seen_buckets)

    def _bloom_probe_mode(self) -> str:
        """'broadcast' (small filter: collect + ship whole) or 'routed'
        (bucket-cogrouped probe; the filter never leaves the executors).
        'auto' switches on the statically-known total filter size — at 10^10
        URLs a useful filter is 10+ GB and MUST take the routed path."""
        c = self.settings.crawl
        if c.bloom_probe != "auto":
            return c.bloom_probe
        if c.seen_filter == "cuckoo":
            total = c.cuckoo_entries * c.cuckoo_slots * 2 * c.seen_buckets
        else:
            total = (c.bloom_bits // 8 + 1) * c.seen_buckets
        return "broadcast" if total <= c.bloom_broadcast_max_bytes else "routed"

    def _bloom_from_warehouse(self):
        """Current prefilter state in the representation the probe mode needs:
        a driver PartitionedBloom/PartitionedCuckoo (broadcast mode) or the
        warehouse DataFrame itself (routed mode — never collected)."""
        tname = self._filter_table
        if self._bloom_probe_mode() == "routed":
            return (
                self.wh.read_state(self.spark, tname)
                if self.wh.has_table(tname)
                else None
            )
        flt = self._new_bloom()
        if self.wh.has_table(tname):
            rows = self.wh.read_state(self.spark, tname).collect()
            if rows and tname == "cuckoo":
                flt = PartitionedCuckoo.from_rows(
                    [(r["bucket"], r["table"], r["m"], r["slots"], r["n_buckets"]) for r in rows]
                )
            elif rows:
                flt = PartitionedBloom.from_rows(
                    [(r["bucket"], r["bitmap"], r["bits"], r["k"], r["n_buckets"]) for r in rows]
                )
        return flt

    def _filter_update(self, new_hashes: DataFrame, prev_df, deletes: DataFrame | None = None):
        """This round's prefilter state from the previous state + adds
        (+ deletes, cuckoo only) — executor-side per-bucket cogroup."""
        c = self.settings.crawl
        if c.seen_filter == "cuckoo":
            return distributed_cuckoo_update(
                new_hashes, prev_df, c.cuckoo_entries, c.cuckoo_slots,
                c.seen_buckets, deleted_hashes=deletes,
            )
        assert deletes is None, "bloom filters cannot delete — use seen_filter='cuckoo'"
        return distributed_bloom_update(
            new_hashes, prev_df, c.bloom_bits, c.bloom_hashes, c.seen_buckets
        )

    def _require_filter_table(self) -> None:
        """A committed warehouse must hold the configured prefilter's table,
        built with the configured sizes. Starting from an empty filter, or
        merging new keys into old bitmaps/tables under other sizes, would
        probe older seen URLs as new and skip their exact confirm, so those
        URLs would be keyed a second time. The sizes are read on the driver
        with pyarrow: no Spark job."""
        tname = self._filter_table
        if self.wh.last_round() < 0:
            return
        if not self.wh.has_table(tname):
            raise ValueError(
                f"warehouse {self.wh.path} has committed rounds but no "
                f"{tname!r} table: crawl.seen_filter={tname!r} differs from "
                "the filter it was crawled with"
            )
        sizes = (  # filter-table column -> crawl setting
            {"m": "cuckoo_entries", "slots": "cuckoo_slots"} if tname == "cuckoo"
            else {"bits": "bloom_bits", "k": "bloom_hashes"}
        )
        sizes["n_buckets"] = "seen_buckets"
        got = self.wh.distinct_values(tname, list(sizes))
        for col, setting in sizes.items():
            value = getattr(self.settings.crawl, setting)
            other = got[col] - {value}
            if other:
                raise ValueError(
                    f"crawl.{setting}={value}, but the warehouse's {tname!r} "
                    f"table was built with {col}={other.pop()}"
                )

    def _load_state(self):
        """(frontier, seen, bloom, next_key, next_round) from the last commit."""
        self._require_filter_table()
        last = self.wh.last_round()
        if last < 0:
            frontier = self._apply_debug_window(self._seed)
            seen = schemas.empty_frame(self.spark, schemas.SEEN)
            fresh = None if self._bloom_probe_mode() == "routed" else self._new_bloom()
            return frontier, seen, fresh, 1, 0
        frontier = self.wh.read_state(self.spark, "frontier", schemas.FRONTIER)
        seen = self.wh.read_state(self.spark, "seen", schemas.SEEN)
        bloom = self._bloom_from_warehouse()
        mx = seen.agg(F.max("surrogate_key").alias("m")).collect()[0]["m"]
        return frontier, seen, bloom, (mx or 0) + 1, last + 1

    def _apply_debug_window(self, seed: DataFrame) -> DataFrame:
        """The reference's skip/take debug window over the seed list
        (src/main.rs:154-169, src/settings.rs:56-60), deterministic via
        row_number over the canonical seed order."""
        s = self.settings
        if not s.general.debug:
            return seed
        start = s.debug.dataset_start or 0
        limit = s.debug.dataset_limit
        w = Window.orderBy(
            F.col("priority").asc(), F.col("warc_ts").asc(), F.col("url").asc()
        )
        out = seed.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") > start)
        if limit is not None:
            out = out.filter(F.col("_rn") <= start + limit)
        return out.drop("_rn")

    # ------------------------------------------------------------------
    def evict(self, urls: DataFrame, requeue: bool = True) -> int:
        """Re-crawl eviction: remove URLs from the exact seen set AND the
        prefilter, so a future round fetches them again (the north_star's
        deletable-filter path; a production re-crawl policy calls this with
        the stale slice of the seen table).

        ``urls``: any frame with a ``url`` column (canonicalized here).
        Only URLs actually present in the seen set are deleted from the
        filter — deleting a never-inserted key could clear a colliding key's
        fingerprint (inherent cuckoo-filter caveat; the exact semi-join is
        the guard).

        * ``seen_filter='cuckoo'``: per-bucket fingerprint deletes — ONE
          cogroup over the eviction hashes, no rebuild (this is why the
          cuckoo path exists: at 10^10 URLs a Bloom rebuild re-reads the
          whole seen table per eviction wave).
        * ``seen_filter='bloom'``: Bloom filters cannot delete — the filter
          is REBUILT from the remaining seen hashes (one pass over the seen
          table; the documented rebuild story).

        ``requeue=True`` additionally re-enqueues the evicted URLs into the
        frontier (priority 0, provider 'recrawl') in the SAME commit, so the
        next ``run()`` re-fetches them — the full re-crawl loop. Commits a
        new warehouse round (snapshots: seen + filter [+ frontier]) so
        eviction is atomic and resume-exact like any crawl round. Returns
        the number of evicted seen rows."""
        sp = self.spark
        self._require_filter_table()
        seen = self.wh.read_state(sp, "seen", schemas.SEEN)
        ev = enrich(urls.select("url")).select(
            F.col("curl").alias("_eurl"), F.col("url_hash").alias("_ehash")
        )
        cond = (seen["url_hash"] == ev["_ehash"]) & (seen["url"] == ev["_eurl"])
        removed = seen.join(ev, cond, "semi").persist()
        n = removed.count()
        if n == 0:
            removed.unpersist()
            return 0
        new_seen = seen.join(ev, cond, "left_anti")
        tname = self._filter_table
        empty_hashes = schemas.empty_frame(sp, "url_hash long")
        if self.settings.crawl.seen_filter == "cuckoo":
            prev = self.wh.read_state(sp, tname) if self.wh.has_table(tname) else None
            filter_df = self._filter_update(
                empty_hashes, prev, deletes=removed.select("url_hash")
            )
        else:
            filter_df = self._filter_update(new_seen.select("url_hash"), None)
        round_ = self.wh.last_round() + 1
        snapshots = {"seen": new_seen, tname: filter_df}
        if requeue:
            frontier = enrich(
                self.wh.read_state(sp, "frontier", schemas.FRONTIER)
            ).select(*ENRICHED_COLS)
            req = enrich(
                removed.select(
                    "url",
                    F.lit(None).cast("string").alias("host"),
                    F.lit(0).cast("int").alias("priority"),
                    F.lit(None).cast("timestamp").alias("warc_ts"),
                    F.lit("recrawl").alias("provider"),
                    F.lit(round_).cast("int").alias("discovered_round"),
                    F.lit(0).cast("int").alias("retries"),
                )
            ).withColumn("host", F.col("chost")).select(*ENRICHED_COLS)
            snapshots["frontier"] = frontier.unionByName(req)
        self.wh.commit_round(round_, snapshots=snapshots)
        removed.unpersist()
        return n

    # ------------------------------------------------------------------
    def run(self, max_rounds: int | None = None) -> list[RoundResult]:
        """Crawl until the frontier drains (or max_rounds). Resumable: picks up
        from the last committed round."""
        if max_rounds is None:
            max_rounds = self.settings.crawl.max_rounds
        frontier, seen, bloom, next_key, round_ = self._load_state()
        results: list[RoundResult] = []
        if frontier.isEmpty():  # only the resume/seed boundary needs a probe
            return results
        # AQE off inside the round loop: AQE re-executes cached subtrees for
        # actions on frames derived from the round's persisted state (observed
        # via event-log stage RDDs), multiplying the per-round work. The loop
        # sets its own partition counts, so AQE has nothing to optimize here.
        prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            for _ in range(max_rounds):
                rr, frontier, seen, bloom, next_key = self.run_round(
                    round_, frontier, seen, bloom, next_key
                )
                results.append(rr)
                round_ += 1
                if rr.frontier_left == 0:
                    break
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        return results

    # ------------------------------------------------------------------
    def run_round(
        self,
        round_: int,
        frontier: DataFrame,
        seen: DataFrame,
        bloom: "PartitionedBloom | DataFrame | None",
        next_key: int,
    ) -> tuple[RoundResult, DataFrame, DataFrame, "PartitionedBloom | DataFrame | None", int]:
        s = self.settings.crawl
        sp = self.spark
        _pins: list = []

        base = enrich(frontier)

        # 2. robots (broadcast dim): prefix match on the canonical path
        rb = self.robots.select("host", "disallow_prefixes", "max_per_round")
        base = base.join(F.broadcast(rb), base["chost"] == rb["host"], "left").drop(
            rb["host"]
        )
        base = base.withColumn(
            "blocked",
            F.coalesce(
                F.exists("disallow_prefixes", lambda p: F.col("path").startswith(p)),
                F.lit(False),
            ),
        )

        # in-batch duplicate canonicals — blocked/is_seen are functions of curl,
        # so every row of a curl-partition shares them and the window may run
        # over the full partition. The window's shuffle runs BEFORE the bloom
        # probe on purpose: a pandas UDF directly above a file scan triggers
        # Spark 4's PythonRunner selector-spin (see extract.py); fed from the
        # window's exchange instead, the probe streams.
        w_dup = Window.partitionBy("curl").orderBy(*[F.col(c).asc() for c in ORDER])
        base = base.withColumn("dup_rn", F.row_number().over(w_dup))

        # 3. seen-set membership (bloom-routed exact confirm, seen.py) —
        # `bloom` is a driver PartitionedBloom (broadcast probe, small
        # filters) or the warehouse DataFrame (bucket-routed cogroup probe,
        # the 10^10-URL path; settings.bloom_probe)
        base = split_new_vs_seen(
            base, seen, bloom,
            bloom_buckets=s.seen_buckets,
            keep=_pins,
        ).persist()

        if s.budget_override is not None:  # bulk/bench mode
            budget = F.lit(s.budget_override)
        else:
            budget = F.coalesce(F.col("max_per_round"), F.lit(s.default_host_budget))

        # 4. politeness: two-phase exact per-host top-k over ELIGIBLE rows only
        #    (windows must see only eligible rows — a masked row_number would
        #    still count ineligible partition members)
        elig = base.filter(~F.col("blocked") & ~F.col("is_seen") & (F.col("dup_rn") == 1))
        bulk = s.budget_override is not None and s.budget_override >= 1_000_000_000
        if bulk:
            # bulk/throughput mode: budget exceeds any host's candidate count,
            # so selection == eligibility and both windows are provably no-ops
            elig = elig.persist()
            cand = elig
            selected = elig
            defer_salt = elig.filter(F.lit(False))
            defer_host = defer_salt
        else:
            salt_n = int(sp.conf.get("spark.sql.shuffle.partitions"))
            w_salt = Window.partitionBy(
                "chost", F.pmod(F.col("url_hash"), F.lit(salt_n))
            ).orderBy(*[F.col(c).asc() for c in ORDER])
            elig = elig.withColumn("salt_rn", F.row_number().over(w_salt)).persist()

            # salt losers can never be in the exact host top-k (each salt keeps
            # its own top-budget) — they defer without the host-level window
            defer_salt = elig.filter(F.col("salt_rn") > budget)
            cand = elig.filter(F.col("salt_rn") <= budget)
            w_host = Window.partitionBy("chost").orderBy(*[F.col(c).asc() for c in ORDER])
            cand = cand.withColumn("host_rn", F.row_number().over(w_host)).persist()
            defer_host = cand.filter(F.col("host_rn") > budget)
            selected = cand.filter(F.col("host_rn") <= budget)

        # 6. fetch PROBE: payload-free hit test. The fetch index (pages and
        #    recovery copies in one table) is joined WITHOUT its html column
        #    (parquet column pruning ⇒ no payload IO or shuffle here); the hit
        #    is confirmed on the canonical-url STRING, so an xxhash64
        #    collision can never fetch another page's html (reference dedups
        #    on the exact id string, src/storage/surrogate_key.rs:24-34).
        #    SHUFFLE_HASH hint: Catalyst's size estimate would otherwise pick
        #    broadcast for the (compressed-parquet-small) index — wrong at
        #    10^10 pages; partitioned hash join on url_hash is the plan a
        #    bucketed Iceberg index makes shuffle-free on the index side.
        probe = self.fetch_idx.select(
            F.col("url_hash").alias("p_hash"), "page_curl"
        ).hint("SHUFFLE_HASH")
        statused = (
            selected.join(probe, (F.col("url_hash") == F.col("p_hash"))
                          & (F.col("curl") == F.col("page_curl")), "left")
            .withColumn(
                "disposition",
                F.when(F.col("page_curl").isNotNull(), "fetched")
                .when(F.col("retries") < F.lit(s.max_retries), "retried")
                .otherwise("failed"),
            )
            .drop("p_hash", "page_curl")
        ).persist()

        # 6b + 8. fetch PAYLOAD → extraction, one pipelined pass: html bytes
        #    flow parquet scan → hash join → mapInPandas inside a single stage
        #    chain and are never cached or re-shuffled (the round's only
        #    payload traffic). The index already holds the recovery copies
        #    (build_pages_index), so this one join is the cache fallback of
        #    src/main.rs:182-203 too.
        fetched_keys = statused.filter(F.col("disposition") == "fetched").select(
            "curl", "url_hash", "provider"
        )
        pg = self.fetch_idx.select(
            F.col("url_hash").alias("p_hash"), "page_curl", "html"
        ).hint("SHUFFLE_HASH")
        feed = (
            fetched_keys.join(pg, (F.col("url_hash") == F.col("p_hash"))
                              & (F.col("curl") == F.col("page_curl")), "left")
            .drop("p_hash", "page_curl")
        )
        # one extraction task per shuffle partition (session.py sizes these at
        # 1-3x the cores). Every Python-worker task pays a fixed start-up
        # cost (~0.3 s on 4 cores), and a 3x finer split costs more in
        # start-ups than the straggler tail it cuts: measured on polite
        # rounds of a few thousand pages and on a 200k-page bulk round (4
        # cores, 2x-core partitions). The exchange also keeps the UDF off
        # the join stage (see the selector-spin note above)
        feed_x = feed.select(F.col("curl").alias("url"), "html", "provider").repartition(
            int(sp.conf.get("spark.sql.shuffle.partitions"))
        )
        extracted = extract_pages(
            feed_x,
            self.fields,
            self.settings.abcd.landing_page_field,
            self.landing_base_url,
        ).persist()

        # ALL round counters in ONE action: non-selected dispositions union the
        # selected/fetch-statused ones AND the extraction kinds (each branch
        # reads a cached parent) — drop/eligibility/fetch/extraction counts
        # previously cost separate barriers
        rest_disp = (
            F.when(F.col("blocked"), "blocked")
            .when(F.col("is_seen"), "dup_seen")
            .otherwise("dup_batch")
        )
        rest = base.filter(
            F.col("blocked") | F.col("is_seen") | (F.col("dup_rn") > 1)
        ).select(rest_disp.alias("disposition"))
        deferred_disp = (
            defer_salt.select(F.lit("deferred").alias("disposition"))
            .unionByName(defer_host.select(F.lit("deferred").alias("disposition")))
        )
        ex_kinds = extracted.select(
            F.concat(F.lit("x_"), F.col("kind")).alias("disposition")
        )
        c1 = {
            r["disposition"]: r["count"]
            for r in statused.select("disposition")
            .unionByName(rest)
            .unionByName(deferred_disp)
            .unionByName(ex_kinds)
            .groupBy("disposition")
            .count()
            .collect()
        }
        n_fetched = c1.get("fetched", 0)
        n_retried = c1.get("retried", 0)
        n_failed = c1.get("failed", 0)
        n_blocked = c1.get("blocked", 0)
        n_dedup = c1.get("dup_seen", 0) + c1.get("dup_batch", 0)
        n_deferred = c1.get("deferred", 0)
        n_datasets = c1.get("x_dataset", 0)
        n_units = c1.get("x_unit", 0)

        # 5. crawl order seq + 7. dense surrogate keys — skew-robust global
        #    numbering (seen.rank_and_key); partitioning by host instead would
        #    put the skewed host's whole batch in one task. ``statused`` holds
        #    one row per selected curl, so the counters give its exact row
        #    count and rank_and_key picks its path without a counting job.
        #    Persisted: its four consumers (crawl_log, seen, both key_map
        #    joins) and the filter-update cogroup run as concurrent commit
        #    writes and fill the cache lazily. That computes ranked once: the
        #    writers share its shuffle stages, and a cached partition's block
        #    lock lets one task compute it while the others wait and read it.
        ranked = rank_and_key(
            statused.select("curl", "url_hash", "chost", "priority", "warc_ts", "url",
                            (F.col("disposition") == "fetched").alias("is_fetched")),
            ["chost", "priority", "warc_ts", "curl"],
            fetched_col="is_fetched",
            key_offset=next_key - 1,
            keep=_pins,
            n_rows=n_fetched + n_retried + n_failed,
        ).persist()
        _pins.append(ranked)

        crawl_log = ranked.select(
            F.lit(round_).alias("round"),
            "seq",
            F.col("curl").alias("url"),
            F.col("chost").alias("host"),
            F.col("is_fetched").alias("fetched"),
        )

        new_seen = ranked.filter(F.col("is_fetched")).select(
            F.col("curl").alias("url"), "url_hash", "surrogate_key",
            F.lit(round_).alias("first_round"),
        )

        datasets, units = split_dataset_units(extracted, self.fields)
        key_map = new_seen.select("url", "surrogate_key")
        datasets = datasets.join(key_map, "url", "left")
        units = units.join(key_map, "url", "left")

        # the 1-row metrics record is pure driver data — written with pyarrow
        # directly (no Spark job), schema matching schemas.METRICS
        import pyarrow as pa

        metrics_tbl = pa.table(
            {
                "round": pa.array([round_], pa.int32()),
                "fetched": pa.array([n_fetched], pa.int64()),
                "deduped": pa.array([n_dedup], pa.int64()),
                "robots_blocked": pa.array([n_blocked], pa.int64()),
                "retried": pa.array([n_retried], pa.int64()),
                "failed": pa.array([n_failed], pa.int64()),
                "new_urls": pa.array([n_fetched], pa.int64()),
                "datasets": pa.array([n_datasets], pa.int64()),
                "units": pa.array([n_units], pa.int64()),
            }
        )

        # per-partition lineage of the fetch stage (north_rule counters+lineage)
        lineage = (
            statused.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .select(
                F.lit(round_).alias("round"),
                F.lit("fetch").alias("stage"),
                "partition_id",
                F.col("count").alias("rows"),
            )
        )

        # 9. next frontier state (keeps canonical columns — no re-enrichment)
        deferred = defer_salt.select(*ENRICHED_COLS).unionByName(
            defer_host.select(*ENRICHED_COLS)
        )
        retried_rows = (
            statused.filter(F.col("disposition") == "retried")
            .withColumn("retries", F.col("retries") + 1)
            .select(*ENRICHED_COLS)
        )
        new_frontier = deferred.unionByName(retried_rows)
        new_seen_all = seen.unionByName(new_seen)

        # update the prefilter with this round's new hashes — EXECUTOR-side
        # per-bucket cogroup (seen.distributed_bloom_update / _cuckoo_update);
        # the driver never collects url hashes. The cogroup job runs inside
        # the commit's parallel write wave.
        tname = self._filter_table
        prev_bloom_df = self.wh.read_state(sp, tname) if self.wh.has_table(tname) else None
        bloom_df = self._filter_update(new_seen.select("url_hash"), prev_bloom_df)

        # sort-on-write (S21, the reference's post-load CLUSTER analog,
        # src/storage/database_sink.rs:408-489): committed dataset/unit files
        # are ordered by surrogate_key; footer stats land in the manifest
        self.wh.commit_round(
            round_,
            snapshots={"frontier": new_frontier, "seen": new_seen_all, tname: bloom_df},
            appends={
                "crawl_log": crawl_log,
                "lineage": lineage,
                "datasets": datasets.sortWithinPartitions("surrogate_key"),
                "units": units.sortWithinPartitions("surrogate_key"),
            },
            local_appends={"metrics": metrics_tbl},
            stats_cols={"datasets": ["surrogate_key"], "units": ["surrogate_key"]},
        )

        for df in (base, elig, cand, statused, extracted, *_pins):
            df.unpersist()
        # next round's bloom probe: rebuild from the committed bitmap table —
        # correct on both the normal and the idempotent-re-commit path. In
        # routed mode this is just the table handle (never collected).
        bloom = self._bloom_from_warehouse()

        # re-read committed state so the next round's plan starts from files,
        # not from an ever-growing lineage
        frontier2 = self.wh.read_state(sp, "frontier", schemas.FRONTIER)
        seen2 = self.wh.read_state(sp, "seen", schemas.SEEN)

        rr = RoundResult(
            round=round_,
            fetched=n_fetched,
            deduped=n_dedup,
            robots_blocked=n_blocked,
            retried=n_retried,
            failed=n_failed,
            new_urls=n_fetched,
            datasets=n_datasets,
            units=n_units,
            frontier_left=n_deferred + n_retried,
        )
        return rr, frontier2, seen2, bloom, next_key + n_fetched
