"""The benchmark's workloads.

A workload is built once per run: ``setup`` (input read + ``Crawler``
construction, the program's set-up cost), then ``prepare`` (untimed), then
timed ``iteration`` calls, then ``finish`` (correctness gate, and for
polite_rounds the eviction sample). Every timed iteration returns the round
it measured.

Each run is a fresh Spark JVM, so the set-up and the first round a run times
are cold: that is what starting a crawl job costs, and it keeps every run
alike. A second, warm set-up would add 3-6 s to every run.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from crawlspark import schemas, synth
from crawlspark.scheduler import Crawler
from crawlspark.settings import Settings
from crawlspark.warehouse import Warehouse

import gate
import inputs
from spans import dir_bytes


@dataclass
class Timed:
    round_s: float
    urls: int            # fetched + deduped in the round
    evict_s: float | None
    problems: list[str]
    result: object       # the RoundResult


class Workload:
    name = ""
    shape: inputs.Shape
    overrides: dict = {}
    fixed_input = False  # True: the crawl input is the same for every seed

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.seed = seed
        self.settings = Settings.new(overrides=self.overrides)
        input_seed = 0 if self.fixed_input else seed
        self.ids = inputs.id_range(input_seed, self.shape.n_pages)
        self.input_dir = inputs.ensure(work / "inputs", self.name, input_seed, self.shape)
        self.runs = work / "runs"
        self.prepared = work / "prepared" / self.name
        self.crawler: Crawler | None = None
        self.wh: Warehouse | None = None

    def exhausted(self) -> bool:
        """Whether no further iteration has work left."""
        return False

    def read(self, name: str):
        return self.spark.read.parquet(str(self.input_dir / f"{name}.parquet"))

    @classmethod
    def needs_preparing(cls, work: Path) -> bool:
        """Whether the shared starting state of ``build_prepared`` is missing."""
        return False

    def setup(self) -> None:
        """Input read + Crawler construction into a fresh warehouse."""
        self._construct(self.runs / "wh")

    def _construct(self, path: Path) -> None:
        self.wh = Warehouse(path)
        self.crawler = Crawler(
            self.spark, self.settings, self.wh, synth.golden_fields(),
            self.read("pages"), self.read("robots"), self.read("frontier"), self.read("cache"),
        )

    def state_bytes(self) -> int:
        return dir_bytes(self.wh.path)

    def filter_bytes(self) -> int:
        """Size of the seen-set prefilter's latest snapshot."""
        rounds = sorted((self.wh.path / self.settings.crawl.seen_filter).glob("r*"))
        return dir_bytes(rounds[-1]) if rounds else 0

    def evict_frame(self, curls: list[str]):
        return self.spark.createDataFrame([(u,) for u in curls], "url string")


class PoliteRounds(Workload):
    """~400 hosts under robots budgets of 4-8 and a default budget for the
    hosts without a robots row; round 0 selects ~1.8k urls."""

    name = "polite_rounds"
    shape = inputs.Shape(n_pages=6_000, n_hosts=400, robots_every=4)
    overrides = {"crawl": {"default_host_budget": 6, "max_retries": 1, "seen_buckets": 8}}

    def prepare(self) -> list[str]:
        # the state run() starts its round loop from
        self.frontier, self.seen, self.bloom, self.next_key, self.round = self.crawler._load_state()
        self.results = []
        return []

    def exhausted(self) -> bool:
        return bool(self.results) and self.results[-1].frontier_left == 0

    def iteration(self) -> Timed:
        t = time.perf_counter()
        rr, self.frontier, self.seen, self.bloom, self.next_key = self.crawler.run_round(
            self.round, self.frontier, self.seen, self.bloom, self.next_key
        )
        dt = time.perf_counter() - t
        self.round += 1
        self.results.append(rr)
        return Timed(dt, rr.fetched + rr.deduped, None, [], rr)

    def finish(self) -> tuple[list[str], list[float]]:
        problems = gate.polite_problems(self.wh, self.ids, self.shape, self.settings, self.results)
        seen = gate.read_table(self.wh, "seen", True).column("url").to_pylist()
        victims = gate.evict_slice(seen, self.seed)
        ev = self.evict_frame(victims)
        t = time.perf_counter()
        n = self.crawler.evict(ev, requeue=False)
        evict_s = time.perf_counter() - t
        if n != len(victims):
            problems.append(f"evict removed {n} rows, want {len(victims)}")
        return problems, [evict_s]


def _link_parquet(src: str, dst: str) -> None:
    # committed parquet files are never rewritten, so a restore may share them
    if src.endswith(".parquet"):
        os.link(src, dst)
    else:
        shutil.copy2(src, dst)


class RecrawlSeen(Workload):
    """Starts from a warehouse holding one completed bulk crawl. Each timed
    iteration evicts the seed's ~10% slice of the seen set and re-offers the
    whole seed frontier, so ~90% of rows resolve dup_seen.

    The completed crawl is the same for every seed (the seed picks the
    slice), so it is built once, by a separate process, and every run's
    set-up restores it by copy: set-up is the resume path here."""

    name = "recrawl_seen"
    shape = inputs.Shape(n_pages=10_000, n_hosts=100)
    overrides = {"crawl": {
        "budget_override": 10**9, "max_retries": 0, "seen_buckets": 8,
        "seen_filter": "cuckoo", "bloom_probe": "routed",
    }}
    fixed_input = True

    @classmethod
    def needs_preparing(cls, work: Path) -> bool:
        return not (work / "prepared" / cls.name / "_DONE").exists()

    def build_prepared(self) -> None:
        """Run the seeding crawl once and keep its warehouse."""
        shutil.rmtree(self.prepared, ignore_errors=True)
        self._construct(self.prepared / "wh")
        rr = self.crawler.run()[0]
        problems = gate.round_problems("seeding round", rr, gate.bulk_expectation(self.ids, self.shape))
        if problems:
            raise RuntimeError("; ".join(problems))
        (self.prepared / "_DONE").touch()

    def setup(self) -> None:
        dst = self.runs / "wh"
        shutil.copytree(self.prepared / "wh", dst, copy_function=_link_parquet)
        self._construct(dst)

    def prepare(self) -> list[str]:
        self.seeded = gate.bulk_expectation(self.ids, self.shape)
        self.victims = gate.evict_slice(self.seeded.fetched_urls, self.seed)
        self.recrawl = gate.bulk_expectation(self.ids, self.shape, set(self.victims))
        self.evict_df = self.evict_frame(self.victims)
        self.seed_frontier = self.read("frontier")
        self.cycles = 0
        return []

    def iteration(self) -> Timed:
        sp, wh = self.spark, self.wh
        t = time.perf_counter()
        n = self.crawler.evict(self.evict_df, requeue=False)
        evict_s = time.perf_counter() - t
        problems = [] if n == len(self.victims) else [f"evict removed {n} rows, want {len(self.victims)}"]
        next_key = self.seeded.fetched + self.cycles * len(self.victims) + 1
        round_ = wh.last_round() + 1
        seen = wh.read_state(sp, "seen", schemas.SEEN)
        cuckoo = wh.read_state(sp, "cuckoo")
        t = time.perf_counter()
        rr = self.crawler.run_round(round_, self.seed_frontier, seen, cuckoo, next_key)[0]
        dt = time.perf_counter() - t
        self.cycles += 1
        problems += gate.round_problems(f"re-crawl round {round_}", rr, self.recrawl)
        return Timed(dt, rr.fetched + rr.deduped, evict_s, problems, rr)

    def finish(self) -> tuple[list[str], list[float]]:
        return gate.recrawl_state_problems(self.wh, self.seeded, self.victims, self.cycles), []


WORKLOADS = {w.name: w for w in (PoliteRounds, RecrawlSeen)}
