"""Outside-in layer tracing for the crawl benchmark.

Spans are recorded around calls into each layer's public functions, from
these files only: the program is not edited. Spans live in memory and are
written out when the run ends.

Spark is lazy, so a span around a call that returns a DataFrame would measure
only plan building. In a traced iteration every wrapped call therefore
(1) materializes (persist + count) its DataFrame arguments before the span
starts, so the work that produced them stays with the caller, and
(2) materializes its result inside the span, so the layer's own work is
counted there. Inside ``Crawler.run_round``, every frame the round persists
itself is forced the same way and named after what it holds: the politeness
windows and the fetch probe have no function of their own.

A span's self time is its duration minus the time its children cover.
Counting done for the trace only runs inside ``trace.*`` spans, so it never
lands in a layer's self time.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _persisted_label(columns: list[str]) -> str:
    """Name of the scheduler step a frame persisted by run_round belongs to."""
    if "disposition" in columns:
        return "scheduler.fetch_probe"
    if "host_rn" in columns or "salt_rn" in columns or "is_seen" in columns:
        # with the windows bypassed (bulk budget) the persisted frame is the
        # plain eligibility filter, which is what politeness reduces to
        return "scheduler.politeness"
    return "scheduler.materialize"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.active = False
        self._forced: dict[int, int] = {}  # id(frame) -> row count
        self._owned: list = []              # frames the tracer persisted
        self._persist = None                # the unpatched DataFrame.persist

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, default=str))

    # -- forcing ---------------------------------------------------------
    def force(self, df) -> int:
        """persist + count a frame once; later calls return the cached count."""
        key = id(df)
        if key not in self._forced:
            self._persist(df)
            self._owned.append(df)
            self._forced[key] = df.count()
        return self._forced[key]

    def _maybe_force(self, v):
        from pyspark.sql import DataFrame

        if isinstance(v, DataFrame):
            self.force(v)
        return v

    def release(self) -> None:
        """Unpersist every frame the tracer persisted (end of an iteration)."""
        for df in self._owned:
            df.unpersist()
        self._owned.clear()
        self._forced.clear()

    # -- patching --------------------------------------------------------
    def install(self, spark) -> None:
        """Wrap the layer boundaries. Wrappers pass straight through while
        ``active`` is False, so untraced iterations run the plain program."""
        import crawlspark.scheduler as sch
        from crawlspark import seen as seen_mod
        from crawlspark.scheduler import Crawler
        from crawlspark.warehouse import Warehouse

        df_cls = type(spark.range(1))
        self._persist = df_cls.persist
        tr = self

        def plain(cls, attr, name):
            orig = getattr(cls, attr)

            def wrapper(*args, **kw):
                if not tr.active:
                    return orig(*args, **kw)
                with tr.span(name):
                    return orig(*args, **kw)

            setattr(cls, attr, wrapper)

        plain(Crawler, "__init__", "Crawler.__init__")
        plain(Crawler, "run_round", "Crawler.run_round")
        plain(Warehouse, "read_state", "warehouse.read_state")
        plain(Warehouse, "write_once", "warehouse.write_once")

        orig_evict = Crawler.evict

        def evict(crawler, urls, *a, **kw):
            if not tr.active:
                return orig_evict(crawler, urls, *a, **kw)
            tr.force(urls)
            with tr.span("Crawler.evict") as s:
                s["rows"] = orig_evict(crawler, urls, *a, **kw)
            return s["rows"]

        Crawler.evict = evict

        orig_commit = Warehouse.commit_round

        def commit_round(wh, round_, snapshots=None, appends=None, *a, **kw):
            if not tr.active:
                return orig_commit(wh, round_, snapshots, appends, *a, **kw)
            for frames in (snapshots or {}, appends or {}):
                for df in frames.values():
                    tr.force(df)
            before = dir_bytes(wh.path)
            with tr.span("warehouse.commit_round") as s:
                s["ok"] = orig_commit(wh, round_, snapshots, appends, *a, **kw)
            s["tables"] = len(snapshots or {}) + len(appends or {}) + len(kw.get("local_appends") or {})
            s["bytes"] = dir_bytes(wh.path) - before
            return s["ok"]

        Warehouse.commit_round = commit_round

        def forced(name, fn, span_name, on_result=None):
            def wrapper(*args, **kw):
                if not tr.active:
                    return fn(*args, **kw)
                args = [tr._maybe_force(a) for a in args]
                kw = {k: tr._maybe_force(v) for k, v in kw.items()}
                with tr.span(span_name) as s:
                    out = fn(*args, **kw)
                    if out is not (args[0] if args else None):
                        s["rows"] = tr.force(out)
                if on_result is not None:
                    with tr.span("trace.count"):
                        on_result(s, args, kw, out)
                return out

            setattr(sch, name, wrapper)

        def extract_kinds(s, args, kw, out):
            s["pages"] = tr._forced[id(args[0])]
            kinds = {r["kind"]: r["count"] for r in out.groupBy("kind").count().collect()}
            s["units"] = kinds.get("unit", 0)
            s["errors"] = kinds.get("error", 0)

        def probe_counts(s, args, kw, out):
            batch = args[0]
            bloom = args[2] if len(args) > 2 else kw.get("bloom")
            s["probe_rows"] = tr._forced[id(batch)]
            rows = out.select("url_hash", "is_seen").collect()
            hashes = [r["url_hash"] for r in rows]
            if bloom is None:
                maybe = [True] * len(rows)
            elif hasattr(bloom, "might_contain"):
                import numpy as np

                if getattr(bloom, "bitmaps", getattr(bloom, "tables", None)):
                    maybe = list(bloom.might_contain(np.array(hashes, dtype=np.int64)))
                else:  # empty filter: the probe passes everything
                    maybe = [True] * len(rows)
            else:
                routed = (
                    seen_mod.cuckoo_probe_routed
                    if "table" in bloom.columns
                    else seen_mod.bloom_probe_routed
                )
                probed = routed(
                    batch.select("url_hash").distinct(), bloom,
                    kw.get("bloom_buckets"), "url_hash",
                )
                got = {r["url_hash"]: r["maybe"] for r in probed.collect()}
                maybe = [got.get(h, True) for h in hashes]
            s["passed"] = int(sum(bool(m) for m in maybe))
            s["confirmed"] = sum(1 for r in rows if r["is_seen"])

        forced("enrich", sch.enrich, "canonical.enrich")
        forced("split_new_vs_seen", sch.split_new_vs_seen, "seen.split_new_vs_seen", probe_counts)
        forced("rank_and_key", sch.rank_and_key, "seen.rank_and_key")
        forced("extract_pages", sch.extract_pages, "extract.extract_pages", extract_kinds)
        forced("distributed_bloom_update", sch.distributed_bloom_update, "seen.filter_update")
        forced("distributed_cuckoo_update", sch.distributed_cuckoo_update, "seen.filter_update")

        def persist(df, *a, **kw):
            out = tr._persist(df, *a, **kw)
            if (
                tr.active
                and tr.stack
                and tr.stack[-1]["name"] == "Crawler.run_round"
                and id(df) not in tr._forced
            ):
                with tr.span(_persisted_label(df.columns)):
                    tr.force(df)
            return out

        df_cls.persist = persist

    # -- analysis --------------------------------------------------------
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    out.append(s)
                    todo.append(s["id"])
        return out

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the children's intervals."""
        iv = sorted((c["start"], c["end"]) for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered


def dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def read_event_log(log_dir: Path) -> dict:
    """Jobs, stages and tasks from the session's Spark event log."""
    jobs, stages, tasks = [], {}, []
    # Spark 4 writes a directory of rolling files plus dot-named checksums
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")):
        with open(f) as fh:
            for line in filter(str.strip, fh):
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"])
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
                    stages[key] = (si.get("Submission Time"), si["Number of Tasks"])
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    tasks.append((
                        (ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                        ti["Launch Time"], ti["Finish Time"],
                        sw.get("Shuffle Bytes Written", 0),
                    ))
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def spark_window(log: dict, start: float, end: float, cores: int) -> dict:
    """Spark counters of one wall-clock window (epoch seconds)."""
    lo, hi = start * 1000, end * 1000
    jobs = sum(1 for t in log["jobs"] if lo <= t <= hi)
    stage_keys = [k for k, (sub, _) in log["stages"].items() if sub is not None and lo <= sub <= hi]
    by_stage = defaultdict(list)
    shuffle = busy = 0.0
    for key, launch, finish, sw in log["tasks"]:
        if lo <= launch <= hi:
            by_stage[key].append(finish - launch)
            shuffle += sw
            busy += finish - launch
    skew = 1.0
    if by_stage:
        widest = max(by_stage, key=lambda k: (len(by_stage[k]), sum(by_stage[k])))
        med = statistics.median(by_stage[widest])
        skew = max(by_stage[widest]) / med if med > 0 else 1.0
    return {
        "jobs": jobs,
        "stages": len(stage_keys),
        "shuffle_write_mb": shuffle / 1e6,
        "task_skew": skew,
        "task_busy_ratio": busy / (cores * (hi - lo)) if hi > lo else 0.0,
    }


def iteration_metrics(tr: Tracer, it: dict, rr, log: dict, cores: int, filter_bytes: int) -> dict:
    """Per-layer metrics of one traced iteration: name -> (value, unit).
    ``rr`` is the RoundResult of the iteration's round."""
    d = tr.descendants(it)

    def named(name, within=d):
        return [s for s in within if s["name"] == name]

    def total(spans, key):
        return sum(s.get(key, 0) for s in spans)

    ext = named("extract.extract_pages")
    pages = total(ext, "pages")
    split = named("seen.split_new_vs_seen")
    probed, passed = total(split, "probe_rows"), total(split, "passed")
    rnd = named("Crawler.run_round")[0]
    commits = named("warehouse.commit_round", tr.descendants(rnd))
    rank = named("seen.rank_and_key")
    selected = rr.fetched + rr.retried + rr.failed
    deferred = rr.frontier_left - rr.retried
    sp = spark_window(log, rnd["start"], rnd["end"], cores)
    return {
        "extract.busy_s": (dur(ext), "s"),
        "extract.us_per_page": (dur(ext) * cores / pages * 1e6 if pages else 0.0, "us"),
        "extract.pages": (pages, "count"),
        "extract.units": (total(ext, "units"), "count"),
        "extract.errors": (total(ext, "errors"), "count"),
        "canonical.busy_s": (dur(named("canonical.enrich")), "s"),
        "canonical.rows": (total(named("canonical.enrich"), "rows"), "count"),
        "seen.probe_s": (dur(split), "s"),
        "seen.probe_rows": (probed, "count"),
        "seen.filter_pass_ratio": (passed / probed if probed else 0.0, "ratio"),
        "seen.confirm_ratio": (total(split, "confirmed") / passed if passed else 0.0, "ratio"),
        "seen.filter_update_s": (dur(named("seen.filter_update")), "s"),
        "seen.filter_mb": (filter_bytes / 1e6, "MB"),
        "seen.rank_s": (dur(rank), "s"),
        "seen.rank_rows": (total(rank, "rows"), "count"),
        "scheduler.politeness_s": (dur(named("scheduler.politeness")), "s"),
        "scheduler.selected": (selected, "count"),
        "scheduler.deferred_ratio": (deferred / (selected + deferred) if selected + deferred else 0.0, "ratio"),
        "scheduler.fetch_probe_s": (dur(named("scheduler.fetch_probe")), "s"),
        "scheduler.round_self_s": (tr.self_time(rnd), "s"),
        "scheduler.jobs_per_round": (sp["jobs"], "count"),
        "scheduler.stages_per_round": (sp["stages"], "count"),
        "scheduler.evict_rows": (total(named("Crawler.evict"), "rows"), "count"),
        "warehouse.commit_s": (dur(commits), "s"),
        "warehouse.commit_tables": (total(commits, "tables"), "count"),
        "warehouse.bytes_written_mb": (total(commits, "bytes") / 1e6, "MB"),
        "warehouse.read_state_s": (dur(named("warehouse.read_state")), "s"),
        "spark.shuffle_write_mb": (sp["shuffle_write_mb"], "MB"),
        "spark.task_skew": (sp["task_skew"], "ratio"),
        "spark.task_busy_ratio": (sp["task_busy_ratio"], "ratio"),
    }
