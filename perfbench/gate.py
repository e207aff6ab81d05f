"""Correctness gate: every run's crawl is checked against an expectation
computed without Spark.

* ``polite_problems``: crawl order, seen set with dense surrogate keys and
  per-round counters against ``tests/oracle_sim.simulate`` (the pure-Python
  reference of the round semantics), read back from the warehouse.
* ``bulk_expectation`` / ``recrawl_state_problems``: counters and
  dataset/unit counts from synth's per-id rules, and a seen table whose keys
  are unique, dense for the last round and untouched for kept urls.

Each returns a list of problems; an empty list means the gate passed.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from pathlib import Path

from crawlspark import synth
from crawlspark.canonical import canonicalize_py, xxhash64_py

from inputs import Shape, frontier_rows, has_cache_copy, robots_rows

COUNTERS = ("fetched", "deduped", "robots_blocked", "retried", "failed", "new_urls")


def page_id(curl: str) -> int:
    return int(curl.rsplit("/", 1)[1])


def extracted(i: int) -> tuple[int, int]:
    """(datasets, units) extraction yields for page i (garbage members drop)."""
    ds = units = 0
    for m in range(synth.n_members(i)):
        if not synth.member_is_garbage(i, m):
            ds += 1
            units += synth.n_units(i, m)
    return ds, units


def evict_slice(curls, seed: int) -> list[str]:
    """The seeded ~10% slice of a seen set that a run evicts."""
    return sorted(u for u in curls if xxhash64_py(u) % 10 == seed % 10)


def _first_diff(got: list, want: list) -> str:
    for k, (a, b) in enumerate(zip(got, want)):
        if a != b:
            return f"first difference at {k}: got {a}, want {b}"
    return f"lengths differ: got {len(got)}, want {len(want)}"


def read_table(wh, name: str, latest: bool):
    """A committed warehouse table, read with pyarrow rather than Spark: the
    latest snapshot of a state table, or every round of an append table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rounds = sorted(wh.manifest()["tables"][name]["rounds"])
    if latest:
        rounds = rounds[-1:]
    return pa.concat_tables([pq.read_table(wh._round_dir(name, r)) for r in rounds])


def read_crawl(wh):
    log = sorted(
        (r["round"], r["seq"], r["url"]) for r in read_table(wh, "crawl_log", False).to_pylist()
    )
    seen = {r["url"]: r["surrogate_key"] for r in read_table(wh, "seen", True).to_pylist()}
    metrics = {r["round"]: r for r in read_table(wh, "metrics", False).to_pylist()}
    return log, seen, metrics


# -- polite_rounds: the oracle ----------------------------------------------

def oracle(ids: range, shape: Shape, settings, rounds: int):
    tests = Path(__file__).resolve().parents[1] / "tests"
    if str(tests) not in sys.path:
        sys.path.insert(0, str(tests))
    from oracle_sim import simulate

    page_urls = {synth.page_url(i, shape.n_hosts) for i in ids if not synth.is_unknown(i)}
    cache_urls = {synth.unknown_url(i, shape.n_hosts) for i in ids if has_cache_copy(i)}
    return simulate(
        frontier_rows(ids, shape.n_hosts),
        page_urls,
        {r["host"]: r for r in robots_rows(shape)},
        cache_urls,
        default_budget=settings.crawl.default_host_budget,
        max_retries=settings.crawl.max_retries,
        max_rounds=rounds,
    )


def polite_problems(wh, ids: range, shape: Shape, settings, results) -> list[str]:
    """The committed crawl against the oracle, round by round."""
    sim = oracle(ids, shape, settings, len(results))
    log, seen, metrics = read_crawl(wh)
    problems = []
    if log != sim.crawl_order:
        problems.append("crawl_log differs from the oracle: " + _first_diff(log, sim.crawl_order))
    if seen != sim.seen:
        extra = sorted(set(seen) - set(sim.seen))[:3]
        missing = sorted(set(sim.seen) - set(seen))[:3]
        wrong = sorted(u for u in set(seen) & set(sim.seen) if seen[u] != sim.seen[u])[:3]
        problems.append(f"seen set differs: extra {extra}, missing {missing}, wrong keys {wrong}")
    fetched_by_round: dict[int, list[int]] = {}
    for rnd, _, curl in sim.crawl_order:
        if curl in sim.seen:
            fetched_by_round.setdefault(rnd, []).append(page_id(curl))
    for want, rr in zip(sim.metrics, results):
        rnd = want["round"]
        got = metrics.get(rnd)
        if got is None:
            problems.append(f"round {rnd}: no metrics row")
            continue
        for k in COUNTERS:
            if got[k] != want[k] or getattr(rr, k) != want[k]:
                problems.append(f"round {rnd} {k}: table {got[k]}, result {getattr(rr, k)}, oracle {want[k]}")
        ds = units = 0
        for i in fetched_by_round.get(rnd, []):
            d, u = extracted(i)
            ds, units = ds + d, units + u
        if (got["datasets"], got["units"]) != (ds, units):
            problems.append(f"round {rnd} datasets/units: {got['datasets']}/{got['units']}, want {ds}/{units}")
    return problems


# -- recrawl_seen: synth's per-id rules ---------------------------------------

@dataclass
class Expect:
    fetched: int = 0
    deduped: int = 0
    robots_blocked: int = 0
    retried: int = 0
    failed: int = 0
    datasets: int = 0
    units: int = 0
    fetched_urls: set = field(default_factory=set)


def bulk_expectation(ids: range, shape: Shape, refetch: set | None = None) -> Expect:
    """One bulk round (every eligible url selected, no retries).

    ``refetch=None``: empty seen set. Otherwise every fetchable url is seen
    except ``refetch``, the evicted ones.
    """
    disallow = {r["host"]: r["disallow_prefixes"] for r in robots_rows(shape)}
    e = Expect()
    for i in ids:
        h = f"host{synth.host_of(i, shape.n_hosts)}.example.org"
        if synth.is_unknown(i):
            curl, rows = canonicalize_py(synth.unknown_url(i, shape.n_hosts)), 1
            if not has_cache_copy(i):
                e.failed += 1
                continue
        else:
            curl = canonicalize_py(synth.page_url(i, shape.n_hosts))
            rows = 1 + (synth.variant_url(i, shape.n_hosts) is not None)
            if any(f"/p/{i}".startswith(p) for p in disallow.get(h, [])):
                e.robots_blocked += rows
                continue
        if refetch is None or curl in refetch:
            d, u = extracted(i)
            e.fetched += 1
            e.deduped += rows - 1
            e.datasets += d
            e.units += u
            e.fetched_urls.add(curl)
        else:
            e.deduped += rows
    return e


def round_problems(tag: str, rr, want: Expect) -> list[str]:
    return [
        f"{tag} {k}: got {getattr(rr, k)}, want {getattr(want, k)}"
        for k in ("fetched", "deduped", "robots_blocked", "retried", "failed", "datasets", "units")
        if getattr(rr, k) != getattr(want, k)
    ]


def recrawl_state_problems(wh, seeded: Expect, evicted: list[str], cycles: int) -> list[str]:
    """Seen keys and output tables after the seeding crawl plus ``cycles``
    evict + re-crawl cycles of the same slice."""
    problems = []
    seen = {r["url"]: r["surrogate_key"] for r in read_table(wh, "seen", True).to_pylist()}
    if set(seen) != seeded.fetched_urls:
        problems.append(f"seen urls: {len(seen)}, want {len(seeded.fetched_urls)}")
    if len(set(seen.values())) != len(seen):
        problems.append("seen surrogate keys are not unique")
    f, n_ev = seeded.fetched, len(evicted)
    ev_keys = sorted(seen.get(u, -1) for u in evicted)
    want = list(range(f + (cycles - 1) * n_ev + 1, f + cycles * n_ev + 1))
    if ev_keys != want:
        problems.append("re-crawled keys are not dense after the seen max: " + _first_diff(ev_keys, want))
    ev = set(evicted)
    kept = [k for u, k in seen.items() if u not in ev]
    if kept and (min(kept) < 1 or max(kept) > f):
        problems.append(f"kept keys left 1..{f}: {min(kept)}..{max(kept)}")
    for table, idx, seeded_rows in (("datasets", 0, seeded.datasets), ("units", 1, seeded.units)):
        want_rows = seeded_rows + cycles * sum(extracted(page_id(u))[idx] for u in evicted)
        got = read_table(wh, table, False).num_rows
        if got != want_rows:
            problems.append(f"{table} rows: {got}, want {want_rows}")
    return problems
