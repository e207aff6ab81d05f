"""Seeded load generator for the crawl benchmark.

Inputs come from ``crawlspark.synth``'s pure per-id functions. The seed only
picks where the id range starts, so every seed keeps synth's shapes: host 0
owns every 5th id (~20% of urls), ~5% of ids carry a canonicalization variant,
~2% are unknown urls and half of those have a recovery copy in the cache.

Every id range starts at 9e7, so every page path is ``/p/9...`` and the pages
of hosts ``h % 10 == 3`` are always robots-blocked: the blocked share is the
same for every seed.

Inputs are written once per (workload, seed) as parquet under the work
directory and read back by every later run with that seed.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path

from crawlspark import synth

ID_BASE = 90_000_000
SEED_STRIDE = 10_000
SEED_SLOTS = 900  # keeps every id below 1e8, so every path starts with /p/9


@dataclass(frozen=True)
class Shape:
    """Size of one workload's input."""

    n_pages: int
    n_hosts: int
    # hosts with h % robots_every == 1 get no robots row, so the crawl's
    # default_host_budget applies to them (0 = every host has a row)
    robots_every: int = 0


def id_range(seed: int, n_pages: int) -> range:
    start = ID_BASE + (seed % SEED_SLOTS) * SEED_STRIDE
    return range(start, start + n_pages)


def frontier_rows(ids: range, n_hosts: int) -> list[dict]:
    """synth.frontier_rows over an arbitrary id range."""
    rows = []
    for i in ids:
        h = synth.host_of(i, n_hosts)
        base = {
            "host": f"host{h}.example.org",
            "warc_ts": synth.warc_ts(i),
            "provider": f"provider_{h % 7}",
            "discovered_round": 0,
            "retries": 0,
        }
        if synth.is_unknown(i):
            rows.append({"url": synth.unknown_url(i, n_hosts), "priority": i % 4, **base})
            continue
        rows.append({"url": synth.page_url(i, n_hosts), "priority": i % 4, **base})
        v = synth.variant_url(i, n_hosts)
        if v is not None:
            rows.append({"url": v, "priority": (i + 1) % 4, **base})
    return rows


def has_cache_copy(i: int) -> bool:
    return synth.is_unknown(i) and i % 100 == 21


def robots_rows(shape: Shape) -> list[dict]:
    rows = synth.robots_rows(shape.n_hosts)
    if shape.robots_every:
        rows = [r for i, r in enumerate(rows) if i % shape.robots_every != 1]
    return rows


def _write(path: Path, rows: list[dict], schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {f.name: [r[f.name] for r in rows] for f in schema.fields}
    pq.write_table(pa.table(cols), path)


def ensure(root: Path, name: str, seed: int, shape: Shape) -> Path:
    """Write the (workload, seed) inputs once; return their directory."""
    from crawlspark import schemas

    out = root / f"{name}-n{shape.n_pages}-s{seed}"
    if (out / "_DONE").exists():
        return out
    tmp = root / f".{out.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    ids = id_range(seed, shape.n_pages)
    pages = [synth.page_row(i, shape.n_hosts) for i in ids if not synth.is_unknown(i)]
    _write(tmp / "pages.parquet", pages, schemas.PAGES)
    cache = []
    for i in ids:
        if has_cache_copy(i):
            r = synth.page_row(i, shape.n_hosts)
            r["url"] = synth.unknown_url(i, shape.n_hosts)
            cache.append(r)
    _write(tmp / "cache.parquet", cache, schemas.PAGES)
    _write(tmp / "frontier.parquet", frontier_rows(ids, shape.n_hosts), schemas.FRONTIER)
    _write(tmp / "robots.parquet", robots_rows(shape), schemas.ROBOTS)
    (tmp / "_DONE").touch()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
