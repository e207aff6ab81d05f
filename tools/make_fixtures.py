#!/usr/bin/env python
"""Generate oracle fixture parquets for the non-SQL-expressible battery
queries (driver CORRECTNESS gate runs at sf=0.01).

Each fixture is computed by an INDEPENDENT pure-Python mirror (no Spark, no
crawlspark expression code) of the documented algorithm — the same oracle
strategy as tests/oracle_sim.py for the crawl and the reference's golden
fixtures (/root/reference/src/abcd/abcd_parser.rs:232-298):

* extraction_units  — unit rows derived from the synth TEMPLATE values
  (synth.unit_values), not from running the parser.
* fingerprint_winnow — pure-Python xxhash64 (canonical.xxhash64_py) of word
  3-grams + winnowing (window-4 minima).

Run from the repo root:  python tools/make_fixtures.py
Outputs land in tests/fixtures/oracle_sf001/*.parquet (committed).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from crawlspark.canonical import xxhash64_py  # noqa: E402
from crawlspark import synth  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = REPO / "tests" / "fixtures" / "oracle_sf001"


def load_documents() -> list[tuple[int, str]]:
    t = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    return list(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))


# ---------------------------------------------------------------------------
# extraction_units (S8+S9) — from the synth template, not the parser
# ---------------------------------------------------------------------------

def extraction_units_fixture() -> pa.Table:
    urls, mis, uis, uids, lons = [], [], [], [], []
    n_hosts = 5
    for i in range(40):
        url = synth.page_url(i, n_hosts)
        for m in range(synth.n_members(i)):
            if synth.member_is_garbage(i, m):
                continue
            for j in range(synth.n_units(i, m)):
                v = synth.unit_values(i, m, j)
                urls.append(url)
                mis.append(m)
                uis.append(j)
                uids.append(v["unit_id"])
                lons.append(None if v["lon"] == "N/A" else float(v["lon"]))
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "member_index": pa.array(mis, pa.int32()),
            "unit_index": pa.array(uis, pa.int32()),
            "unit_id": pa.array(uids, pa.string()),
            "lon": pa.array(lons, pa.float64()),
        }
    )


# ---------------------------------------------------------------------------
# fingerprint_winnow
# ---------------------------------------------------------------------------

def shingle_list(text: str, n: int = 3) -> list[str]:
    """Positional (non-deduplicated) word n-grams."""
    words = text.split(" ")
    k = len(words) - (n - 1)
    return [" ".join(words[i : i + n]) for i in range(k)] if k >= 1 else [" ".join(words)]


def winnow_fixture(docs) -> pa.Table:
    """Mirror of textops.winnow_fingerprints (Schleimer et al. 2003):
    xxhash64 over positional 3-gram shingles, window-4 minima, distinct."""
    n, w = 3, 4
    ids, fps = [], []
    for doc_id, text in docs:
        hs = [xxhash64_py(s) for s in shingle_list(text, n)]
        nwin = max(len(hs) - (w - 1), 1)
        seen = set()
        for i in range(nwin):
            m = min(hs[i : i + w])
            if m not in seen:
                seen.add(m)
                ids.append(doc_id)
                fps.append(m)
    return pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "fp": pa.array(fps, pa.int64())}
    )


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    docs = load_documents()
    tables = {
        "extraction_units": extraction_units_fixture(),
        "fingerprint_winnow": winnow_fixture(docs),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, OUT / f"{name}.parquet")
        print(f"{name}: {tbl.num_rows} rows")


if __name__ == "__main__":
    main()
