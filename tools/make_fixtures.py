#!/usr/bin/env python
"""Generate the oracle fixture parquet for the one battery query SQL cannot
express (``extraction_units``; the correctness gate runs at sf=0.01).

The fixture is computed by an INDEPENDENT pure-Python mirror (no Spark, no
crawlspark expression code): unit rows derived from the synth TEMPLATE
values (synth.unit_values), not from running the parser — the same oracle
strategy as tests/oracle_sim.py for the crawl and the reference's golden
fixtures (abcd_parser.rs:232-298).

Run from the repo root:  python tools/make_fixtures.py
Output lands in tests/fixtures/oracle_sf001/extraction_units.parquet
(committed).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from crawlspark import synth  # noqa: E402

OUT = REPO / "tests" / "fixtures" / "oracle_sf001"


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


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    tbl = extraction_units_fixture()
    pq.write_table(tbl, OUT / "extraction_units.parquet")
    print(f"extraction_units: {tbl.num_rows} rows")


if __name__ == "__main__":
    main()
