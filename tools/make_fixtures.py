#!/usr/bin/env python
"""Generate oracle fixture parquets for the non-SQL-expressible battery
queries (driver CORRECTNESS gate runs at sf=0.01).

Each fixture is computed by an INDEPENDENT pure-Python mirror (no Spark, no
crawlspark expression code) of the documented algorithm — the same oracle
strategy as tests/oracle_sim.py for the crawl and the reference's golden
fixtures (/root/reference/src/abcd/abcd_parser.rs:232-298):

* extraction_units  — unit rows derived from the synth TEMPLATE values
  (synth.unit_values), not from running the parser.
* dedup_minhash     — pure-Python xxhash64 (canonical.xxhash64_py) MinHash
  signatures + banding + exact-Jaccard verify.
* dedup_simhash     — pure-Python SimHash votes + chunk pigeonhole + hamming.
* fingerprint_winnow — pure-Python xxhash64 of word 3-grams + winnowing
  (window-4 minima).
* pipeline_curate   — the composed curation chain mirrored end to end.

Integer ops mirror Spark's non-ANSI Java semantics: 64-bit wrap-around adds /
multiplies, arithmetic shifts.

Run from the repo root:  python tools/make_fixtures.py
Outputs land in tests/fixtures/oracle_sf001/*.parquet (committed).
"""

from __future__ import annotations

import sys
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from crawlspark.canonical import xxhash64_py  # noqa: E402
from crawlspark import synth  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
OUT = REPO / "tests" / "fixtures" / "oracle_sf001"

_M64 = 1 << 64


def i64(x: int) -> int:
    """Wrap to signed 64-bit (Java long overflow semantics)."""
    x &= _M64 - 1
    return x - _M64 if x >= (1 << 63) else x


def round6(x: float) -> float:
    """Spark F.round — HALF_UP decimal rounding (python round is banker's)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


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
# minhash
# ---------------------------------------------------------------------------

def shingle_set(text: str, n: int = 3) -> list[str]:
    words = text.split(" ")
    k = len(words) - (n - 1)
    sh = [" ".join(words[i : i + n]) for i in range(k)] if k >= 1 else [" ".join(words)]
    seen, out = set(), []
    for s in sh:
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def minhash_sig(text: str, num: int = 16) -> list[int]:
    # mirrors textops.minhash_signature: both base hashes logically
    # right-shifted into [0, 2^(64-shift)) so h1 + j*h2 < 2^63 for every
    # j < num — plain non-wrapping integer arithmetic, ANSI-session-safe
    shift = (num - 1).bit_length() + 1
    mins = [0x7FFFFFFFFFFFFFFF] * num
    for s in shingle_set(text):
        h1 = (xxhash64_py(s) & (_M64 - 1)) >> shift
        h2 = (xxhash64_py("mh2|" + s) & (_M64 - 1)) >> shift
        for j in range(num):
            v = h1 + j * h2
            if v < mins[j]:
                mins[j] = v
    return mins


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


def docs_with_dups(docs, mod=25, offset=1000000):
    return docs + [(d + offset, t) for d, t in docs if d % mod == 0]


def minhash_pairs_py(d: list[tuple[int, str]], thr: float) -> list[tuple[int, int, float]]:
    """Verified MinHash-LSH pair mirror over an arbitrary corpus (per-doc
    signatures + banding + exact-Jaccard verify — no rep collapse, which is
    provably equivalent: signatures depend only on text)."""
    num, bands, rpb = 16, 4, 4
    buckets: dict[tuple[int, int], list[int]] = {}
    texts = dict(d)
    for doc_id, text in d:
        sig = minhash_sig(text, num)
        for b in range(bands):
            key = xxhash64_py(",".join(str(sig[b * rpb + r]) for r in range(rpb)))
            buckets.setdefault((b, key), []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.add((ids[x], ids[y]))
    rows = []
    for a, b in sorted(pairs):
        sa, sb = set(shingle_set(texts[a])), set(shingle_set(texts[b]))
        jac = len(sa & sb) / len(sa | sb)
        if jac >= thr:
            rows.append((a, b, round6(jac)))
    return rows


def minhash_fixture(docs) -> pa.Table:
    rows = minhash_pairs_py(docs_with_dups(docs), 0.8)
    return pa.table(
        {
            "a": pa.array([r[0] for r in rows], pa.int64()),
            "b": pa.array([r[1] for r in rows], pa.int64()),
            "jaccard": pa.array([r[2] for r in rows], pa.float64()),
        }
    )


# ---------------------------------------------------------------------------
# pipeline_curate — the composed LLM-curation chain, mirrored end-to-end
# ---------------------------------------------------------------------------

def gopher_keep_py(text: str) -> bool:
    """Mirror of textops.gopher_quality_rules' keep conjunction (same
    length/replace stopword-count semantics as the SQL oracle)."""
    import re

    words = text.split(" ")
    nw = len(words)
    mwl = len(text) / nw
    aw = sum(1 for w in words if re.search("[a-zA-Z]", w))
    p = " " + text + " "
    sh = sum(
        (len(p) - len(p.replace(f" {w} ", ""))) // (len(w) + 2)
        for w in ["the", "and", "of", "to", "in"]
    )
    return 20 <= nw <= 100_000 and 3.0 <= mwl <= 10.0 and aw / nw >= 0.8 and sh >= 2


def pipeline_curate_fixture(docs) -> pa.Table:
    """The full curation chain: gopher gates → minhash near-dup pairs →
    connected components (union-find) → keepers + unpaired survivors →
    token counts. Independent of every crawlspark expression."""
    d = docs_with_dups(docs)
    gated = [(i, t) for i, t in d if gopher_keep_py(t)]
    pairs = minhash_pairs_py(gated, 0.8)

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    paired = {x for a, b, _ in pairs for x in (a, b)}
    rows = [
        (i, len(t.split(" ")), -(-len(t) // 4))
        for i, t in gated
        if i not in paired or find(i) == i
    ]
    rows.sort()
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "ws_tokens": pa.array([r[1] for r in rows], pa.int64()),
            "bpe_est_tokens": pa.array([r[2] for r in rows], pa.int64()),
        }
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash64(text: str) -> int:
    votes = [0] * 64
    for tok in text.split(" "):
        th = xxhash64_py(tok)
        for i in range(64):
            votes[i] += 1 if (th >> i) & 1 else -1
    h = 0
    for i in range(64):
        if votes[i] > 0:
            h |= 1 << i
    return i64(h)


def simhash_fixture(docs) -> pa.Table:
    d = docs_with_dups(docs)
    hashes = {doc_id: simhash64(text) for doc_id, text in d}
    buckets: dict[tuple[int, int], list[int]] = {}
    for doc_id, h in hashes.items():
        for c in range(4):
            buckets.setdefault((c, (h >> (c * 16)) & 0xFFFF), []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                pairs.add((ids[x], ids[y]))
    rows = []
    for a, b in sorted(pairs):
        ham = bin((hashes[a] ^ hashes[b]) & (_M64 - 1)).count("1")
        if ham <= 3:
            rows.append((a, b, ham))
    return pa.table(
        {
            "a": pa.array([r[0] for r in rows], pa.int64()),
            "b": pa.array([r[1] for r in rows], pa.int64()),
            "hamming": pa.array([r[2] for r in rows], pa.int32()),
        }
    )


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    docs = load_documents()
    tables = {
        "extraction_units": extraction_units_fixture(),
        "dedup_minhash": minhash_fixture(docs),
        "dedup_simhash": simhash_fixture(docs),
        "fingerprint_winnow": winnow_fixture(docs),
        "pipeline_curate": pipeline_curate_fixture(docs),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, OUT / f"{name}.parquet")
        print(f"{name}: {tbl.num_rows} rows")


if __name__ == "__main__":
    main()
