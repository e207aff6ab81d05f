#!/usr/bin/env python
"""Build a 10x-scaled profiling dataset (sfbig) from sf0.1 — pure pyarrow.

The driver's round-end MEASUREMENT runs the battery at a larger, driver-
generated scale factor (BENCH_r05.json: sf=1.0), while local testdata stops
at sf0.1. This script replicates every sf0.1 table the battery reads 10x with
shifted keys and per-replica text perturbation (so replicas are NOT exact
duplicates — the dedup operators see a realistic unique-text workload, like
the generated sf1.0 corpus, not a degenerate 10-copy corpus).

Output: $OUT (default /root/repo/BENCH/sfbig). Profiling-only — never read
by bench.py or any declared query; correctness does not depend on it.
"""
from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = os.environ.get("OUT", "/root/repo/BENCH/sfbig")
K = int(os.environ.get("SFBIG_K", "10"))

SHIFTS = {
    "documents": ("doc_id", 5000),
    "lineitem": ("l_orderkey", 600000),
    "orders": ("o_orderkey", 150000),
    "events": ("event_id", 100000),
    "customer": ("c_custkey", 15000),
    "supplier": ("s_suppkey", 1000),
    "part": ("p_partkey", 20000),
}
COPY = ["nation", "region"]


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    for name in COPY:
        t = pq.read_table(f"{SRC}/{name}.parquet")
        pq.write_table(t, f"{OUT}/{name}.parquet")
        print(name, t.num_rows)
    for name, (key, base) in SHIFTS.items():
        t = pq.read_table(f"{SRC}/{name}.parquet")
        reps = []
        for k in range(K):
            r = t
            idx = r.schema.get_field_index(key)
            shifted = pc.add(r.column(key), k * base)
            if r.schema.field(key).type == pa.int32():
                shifted = shifted.cast(pa.int32())
            r = r.set_column(idx, key, shifted)
            if name == "documents" and k > 0:
                # per-replica unique prefix: replicas are near- but not
                # exact-duplicates (realistic for near-dup profiling)
                txt = pc.binary_join_element_wise(
                    pa.array([f"r{k}"] * r.num_rows), r.column("text"), " "
                )
                r = r.set_column(r.schema.get_field_index("text"), "text", txt)
            reps.append(r)
        big = pa.concat_tables(reps)
        pq.write_table(big, f"{OUT}/{name}.parquet")
        print(name, big.num_rows)
    open(f"{OUT}/_DONE", "w").close()


if __name__ == "__main__":
    main()
