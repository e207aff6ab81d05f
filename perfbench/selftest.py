"""Self-test of the benchmark's correctness gate.

    python3 perfbench/selftest.py

Crawls one polite_rounds round, checks that the gate accepts the warehouse,
then tampers with copies of it and checks that the gate rejects each copy:
one seen row dropped, two crawl_log seqs swapped, one surrogate key changed.
It also checks that a round counter off by one fails the per-round check.
Exits 0 when every check holds.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys
from pathlib import Path

import run


def rewrite(table_dir: Path, edit) -> None:
    """Replace the parquet files of one committed table round with
    ``edit(table)``."""
    import pyarrow.parquet as pq

    table = pq.read_table(table_dir)
    for f in table_dir.glob("*.parquet"):
        f.unlink()
    pq.write_table(edit(table), table_dir / "part-0.parquet")


def drop_seen_row(t):
    return t.slice(1)


def swap_crawl_seqs(t):
    import pyarrow as pa

    seq = t.column("seq").to_pylist()
    seq[0], seq[1] = seq[1], seq[0]
    return t.set_column(t.schema.get_field_index("seq"), "seq", pa.array(seq, t.schema.field("seq").type))


def bump_surrogate_key(t):
    import pyarrow as pa

    keys = t.column("surrogate_key").to_pylist()
    keys[0] += 1_000_000
    i = t.schema.get_field_index("surrogate_key")
    return t.set_column(i, "surrogate_key", pa.array(keys, t.schema.field("surrogate_key").type))


TAMPERS = [
    ("seen", drop_seen_row),
    ("crawl_log", swap_crawl_seqs),
    ("seen", bump_surrogate_key),
]


def main() -> int:
    run.prepare_environment()
    import gate
    from crawlspark.warehouse import Warehouse
    from workloads import PoliteRounds

    shutil.rmtree(run.WORK / "runs", ignore_errors=True)
    spark = run.start_session(len(os.sched_getaffinity(0)), False)
    ok = True
    try:
        wl = PoliteRounds(spark, run.WORK, 0)
        wl.setup()
        wl.prepare()
        step = wl.iteration()

        def problems(wh):
            return gate.polite_problems(wh, wl.ids, wl.shape, wl.settings, wl.results)

        clean = problems(wl.wh)
        print(f"untampered warehouse: {clean or 'accepted'}")
        ok &= not clean
        for table, edit in TAMPERS:
            copy = wl.wh.path.parent / f"tampered-{edit.__name__}"
            shutil.copytree(wl.wh.path, copy)
            wh = Warehouse(copy)
            rewrite(copy / table / f"r{wh.last_round():06d}", edit)
            found = problems(wh)
            print(f"{edit.__name__}: {found or 'ACCEPTED'}")
            ok &= bool(found)
        off = dataclasses.replace(step.result, fetched=step.result.fetched - 1)
        found = gate.round_problems("counter", off, gate.Expect(**{
            k: getattr(step.result, k)
            for k in ("fetched", "deduped", "robots_blocked", "retried", "failed", "datasets", "units")
        }))
        print(f"fetched counter off by one: {found or 'ACCEPTED'}")
        ok &= bool(found)
    finally:
        run.stop_session(spark)
    print("gate self-test " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
