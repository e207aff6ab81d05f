"""Snapshot warehouse — atomic per-round commits + exact resume.

This is the engine analog of the reference's temp-table → atomic-rename publish
(/root/reference/src/storage/database_sink.rs:91-101 temp DDL, 258-284 the
SERIALIZABLE drop+rename swap): every crawl round commits its state/appends as
immutable parquet snapshot directories, and a single atomic manifest swap
(write-temp + ``os.replace``) is the commit point — exactly Iceberg's
metadata-pointer model. On a real cluster this module is swapped for Iceberg
(``writeTo(...).append()`` / ``overwritePartitions``) without touching callers;
the container ships no Iceberg jars, so the same ACID contract is provided on
plain parquet.

Guarantees used by the resume test:
* a round is visible iff the manifest names it (partial writes are invisible)
* ``commit_round`` is idempotent — re-committing a committed round is a no-op
  (reference analog: re-running after migrate_schema does not double-publish)
* state tables ("snapshot") expose only the latest round; fact tables
  ("append") expose the union of all committed rounds
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .schemas import empty_frame


class Warehouse:
    def __init__(self, path: str | Path):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self._manifest_path = self.path / "manifest.json"

    # -- manifest ----------------------------------------------------------
    @contextmanager
    def _manifest_lock(self):
        """Exclusive advisory lock serializing manifest read-modify-write
        cycles (concurrent ``commit_round`` / ``write_once`` callers must not
        lose each other's updates). flock is per-open-fd, so one lockfile
        guards across processes too."""
        import fcntl

        with open(self.path / ".manifest.lock", "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    def manifest(self) -> dict:
        if self._manifest_path.exists():
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"last_round": -1, "tables": {}}

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path.with_suffix(".tmp")
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # the atomic commit point

    def last_round(self) -> int:
        return self.manifest()["last_round"]

    # -- commit ------------------------------------------------------------
    def commit_round(
        self,
        round_: int,
        snapshots: dict[str, DataFrame] | None = None,
        appends: dict[str, DataFrame] | None = None,
        local_appends: dict[str, "object"] | None = None,
        stats_cols: dict[str, list[str]] | None = None,
    ) -> bool:
        """Write all tables for a round, then publish atomically.

        ``local_appends`` maps table name → pyarrow Table for tiny
        driver-side facts (e.g. the 1-row metrics record) — written directly
        with pyarrow, no Spark job.

        ``stats_cols`` maps table name → columns whose per-round min/max (plus
        the row count) are recorded in the manifest from the parquet footers —
        the ANALYZE analog of the reference's post-load step
        (src/storage/database_sink.rs:408-489); no data is re-read.

        The per-table Spark writes run CONCURRENTLY (one thread each): Spark's
        scheduler interleaves the jobs across the same executors, so the
        driver-side job-submission overhead of k tables costs max(k) instead
        of sum(k) — this was the dominant serial fraction of a crawl round.

        Returns False (no-op) if the round is already committed — idempotent
        re-commit for resume. The whole commit holds the manifest lock, so
        concurrent committers serialize instead of losing each other's
        manifest updates.
        """
        with self._manifest_lock():
            return self._commit_round_locked(
                round_, snapshots, appends, local_appends, stats_cols
            )

    def _commit_round_locked(
        self, round_, snapshots, appends, local_appends, stats_cols
    ) -> bool:
        m = self.manifest()
        if round_ <= m["last_round"]:
            return False

        import pyarrow.parquet as pq

        for name, table in (local_appends or {}).items():
            final = self._round_dir(name, round_)
            final.parent.mkdir(parents=True, exist_ok=True)
            staging = final.parent / f"_staging_r{round_:06d}"
            if staging.exists():
                shutil.rmtree(staging)
            staging.mkdir()
            pq.write_table(table, staging / "part-0.parquet")
            if final.exists():
                shutil.rmtree(final)
            os.rename(staging, final)
            t = m["tables"].setdefault(name, {"kind": "append", "rounds": []})
            if round_ not in t["rounds"]:
                t["rounds"].append(round_)

        from concurrent.futures import ThreadPoolExecutor

        jobs = [
            (kind, name, df)
            for kind, tables in (("snapshot", snapshots or {}), ("append", appends or {}))
            for name, df in tables.items()
        ]

        def write_one(job):
            kind, name, df = job
            final = self._round_dir(name, round_)
            staging = final.parent / f"_staging_r{round_:06d}"
            if staging.exists():
                shutil.rmtree(staging)
            final.parent.mkdir(parents=True, exist_ok=True)
            df.write.mode("overwrite").parquet(str(staging))
            if final.exists():  # crashed post-rename pre-manifest: replace
                shutil.rmtree(final)
            os.rename(staging, final)
            return kind, name, final

        if len(jobs) > 1:
            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                written = list(pool.map(write_one, jobs))
        else:
            written = [write_one(j) for j in jobs]

        for kind, name, final in written:
            t = m["tables"].setdefault(name, {"kind": kind, "rounds": []})
            t["kind"] = kind
            if round_ not in t["rounds"]:
                t["rounds"].append(round_)
            cols = (stats_cols or {}).get(name)
            if cols is not None:  # [] = row count only (from footers)
                t.setdefault("stats", {})[str(round_)] = self._footer_stats(final, cols)
        m["last_round"] = round_
        self._write_manifest(m)
        return True

    @staticmethod
    def _footer_stats(table_dir: Path, cols: list[str]) -> dict:
        """Row count + per-column min/max from parquet footers only."""
        import pyarrow.parquet as pq

        rows = 0
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        for part in sorted(table_dir.glob("*.parquet")):
            md = pq.ParquetFile(part).metadata
            rows += md.num_rows
            names = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                for c in cols:
                    if c not in names:
                        continue
                    st = md.row_group(rg).column(names[c]).statistics
                    if st is None or not st.has_min_max:
                        continue
                    if c not in mins or st.min < mins[c]:
                        mins[c] = st.min
                    if c not in maxs or st.max > maxs[c]:
                        maxs[c] = st.max
        return {"rows": rows, "min": mins, "max": maxs}

    def write_once(self, name: str, df: DataFrame) -> None:
        """One-time dimension table (e.g. the (name, hash) translation table,
        reference src/storage/database_sink.rs:104-125)."""
        final = self.path / name / "r000000"
        if final.exists():
            # crashed between os.rename and _write_manifest: the data is
            # complete (rename is atomic) but invisible — repair the manifest
            # instead of leaving the table permanently unreadable
            with self._manifest_lock():
                m = self.manifest()
                if name not in m["tables"]:
                    m["tables"][name] = {"kind": "snapshot", "rounds": [0]}
                    self._write_manifest(m)
            return
        staging = final.parent / "_staging"
        if staging.exists():
            shutil.rmtree(staging)
        final.parent.mkdir(parents=True, exist_ok=True)
        df.write.mode("overwrite").parquet(str(staging))
        os.rename(staging, final)
        with self._manifest_lock():
            m = self.manifest()
            m["tables"].setdefault(name, {"kind": "snapshot", "rounds": [0]})
            self._write_manifest(m)

    # -- read --------------------------------------------------------------
    def _round_dir(self, name: str, round_: int) -> Path:
        return self.path / name / f"r{round_:06d}"

    def read_state(
        self, spark: SparkSession, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """Latest committed snapshot of a state table (empty df if absent)."""
        t = self.manifest()["tables"].get(name)
        if not t or not t["rounds"]:
            assert schema is not None, f"no snapshot for {name} and no schema"
            return empty_frame(spark, schema)
        return spark.read.parquet(str(self._round_dir(name, max(t["rounds"]))))

    def distinct_values(self, name: str, columns: list[str]) -> dict[str, set]:
        """Distinct values per column of a state table's latest snapshot, read
        on the driver from its parquet files: no Spark job (small tables)."""
        import pyarrow.parquet as pq

        t = self.manifest()["tables"][name]
        out: dict[str, set] = {c: set() for c in columns}
        for part in sorted(self._round_dir(name, max(t["rounds"])).glob("*.parquet")):
            tbl = pq.ParquetFile(part).read(columns=columns)
            for c in columns:
                out[c].update(tbl.column(c).to_pylist())
        return out

    def read_appends(
        self, spark: SparkSession, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """Union of all committed append snapshots of a fact table."""
        t = self.manifest()["tables"].get(name)
        if not t or not t["rounds"]:
            assert schema is not None, f"no appends for {name} and no schema"
            return empty_frame(spark, schema)
        dirs = [str(self._round_dir(name, r)) for r in sorted(t["rounds"])]
        return spark.read.parquet(*dirs)

    def has_table(self, name: str) -> bool:
        t = self.manifest()["tables"].get(name)
        return bool(t and t["rounds"])
