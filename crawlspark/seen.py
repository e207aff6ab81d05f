"""URL-seen set: Bloom prefilter + exact anti-join + dense surrogate keys.

Reference semantics being scaled out:

* ``SurrogateKey::for_id`` — first-seen-wins dense keys 1,2,3… in arrival
  order (/root/reference/src/storage/surrogate_key.rs:24-34), consulted per
  insert (/root/reference/src/storage/database_sink.rs:561-579).

Engine design (north_rule):

* identity = xxhash64(canonical url), canonicalization in canonical.py.
* exactness — the Bloom filter may only *route*, never *drop*: hashes the
  Bloom reports as possibly-seen are confirmed by an exact anti-join against
  the seen table; hashes it reports as definitely-new skip that join entirely.
  The final seen set is therefore exactly the reference's (BASELINE.json:2).
* the Bloom filter is *partitioned* by hash range (``url_hash & (buckets-1)``)
  and BOTH sides honor it: the build is a per-bucket cogroup
  (distributed_bloom_update) and the scale-path probe is too
  (bloom_probe_routed) — at 10^10 URLs no task, executor, or the driver ever
  holds more than one bucket's bitmap. Small filters (≤
  settings.bloom_broadcast_max_bytes total) may instead ship whole via one
  broadcast (bloom_filter_column) — fewer shuffles, local-mode default; the
  scheduler picks per settings.bloom_probe.
* dense key assignment (rank_and_key) avoids a global single-partition sort
  above a small-batch threshold: range-repartition on the order columns,
  per-partition row_number + cumulative partition offsets (the
  partition-count table is tiny).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic second hash derived from xxhash64 (public splitmix64)."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


class PartitionedBloom:
    """Hash-range-partitioned Bloom filter over xxhash64 keys.

    k probe positions per key: (h1 + i*h2) mod bits, h2 = splitmix64(h1).
    Serialized as one (bucket, bitmap bytes) row per bucket.
    """

    def __init__(self, bits_per_bucket: int, n_hashes: int, n_buckets: int,
                 bitmaps: dict[int, np.ndarray] | None = None):
        self.bits = bits_per_bucket
        self.k = n_hashes
        self.n_buckets = n_buckets
        self.bitmaps = bitmaps or {}

    def _bitmap(self, bucket: int) -> np.ndarray:
        bm = self.bitmaps.get(bucket)
        if bm is None:
            bm = np.zeros(self.bits // 8 + 1, dtype=np.uint8)
            self.bitmaps[bucket] = bm
        return bm

    def _positions(self, hashes: np.ndarray) -> np.ndarray:
        h1 = hashes.astype(np.int64).view(np.uint64)
        h2 = _splitmix64(h1) | np.uint64(1)
        ks = np.arange(self.k, dtype=np.uint64)
        return ((h1[:, None] + ks[None, :] * h2[:, None]) % np.uint64(self.bits)).astype(np.int64)

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        buckets = (hashes.astype(np.int64).view(np.uint64) % np.uint64(self.n_buckets)).astype(np.int64)
        pos = self._positions(hashes)
        for b in np.unique(buckets):
            bm = self._bitmap(int(b))
            p = pos[buckets == b].ravel()
            np.bitwise_or.at(bm, p >> 3, (1 << (p & 7)).astype(np.uint8))

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        buckets = (hashes.astype(np.int64).view(np.uint64) % np.uint64(self.n_buckets)).astype(np.int64)
        pos = self._positions(hashes)
        out = np.ones(len(hashes), dtype=bool)
        for b in np.unique(buckets):
            sel = buckets == b
            bm = self.bitmaps.get(int(b))
            if bm is None:
                out[sel] = False
                continue
            p = pos[sel]
            bits = (bm[p >> 3] >> (p & 7)) & 1
            out[sel] = bits.all(axis=1)
        return out

    # -- (de)serialization to a tiny DataFrame-backed table -----------------
    def to_rows(self) -> list[tuple[int, bytes, int, int, int]]:
        return [
            (b, bm.tobytes(), self.bits, self.k, self.n_buckets)
            for b, bm in sorted(self.bitmaps.items())
        ]

    @classmethod
    def from_rows(cls, rows) -> "PartitionedBloom":
        bitmaps = {}
        bits = k = nb = None
        for b, blob, bits, k, nb in rows:
            bitmaps[int(b)] = np.frombuffer(bytes(blob), dtype=np.uint8).copy()
        if bits is None:
            raise ValueError("empty bloom rows")
        return cls(bits, k, nb, bitmaps)


def _splitmix64_int(x: int) -> int:
    """Scalar splitmix64 over a (possibly signed) 64-bit int."""
    m = 0xFFFFFFFFFFFFFFFF
    x = (x + 0x9E3779B97F4A7C15) & m
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & m
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & m
    return x ^ (x >> 31)


class PartitionedCuckoo:
    """Hash-range-partitioned cuckoo filter over xxhash64 keys — the
    DELETABLE seen-set prefilter (re-crawl eviction at 10^10 URLs, where a
    Bloom filter would force a full rebuild per eviction wave).

    Public construction (Fan et al., "Cuckoo Filter: Practically Better Than
    Bloom", CoNEXT 2014): per key a 16-bit fingerprint stored in one of two
    candidate buckets of ``slots`` entries; partial-key cuckoo hashing gives
    the alternate bucket as ``i ^ hash(fp)``, so eviction chains never need
    the original key. Same exactness contract as PartitionedBloom: the filter
    only ROUTES (maybe/definitely-new); an exact join confirms — so a false
    positive costs a join row, never a wrong answer.

    Deterministic throughout (victim slot rotates by kick count, start bucket
    picked by fingerprint parity) — same input always builds the same tables.

    Set semantics: ``add`` stores ONE copy per inserted key (deduplicating
    only exact-duplicate hashes within a call) — two DISTINCT keys that
    collide on (fingerprint, candidate buckets) each keep their own stored
    copy, bounded by the 2×``slots`` joint bucket capacity, exactly as in the
    Fan et al. construction. That duplication is what makes ``delete`` exact
    for keys that were inserted: evicting one colliding key removes one copy
    and leaves the other key's copy in place (an idempotent add would share a
    single copy and a delete would orphan the survivor — a FALSE NEGATIVE).
    Deleting a key that was never added may still clear a colliding key's
    fingerprint (inherent to cuckoo filters — public caveat); callers must
    pre-filter deletions against the exact seen set, as Crawler.evict does,
    and must add each key at most once per lifetime-unless-deleted, as
    split_new_vs_seen guarantees (only definitely-new hashes reach add).

    Partitioned like the Bloom: key-space routed by ``hash & (n_buckets-1)``,
    one (bucket, table) row per partition; build/probe are per-bucket
    cogroups, so no task or the driver ever holds more than one bucket's
    table (~``m * slots * 2`` bytes). Insert placement is a per-item loop
    (cuckoo kicks are inherently sequential) over a numpy table — throughput
    scales with executors because buckets are independent; probes and the
    already-present screen are fully vectorized.
    """

    def __init__(self, m: int, slots: int, n_buckets: int,
                 tables: dict[int, np.ndarray] | None = None,
                 max_kicks: int = 500):
        if m & (m - 1):
            raise ValueError(f"m must be a power of two, got {m}")
        self.m = m
        self.slots = slots
        self.n_buckets = n_buckets
        self.tables = tables or {}
        self.max_kicks = max_kicks

    def _table(self, bucket: int) -> np.ndarray:
        t = self.tables.get(bucket)
        if t is None:
            t = np.zeros((self.m, self.slots), dtype=np.uint16)
            self.tables[bucket] = t
        return t

    def _derive(self, hashes: np.ndarray):
        """(fingerprint uint16 nonzero, i1, i2) arrays for keys."""
        h = hashes.astype(np.int64).view(np.uint64)
        fp = (_splitmix64(h) & np.uint64(0xFFFF)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)
        i1 = ((h >> np.uint64(16)) & np.uint64(self.m - 1)).astype(np.int64)
        i2 = i1 ^ (_splitmix64(fp.astype(np.uint64)) & np.uint64(self.m - 1)).astype(np.int64)
        return fp, i1, i2

    def _alt(self, i: int, fp: int) -> int:
        return i ^ (_splitmix64_int(fp) & (self.m - 1))

    def _route(self, hashes: np.ndarray) -> np.ndarray:
        return (hashes.astype(np.int64).view(np.uint64) % np.uint64(self.n_buckets)).astype(np.int64)

    def add(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        # within-call exact-hash dedup only: distinct colliding keys MUST each
        # store their own copy or delete() breaks (see class docstring)
        hashes = np.unique(hashes)
        buckets = self._route(hashes)
        fp, i1, i2 = self._derive(hashes)
        for b in np.unique(buckets):
            sel = buckets == b
            tbl = self._table(int(b))
            for f, a, c in zip(fp[sel], i1[sel], i2[sel]):
                f, a, c = int(f), int(a), int(c)
                placed = False
                for idx in (a, c):
                    free = np.flatnonzero(tbl[idx] == 0)
                    if len(free):
                        tbl[idx, free[0]] = f
                        placed = True
                        break
                if placed:
                    continue
                cur = a if f & 1 else c
                for kick in range(self.max_kicks):
                    slot = kick % self.slots  # deterministic victim rotation
                    f, tbl[cur, slot] = int(tbl[cur, slot]), f
                    cur = self._alt(cur, f)
                    free = np.flatnonzero(tbl[cur] == 0)
                    if len(free):
                        tbl[cur, free[0]] = f
                        break
                else:
                    raise RuntimeError(
                        f"cuckoo bucket {int(b)} full after {self.max_kicks} kicks — "
                        f"raise cuckoo_entries (m={self.m}, load factor too high)"
                    )

    def delete(self, hashes: np.ndarray) -> None:
        """Remove one stored copy of each key's fingerprint (keys MUST have
        been inserted — see class docstring; absent fingerprints are no-ops)."""
        if len(hashes) == 0:
            return
        buckets = self._route(hashes)
        fp, i1, i2 = self._derive(hashes)
        for b in np.unique(buckets):
            sel = np.flatnonzero(buckets == b)
            tbl = self.tables.get(int(b))
            if tbl is None:
                continue
            for j in sel:
                f = int(fp[j])
                for idx in (int(i1[j]), int(i2[j])):
                    hit = np.flatnonzero(tbl[idx] == f)
                    if len(hit):
                        tbl[idx, hit[0]] = 0
                        break

    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        buckets = self._route(hashes)
        fp, i1, i2 = self._derive(hashes)
        out = np.zeros(len(hashes), dtype=bool)
        for b in np.unique(buckets):
            sel = buckets == b
            tbl = self.tables.get(int(b))
            if tbl is None:
                continue
            out[sel] = (tbl[i1[sel]] == fp[sel][:, None]).any(axis=1) | (
                tbl[i2[sel]] == fp[sel][:, None]
            ).any(axis=1)
        return out

    # -- (de)serialization — same row-per-bucket shape as PartitionedBloom --
    def to_rows(self) -> list[tuple[int, bytes, int, int, int]]:
        return [
            (b, t.tobytes(), self.m, self.slots, self.n_buckets)
            for b, t in sorted(self.tables.items())
        ]

    @classmethod
    def from_rows(cls, rows) -> "PartitionedCuckoo":
        tables = {}
        m = slots = nb = None
        for b, blob, m, slots, nb in rows:
            tables[int(b)] = (
                np.frombuffer(bytes(blob), dtype=np.uint16).reshape(int(m), int(slots)).copy()
            )
        if m is None:
            raise ValueError("empty cuckoo rows")
        return cls(int(m), int(slots), int(nb), tables)


def bloom_filter_column(
    spark: SparkSession, bloom: PartitionedBloom | None, hash_col: str
):
    """Vectorized (Arrow-batched) Bloom probe as a BooleanType pandas UDF.

    Returns a Column: true = *possibly* seen (must exact-confirm),
    false = definitely new (skips the anti-join).  When no filter exists yet,
    everything is "possibly seen" (falls back to the exact join). The bitmap
    payload ships once per executor as a Spark broadcast, not in the task
    closure.

    LOCAL-MODE / SMALL-FILTER PATH ONLY: this ships the WHOLE filter to every
    executor, which is wrong at 10^10 URLs (a useful bloom is 10+ GB). The
    scheduler gates it behind ``CrawlSettings.bloom_probe`` — filters above
    ``bloom_broadcast_max_bytes`` take ``bloom_probe_routed`` instead, where
    each task sees only its bucket's bitmap.
    """
    if bloom is None or not getattr(bloom, "bitmaps", getattr(bloom, "tables", None)):
        return F.lit(True)
    cls = type(bloom)  # PartitionedBloom or PartitionedCuckoo — same contract
    bc = spark.sparkContext.broadcast(bloom.to_rows())

    @F.pandas_udf(BooleanType())
    def probe(h: pd.Series) -> pd.Series:
        bl = cls.from_rows(bc.value)
        return pd.Series(bl.might_contain(h.to_numpy(dtype=np.int64)))

    return probe(F.col(hash_col))


def bloom_probe_routed(
    keys: DataFrame, bloom_df: DataFrame, n_buckets: int, hash_col: str = "h"
) -> DataFrame:
    """Bucket-routed Bloom probe — the 10^10-URL path.

    ``keys`` (one long column ``hash_col``) is shuffled by
    ``url_hash & (n_buckets-1)`` and cogrouped with ONLY that bucket's bitmap
    row, mirroring the build (distributed_bloom_update): no task, executor, or
    the driver ever holds more than one bucket's bitmap. Returns
    (``hash_col``, maybe boolean). Buckets with no bitmap row report
    definitely-new (nothing was ever added there).
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    kb = keys.select(
        F.col(hash_col).alias("h"),
        F.col(hash_col).bitwiseAND(F.lit(n_buckets - 1)).cast("int").alias("bucket"),
    )
    blm = bloom_df.select("bucket", "bitmap", "bits", "k", "n_buckets")

    def probe(key, k_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(k_pdf):
            return pd.DataFrame(
                {"h": pd.Series(dtype="int64"), "maybe": pd.Series(dtype=bool)}
            )
        h = k_pdf["h"].to_numpy(dtype=np.int64)
        if not len(b_pdf):
            maybe = np.zeros(len(h), dtype=bool)
        else:
            r = b_pdf.iloc[0]
            bl = PartitionedBloom.from_rows(
                [(int(r["bucket"]), r["bitmap"], int(r["bits"]), int(r["k"]), int(r["n_buckets"]))]
            )
            maybe = bl.might_contain(h)
        return pd.DataFrame({"h": h, "maybe": maybe})

    return (
        kb.groupBy("bucket")
        .cogroup(blm.groupBy("bucket"))
        .applyInPandas(probe, "h long, maybe boolean")
        .withColumnRenamed("h", hash_col)
    )


def cuckoo_probe_routed(
    keys: DataFrame, cuckoo_df: DataFrame, n_buckets: int, hash_col: str = "h"
) -> DataFrame:
    """Bucket-routed cuckoo probe — identical shape to bloom_probe_routed:
    keys shuffled by ``hash % n_buckets``, cogrouped with ONLY that bucket's
    table row; returns (``hash_col``, maybe boolean)."""
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    kb = keys.select(
        F.col(hash_col).alias("h"),
        F.col(hash_col).bitwiseAND(F.lit(n_buckets - 1)).cast("int").alias("bucket"),
    )
    ck = cuckoo_df.select("bucket", "table", "m", "slots", "n_buckets")

    def probe(key, k_pdf: pd.DataFrame, c_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(k_pdf):
            return pd.DataFrame(
                {"h": pd.Series(dtype="int64"), "maybe": pd.Series(dtype=bool)}
            )
        h = k_pdf["h"].to_numpy(dtype=np.int64)
        if not len(c_pdf):
            maybe = np.zeros(len(h), dtype=bool)
        else:
            r = c_pdf.iloc[0]
            ck_ = PartitionedCuckoo.from_rows(
                [(int(r["bucket"]), r["table"], int(r["m"]), int(r["slots"]), int(r["n_buckets"]))]
            )
            maybe = ck_.might_contain(h)
        return pd.DataFrame({"h": h, "maybe": maybe})

    return (
        kb.groupBy("bucket")
        .cogroup(ck.groupBy("bucket"))
        .applyInPandas(probe, "h long, maybe boolean")
        .withColumnRenamed("h", hash_col)
    )


def distributed_cuckoo_update(
    new_hashes: DataFrame,
    prev_cuckoo: DataFrame | None,
    m: int,
    slots: int,
    n_buckets: int,
    hash_col: str = "url_hash",
    deleted_hashes: DataFrame | None = None,
) -> DataFrame:
    """Executor-side cuckoo build/update: per-bucket insert AND delete in one
    cogroup — the deletable analog of distributed_bloom_update (same shuffle
    shape: this round's add/delete hashes routed by ``hash & (n_buckets-1)``,
    cogrouped with the bucket's previous table row). Deletes apply before
    adds, so an evict+re-crawl of the same URL in one update nets present.
    Output is a CUCKOO-schema frame covering every bucket that has state.
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    from . import schemas

    ops = new_hashes.select(
        F.col(hash_col).bitwiseAND(F.lit(n_buckets - 1)).cast("int").alias("bucket"),
        F.col(hash_col).alias("h"),
        F.lit(1).alias("op"),
    )
    if deleted_hashes is not None:
        ops = ops.unionByName(
            deleted_hashes.select(
                F.col(hash_col).bitwiseAND(F.lit(n_buckets - 1)).cast("int").alias("bucket"),
                F.col(hash_col).alias("h"),
                F.lit(-1).alias("op"),
            )
        )
    prev = (
        prev_cuckoo.select("bucket", "table")
        if prev_cuckoo is not None
        else schemas.empty_frame(new_hashes.sparkSession, schemas.CUCKOO).select(
            "bucket", "table"
        )
    )

    def merge(key, ops_pdf: pd.DataFrame, prev_pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        if len(prev_pdf):
            ck = PartitionedCuckoo.from_rows(
                [(bucket, prev_pdf["table"].iloc[0], m, slots, n_buckets)]
            )
        else:
            ck = PartitionedCuckoo(m, slots, n_buckets)
        if len(ops_pdf):
            dels = ops_pdf.loc[ops_pdf["op"] < 0, "h"].to_numpy(dtype=np.int64)
            adds = ops_pdf.loc[ops_pdf["op"] > 0, "h"].to_numpy(dtype=np.int64)
            ck.delete(dels)
            ck.add(adds)
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "table": [ck._table(bucket).tobytes()],
                "m": [m],
                "slots": [slots],
                "n_buckets": [n_buckets],
            }
        )

    return (
        ops.groupBy("bucket")
        .cogroup(prev.groupBy("bucket"))
        .applyInPandas(merge, schemas.CUCKOO)
    )


def split_new_vs_seen(
    batch: DataFrame,
    seen: DataFrame,
    bloom: "PartitionedBloom | PartitionedCuckoo | DataFrame | None",
    hash_col: str = "url_hash",
    url_col: str | None = None,
    bloom_buckets: int | None = None,
    keep: list | None = None,
) -> DataFrame:
    """Adds ``is_seen`` boolean: exact membership of batch[hash_col] in seen.

    Bloom-negative rows bypass the join (provably new); bloom-positive rows are
    confirmed with a left-semi/anti join pair expressed as a left join on the
    deduplicated seen keys — one shuffle over only the candidate subset.

    ``bloom`` may be a driver-side PartitionedBloom / PartitionedCuckoo
    (small filters: one broadcast, zero extra shuffles) or the filter
    *DataFrame* straight from the warehouse (scale path: bucket-routed
    cogroup probe, the filter is never collected or broadcast whole — pass
    ``bloom_buckets``; a ``bitmap`` column means Bloom, a ``table`` column
    means cuckoo).

    In routed mode the batch subtree feeds TWO consumers (the distinct probe
    keys and the join's left side), so it is persisted here; the handle is
    appended to ``keep`` for the caller to unpersist after materialization
    (without it the enrich+dedup pipeline upstream ran twice per action).

    Membership is confirmed on the canonical-URL *string*, not the 64-bit hash
    alone (at a 10^10-URL seen set the birthday bound expects ~3 xxhash64
    collisions; the reference dedups on the exact id string,
    /root/reference/src/storage/surrogate_key.rs:24-34). The hash stays the
    shuffle/bucket key; the string equality is a post-join filter.
    """
    if url_col is None:
        # CONTRACT: the auto-resolved column must hold CANONICAL urls — the
        # seen table stores canonical forms (schemas.SEEN), so confirming a
        # RAW spelling against it fails the string equality and re-crawls an
        # already-seen URL with a duplicate surrogate key. 'curl' (the
        # enrich output) always satisfies this; a bare 'url' fallback is
        # kept for batches whose url column is canonical by construction —
        # callers holding raw urls must enrich first or pass url_col
        # explicitly.
        url_col = "curl" if "curl" in batch.columns else (
            "url" if "url" in batch.columns and "url" in seen.columns else None
        )
    if isinstance(bloom, DataFrame):
        assert bloom_buckets, "bloom_buckets required for the routed probe"
        batch = batch.persist()
        if keep is not None:
            keep.append(batch)
        routed = cuckoo_probe_routed if "table" in bloom.columns else bloom_probe_routed
        probed = routed(
            batch.select(F.col(hash_col).alias("_ph")).distinct(),
            bloom,
            bloom_buckets,
            "_ph",
        )
        maybe = (
            batch.join(probed, F.col(hash_col) == F.col("_ph"), "left")
            # every batch hash is in probed; True only as a safe fallback
            # (falls into the exact confirm, never skips it)
            .withColumn("_maybe", F.coalesce(F.col("maybe"), F.lit(True)))
            .drop("_ph", "maybe")
        )
    else:
        maybe = batch.withColumn(
            "_maybe", bloom_filter_column(batch.sparkSession, bloom, hash_col)
        )
    confirm_cols = [F.col(hash_col).alias("_seen_hash")]
    cond = F.col("_maybe") & (F.col(hash_col) == F.col("_seen_hash"))
    if url_col is not None:
        confirm_cols.append(F.col("url").alias("_seen_url"))
        cond = cond & (F.col(url_col) == F.col("_seen_url"))
    seen_keys = seen.select(*confirm_cols).distinct()
    joined = maybe.join(seen_keys, cond, "left")
    return joined.withColumn("is_seen", F.col("_seen_hash").isNotNull()).drop(
        "_maybe", "_seen_hash", *(["_seen_url"] if url_col is not None else [])
    )


def distributed_bloom_update(
    new_hashes: DataFrame,
    prev_bloom: DataFrame | None,
    bits: int,
    k: int,
    n_buckets: int,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Executor-side Bloom build: per-bucket bitmap OR-aggregation.

    The driver never touches url hashes — each bucket's group (this round's
    hashes routed by ``url_hash & (n_buckets-1)``, cogrouped with the bucket's
    previous bitmap row) ORs its bits inside one Arrow-batched task. At 10^10
    URLs this is one shuffle of the new hashes plus n_buckets tiny bitmap rows;
    output is a BLOOM-schema frame (one row per touched bucket).

    ``n_buckets`` must be a power of two so the signed bitwise-AND bucket key
    matches the uint64 modulo PartitionedBloom uses internally.
    """
    if n_buckets & (n_buckets - 1):
        raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
    from . import schemas

    hb = new_hashes.select(
        F.col(hash_col).bitwiseAND(F.lit(n_buckets - 1)).cast("int").alias("bucket"),
        F.col(hash_col).alias("h"),
    )
    prev = (
        prev_bloom.select("bucket", "bitmap")
        if prev_bloom is not None
        else schemas.empty_frame(new_hashes.sparkSession, schemas.BLOOM).select(
            "bucket", "bitmap"
        )
    )

    def merge(key, new_pdf: pd.DataFrame, prev_pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        if len(prev_pdf):
            bl = PartitionedBloom.from_rows(
                [(bucket, prev_pdf["bitmap"].iloc[0], bits, k, n_buckets)]
            )
        else:
            bl = PartitionedBloom(bits, k, n_buckets)
        if len(new_pdf):
            bl.add(new_pdf["h"].to_numpy(dtype=np.int64))
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "bitmap": [bl._bitmap(bucket).tobytes()],
                "bits": [bits],
                "k": [k],
                "n_buckets": [n_buckets],
            }
        )

    return (
        hb.groupBy("bucket")
        .cogroup(prev.groupBy("bucket"))
        .applyInPandas(merge, schemas.BLOOM)
    )


def _cumsum_offsets(counts: DataFrame, sums: list[tuple[str, str]]) -> DataFrame:
    """Exclusive prefix sums of ``sums`` columns ordered by ``_pid``, computed
    with a triangular self-join — O(p²) pairs over a frame bounded by the
    shuffle-partition count (metadata-sized), never a global window.

    Deliberately LAZY (A/B-measured in round 3): a driver-side collect of the
    counts would pin the range boundaries with one tiny action, but that
    action serializes the ranked frame's cache fill BEFORE the round's big
    combined-counters job instead of overlapping with it — 20.2k → 17.6k
    urls/s at 16 cores on the 800k-page crawl. The lazy join's few extra tiny
    stages per consumer are cheaper than the lost overlap."""
    strictly_before = F.col("_b._pid") < F.col("_a._pid")
    a, b = counts.alias("_a"), counts.alias("_b")
    aggs = [
        F.coalesce(F.sum(F.col(f"_b.{src}")), F.lit(0)).alias(dst)
        for src, dst in sums
    ]
    return (
        a.join(b, strictly_before, "left")
        .groupBy(F.col("_a._pid").alias("_pid"))
        .agg(*aggs)
    )


def rank_and_key(
    df: DataFrame,
    order_cols: list[str],
    fetched_col: str = "is_fetched",
    key_offset: int = 0,
    keep: list | None = None,
    small_threshold: int = 100_000,
    *,
    n_rows: int,
) -> DataFrame:
    """Fused global numbering: one range shuffle produces BOTH the crawl-order
    ``seq`` (dense 1-based over all rows) and the dense ``surrogate_key`` over
    the fetched subset (first-seen order), continuing from ``key_offset``.

    ADAPTIVE (the AQE idea applied to ranking): the path is picked from the
    input's row count ``n_rows``, which the caller supplies (the crawl round
    takes it from its counters action), so picking the path runs no job. At
    or under ``small_threshold`` rows both numberings run in one
    single-partition window — the 4-job range machinery costs seconds of pure
    scheduling per crawl round on small/local batches. Above it, the input is
    range-repartitioned on the order columns (balanced regardless of key
    skew), numbered per partition, and shifted by cumulative partition
    offsets. The threshold stays low because rank_and_key sits on the
    per-round crawl hot path, and a single-task sort of a bench-scale
    800k-row batch would serialize the round at high core counts (Amdahl).

    Range boundaries come from sampling and are not deterministic, but the
    output is: ranks are fully determined by the total order, and range
    partition i always precedes partition j>i in it. Requires the order to be
    strict (no ties), which holds for crawl batches (curl is unique). Both
    paths produce identical output (pinned by test_rank_and_key_fused).
    """
    oc = [F.col(c).asc() for c in order_cols]
    fint0 = F.col(fetched_col).cast("long")
    if n_rows <= small_threshold:
        w_small = Window.orderBy(*oc)
        return (
            df.withColumn("seq", F.row_number().over(w_small).cast("long"))
            .withColumn("_frn", F.sum(fint0).over(w_small))
            .withColumn(
                "surrogate_key",
                F.when(
                    F.col(fetched_col),
                    (F.col("_frn") + F.lit(key_offset)).cast("long"),
                ),
            )
            .drop("_frn")
        )
    # persisted: the counts branch and the window branch MUST observe the same
    # (sampled, hence nondeterministic) range boundaries — the cache pins them
    d = (
        df.repartitionByRange(*oc)
        .sortWithinPartitions(*oc)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    if keep is not None:
        keep.append(d)
    fint = F.col(fetched_col).cast("long")
    counts = d.groupBy("_pid").agg(
        F.count("*").alias("_n"), F.sum(fint).alias("_nf")
    )
    # cumulative offsets via a triangular self-join over the TINY partition-
    # count frame (≤ n_shuffle_partitions rows): no unpartitioned window, so
    # nothing ever moves "all data to a single partition"
    offsets = _cumsum_offsets(counts, [("_n", "_off"), ("_nf", "_foff")])
    w_local = Window.partitionBy("_pid").orderBy(*oc)
    out = (
        d.withColumn("_rn", F.row_number().over(w_local))
        .withColumn("_frn", F.sum(fint).over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .withColumn("seq", (F.col("_rn") + F.col("_off")).cast("long"))
        .withColumn(
            "surrogate_key",
            F.when(
                F.col(fetched_col),
                (F.col("_frn") + F.col("_foff") + F.lit(key_offset)).cast("long"),
            ),
        )
        .drop("_pid", "_rn", "_frn", "_off", "_foff")
    )
    return out
