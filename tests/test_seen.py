"""Seen-set machinery: bloom routing (never drops), dense numbering."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from crawlspark.seen import PartitionedBloom, rank_and_key, split_new_vs_seen


def test_bloom_no_false_negatives():
    bl = PartitionedBloom(1 << 12, 5, 4)
    hs = np.arange(-500, 500, dtype=np.int64) * 2654435761
    bl.add(hs)
    assert bl.might_contain(hs).all()  # bloom property: no false negatives


def test_bloom_routes_most_new_away():
    bl = PartitionedBloom(1 << 16, 5, 4)
    bl.add(np.arange(1000, dtype=np.int64))
    fresh = np.arange(10_000_000, 10_001_000, dtype=np.int64)
    fp = bl.might_contain(fresh).mean()
    assert fp < 0.05  # sized for ~1k entries → tiny false-positive rate


def test_bloom_roundtrip_serialization():
    bl = PartitionedBloom(1 << 10, 3, 4)
    hs = np.array([1, -7, 12345678901234, -99999999], dtype=np.int64)
    bl.add(hs)
    bl2 = PartitionedBloom.from_rows(bl.to_rows())
    assert bl2.might_contain(hs).all()
    assert bl2.bits == bl.bits and bl2.k == bl.k and bl2.n_buckets == bl.n_buckets


# even u{i} are seen; "u0-collision" shares u0's url_hash (an xxhash64
# collision) but is a different URL, so it must come back NEW: membership is
# confirmed on the URL string, not the hash alone
EXPECTED_SEEN = {f"u{i}": i % 2 == 0 for i in range(20)} | {"u0-collision": False}


def _batch_and_seen(spark):
    batch = spark.createDataFrame(
        [(i, f"u{i}") for i in range(20)] + [(0, "u0-collision")], ["url_hash", "url"]
    )
    seen = spark.createDataFrame(
        [(i, f"u{i}", i, 0) for i in range(0, 20, 2)],
        ["url_hash", "url", "surrogate_key", "first_round"],
    )
    return batch, seen


def _is_seen_by_url(df):
    return {r["url"]: r["is_seen"] for r in df.collect()}


def test_split_new_vs_seen_exact(spark):
    batch, seen = _batch_and_seen(spark)
    bl = PartitionedBloom(1 << 10, 3, 2)
    bl.add(np.arange(0, 20, 2, dtype=np.int64))
    assert _is_seen_by_url(split_new_vs_seen(batch, seen, bl)) == EXPECTED_SEEN
    # and without bloom (exact-only path)
    assert _is_seen_by_url(split_new_vs_seen(batch, seen, None)) == EXPECTED_SEEN


def test_routed_probe_matches_broadcast(spark):
    """Bucket-routed cogroup probe == driver-side might_contain, bit for bit
    (same positions, same bitmaps; only the transport differs)."""
    from crawlspark import schemas
    from crawlspark.seen import bloom_probe_routed, distributed_bloom_update

    n_buckets, bits, k = 8, 1 << 12, 3
    added = spark.range(500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bloom_df = distributed_bloom_update(added, None, bits, k, n_buckets)
    # materialize once so both probes see identical state
    rows = bloom_df.collect()
    bloom_df = spark.createDataFrame(rows, schemas.BLOOM)
    bl = PartitionedBloom.from_rows(
        [(r["bucket"], r["bitmap"], r["bits"], r["k"], r["n_buckets"]) for r in rows]
    )

    probe_keys = spark.range(2000).select(
        F.xxhash64(F.col("id").cast("string")).alias("h")
    )
    routed = {
        r["h"]: r["maybe"]
        for r in bloom_probe_routed(probe_keys, bloom_df, n_buckets).collect()
    }
    hs = np.array(sorted(routed), dtype=np.int64)
    local = dict(zip(hs.tolist(), bl.might_contain(hs).tolist()))
    assert routed == local
    # every added hash must still report possibly-seen (no false negatives)
    assert all(routed[r["h"]] for r in added.select(F.col("url_hash").alias("h")).collect())


def test_split_new_vs_seen_routed_df(spark):
    """split_new_vs_seen with the warehouse DataFrame form of the bloom."""
    from crawlspark.seen import distributed_bloom_update

    batch, seen = _batch_and_seen(spark)
    bloom_df = distributed_bloom_update(
        seen.select("url_hash"), None, 1 << 10, 3, 4
    )
    out = split_new_vs_seen(batch, seen, bloom_df, bloom_buckets=4)
    assert _is_seen_by_url(out) == EXPECTED_SEEN


@pytest.mark.parametrize("small_threshold", [None, 0], ids=["window", "range"])
def test_rank_and_key_fused(spark, job_ids, small_threshold):
    """Both adaptive paths — the single window (input ≤ the default
    threshold) and the range-partitioned path (forced by threshold 0) —
    number rows densely in (host, priority, k) order and key the fetched
    subset densely from key_offset + 1. The caller passes the row count as
    ``n_rows``, so the window path picks itself without a job."""
    data = [(f"h{i % 7}", (i * 13) % 5, i % 3 != 1, f"k{i:03d}") for i in range(211)]
    df = spark.createDataFrame(data, ["host", "priority", "is_fetched", "k"])
    kw = {} if small_threshold is None else {"small_threshold": small_threshold}
    order = ["host", "priority", "k"]

    def numbering(ranked):
        return {r["k"]: (r["seq"], r["surrogate_key"]) for r in ranked.collect()}

    before = job_ids()
    ranked = rank_and_key(df, order, key_offset=100, n_rows=len(data), **kw)
    if small_threshold is None:  # a known count picks the window path job-free
        assert job_ids() == before
    out = numbering(ranked)
    assert len(out) == len(data)
    ordered = sorted(data, key=lambda t: (t[0], t[1], t[3]))
    frank = 0
    for seq, row in enumerate(ordered, start=1):
        k, fetched = row[3], row[2]
        if fetched:
            frank += 1
            assert out[k] == (seq, 100 + frank)
        else:
            assert out[k] == (seq, None)


# ---------------------------------------------------------------------------
# cuckoo filter (deletable seen-set prefilter)
# ---------------------------------------------------------------------------

def test_cuckoo_add_probe_delete():
    from crawlspark.seen import PartitionedCuckoo

    ck = PartitionedCuckoo(1 << 10, 4, 4)
    hs = np.arange(-500, 500, dtype=np.int64) * 2654435761
    ck.add(hs)
    assert ck.might_contain(hs).all()  # no false negatives
    evicted = hs[::7]
    ck.delete(evicted)
    kept = np.setdiff1d(hs, evicted)
    assert ck.might_contain(kept).all()
    # deleted keys report not-present (their fp copy is gone; residual
    # positives only from unrelated fp collisions — must be rare)
    assert ck.might_contain(evicted).mean() < 0.05
    fresh = np.arange(10_000_000, 10_001_000, dtype=np.int64)
    assert ck.might_contain(fresh).mean() < 0.05


def test_cuckoo_colliding_keys_survive_delete():
    """Two DISTINCT keys sharing (fingerprint, candidate buckets): deleting
    one must NOT clear the other — the filter stores one copy per key (Fan et
    al. 2014 duplication), so delete is exact for inserted keys. An idempotent
    add would share one stored copy and this would be a false negative."""
    from crawlspark.seen import PartitionedCuckoo

    m, slots, nb = 1 << 4, 4, 1
    ck = PartitionedCuckoo(m, slots, nb)
    # scan for a colliding pair under the filter's own derivation
    seen_sig: dict = {}
    pair = None
    hs = np.arange(1, 200_000, dtype=np.int64) * 2654435761
    fp, i1, i2 = ck._derive(hs)
    for j in range(len(hs)):
        sig = (int(fp[j]), frozenset((int(i1[j]), int(i2[j]))))
        if sig in seen_sig:
            pair = (hs[seen_sig[sig]], hs[j])
            break
        seen_sig[sig] = j
    assert pair is not None, "no colliding pair found in scan range"
    a, b = pair
    ck.add(np.array([a, b], dtype=np.int64))
    ck.delete(np.array([a], dtype=np.int64))
    assert ck.might_contain(np.array([b], dtype=np.int64)).all(), (
        "deleting one colliding key cleared the other's only stored copy"
    )
    # and within-call exact-duplicate hashes still collapse to one copy
    ck2 = PartitionedCuckoo(m, slots, nb)
    ck2.add(np.array([a, a, a], dtype=np.int64))
    ck2.delete(np.array([a], dtype=np.int64))
    assert not ck2.might_contain(np.array([a], dtype=np.int64)).any()


def test_cuckoo_kick_eviction_densely_packed():
    """Force relocation chains: tiny table at ~75% load still holds every key."""
    from crawlspark.seen import PartitionedCuckoo

    ck = PartitionedCuckoo(1 << 6, 4, 1)  # 256 slots in one partition bucket
    hs = (
        np.arange(190, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    ).view(np.int64)
    ck.add(hs)
    assert ck.might_contain(hs).all()


def test_cuckoo_roundtrip_serialization():
    from crawlspark.seen import PartitionedCuckoo

    ck = PartitionedCuckoo(1 << 8, 4, 4)
    hs = np.array([1, -7, 12345678901234, -99999999], dtype=np.int64)
    ck.add(hs)
    ck2 = PartitionedCuckoo.from_rows(ck.to_rows())
    assert ck2.might_contain(hs).all()
    assert (ck2.m, ck2.slots, ck2.n_buckets) == (ck.m, ck.slots, ck.n_buckets)
    ck2.delete(hs[:2])
    assert ck2.might_contain(hs[2:]).all()


def test_cuckoo_routed_probe_matches_broadcast(spark):
    """Bucket-routed cuckoo cogroup probe == driver-side might_contain."""
    from crawlspark import schemas
    from crawlspark.seen import (
        PartitionedCuckoo,
        cuckoo_probe_routed,
        distributed_cuckoo_update,
    )

    n_buckets, m, slots = 8, 1 << 10, 4
    added = spark.range(500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    ck_df = distributed_cuckoo_update(added, None, m, slots, n_buckets)
    rows = ck_df.collect()
    ck_df = spark.createDataFrame(rows, schemas.CUCKOO)
    ck = PartitionedCuckoo.from_rows(
        [(r["bucket"], r["table"], r["m"], r["slots"], r["n_buckets"]) for r in rows]
    )
    probe_keys = spark.range(2000).select(
        F.xxhash64(F.col("id").cast("string")).alias("h")
    )
    routed = {
        r["h"]: r["maybe"]
        for r in cuckoo_probe_routed(probe_keys, ck_df, n_buckets).collect()
    }
    hs = np.array(sorted(routed), dtype=np.int64)
    local = dict(zip(hs.tolist(), ck.might_contain(hs).tolist()))
    assert routed == local
    assert all(routed[r["h"]] for r in added.select(F.col("url_hash").alias("h")).collect())


def test_cuckoo_distributed_delete(spark):
    """One cogroup applies deletes before adds; deleted keys route as new."""
    from crawlspark import schemas
    from crawlspark.seen import PartitionedCuckoo, distributed_cuckoo_update

    n_buckets, m, slots = 4, 1 << 10, 4
    a = spark.range(300).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    ck_df = distributed_cuckoo_update(a, None, m, slots, n_buckets)
    ck_df = spark.createDataFrame(ck_df.collect(), schemas.CUCKOO)
    dels = spark.range(100).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    empty = spark.createDataFrame([], "url_hash long")
    ck_df2 = distributed_cuckoo_update(
        empty, ck_df, m, slots, n_buckets, deleted_hashes=dels
    )
    ck = PartitionedCuckoo.from_rows(
        [(r["bucket"], r["table"], r["m"], r["slots"], r["n_buckets"]) for r in ck_df2.collect()]
    )
    kept = np.array(
        [r["url_hash"] for r in a.subtract(dels).collect()], dtype=np.int64
    )
    gone = np.array([r["url_hash"] for r in dels.collect()], dtype=np.int64)
    assert ck.might_contain(kept).all()
    assert ck.might_contain(gone).mean() < 0.05


def test_split_new_vs_seen_cuckoo(spark):
    """split_new_vs_seen accepts cuckoo state in both transports."""
    from crawlspark.seen import PartitionedCuckoo, distributed_cuckoo_update

    batch, seen = _batch_and_seen(spark)
    ck = PartitionedCuckoo(1 << 10, 4, 4)
    ck.add(np.arange(0, 20, 2, dtype=np.int64))
    assert _is_seen_by_url(split_new_vs_seen(batch, seen, ck)) == EXPECTED_SEEN
    ck_df = distributed_cuckoo_update(seen.select("url_hash"), None, 1 << 10, 4, 4)
    out = split_new_vs_seen(batch, seen, ck_df, bloom_buckets=4)
    assert _is_seen_by_url(out) == EXPECTED_SEEN


def test_cuckoo_overfull_raises():
    """An over-capacity cuckoo bucket fails loudly (resize guidance), never
    silently drops a key (which would corrupt seen-set routing)."""
    from crawlspark.seen import PartitionedCuckoo

    ck = PartitionedCuckoo(2, 2, 1, max_kicks=50)  # 4 slots total
    hs = (np.arange(40, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)).view(np.int64)
    with pytest.raises(RuntimeError, match="full"):
        ck.add(hs)


def test_empty_frame_launches_no_task(spark):
    """schemas.empty_frame: the given schema, no rows and no partitions, so
    a scan of it launches no task (createDataFrame([]) launches one Python
    task per default-parallelism slot)."""
    from crawlspark import schemas

    df = schemas.empty_frame(spark, schemas.SEEN)
    assert df.schema == schemas.SEEN
    assert df._jdf.rdd().getNumPartitions() == 0
    assert df.count() == 0


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_first_filter_update_matches_driver_build(spark, kind):
    """A filter update with no previous state (prev=None, an empty frame
    inside) builds the same rows as the driver-side filter over the same
    hashes."""
    from crawlspark.seen import (
        PartitionedCuckoo,
        distributed_bloom_update,
        distributed_cuckoo_update,
    )

    n_buckets = 8
    hashes = spark.range(700).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    hs = np.array([r["url_hash"] for r in hashes.collect()], dtype=np.int64)
    if kind == "bloom":
        got = distributed_bloom_update(hashes, None, 1 << 12, 3, n_buckets)
        ref = PartitionedBloom(1 << 12, 3, n_buckets)
        blob = "bitmap"
    else:
        got = distributed_cuckoo_update(hashes, None, 1 << 8, 4, n_buckets)
        ref = PartitionedCuckoo(1 << 8, 4, n_buckets)
        blob = "table"
    ref.add(hs)
    rows = sorted(
        (r["bucket"], bytes(r[blob]), *tuple(r)[2:]) for r in got.collect()
    )
    assert rows == ref.to_rows()
