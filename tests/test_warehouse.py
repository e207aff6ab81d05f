"""Warehouse: atomic manifest commits, snapshot vs append reads, idempotency
(the Iceberg-pointer contract replacing database_sink.rs:258-284)."""

from crawlspark.warehouse import Warehouse


def test_snapshot_and_append_semantics(spark, tmp_path):
    wh = Warehouse(tmp_path / "wh")
    s0 = spark.createDataFrame([(1, "a")], ["id", "v"])
    a0 = spark.createDataFrame([(0, 10)], ["round", "n"])
    assert wh.commit_round(0, snapshots={"state": s0}, appends={"facts": a0})

    s1 = spark.createDataFrame([(2, "b")], ["id", "v"])
    a1 = spark.createDataFrame([(1, 20)], ["round", "n"])
    assert wh.commit_round(1, snapshots={"state": s1}, appends={"facts": a1})

    # snapshot: only the latest round is visible
    assert [tuple(r) for r in wh.read_state(spark, "state").collect()] == [(2, "b")]
    # append: union of all committed rounds
    assert sorted(tuple(r) for r in wh.read_appends(spark, "facts").collect()) == [
        (0, 10),
        (1, 20),
    ]
    assert wh.last_round() == 1


def test_recommit_is_noop(spark, tmp_path):
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([(1,)], ["x"])
    assert wh.commit_round(0, snapshots={"t": df})
    assert wh.commit_round(0, snapshots={"t": df}) is False
    assert wh.commit_round(0, appends={"other": df}) is False  # round is sealed


def test_partial_write_invisible_until_manifest(spark, tmp_path):
    """A crash between data write and manifest swap leaves the round
    invisible — the commit point is the manifest os.replace."""
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([(1,)], ["x"])
    wh.commit_round(0, snapshots={"t": df})
    # simulate a crashed round-1 write: directory exists, manifest not updated
    df.write.mode("overwrite").parquet(str(tmp_path / "wh" / "t" / "r000001"))
    assert wh.last_round() == 0
    assert [tuple(r) for r in wh.read_state(spark, "t").collect()] == [(1,)]
    # and the next commit_round(1) replaces the orphan atomically
    df2 = spark.createDataFrame([(2,)], ["x"])
    assert wh.commit_round(1, snapshots={"t": df2})
    assert [tuple(r) for r in wh.read_state(spark, "t").collect()] == [(2,)]


def test_write_once(spark, tmp_path):
    wh = Warehouse(tmp_path / "wh")
    wh.write_once("dim", spark.createDataFrame([("a", "b")], ["name", "hash"]))
    wh.write_once("dim", spark.createDataFrame([("x", "y")], ["name", "hash"]))
    assert [tuple(r) for r in wh.read_state(spark, "dim").collect()] == [("a", "b")]


def test_write_once_repairs_missing_manifest_entry(spark, tmp_path):
    """Crash between os.rename and _write_manifest: the data directory exists
    but the manifest doesn't name it. write_once must repair the manifest
    instead of leaving the table permanently invisible (exact-resume
    guarantee)."""
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([("a", "b")], ["name", "hash"])
    wh.write_once("dim", df)
    # simulate the crash: drop the manifest entry, keep the data dir
    m = wh.manifest()
    del m["tables"]["dim"]
    wh._write_manifest(m)
    wh.write_once("dim", df)  # repair path
    assert wh.has_table("dim")
    assert [tuple(r) for r in wh.read_state(spark, "dim").collect()] == [("a", "b")]


def test_commit_round_footer_stats(spark, tmp_path):
    """stats_cols records row count + min/max from parquet footers in the
    manifest (the reference's post-load ANALYZE analog,
    src/storage/database_sink.rs:408-489)."""
    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame([(k, f"u{k}") for k in range(1, 8)], ["surrogate_key", "url"])
    wh.commit_round(
        0,
        appends={"units": df.sortWithinPartitions("surrogate_key")},
        stats_cols={"units": ["surrogate_key"]},
    )
    st = wh.manifest()["tables"]["units"]["stats"]["0"]
    assert st["rows"] == 7
    assert st["min"]["surrogate_key"] == 1
    assert st["max"]["surrogate_key"] == 7


def test_committed_files_sorted(spark, tmp_path):
    """Sort-on-write: every committed parquet part is ordered by the sort
    key (the CLUSTER analog, S21)."""
    import pyarrow.parquet as pq

    wh = Warehouse(tmp_path / "wh")
    df = spark.createDataFrame(
        [((k * 37) % 101, f"u{k}") for k in range(101)], ["surrogate_key", "url"]
    ).repartition(4)
    wh.commit_round(0, appends={"units": df.sortWithinPartitions("surrogate_key")})
    parts = sorted((tmp_path / "wh" / "units" / "r000000").glob("*.parquet"))
    assert parts
    for p in parts:
        keys = pq.read_table(p, columns=["surrogate_key"])["surrogate_key"].to_pylist()
        assert keys == sorted(keys)


def test_concurrent_commits_serialize(tmp_path):
    """Committers racing on the manifest must not lose each other's updates
    (round-3 ADVICE): same-round racers resolve to exactly ONE winner (the
    flock'd read-modify-write serializes them)."""
    import threading

    import pyarrow as pa

    from crawlspark.warehouse import Warehouse

    wh = Warehouse(tmp_path / "wh")
    results, errs = [], []

    def commit_same_round():
        try:
            results.append(
                Warehouse(tmp_path / "wh").commit_round(
                    1, local_appends={"t": pa.table({"x": [1]})}
                )
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=commit_same_round) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert results.count(True) == 1 and results.count(False) == 5
    m = wh.manifest()
    assert m["tables"]["t"]["rounds"] == [1] and m["last_round"] == 1


def test_absent_table_reads_from_a_thread(spark, tmp_path):
    """Reading an absent table returns an empty frame of the given schema
    through the caller's session, also on a thread where
    SparkSession.getActiveSession() is None."""
    import threading

    from crawlspark import schemas

    wh = Warehouse(tmp_path / "wh")
    out, errs = [], []

    def read_absent():
        try:
            out.append(wh.read_state(spark, "absent", schemas.SEEN))
            out.append(wh.read_appends(spark, "absent", schemas.METRICS))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t = threading.Thread(target=read_absent)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert not errs, errs
    state, appends = out
    assert state.schema == schemas.SEEN and state.count() == 0
    assert appends.schema == schemas.METRICS and appends.count() == 0
