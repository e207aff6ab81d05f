"""Structured-Streaming variant of the discovery stage (optional surface).

The reference is pure batch (SURVEY.md §2.2: streaming ops absent); the
engine's round loop is the faithful analog. This module adds the idiomatic
Spark-native *incremental* shape for deployments where the seed list arrives
continuously (e.g. a WARC-drop directory): a file-source stream of frontier
rows, canonicalized + robots-filtered + deduplicated against the persistent
seen set with ``foreachBatch`` micro-batches that reuse the exact batch-round
primitives — one code path for both execution modes.

Scale notes: the stream stays incremental — each micro-batch touches only new
files; the seen-set confirm takes the same bucket-routed prefilter probe as
the batch rounds whenever the warehouse carries a filter state table (exact
join otherwise); checkpointing is Spark's own (offsets) plus the engine
warehouse commit per batch.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .scheduler import enrich
from .seen import split_new_vs_seen
from .warehouse import Warehouse


def _read_stream_query_id(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """Stream query id from ``{checkpoint}/metadata``, resolved through the
    Hadoop FileSystem API so ANY checkpoint URI scheme works (file:, hdfs:,
    s3a:) — a driver-local pathlib read silently returned None for non-local
    URIs, disabling the deleted-and-recreated-checkpoint protection it
    exists for (round-4 advice). Logs a warning when the metadata cannot be
    read, so a degraded guard is visible instead of silent."""
    import json as _json
    import logging

    try:
        jvm = spark._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(str(checkpoint_dir), "metadata")
        fs = path.getFileSystem(hconf)
        if not fs.exists(path):
            logging.getLogger(__name__).warning(
                "streaming checkpoint %s has no metadata file yet — the "
                "recreated-checkpoint guard is degraded for this epoch",
                checkpoint_dir,
            )
            return None
        stream = fs.open(path)
        try:
            text = jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return _json.loads(text).get("id")
    except Exception as e:  # never fail the stream on guard resolution
        logging.getLogger(__name__).warning(
            "could not read stream query id from %s/metadata (%s) — the "
            "recreated-checkpoint guard is degraded for this epoch",
            checkpoint_dir, e,
        )
        return None


def frontier_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of frontier rows (parquet drops)."""
    return spark.readStream.schema(schemas.FRONTIER).parquet(input_dir)


def discovered_urls_stream(
    spark: SparkSession,
    input_dir: str,
    warehouse: Warehouse,
    robots: DataFrame,
    checkpoint_dir: str,
    out_table: str = "discovered",
    filter_table: str | None = "bloom",
    bloom_buckets: int = 32,
):
    """Continuously ingest frontier drops → canonical, robots-filtered,
    unseen urls appended to the warehouse (micro-batch via foreachBatch so
    the batch primitives — enrich/anti-join/commit — are reused verbatim).

    Dedup is against BOTH the persistent seen set and every previously
    committed ``out_table`` append (a URL arriving in two drops lands once;
    the stream never writes 'seen', so the prior-appends anti-join is what
    makes the output-unique property hold across micro-batches). The prior
    appends are read from the ``{out_table}_url_hashes`` snapshot that each
    batch commits alongside its append, not from ``out_table`` itself.

    SINGLE-WRITER CONTRACT: ``out_table`` belongs to this stream alone. Once
    the hash snapshot exists, rows another writer appends to ``out_table``
    are not in it, so later micro-batches do not dedup against them. Give
    each stream its own ``out_table``; the snapshot is seeded from
    ``out_table``'s appends only when it does not yet exist. When the
    warehouse carries a prefilter state table (``filter_table``, written by
    the batch crawl loop), the seen confirm takes the same bucket-routed
    probe as the batch rounds; without one it falls back to the exact join
    (streaming-only deployments with an empty seen set pay nothing).

    A ``commit_round`` returning False is checked against the manifest: a
    redelivered batch whose round already carries ``out_table`` is the
    documented idempotent no-op; anything else means another committer
    consumed this stream's round number and the batch FAILS LOUDLY (Spark
    surfaces the error and does not mark the batch done) instead of
    silently dropping its discoveries."""
    stream = frontier_stream(spark, input_dir)
    # commits are keyed on batch_id offset by a PERSISTED per-checkpoint
    # epoch (warehouse.stream_epoch): a micro-batch redelivered on retry OR
    # after a stream restart (committed here, not yet in Spark's checkpoint
    # when the stream died) maps to the same round number and hits
    # commit_round's idempotent no-op — re-reading last_round() at each
    # stream start would re-base such a batch and append it twice.
    # Resolved on the FIRST micro-batch (not at start) so the stream's query
    # id — written to {checkpoint}/metadata by then — rides along: a deleted-
    # and-recreated checkpoint changes the id and stream_epoch fails loudly
    # instead of silently no-opping batch 0 onto a committed round.
    _cache: dict[str, int] = {}

    def _base_round() -> int:
        if "epoch" not in _cache:
            qid = _read_stream_query_id(spark, checkpoint_dir)
            _cache["epoch"] = warehouse.stream_epoch(str(checkpoint_dir), qid)
        return _cache["epoch"]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        seen = warehouse.read_state(spark, "seen", schemas.SEEN)
        bloom = (
            warehouse.read_state(spark, filter_table)
            if filter_table and warehouse.has_table(filter_table)
            else None
        )
        b = enrich(batch_df)
        rb = robots.select("host", "disallow_prefixes")
        b = b.join(F.broadcast(rb), b["chost"] == rb["host"], "left").drop(rb["host"])
        b = b.filter(
            ~F.coalesce(
                F.exists("disallow_prefixes", lambda p: F.col("path").startswith(p)),
                F.lit(False),
            )
        )
        b = split_new_vs_seen(
            b, seen, bloom, bloom_buckets=bloom_buckets
        ).filter(~F.col("is_seen"))
        # cross-batch dedup: URLs already committed by EARLIER micro-batches
        # (the stream never folds its output into 'seen'). The committed
        # hashes live in a compact SNAPSHOT table maintained alongside the
        # appends — one hash-only state read per batch instead of re-reading
        # and unioning EVERY historical append (which grew the per-batch
        # anti-join plan linearly with stream lifetime — round-5 advice).
        # Falls back to the appends union exactly once for warehouses from
        # before this table existed, then snapshots it forward.
        hashes_table = f"{out_table}_url_hashes"
        if warehouse.has_table(hashes_table):
            prior = warehouse.read_state(spark, hashes_table).select("url_hash")
        elif warehouse.has_table(out_table):
            prior = warehouse.read_appends(spark, out_table).select("url_hash")
        else:
            prior = None
        if prior is not None:
            b = b.join(prior, "url_hash", "left_anti")
        out = b.select(
            "url", "curl", "url_hash", "chost", "priority", "warc_ts",
            F.lit(batch_id).alias("batch_id"),
        ).dropDuplicates(["url_hash"]).persist()
        # ^ persisted: the append write and the hash-snapshot union both read
        # it inside one commit wave
        new_hashes = out.select("url_hash")
        if prior is not None:
            new_hashes = prior.unionByName(new_hashes)
        # append via the warehouse so batch and streaming share the commit path
        round_ = _base_round() + int(batch_id) + 1
        committed = warehouse.commit_round(
            round_, appends={out_table: out}, snapshots={hashes_table: new_hashes}
        )
        out.unpersist()
        if not committed:
            t = warehouse.manifest()["tables"].get(out_table, {})
            if round_ in t.get("rounds", []):
                import logging

                logging.getLogger(__name__).info(
                    "stream batch %d -> round %d already committed "
                    "(redelivery no-op)", batch_id, round_,
                )
            else:
                raise RuntimeError(
                    f"stream batch {batch_id} maps to round {round_}, which "
                    f"another committer already consumed WITHOUT this "
                    f"stream's {out_table!r} append — refusing to silently "
                    f"drop the batch (re-base the stream epoch or namespace "
                    f"committers)"
                )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


HOST_STATE_SCHEMA = (
    "host string, batch_rows long, cumulative_rows long, cumulative_priority long"
)


def host_crawl_state_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    per-host crawl-pressure counters maintained across micro-batches AND
    stream restarts (state lives in the Spark checkpoint).

    Each micro-batch emits one row per host touched: rows in this batch plus
    the running totals. Scale shape: state is a fixed-width counter tuple per
    host, hash-partitioned by host by the stateful exchange — the canonical
    Spark stateful design (no unbounded collections in state; the seen-set
    itself stays in the warehouse, not in stream state).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = frontier_stream(spark, input_dir)
    b = enrich(stream).select("chost", "priority")

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        rows = 0
        pri = 0
        for pdf in pdfs:
            rows += len(pdf)
            if len(pdf):
                pri += int(pdf["priority"].sum())
        cum, cum_pri = state.get if state.exists else (0, 0)
        cum += rows
        cum_pri += pri
        state.update((cum, cum_pri))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "batch_rows": [rows],
                "cumulative_rows": [cum],
                "cumulative_priority": [cum_pri],
            }
        )

    out = b.groupBy("chost").applyInPandasWithState(
        update,
        HOST_STATE_SCHEMA,
        "cum long, cum_pri long",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
