"""Engine table schemas.

``PAGES`` is the authoritative input shape from BASELINE.json's input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

The frontier/seen/metrics tables are the engine-state analogs of the
reference's in-memory structures:

* frontier  ↔ the Pangaea seed list (src/pangaea/search_result.rs:21-33)
* seen      ↔ SurrogateKey's id→key map (src/storage/surrogate_key.rs:5-8)
* metrics   ↔ the log-line counters digested by post_to_slack.py:14-27
* crawl_log ↔ the implicit sequential processing order of src/main.rs:154-267
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), True),
        StructField("priority", IntegerType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("provider", StringType(), True),
        StructField("discovered_round", IntegerType(), True),
        StructField("retries", IntegerType(), True),
    ]
)

ROBOTS = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow_prefixes", ArrayType(StringType()), True),
        StructField("crawl_delay_s", DoubleType(), True),
        StructField("max_per_round", IntegerType(), True),
    ]
)

SEEN = StructType(
    [
        StructField("url", StringType(), False),        # canonical url
        StructField("url_hash", LongType(), False),     # xxhash64(canonical url)
        StructField("surrogate_key", LongType(), False),  # dense, first-seen order
        StructField("first_round", IntegerType(), False),
    ]
)

CRAWL_LOG = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("seq", LongType(), False),       # global order within round
        StructField("url", StringType(), False),     # canonical url
        StructField("host", StringType(), True),
        StructField("fetched", BooleanType(), True),
    ]
)

METRICS = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("fetched", LongType(), True),
        StructField("deduped", LongType(), True),
        StructField("robots_blocked", LongType(), True),
        StructField("retried", LongType(), True),
        StructField("failed", LongType(), True),
        StructField("new_urls", LongType(), True),
        StructField("datasets", LongType(), True),
        StructField("units", LongType(), True),
    ]
)

BLOOM = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bitmap", BinaryType(), False),
        StructField("bits", LongType(), False),
        StructField("k", IntegerType(), False),
        StructField("n_buckets", IntegerType(), False),
    ]
)

CUCKOO = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("table", BinaryType(), False),   # uint16[m][slots] fingerprints
        StructField("m", LongType(), False),         # cuckoo buckets per partition
        StructField("slots", IntegerType(), False),
        StructField("n_buckets", IntegerType(), False),
    ]
)

# per-partition lineage for a round's fetch stage (north_rule counters+lineage)
LINEAGE = StructType(
    [
        StructField("round", IntegerType(), False),
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("rows", LongType(), False),
    ]
)


def empty_frame(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """A 0-row frame of ``schema`` with 0 partitions, so scanning it launches
    no task. ``createDataFrame`` of an empty list instead plans a Python-RDD
    scan over ``defaultParallelism`` partitions, and each of those tasks pays
    a Python worker's fixed cost for no rows. The session is explicit: a
    thread with no active session must not fall back to
    ``SparkSession.getActiveSession()``, which returns None there."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
