"""SparkSession factory with the configuration the engine assumes.

Scale notes (100 TB / 1000-executor design, tested on local[32]):

* AQE on — runtime coalescing of shuffle partitions and skew-join splitting.
* Arrow on — the extraction pandas UDF exchanges columnar batches, not rows.
* ``spark.sql.shuffle.partitions`` defaults to the core count locally; on a real
  cluster this is set to 2-3x total cores (and AQE coalesces down).
* ANSI off — the reference's numeric parse is NULL-on-failure (TRY_CAST
  semantics, /root/reference/src/abcd/abcd_parser.rs:110-114).
* Python workers fork from ``crawlspark.pydaemon``, which starts from a
  byte-compiled pyspark and imports pandas/pyarrow once, before the forks.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crawlspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    import os

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    import sys

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.pyspark.python", sys.executable)
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        .config("spark.python.daemon.module", "crawlspark.pydaemon")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # smaller Arrow batches keep the JVM↔Python pipe streaming: with the
        # default 10k the PythonRunner reader busy-polls (sys-time selector
        # spin) for the whole first-batch latency of a heavy UDF — measured
        # as a 16-thread death spiral in the crawl bench on this build
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("CRAWLSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if shuffle_partitions is None:
        # match parallelism so a single wide stage saturates all cores
        n = master.split("[")[-1].rstrip("]") if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
