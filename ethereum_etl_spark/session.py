"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join), shuffle partitions sized to cores
(not the 200 default), Arrow enabled for pandas-UDF exchange, UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.

Every parquet file the engine writes (table data dirs, relay deltas, CLI
exports, sinks, generated logs) is zstd, Iceberg's default
``write.parquet.compression-codec``. Most of a change row is hex strings
(hashes, commits, payloads), which snappy cannot entropy-code: on a
40k-row table zstd stores 114 B per row where snappy stores 199. Parquet
records the codec in every column chunk, so files written with another
codec (snappy tables from before this default, or a session not built
here) read, merge and compact beside zstd ones unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else half the host's RAM in whole GiB (at
    least 1g, at most 24g): in local mode the driver heap holds every
    executor's work, and the rest of RAM is left to the OS page cache and
    Python."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        return os.environ["SPARK_DRIVER_MEMORY"]
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(total // 2**31, 1), 24)}g"


def get_spark(
    app_name: str = "ethereum-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    cores this process may run on), the driver heap to
    ``$SPARK_DRIVER_MEMORY`` (default: half the host's RAM, at most 24g).
    ``shuffle_partitions`` defaults to the core count — on a real cluster
    this would be ~2-3x total executor cores instead.
    """
    cpus = _cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode: one JVM; driver memory is the only knob that matters
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a MOR read or a compaction passes one path per data dir; past this
        # many Spark lists them in a job of its own
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
