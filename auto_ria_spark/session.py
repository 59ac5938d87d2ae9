"""SparkSession builder with the engine's standard knobs.

Local mode is the test stand-in for a multi-executor cluster; every setting
here is chosen to behave identically at cluster scale (AQE on, explicit
shuffle partitioning, Arrow batching bounded for binary image columns).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "auto-ria-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # static conf: the JVM-wide generated-code cache defaults to 100
        # entries; one crawl wave alone emits several dozen codegen units,
        # so consecutive waves thrashed the cache and re-ran Janino on
        # wave-invariant sources every wave (measured as the bulk of the
        # 0.3-1.0 s per lazy-localCheckpoint toRdd on the driver's
        # critical path).  Sized so a whole run's distinct sources stay
        # resident; ~a few KB of bytecode per entry.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
