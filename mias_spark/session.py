"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "mias_spark", cpus: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[N] session tuned for the sandbox; on a real cluster the
    same settings ride along spark-submit (jobs/*.py)."""
    from mias_spark.build import N_DICT_BUCKETS
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or int(os.environ.get(
        "MIAS_SHUFFLE_PARTITIONS", str(min(int(cpus) * 2, 64))))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("MIAS_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 32 MiB splits: Arrow-UDF stages get ~4x-cores scan width with
        # ZERO repartition shuffles (a JVM-only scan barely notices)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # small open-cost so scans of few mid-size files still split into
        # >= one task per core (default 4 MiB under-parallelizes the
        # Arrow-UDF tokenize stage on compact corpora)
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        # list a table's partition dirs on the driver, never in a Spark
        # job: the dictionary's N_DICT_BUCKETS dbucket dirs are past
        # the default threshold (32), so every dictionary open (query
        # compile fallback, each ops step) paid a listing job
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(2 * N_DICT_BUCKETS))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
