"""SparkSession factory tuned for the KG-construction workload.

Centralizes the configs that matter at 100 TB scale so every entry point
(tests, bench, spark-submit) gets the same behavior:

- AQE on (runtime coalescing + skew-join splitting — replaces the
  reference's hand-tuned shuffle sizing, reference:
  bulkload/ShuffleStageOptimizer.java:28-116).
- Arrow on (all Python-side stages are pandas/Arrow-vectorized per the
  input contract: no per-row Python UDFs).
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by spark-submit conf (2-3x total executor cores).
- DataFrame origin capture off. PySpark wraps every DataFrame/Column
  call in ``_with_origin``; with the flag on, each call pays a conf
  read, an origin set/clear on the JVM and a Python stack walk. Errors
  keep their class and message, only the Python call-site context goes.
  PySpark caches the flag for the whole process on first read, so it
  must be set when the session is built.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "hbase-rdf-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32)
    so the same code path serves tests, bench.py, and cluster runs
    (where ``master`` is supplied by spark-submit and this arg is None
    but a session already exists).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce by data size, not core count: small shuffles collapse
        # to few tasks instead of always fanning to shuffle.partitions
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
