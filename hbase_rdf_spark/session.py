"""SparkSession factory tuned for the KG-construction workload.

Centralizes the configs that matter at 100 TB scale so every entry point
(tests, bench, spark-submit) gets the same behavior. :data:`ENGINE_CONF`
holds the confs that do not depend on where the engine runs; ``get_spark``
and the spark-submit scripts all apply it, and each adds its own master
and parallelism confs:

- AQE on (runtime coalescing + skew-join splitting — replaces the
  reference's hand-tuned shuffle sizing, reference:
  bulkload/ShuffleStageOptimizer.java:28-116).
- Arrow on (all Python-side stages are pandas/Arrow-vectorized per the
  input contract: no per-row Python UDFs).
- DataFrame origin capture off. PySpark wraps every DataFrame/Column
  call in ``_with_origin``; with the flag on, each call pays a conf
  read, an origin set/clear on the JVM and a Python stack walk. Errors
  keep their class and message, only the Python call-site context goes.
  PySpark caches the flag for the whole process on first read, so it
  must be set when the session is built.
- Generated-class cache sized to the engine's working set, so each
  query shape is compiled by Janino once per JVM. Spark keeps 100
  generated classes by default, fewer than one cold ``build_kg`` makes
  (123–126), so every warm build recompiled 57–79 classes and every
  warm append, ``LOAD`` and ``DELETE WHERE`` 38–78, 19–22 and 53–54 (seed
  7, ``local[1]``); half of a warm write's wall time ran no Spark job.
  One build plus 240 template reads with distinct constants (long
  literals are inlined into the generated code) make about 330
  distinct classes, about 500 with the write paths; 2,000 leaves room
  for other query shapes, and with it those warm operations compile
  0–4, 0, 0 and 2 classes. Retained classes cost no measurable memory:
  evicted ones stay loaded too, and after four builds and a round of
  writes and reads Metaspace held 179 MB at 100 and 173 MB at 2,000.
  The conf is static and the cache is sized when the JVM first
  generates code, so it applies only where ``get_spark`` (or a script
  applying :data:`ENGINE_CONF`) builds the process's first session; a
  session built elsewhere, such as one handed to
  ``__spark_entry__.entry``, keeps Spark's 100.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden by spark-submit conf (2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# confs every entry point applies, whatever its master and parallelism
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # generated classes kept per JVM: the working set, with room (see above)
    "spark.sql.codegen.cache.maxEntries": "2000",
}


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

    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # coalesce by data size, not core count: small shuffles collapse
        # to few tasks instead of always fanning to shuffle.partitions
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    return SparkSession.builder.appName(app_name).master(master).config(
        map=conf
    ).getOrCreate()
