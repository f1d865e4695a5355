"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB / multi-executor target and merely
*scaled down* locally:

- AQE on (runtime coalescing, skew-join splitting) — the engine's answer to
  residual skew after explicit salting;
- Arrow self-destruct + reasonable batch size for the pandas-UDF hot path;
- shuffle partitions sized to cores locally; on a real cluster this is set
  to ~2-3x total executor cores via spark-submit conf;
- a generated-code cache (``spark.sql.codegen.cache.maxEntries``) of 2048
  classes.  One rollup cycle (tiers, gap-fill, Gorilla and delta-of-delta
  compression, with-x M4) generates 106 distinct classes and the
  non-stream contract registry 1,454, while Spark's LRU default holds 100:
  at the default every warm rollup cycle recompiled 50-70 classes and
  every warm registry pass ~1,970, and recompiled code runs cold
  (un-JITted).
  The value is fixed, not derived: it is a static conf that Spark reads
  once per JVM, and 2048 covers the measured working set with headroom.
  Callers can still override it through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Static: Spark reads it once, when the JVM first generates code.
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "tsdownsample-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
