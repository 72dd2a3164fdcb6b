"""SparkSession builder with pinned semantics.

The reference engine is SQL Server (single-node, implicit config); here the
session is where we pin everything that affects cross-engine determinism:
UTC session timezone, AQE on (runtime re-plan at scale), shuffle partitions
sized to the local core count (NOT the 200 default, which creates tiny-task
overhead at test scale and would be retuned per-cluster at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "sql_dwh_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # minPartitionSize keeps Spark's 1m default: r19 rejected a 64k floor (net bench loss)
        # local mode = driver-only JVM: driver memory is the only heap knob
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # local mode = driver-only JVM; headless runs don't need the UI
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims in this schema are small; let Catalyst broadcast them eagerly
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # the default 100-entry generated-class cache thrashes when a session
        # runs the full 50-query registry (bench, pytest, the driver's
        # correctness sweep) — evicted classes recompile via Janino at
        # seconds each, which shows up as run-to-run wall-clock oscillation
        # on otherwise identical plans
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
