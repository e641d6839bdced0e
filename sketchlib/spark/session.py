"""SparkSession factory tuned for sketchlib workloads.

Local mode is a stand-in for a multi-executor cluster (SURVEY.md §7.3 #6):
partition counts model executors; all scale-sensitive logic (partials per
merge, sharding, salting) is exercised through partitioning.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "sketchlib",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else None
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores or (os.cpu_count() or 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SKETCHLIB_DRIVER_MEM", "8g"))
        # keep bucketed-table state out of the repo / cwd
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SKETCHLIB_WAREHOUSE", "/tmp/sketchlib_warehouse"))
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
