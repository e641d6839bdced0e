"""SparkSession factory tuned for sketchlib workloads.

Local mode is a stand-in for a multi-executor cluster (SURVEY.md §7.3 #6):
partition counts model executors; all scale-sensitive logic (partials per
merge, sharding, salting) is exercised through partitioning.

Python workers run under ``sketchlib.spark._pydaemon`` (conf
``spark.python.daemon.module``). pyspark's worker calls
``importlib.invalidate_caches()`` on every task, and on CPython 3.11 that
re-reads the central directory of every zip archive on the worker's
``sys.path`` (pyspark.zip, py4j, spark-core's jar). Measured on a 4-core VM
under ``local[4]``: one such call inside a worker took 57-59 ms, 0.1 ms
under the daemon, and an identity ``mapInPandas`` over 10k rows in 4
partitions went from ~185 to ~133 ms. The daemon re-reads only archives
that changed. The workers import it from sketchlib, so sketchlib must be
importable by them, as it already must be for every sketchlib UDF.

Sessions built elsewhere keep pyspark's own daemon; that includes
``jobs/*.py``, which call ``SparkSession.builder`` directly. They can opt in
with ``--conf spark.python.daemon.module=sketchlib.spark._pydaemon`` when
sketchlib is on the workers' ``PYTHONPATH``.
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
        .config("spark.python.daemon.module", "sketchlib.spark._pydaemon")
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
