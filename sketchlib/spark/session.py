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
that changed, and forks its workers from a gc-frozen heap that already holds
pandas and pyarrow (see its docstring). The workers import it from
sketchlib, so sketchlib must be importable by them, as it already must be
for every sketchlib UDF.

The workers talk to the JVM over Unix-domain sockets
(``spark.python.unix.domain.socket.enabled``). Over the loopback TCP socket
each Arrow task stalled ~40 ms: an identity ``mapInPandas`` over 8 x 500
rows spent ~42 ms per task from its first byte to its end, ~32 ms of it in
pyarrow's ``open_stream`` waiting for the JVM's first Arrow message;
``TCP_NODELAY`` on the Python side did not help. Over a Unix-domain socket
the same task took ~3 ms (4-core VM).

Spark binds each socket at ``<dir>/.<uuid4>.sock``, by default in the JVM's
``java.io.tmpdir``, and a process that exits without stopping its session
leaves one of them behind. Spark rejects a ``<dir>`` longer than 61
characters (a 104-byte ``sun_path`` less the socket's name), and every
Python task then fails. ``get_spark`` therefore gives each
process one private directory, made once by ``tempfile.mkdtemp`` in
``tempfile.gettempdir()`` (so a ``TMPDIR`` keeps the sockets with the
caller's other scratch files), or in ``/tmp`` when the directory there would
be longer than that, and removes it at exit.

Sessions built elsewhere keep loopback TCP and pyspark's own daemon; that
includes ``jobs/*.py``, which call ``SparkSession.builder`` directly. They can
opt in with ``--conf spark.python.daemon.module=sketchlib.spark._pydaemon``
when sketchlib is on the workers' ``PYTHONPATH``, and with ``--conf
spark.python.unix.domain.socket.enabled=true --conf
spark.python.unix.domain.socket.dir=<a short private directory>``, which
they must then remove themselves.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# the longest socket directory Spark accepts: a 104-byte sun_path less the
# "/.<uuid4>.sock" name it appends; a longer one fails every Python task
_SOCK_DIR_MAX = 104 - len("/.") - 36 - len(".sock")


@functools.cache
def _socket_dir() -> str:
    """This process's private directory for Spark's Unix-domain sockets."""
    d = tempfile.mkdtemp(prefix="sk")
    if len(os.fsencode(d)) > _SOCK_DIR_MAX:
        os.rmdir(d)
        d = tempfile.mkdtemp(prefix="sk", dir="/tmp")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


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
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
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
