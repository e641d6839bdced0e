"""Python-worker daemon for ``get_spark`` sessions: pyspark's daemon, minus
the per-task re-read of every zip archive on ``sys.path``.

pyspark's worker ends ``setup_spark_files`` with ``importlib.invalidate_caches()``
on every task. On CPython 3.11 that makes each ``zipimport.zipimporter``
re-read its archive's whole central directory; a reused worker holds 16 of
them (pyspark.zip and its subpackages, py4j, spark-core's jar), so one call
cost 57-59 ms per task (measured on a 4-core VM). Here an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size, st_ino)`` stamp
differs from the one it recorded at its last re-read, so a rewritten or
replaced archive is still re-read and an unchanged one costs one ``os.stat``.

Spark starts this module with ``python -m`` (conf ``spark.python.daemon.module``);
the patch is applied before ``pyspark.daemon.manager()`` forks any worker, so
every worker inherits it. Importing the module changes nothing.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` unless it is unchanged since the last re-read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # stamp the daemon's importers once, so forked workers inherit the stamps
    importlib.invalidate_caches()
    daemon.manager()
