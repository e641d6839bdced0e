"""Python-worker daemon for ``get_spark`` sessions: pyspark's daemon, minus
the per-task re-read of every zip archive on ``sys.path``, forking its
workers from a pre-warmed, gc-frozen heap.

pyspark's worker ends ``setup_spark_files`` with ``importlib.invalidate_caches()``
on every task. On CPython 3.11 that makes each ``zipimport.zipimporter``
re-read its archive's whole central directory; a reused worker holds 16 of
them (pyspark.zip and its subpackages, py4j, spark-core's jar), so one call
cost 57-59 ms per task (measured on a 4-core VM). Here an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size, st_ino)`` stamp
differs from the one it recorded at its last re-read, so a rewritten or
replaced archive is still re-read and an unchanged one costs one ``os.stat``.

pyspark's daemon also runs ``gc.collect()`` in a reused worker after every
task. Once the worker's first Arrow task has imported pandas and pyarrow,
each such collect walks their whole heap: a median of 46 ms over 32 tasks
(4-core VM). So the daemon imports what every Arrow task imports
(``pyspark.worker``, ``pyspark.sql.pandas.serializers``, numpy, pandas,
pyarrow), then runs ``gc.collect(); gc.freeze()``: the forked workers inherit
that heap in the permanent generation, their per-task collect walks only
what the task made (0.17 ms), and, as the collector no longer writes to the
frozen objects, the workers keep sharing those pages with the daemon. This
is the pre-fork use the ``gc.freeze`` documentation recommends.

``get_spark`` workers talk to the JVM over Unix-domain sockets, where a write
to a socket the JVM has closed fails at once; :func:`quiet_on_closed_socket`
keeps pyspark's daemon from printing a BrokenPipeError traceback for every
worker the JVM reaps or drops at exit.

Spark starts this module with ``python -m`` (conf ``spark.python.daemon.module``);
the patches, the imports and the freeze happen before ``pyspark.daemon.manager()``
forks any worker, so every worker inherits them. Importing the module changes
nothing and loads only the stdlib.
"""

from __future__ import annotations

import functools
import gc
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


def quiet_on_closed_socket(worker, sock, authenticated):
    """Run pyspark's ``daemon.worker``; if the JVM has closed the socket (it
    reaps workers idle for a minute, and closes them all when it exits),
    end the worker with code 1 instead of printing a BrokenPipeError
    traceback. Over a Unix-domain socket the worker's last flush fails at
    once; over TCP it succeeds, and the worker ends silently."""
    try:
        return worker(sock, authenticated)
    except BrokenPipeError:
        return 1


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # what every Arrow task imports (pyspark.daemon brings pyspark.worker and
    # its serializers), frozen below so forked workers share it
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark import daemon

    daemon.worker = functools.partial(quiet_on_closed_socket, daemon.worker)
    # stamp the daemon's importers once, so forked workers inherit the stamps
    importlib.invalidate_caches()
    gc.collect()
    gc.freeze()
    daemon.manager()
