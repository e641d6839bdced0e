"""The Python-worker daemon of ``get_spark`` sessions (sketchlib.spark._pydaemon):
an importer re-reads its zip archive only when the archive changed, and the
workers of a ``get_spark`` session run with that patch, fork from a gc-frozen
heap and talk to the JVM over a Unix-domain socket."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from sketchlib.spark import _pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_changed_archive_is_reread_unchanged_is_not(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    zmod_a = importlib.import_module("zmod_a")
    assert zmod_a.X == 1
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        importlib.invalidate_caches()  # no stamp recorded yet: re-read
        assert reads.count(archive) == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # unchanged: not re-read

        _write_zip(archive, {"zmod_a.py": "X = 2  # changed\n",
                             "zmod_b.py": "Y = 3\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        assert importlib.import_module("zmod_b").Y == 3
        assert importlib.reload(zmod_a).X == 2
    finally:
        for name in ("zmod_a", "zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_import_loads_no_numpy_and_patches_nothing():
    code = (
        "import sys, zipimport, sketchlib.spark._pydaemon as d\n"
        "print(sorted(m for m in ('numpy', 'pandas') if m in sys.modules),\n"
        "      zipimport.zipimporter.invalidate_caches is d.invalidate_caches)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                         capture_output=True, text=True, check=True).stdout
    assert out.split() == ["[]", "False"]


def test_worker_whose_socket_the_jvm_closed_ends_quietly():
    def closed(sock, authenticated):
        raise BrokenPipeError(32, "Broken pipe")

    def fails(sock, authenticated):
        raise ValueError("not a closed socket")

    assert _pydaemon.quiet_on_closed_socket(closed, None, True) == 1
    assert _pydaemon.quiet_on_closed_socket(lambda sock, auth: 0, None, True) == 0
    with pytest.raises(ValueError):
        _pydaemon.quiet_on_closed_socket(fails, None, True)


def test_get_spark_workers_do_not_reread_unchanged_archives(spark):
    assert spark.conf.get("spark.python.daemon.module") == "sketchlib.spark._pydaemon"

    def rereads(batches):
        # Runs in a Python worker. A zip of its own on sys.path makes the
        # check independent of whether pyspark itself is zipped.
        import importlib
        import os
        import sys
        import tempfile
        import zipfile
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        with tempfile.TemporaryDirectory() as d:
            archive = os.path.join(d, "probe.zip")
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("sketchlib_zip_probe.py", "X = 1\n")
            sys.path.insert(0, archive)
            read = zipimport._read_directory
            try:
                importlib.import_module("sketchlib_zip_probe")
                importlib.invalidate_caches()
                zipimport._read_directory = lambda path: reads.append(path) or read(path)
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read
                sys.path.remove(archive)
                sys.modules.pop("sketchlib_zip_probe", None)
                sys.path_importer_cache.pop(archive, None)
        yield pd.DataFrame({"rereads": [len(reads)]})

    out = (spark.range(4, numPartitions=4)
           .mapInPandas(rereads, "rereads long").toPandas())
    assert len(out) == 4
    assert out["rereads"].tolist() == [0, 0, 0, 0]


def test_get_spark_workers_fork_frozen_and_use_unix_sockets(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"

    def report(batches):
        # runs in a Python worker forked by the session's daemon
        import gc
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                            "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]})

    out = (spark.range(4, numPartitions=4)
           .mapInPandas(report, "frozen long, uds string").toPandas())
    assert len(out) == 4
    assert (out["frozen"] > 0).all()
    assert out["uds"].str.lower().tolist() == ["true"] * 4
