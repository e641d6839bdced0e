"""get_spark's private directory for Spark's Unix-domain sockets: short enough
for Spark's bound under a long TMPDIR, and gone, with every socket in it,
once the process exits."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _socket_dir_of_a_session(tmpdir: str) -> str:
    """Runs one Python task in a get_spark session with ``TMPDIR=tmpdir``
    and returns the session's socket directory, checking that the task ran
    and that no socket is left behind."""
    code = (
        "from sketchlib.spark.session import get_spark\n"
        "spark = get_spark('sock-dir', cores=2, shuffle_partitions=2)\n"
        "def ident(batches):\n"
        "    yield from batches\n"
        "n = spark.range(64, numPartitions=2).mapInPandas(ident, 'id long').count()\n"
        "print(spark.sparkContext.getConf().get('spark.python.unix.domain.socket.dir'))\n"
        "print(n)\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO, TMPDIR=tmpdir)
    r = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    sock_dir, n = r.stdout.split()[-2:]
    assert n == "64"
    assert not os.path.exists(sock_dir)
    left = [f for _, _, files in os.walk(tmpdir) for f in files if f.endswith(".sock")]
    assert left == []
    return sock_dir


def test_socket_dir_fits_a_long_tmpdir_and_is_removed_at_exit(tmp_path):
    tmpdir = tmp_path / ("d" * 90)
    tmpdir.mkdir()
    assert len(str(tmpdir)) >= 90
    sock_dir = _socket_dir_of_a_session(str(tmpdir))
    assert not sock_dir.startswith(str(tmpdir))  # too long there: moved to /tmp


def test_socket_dir_within_sparks_length_bound():
    """Spark accepts a socket directory of at most 61 characters. A TMPDIR
    where the private directory would be 62 characters, which still leaves
    a socket path shorter than Linux's 107 bytes, moves it to /tmp."""
    base = tempfile.mkdtemp(dir="/tmp")
    try:
        tmpdir = os.path.join(base, "d" * (51 - len(base) - 1))
        os.mkdir(tmpdir)
        assert len(tmpdir) + len("/sk12345678") == 62  # mkdtemp(prefix="sk")
        sock_dir = _socket_dir_of_a_session(tmpdir)
        assert len(sock_dir) <= 61 and not sock_dir.startswith(tmpdir)
    finally:
        shutil.rmtree(base, ignore_errors=True)
