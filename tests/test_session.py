"""get_spark's private directory for Spark's Unix-domain sockets: short enough
for a socket path under a long TMPDIR, and gone, with every socket in it,
once the process exits."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_socket_dir_fits_a_long_tmpdir_and_is_removed_at_exit(tmp_path):
    tmpdir = tmp_path / ("d" * 90)
    tmpdir.mkdir()
    assert len(str(tmpdir)) >= 90
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
    env = dict(os.environ, PYTHONPATH=REPO, TMPDIR=str(tmpdir))
    r = subprocess.run([sys.executable, "-c", code], env=env, cwd=REPO,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    sock_dir, n = r.stdout.split()[-2:]
    assert n == "64"
    assert not sock_dir.startswith(str(tmpdir))  # too long there: moved to /tmp
    assert not os.path.exists(sock_dir)
    left = [f for _, _, files in os.walk(tmpdir) for f in files if f.endswith(".sock")]
    assert left == []
