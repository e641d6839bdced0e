"""Process-tree bookkeeping: peak resident memory of this process, the JVM and the Python
workers, and an orderly shutdown that waits for all of them to end.

Reads ``/proc`` directly (Linux only) so the benchmark needs no extra
package.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

def _parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        # the command name may hold spaces and parentheses: split after it
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    parents = _parents()
    kids: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of the tree, each page counted once: the sum of the
    proportional set sizes (forked Python workers share most pages, and
    summing plain RSS would count those once per worker)."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) << 10
                        break
        except OSError:
            pass  # exited while scanning
    return total


class PeakRss:
    """Samples the RSS of this process tree every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / (1 << 20)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM gateway and wait until every process
    started under this one (JVM, Python worker daemon and its workers) has
    exited. Workers outlive the JVM briefly and are re-parented when it
    exits, so the wait is on the pids seen before shutdown."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as e:  # the JVM may already be gone
                print(f"gateway shutdown: {e!r}", file=sys.stderr)
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(10)
        wait_ended(started + descendants(os.getpid()), timeout)


def wait_ended(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to end; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    end = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.1)
