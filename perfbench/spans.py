"""Span recording for the benchmark's traced mode.

A span wraps one call from the benchmark into a public function of a
library layer. Spans live in memory and are written out as JSON lines when
the run ends. Spark work done inside a span is attributed to it through a
job group (``SparkContext.setJobGroup``) read back from
``SparkContext.statusTracker()`` after the run, so no library code changes.

With tracing disabled every ``span`` is an empty context, so a traced run
and an untraced run execute exactly the same calls.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def layer_of(name: str) -> str:
    """``spark.cuckoo.probe`` -> ``spark.cuckoo``; all kernels share one layer."""
    layer = name.rsplit(".", 1)[0]
    return "kernels" if layer.startswith("kernels.") else layer


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self.phase = "setup"  # then "timed", then "verify"
        self._stack: list[int] = []
        self._sc = None
        self._t0 = time.perf_counter()

    def attach(self, sc) -> None:
        """Start tagging Spark jobs once a SparkContext exists."""
        self._sc = sc

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            rec = self.spans[span_id]
            self._sc.setJobGroup(rec["group"], rec["name"])

    @contextmanager
    def span(self, name: str, action: str | None = None):
        """``action`` names what forces a lazy call to run inside the span."""
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "action": action,
            "phase": self.phase,
            "group": f"{self.run_id}-{sid}",
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(rec["parent"])
            self.overhead_s += time.perf_counter() - rec["end"]

    def resolve_jobs(self) -> None:
        """Attach Spark job/stage/task counts to every span (inclusive of
        child spans). Waits for the listener bus first: job-end events are
        delivered asynchronously."""
        if not self.enabled or self._sc is None:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self._sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else []:
                    si = st.getStageInfo(s)
                    if si is None:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)
        # children always have larger ids than their parent
        for rec in reversed(self.spans):
            if rec["parent"] is not None:
                parent = self.spans[rec["parent"]]
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    parent[k] += rec[k]

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span counted minus the time its child
        spans cover (children of one span never overlap: one client thread)."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for rec, c in zip(self.spans, child):
            layer = layer_of(rec["name"])
            out[layer] = out.get(layer, 0.0) + (rec["end"] - rec["start"]) - c
        return out

    def by_name(self, name: str) -> list[dict]:
        """Spans of ``name`` from the timed part, or from any phase when the
        timed part made no such call (set-up only calls)."""
        spans = [r for r in self.spans if r["name"] == name]
        return [r for r in spans if r["phase"] == "timed"] or spans

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                out = dict(rec)
                out["start"] = rec["start"] - self._t0
                out["end"] = rec["end"] - self._t0
                f.write(json.dumps(out) + "\n")
