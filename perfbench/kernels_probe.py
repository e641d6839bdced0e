"""In-process calls to the public kernel functions, made on a workload's
own key hashes and values (traced runs only). Results land in
``ctx.extra["kernels"]`` under their per-layer metric names."""

from __future__ import annotations

import time

import numpy as np

from sketchlib.kernels.cuckoo import CuckooFilter, canonical_pairs, pack_pairs
from sketchlib.spark.agg import SketchSpec
from sketchlib.util import shard_of


def _timed(ctx, name: str, fn):
    with ctx.span(name):
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t


def _filled(spec, h, f) -> CuckooFilter:
    flt = CuckooFilter.create(spec.size, spec.fpsize, seed=spec.seed)
    flt.add_batch(h, f, on_toofull="count")
    return flt


def cuckoo_kernel_metrics(ctx, h: np.ndarray, f: np.ndarray, spec, paths) -> None:
    """One shard's keys against one shard's geometry. ``paths`` picks the
    kernel calls the workload's layers make: "build", "remove", "read"."""
    m = shard_of(h, spec.num_shards) == 0
    h, f = h[m], f[m]
    n = len(h)
    out = ctx.extra.setdefault("kernels", {})
    if "build" in paths:
        (b, fp), dt = _timed(ctx, "kernels.cuckoo.canonical_pairs",
                             lambda: canonical_pairs(h, f, spec.size, spec.fpsize))
        out["kernels.cuckoo.canonical_pairs_ns_per_key"] = dt / n * 1e9
        flt = CuckooFilter.create(spec.size, spec.fpsize, seed=spec.seed)
        _, dt = _timed(ctx, "kernels.cuckoo.add_batch",
                       lambda: flt.add_batch(h, f, on_toofull="count"))
        out["kernels.cuckoo.add_batch_ns_per_key"] = dt / n * 1e9
        parts = [pack_pairs(b[i::4], fp[i::4], spec.size, spec.fpsize) for i in range(4)]
        _, dt = _timed(ctx, "kernels.cuckoo.merge",
                       lambda: CuckooFilter.merge(parts, on_toofull="count"))
        out["kernels.cuckoo.merge_ns_per_key"] = dt / n * 1e9
    if "remove" in paths:
        flt = _filled(spec, h, f)
        k = max(1, n // 10)
        _, dt = _timed(ctx, "kernels.cuckoo.remove_batch", lambda: flt.remove_batch(h[:k], f[:k]))
        out["kernels.cuckoo.remove_batch_ns_per_key"] = dt / k * 1e9
    if "read" in paths:
        flt = _filled(spec, h, f)
        _, dt = _timed(ctx, "kernels.cuckoo.contains_batch",
                       lambda: flt.contains_batch(h, f, raise_broken_on_miss=False))
        out["kernels.cuckoo.contains_batch_ns_per_key"] = dt / n * 1e9
        blob, dt = _timed(ctx, "kernels.cuckoo.to_bytes", flt.to_bytes)
        out["kernels.cuckoo.to_bytes_ms"] = dt * 1e3
        _, dt = _timed(ctx, "kernels.cuckoo.from_bytes", lambda: CuckooFilter.from_bytes(blob))
        out["kernels.cuckoo.from_bytes_ms"] = dt * 1e3


def sibling_kernel_metrics(ctx, tb, siblings, parts: int = 8) -> None:
    """Each sibling kernel fed the ingest table's own column, split into
    ``parts`` partials (the aggregator's shape), then merged."""
    out = ctx.extra.setdefault("kernels", {})
    inputs = {"url": tb.h, "lang": tb.lang_hashes, "ts": tb.ts}
    for kind, params, col in siblings:
        spec = SketchSpec(f"kernel_{kind}", kind, params or tb.bloom)
        data = inputs[col]
        sketches = [spec.make(i) for i in range(parts)]
        add = (lambda s, x: s.add_hashes(x)) if spec.mode == "hash" else (lambda s, x: s.add_values(x))
        chunks = np.array_split(data, parts)

        def feed():
            for s, x in zip(sketches, chunks):
                add(s, x)

        _, dt = _timed(ctx, f"kernels.{kind}.add", feed)
        out[f"kernels.{kind}.add_ns_per_item"] = dt / len(data) * 1e9
        blobs = [s.to_bytes() for s in sketches]
        _, dt = _timed(ctx, f"kernels.{kind}.merge", lambda: spec.merge_blobs(blobs))
        out[f"kernels.{kind}.merge_ms"] = dt * 1e3
