"""Generic mergeable-sketch aggregation over DataFrames.

One shape for every sibling sketch (SURVEY.md §2.6 "aggregations"): build
partials map-side with one ``mapInPandas`` pass (zero shuffle, Arrow
batches → vectorized kernel updates) — one per input partition, or one
per group value in each input partition for grouped sketches — then merge
the partial blobs in one lazy ``applyInPandas`` stage keyed by sketch or
group. Only blobs shuffle, never rows, so a hot group needs no special
handling. A merge task holds one partial per non-empty input partition; a
caller with very many input partitions bounds it by coalescing the input.
Bloom/HLL/CMS/KMV merges (OR/max/add/union) are byte-deterministic under
any order or partitioning; KLL/t-digest merges depend on fold order, so
every merge folds a group's blobs in sorted byte order, and their bytes
do not depend on shuffle order either.

Built-in cross-checks at query level: ``approx_count_distinct`` (Spark's
HLL++) and ``percentile_approx`` — our sketches must agree with the exact
oracle within bound wherever those do.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sketchlib.kernels.bloom import BloomFilter
from sketchlib.kernels.cms import CountMinSketch
from sketchlib.kernels.hll import HyperLogLog
from sketchlib.kernels.kll import KLLSketch
from sketchlib.kernels.kmv import KMVSketch
from sketchlib.kernels.tdigest import TDigest
from sketchlib.util import i64_to_u64, stable_seed

_HASH_COL = "__sk_hash"
_VAL_COL = "__sk_val"

#: largest finite double — used to exclude ±Inf portably (NaN fails any
#: range check in both Spark and DuckDB, where NaN sorts greatest)
DBL_MAX = 1.7976931348623157e308


def finite_values(col):
    """SQL-aggregate-style input contract for value-fed sketches: NULLs are
    ignored (like SUM/AVG/percentile) and non-finite doubles (NaN/±Inf)
    are excluded — at web scale dirty doubles otherwise poison a quantile
    sketch's ordering/means (fuzz-gate finding). Returns a boolean Column."""
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    return c.isNotNull() & ~F.isnan(c) & (c >= -DBL_MAX) & (c <= DBL_MAX)

#: kind -> (sketch class, input mode); of these only KLL takes a seed
_KINDS = {
    "bloom": (BloomFilter, "hash"),
    "hll": (HyperLogLog, "hash"),
    "cms": (CountMinSketch, "hash"),
    "kll": (KLLSketch, "value"),
    "kmv": (KMVSketch, "hash"),
    "tdigest": (TDigest, "value"),
}


@dataclass(frozen=True)
class SketchSpec:
    """Declares one sketch aggregation: kind + constructor params.

    params: bloom=(m_bits, k) · hll=(p,) · cms=(w, d) · kll=(k,) ·
    tdigest=(delta,) · kmv=(k,)
    """

    name: str
    kind: str
    params: tuple = ()

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"unknown sketch kind {self.kind!r}")
        self.make(0).to_bytes()  # validate params on the driver, serialization included

    def make(self, partition_id: int):
        cls = _KINDS[self.kind][0]
        if cls is KLLSketch:
            return cls(*self.params, seed=stable_seed(self.name, self.kind, partition_id, 42))
        return cls(*self.params)

    @property
    def mode(self) -> str:
        return _KINDS[self.kind][1]

    def merge_blobs(self, blobs):
        return _KINDS[self.kind][0].merge(blobs)


def _map_partials(df: DataFrame, spec: SketchSpec, col, keys: list) -> DataFrame:
    """The one partial build, a single shuffle-free ``mapInPandas`` pass:
    each input partition keeps one sketch per distinct value of the
    ``keys`` columns (one sketch when ``keys`` is empty) and emits one row
    per sketch — the keys as strings, the ``sketch`` blob and its ``rows``.
    Only ``col`` and ``keys`` are scanned; rows with a NULL key are dropped."""
    col = F.col(col) if isinstance(col, str) else col
    if spec.mode == "hash":
        # NULL values are ignored, matching COUNT(DISTINCT ...) semantics —
        # xxhash64(NULL) would otherwise count as one phantom distinct value
        keep, val = col.isNotNull(), F.xxhash64(col).alias(_HASH_COL)
    else:
        keep, val = finite_values(col), col.cast("double").alias(_VAL_COL)
    for k in keys:
        keep = keep & F.col(k).isNotNull()
    sel = df.where(keep).select(*[F.col(k).cast("string").alias(k) for k in keys], val)
    schema = ", ".join([f"{k} string" for k in keys] + ["sketch binary", "rows long"])

    def build(batches):
        pid = TaskContext.get().partitionId()
        parts = {}  # key tuple -> [sketch, rows]
        for pdf in batches:
            if pdf.empty:
                continue
            for key, g in pdf.groupby(keys, sort=False) if keys else [((), pdf)]:
                if key not in parts:
                    parts[key] = [spec.make(pid), 0]
                part = parts[key]
                if spec.mode == "hash":
                    part[0].add_hashes(i64_to_u64(g[_HASH_COL].to_numpy()))
                else:
                    part[0].add_values(g[_VAL_COL].to_numpy(dtype=np.float64))
                part[1] += len(g)
        if parts:
            yield pd.DataFrame(
                [(*key, sk.to_bytes(), rows) for key, (sk, rows) in parts.items()],
                columns=[*keys, "sketch", "rows"],
            )

    return sel.mapInPandas(build, schema)


def build_sketch_partials(df: DataFrame, spec: SketchSpec, col) -> DataFrame:
    """One partial sketch per non-empty input partition, shuffle-free, as
    rows ``(name, kind, sketch, rows)``.

    ``col`` is hashed in-plan with xxhash64 for hash-fed sketches
    (bloom/hll/cms/kmv); value-fed sketches (kll/tdigest) cast it to double.
    Only that single column is scanned.
    """
    return _map_partials(df, spec, col, []).select(
        F.lit(spec.name).alias("name"), F.lit(spec.kind).alias("kind"), "sketch", "rows"
    )


def _merge_by(df: DataFrame, spec: SketchSpec, keys: list, estimate=None) -> DataFrame:
    """One ``applyInPandas`` stage over the string columns ``keys``: fold
    each group's blobs into one sketch, decoding one blob at a time, and
    emit one row per group — the keys, the merged ``sketch`` (or
    ``estimate(sketch)`` as a double column ``estimate``) and summed
    ``rows``."""
    out_col, out_type = ("sketch", "binary") if estimate is None else ("estimate", "double")
    schema = ", ".join([f"{k} string" for k in keys] + [f"{out_col} {out_type}", "rows long"])

    def mrg(key, pdf):
        # sorted: KLL and t-digest merges depend on fold order, and rows
        # arrive in shuffle order
        m = spec.merge_blobs(sorted(bytes(b) for b in pdf["sketch"]))
        out = {k: [v] for k, v in zip(keys, key)}
        out[out_col] = [m.to_bytes() if estimate is None else float(estimate(m))]
        out["rows"] = [int(pdf["rows"].sum())]
        return pd.DataFrame(out)

    return df.groupBy(*keys).applyInPandas(mrg, schema)


def merge_sketch_partials(partials: DataFrame, spec: SketchSpec) -> DataFrame:
    """One row per (name, kind), from one lazy stage in which only the
    blobs shuffle. The merge task holds one partial per non-empty input
    partition; callers with very many input partitions coalesce first."""
    return _merge_by(partials, spec, ["name", "kind"])


def build_sketch(df: DataFrame, spec: SketchSpec, col):
    """build + merge + collect: returns the kernel object on the driver."""
    rows = merge_sketch_partials(build_sketch_partials(df, spec, col), spec).collect()
    if not rows:
        return spec.make(0)
    assert len(rows) == 1
    blob = bytes(rows[0]["sketch"])
    return spec.merge_blobs([blob])


def build_sketch_grouped(df: DataFrame, group_col: str, spec: SketchSpec, col) -> DataFrame:
    """One merged sketch PER GROUP (e.g. an HLL per language, a t-digest per
    event type) — the grouped form of the mergeable-aggregator pattern, as
    rows ``(group_col, sketch, rows)`` with the group value as a string.

    Each input partition builds one partial per group value it holds, map
    side, then one ``applyInPandas`` stage merges the partials per group:
    only blobs shuffle, so a hot group's rows never converge on one task.
    NULL group keys are dropped — a NULL key breaks downstream estimate
    maps; callers wanting a NULL bucket coalesce to a sentinel first.

    Memory: a build task holds one sketch per distinct group value in its
    partition, so ``group_col`` must be low-cardinality. Every caller groups
    by a handful of values: ``lang`` (documents, pages), ``event_type``
    (events)."""
    return _merge_by(_map_partials(df, spec, col, [group_col]), spec, [group_col])


def grouped_estimates(grouped: DataFrame, spec: SketchSpec, group_col: str) -> DataFrame:
    """Materialize per-group estimates from grouped sketches (HLL/KMV →
    cardinality; CMS/bloom → count; KLL/t-digest → median)."""
    kind = spec.kind

    def est(m):
        if kind in ("hll", "kmv"):
            return m.estimate()
        if kind == "cms":
            return m.total
        if kind == "bloom":
            return m.approx_count_distinct()
        return m.quantile(0.5)

    return _merge_by(grouped, spec, [group_col], estimate=est)


def bloom_probe(df: DataFrame, bloom: BloomFilter, key) -> DataFrame:
    """Distributed Bloom membership as a boolean ``member`` column after
    ``df``'s columns: broadcast the bit array, and answer with a
    scalar-iterator ``pandas_udf`` over ``xxhash64(key)`` that decodes the
    bits once per task and probes each Arrow batch in one vectorized call
    (no false negatives; FP within (1-e^{-kn/m})^k). Only the 8-byte hash
    goes to the Python worker and the 1-byte answer comes back; the
    caller's columns stay in the JVM.

    CAUTION: ``key`` must be the SAME expression (including type!) used at
    build time — ``xxhash64(long)`` ≠ ``xxhash64(string)``, so probing a
    cast column against a filter built on the raw column silently misses
    everything. This mirrors the reference's client-hashes contract
    (README.md:40-53): hashing consistency is the caller's responsibility.
    """
    key = F.col(key) if isinstance(key, str) else key
    bc = df.sparkSession.sparkContext.broadcast(bloom.to_bytes())

    def member(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        flt = BloomFilter.from_bytes(bc.value)
        for h in batches:
            yield pd.Series(flt.contains_hashes(i64_to_u64(h)))

    return df.select("*", F.pandas_udf(member, T.BooleanType())(F.xxhash64(key)).alias("member"))
