"""Generic mergeable-sketch aggregation over DataFrames.

One shape for every sibling sketch (SURVEY.md §2.6 "aggregations"): build
partials map-side with one ``mapInPandas`` pass (zero shuffle, Arrow
batches → vectorized kernel updates) — one per input partition, or one
per group value in each input partition for grouped sketches — then fold
them on the driver from one Arrow collect (``_fold``), with no exchange.
The driver holds every partial at once: one per non-empty input partition
(and group), m/8 bytes for a Bloom partial; a caller with very many input
partitions coalesces its input. Bloom/HLL/CMS/KMV merges (OR/max/add/union)
are byte-deterministic in any order; KLL/t-digest merges depend on fold
order, so every merge folds a group's blobs in sorted byte order.

Built-in cross-checks at query level: ``approx_count_distinct`` (Spark's
HLL++) and ``percentile_approx`` — our sketches must agree with the exact
oracle within bound wherever those do.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
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


def _fold(partials: DataFrame, spec: SketchSpec, keys: list, estimate=None) -> pa.Table:
    """One Spark job, one ``toArrow()`` of the string columns ``keys``,
    ``sketch`` and ``rows``; then, on the driver, each group's blobs merge
    in sorted byte order into one row — the keys, the merged ``sketch`` (or
    ``estimate(sketch)`` as a double ``estimate``) and summed ``rows`` — of
    an Arrow table with that explicit schema, empty for empty partials."""
    groups = {}  # key tuple -> [blobs, rows]
    got = partials.select(*keys, "sketch", "rows").toArrow()
    for *key, blob, rows in zip(*(c.to_pylist() for c in got.columns)):
        g = groups.setdefault(tuple(key), [[], 0])
        g[0].append(blob)
        g[1] += rows
    out_col, out_type = ("sketch", pa.binary()) if estimate is None else ("estimate", pa.float64())
    schema = pa.schema([(k, pa.string()) for k in keys] + [(out_col, out_type), ("rows", pa.int64())])
    out = []
    for key, (blobs, rows) in groups.items():
        m = spec.merge_blobs(sorted(blobs))
        out.append((*key, m.to_bytes() if estimate is None else float(estimate(m)), rows))
    return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in out], schema=schema)


def merge_sketch_partials(partials: DataFrame, spec: SketchSpec) -> DataFrame:
    """One row per (name, kind), folded on the driver by this call's one
    Spark job, as a local relation (acting on it starts no job). The driver
    holds every partial blob at once (module docstring)."""
    return partials.sparkSession.createDataFrame(_fold(partials, spec, ["name", "kind"]))


def build_sketch(df: DataFrame, spec: SketchSpec, col):
    """build + fold in one Spark job: the kernel object on the driver,
    ``spec.make(0)`` for an empty input. The driver holds every partial
    blob at once (module docstring)."""
    blobs = _fold(build_sketch_partials(df, spec, col), spec, []).column("sketch").to_pylist()
    return spec.merge_blobs(blobs) if blobs else spec.make(0)


def build_sketch_grouped(df: DataFrame, group_col: str, spec: SketchSpec, col) -> DataFrame:
    """One merged sketch PER GROUP (e.g. an HLL per language, a t-digest per
    event type) — the grouped form of the mergeable-aggregator pattern, as
    rows ``(group_col, sketch, rows)`` with the group value as a string.

    Each input partition builds one partial per group value it holds, map
    side, then ``_fold`` merges them per group on the driver in this call's
    one Spark job, as a local relation: nothing shuffles, so a hot group's
    rows never converge on one task.
    NULL group keys are dropped — a NULL key breaks downstream estimate
    maps; callers wanting a NULL bucket coalesce to a sentinel first.

    Memory: a build task holds one sketch per distinct group value in its
    partition, and the driver holds groups × non-empty input partitions
    blobs at once, so ``group_col`` must be low-cardinality. Every caller groups by a
    handful of values: ``lang`` (documents, pages), ``event_type``
    (events)."""
    partials = _map_partials(df, spec, col, [group_col])
    return df.sparkSession.createDataFrame(_fold(partials, spec, [group_col]))


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

    return grouped.sparkSession.createDataFrame(_fold(grouped, spec, [group_col], est))


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
