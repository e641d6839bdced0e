"""The two benchmark workloads and the output checks behind them.

Every workload runs against sketchlib's public API from one client thread
(a closed-loop client: each call starts after the previous one returned)
and follows the same shape:

1. set-up: generate the inputs from the seed, build what the timed part
   needs, warm the Python workers and the JIT;
2. timed part: about ``seconds`` of the workload's operations (churn:
   steps until the time is up; ingest: a number of whole passes fixed by
   ``seconds``);
3. verification: final probes whose results feed the end-to-end metrics.

Each operation is counted as attempted; it counts as failed when it raises
or when any of its output checks fails. A failure never aborts the run.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sketchlib.kernels.bloom import optimal_params
from sketchlib.kernels.cuckoo import MAX_ERROR, size_for
from sketchlib.pipeline import generate_pages
from sketchlib.spark.agg import (
    SketchSpec,
    build_sketch_grouped,
    build_sketch_partials,
    merge_sketch_partials,
)
from sketchlib.spark.cuckoo import (
    FP_COL,
    HASH_COL,
    CuckooSpec,
    ShardedCuckoo,
    build_filter_direct,
    build_partials,
    merge_partials,
    probe,
    remove_keys,
    with_hash_fp,
)
from sketchlib.streaming import incremental_cuckoo_sink, read_state
from sketchlib.util import i64_to_u64

from kernels_probe import cuckoo_kernel_metrics, sibling_kernel_metrics
from spans import Tracer

SHARDS = 4
INGEST_PASS_S = 12.5  # one ingest pass on a 4-core 2.1 GHz box, full scale

#: input sizes; "toy" exists for the smoke test only
SCALES = {
    "full": dict(
        partitions=8,
        ingest_rows=300_000,
        ingest_heldout=8_000_000,
        churn_batch=10_000,
        churn_shard_bytes=1 << 17,
        churn_max_steps=30,
        churn_warm_steps=2,  # the first step of a fresh JVM runs ~3x slow, the second ~20%
        churn_fp_step=6,
        churn_heldout=400_000,
    ),
    "toy": dict(
        partitions=4,
        ingest_rows=4_000,
        ingest_heldout=40_000,
        churn_batch=200,
        churn_shard_bytes=1 << 10,
        churn_max_steps=12,
        churn_warm_steps=1,
        churn_fp_step=2,
        churn_heldout=2_000,
    ),
}

#: (kind, params or None for sized-at-run-time, input column)
SIBLINGS = (
    ("hll", (14,), "url"),
    ("kmv", (1024,), "url"),
    ("bloom", None, "url"),
    ("cms", (2048, 5), "lang"),
    ("kll", (256,), "ts"),
    ("tdigest", (200,), "ts"),
)
QUANTILES = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
RANK_EPS = 0.03  # absolute rank error allowed for kll / t-digest


def now() -> float:
    return time.perf_counter()


# --------------------------------------------------------------- context


class Ops:
    """Attempted / failed operation counts; one op = one client request."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self._bad = False

    @contextmanager
    def op(self, name: str):
        self.attempted += 1
        self._bad = False
        try:
            with self.tracer.span(f"bench.{name}"):
                yield
        except Exception:
            self._bad = True
            print(f"operation {name} raised:", file=sys.stderr)
            traceback.print_exc()
        if self._bad:
            self.failed += 1

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        if not ok:
            self._bad = True
            print(f"check failed: {what} {detail}", file=sys.stderr)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    p: dict
    work: str
    ops: Ops = field(init=False)
    extra: dict = field(default_factory=dict)  # per-layer values measured outside spans

    def __post_init__(self):
        self.ops = Ops(self.tracer)

    def span(self, name: str, action: str | None = None):
        return self.tracer.span(name, action)


@dataclass
class Result:
    lat_s: list  # per-operation wall time of the timed part
    items: int  # items the timed operations processed
    fp_ratio: float
    bytes_per_key: float


# --------------------------------------------------------------- inputs


def gen_pages(ctx: Ctx, n: int, cols: list[str]) -> DataFrame:
    with ctx.span("pipeline.generate_pages", "localCheckpoint(eager=True)"):
        return (
            generate_pages(ctx.spark, n, seed=ctx.seed, partitions=ctx.p["partitions"])
            .select(*cols)
            .localCheckpoint(eager=True)
        )


def heldout_keys(ctx: Ctx, n: int) -> DataFrame:
    """Urls on a host no generated page uses, so none was ever inserted."""
    prefix = f"https://heldout{ctx.seed}.example.org/p/"
    return (
        ctx.spark.range(n, numPartitions=ctx.p["partitions"])
        .select(F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url"))
        .localCheckpoint(eager=True)
    )


def heldout_pairs(ctx: Ctx, n: int) -> np.ndarray:
    """Uniform random (hash, fingerprint) pairs: what a never-inserted key
    looks like to a filter under a good 64-bit hash. Far cheaper than
    hashing millions of held-out strings, which the FP16 rate needs."""
    rng = np.random.default_rng([ctx.seed, 2])
    return rng.integers(0, 2**64, (2, n), dtype=np.uint64, endpoint=False)


def hashes_of(df: DataFrame, *extra) -> pd.DataFrame:
    """(h, f) key hashes exactly as the filter build functions derive them."""
    return (
        with_hash_fp(df, "url")
        .select(F.col(HASH_COL).alias("h"), F.col(FP_COL).alias("f"), *extra)
        .toPandas()
    )


def u64(s: pd.Series) -> np.ndarray:
    return i64_to_u64(s.to_numpy(dtype=np.int64))


def shard_bytes(n: int, fpsize: int) -> int:
    return size_for(math.ceil(n / SHARDS), fpsize)


def fp_allowance(probes: int, bound: float) -> float:
    """Largest false-positive count still consistent with ``bound``: the
    bound's expected count plus six standard deviations."""
    m = probes * bound
    return m + 6 * math.sqrt(m) + 1


def digest_inputs(inputs: dict) -> str:
    """Order-independent digest of generated DataFrames and arrays."""
    h = hashlib.sha256()
    for name in sorted(inputs):
        v = inputs[name]
        h.update(name.encode())
        if isinstance(v, DataFrame):
            row = v.select(
                F.count(F.lit(1)),
                F.sum(F.xxhash64(*v.columns).cast("decimal(38,0)")),
            ).first()
            h.update(repr(tuple(row)).encode())
        else:
            v = np.asarray(v)
            h.update(v.tobytes() if v.dtype != object else "\x00".join(v).encode())
    return h.hexdigest()


# --------------------------------------------------------------- checks


def check_filter(ctx: Ctx, sc: ShardedCuckoo, h, f, n: int, what: str) -> None:
    ctx.ops.check(f"{what}: not broken", not sc.is_broken())
    if sc.is_broken():
        return
    ctx.ops.check(f"{what}: count", sc.count() == n, f"{sc.count()} != {n}")
    ctx.ops.check(f"{what}: dropped", sc.dropped == 0, str(sc.dropped))
    miss = int((~sc.contains_arrays(h, f)).sum())
    ctx.ops.check(f"{what}: false negatives", miss == 0, str(miss))


def check_fp(ctx: Ctx, fp: int, probes: int, fpsize: int, what: str) -> None:
    lim = fp_allowance(probes, MAX_ERROR[fpsize])
    ctx.ops.check(f"{what}: fp rate within bound", fp <= lim, f"{fp} > {lim:.1f} of {probes}")


def blob_bytes(sc: ShardedCuckoo) -> int:
    return sum(len(b) for b in sc.blobs().values())


def timed_loop(seconds: float, min_ops: int, max_ops: int | None = None):
    """Yields operation indices until ``min_ops`` ran and the next operation,
    at the mean duration so far, would end more than half of itself past
    ``seconds``: a run of long operations then ends within half an
    operation of ``seconds`` on either side."""
    t0 = now()
    i = 0
    while max_ops is None or i < max_ops:
        t = now()
        if i >= min_ops and t + 0.5 * (t - t0) / max(i, 1) >= t0 + seconds:
            return
        yield i
        i += 1


# --------------------------------------------------------------- ingest


@dataclass
class IngestTable:
    df: DataFrame
    takedown: DataFrame
    n: int
    h: np.ndarray
    f: np.ndarray
    kept: np.ndarray  # mask of keys that survive the takedown
    lang_h: dict  # lang -> (hash, true count)
    lang_hashes: np.ndarray
    lang_distinct: dict
    ts: np.ndarray  # sorted warc_ts micros
    bloom: tuple


def takedown_expr(seed: int):
    """The 10% of urls the takedown removes, chosen by the seed."""
    return F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(10)) == 0


def ingest_inputs(ctx: Ctx) -> dict:
    return {
        "pages": gen_pages(ctx, ctx.p["ingest_rows"], ["url", "lang", "warc_ts"]),
        "heldout": heldout_pairs(ctx, ctx.p["ingest_heldout"]),
    }


def ingest_table(ctx: Ctx, df: DataFrame) -> IngestTable:
    """Ground truth for the checks, computed once per table in set-up."""
    td = takedown_expr(ctx.seed)
    pdf = hashes_of(
        df,
        F.xxhash64("lang").alias("lh"),
        "lang",
        F.unix_micros("warc_ts").alias("ts"),
        td.alias("td"),
    )
    exact = df.groupBy("lang").agg(F.countDistinct("url").alias("d")).collect()
    langs = pdf.groupby("lang").agg(lh=("lh", "first"), c=("lh", "size"))
    n = len(pdf)
    return IngestTable(
        df=df,
        takedown=df.where(td).select("url").localCheckpoint(eager=True),
        n=n,
        h=u64(pdf["h"]),
        f=u64(pdf["f"]),
        kept=~pdf["td"].to_numpy(dtype=bool),
        lang_h={k: (int(r.lh), int(r.c)) for k, r in langs.iterrows()},
        lang_hashes=u64(pdf["lh"]),
        lang_distinct={r["lang"]: r["d"] for r in exact},
        ts=np.sort(pdf["ts"].to_numpy(dtype=np.float64)),
        bloom=optimal_params(n, 0.01),
    )


def _sibling_col(name: str):
    return F.unix_micros("warc_ts") if name == "ts" else F.col(name)


def _check_sibling(ctx: Ctx, kind: str, sk, tb: IngestTable) -> None:
    distinct = sum(tb.lang_distinct.values())
    if kind == "hll":
        err = abs(sk.estimate() - distinct) / distinct
        ctx.ops.check("hll error", err <= 3 * 1.04 / math.sqrt(sk.m) + 0.01, f"{err:.4f}")
    elif kind == "kmv":
        err = abs(sk.estimate() - distinct)
        ctx.ops.check("kmv error", err <= 3 * sk.rel_error * distinct + 1, f"{err:.0f}")
    elif kind == "bloom":
        ctx.ops.check("bloom false negatives", bool(sk.contains_hashes(tb.h).all()))
    elif kind == "cms":
        for lang, (lh, c) in tb.lang_h.items():
            est = int(sk.query_hashes(np.array([lh], dtype=np.int64).view(np.uint64))[0])
            ctx.ops.check(f"cms count {lang}", est >= c, f"{est} < {c}")
    else:
        for q in QUANTILES:
            est = sk.quantile(q)
            lo = np.searchsorted(tb.ts, est, side="left") / len(tb.ts)
            hi = np.searchsorted(tb.ts, est, side="right") / len(tb.ts)
            ok = lo - RANK_EPS <= q <= hi + RANK_EPS
            ctx.ops.check(f"{kind} q{q}", ok, f"rank [{lo:.4f}, {hi:.4f}]")


def ingest_pass(ctx: Ctx, tb: IngestTable, spec: CuckooSpec, lat: list) -> ShardedCuckoo:
    """One full pass: both cuckoo builds, the takedown, the sibling sketches
    and the grouped sketch. Appends each call's wall time to ``lat``."""
    ops, trace = ctx.ops, ctx.tracer.enabled
    direct = merged = None
    with ops.op("build_filter_direct"):
        t = now()
        with ctx.span("spark.cuckoo.build_filter_direct", "localCheckpoint(eager=True)"):
            ddf = build_filter_direct(tb.df, spec, key="url").localCheckpoint(eager=True)
        with ctx.span("spark.cuckoo.from_df", "collect"):
            direct = ShardedCuckoo.from_df(ddf, spec)
        lat.append(now() - t)
        check_filter(ctx, direct, tb.h, tb.f, tb.n, "direct build")

    with ops.op("build_filter"):
        t = now()
        with ctx.span("spark.cuckoo.build_partials", "localCheckpoint(eager=True)"):
            parts = build_partials(tb.df, spec, key="url").localCheckpoint(eager=True)
        with ctx.span("spark.cuckoo.merge_partials", "localCheckpoint(eager=True)"):
            merged = merge_partials(parts).localCheckpoint(eager=True)
        with ctx.span("spark.cuckoo.from_df", "collect"):
            resumable = ShardedCuckoo.from_df(merged, spec)
        lat.append(now() - t)
        check_filter(ctx, resumable, tb.h, tb.f, tb.n, "resumable build")
        ops.check("direct digest == resumable digest", direct is not None
                  and direct.digest() == resumable.digest())
        if trace:
            pb = parts.select(F.sum(F.octet_length("sketch"))).first()[0]
            ctx.extra.setdefault("partial_bytes_per_key", []).append(pb / tb.n)

    with ops.op("remove_keys"):
        t = now()
        with ctx.span("spark.cuckoo.remove_keys", "localCheckpoint(eager=True)"):
            rdf = remove_keys(merged, tb.takedown, spec, key="url").localCheckpoint(eager=True)
        with ctx.span("spark.cuckoo.from_df", "collect"):
            removed = ShardedCuckoo.from_df(rdf, spec)
        lat.append(now() - t)
        kept = int(tb.kept.sum())
        check_filter(ctx, removed, tb.h[tb.kept], tb.f[tb.kept], kept, "after takedown")

    for kind, params, col in SIBLINGS:
        sspec = SketchSpec(f"ingest_{kind}", kind, params or tb.bloom)
        with ops.op(f"build_sketch_{kind}"):
            t = now()
            with ctx.span("spark.agg.build_sketch_partials", "localCheckpoint(eager=True)"):
                sparts = build_sketch_partials(tb.df, sspec, _sibling_col(col))
                sparts = sparts.localCheckpoint(eager=True)
            with ctx.span("spark.agg.merge_sketch_partials", "collect"):
                rows = merge_sketch_partials(sparts, sspec).collect()
            lat.append(now() - t)
            ops.check(f"{kind}: one merged row", len(rows) == 1)
            _check_sibling(ctx, kind, sspec.merge_blobs([bytes(rows[0]["sketch"])]), tb)
            if trace:
                pb = sparts.select(F.sum(F.octet_length("sketch"))).first()[0]
                ctx.extra.setdefault("agg_partial_bytes", []).append(pb)

    gspec = SketchSpec("ingest_hll_by_lang", "hll", (12,))
    with ops.op("build_sketch_grouped"):
        t = now()
        with ctx.span("spark.agg.build_sketch_grouped", "collect"):
            rows = build_sketch_grouped(tb.df, "lang", gspec, "url").collect()
        lat.append(now() - t)
        ops.check("grouped: one row per lang", len(rows) == len(tb.lang_distinct))
        bound = 3 * 1.04 / math.sqrt(1 << 12) + 0.01
        for r in rows:
            exact = tb.lang_distinct.get(r["lang"], 0)
            est = gspec.merge_blobs([bytes(r["sketch"])]).estimate()
            ok = exact > 0 and abs(est - exact) / exact <= bound
            ops.check(f"grouped hll {r['lang']}", ok, f"{est:.0f} vs {exact}")
    return direct


def run_ingest(ctx: Ctx, seconds: float, setup_done) -> Result:
    inp = ingest_inputs(ctx)
    tb = ingest_table(ctx, inp["pages"])
    held_h, held_f = inp["heldout"]
    spec = CuckooSpec("ingest", shard_bytes(tb.n, 2), 2, num_shards=SHARDS)
    # no warm-up pass: the first pass of a run is at times 10-20% slower
    # than the next, but a warm-up pass costs ~13 s of set-up whatever the
    # table size (fixed per-call cost), which the run budget cannot afford
    setup_done()

    # a fixed number of passes, not passes until ``seconds`` ran out: a pass
    # takes 10-15 s, so a time limit made the pass count (and with it the
    # share of the first, slower pass) follow the machine's speed
    lat: list[float] = []
    passes = max(1, round(seconds / INGEST_PASS_S))
    direct = None
    for _ in range(passes):
        direct = ingest_pass(ctx, tb, spec, lat)

    ctx.tracer.phase = "verify"
    fp = 0
    with ctx.ops.op("heldout_fp"):
        fp = int(direct.contains_arrays(held_h, held_f).sum())
        check_fp(ctx, fp, len(held_h), 2, "ingest fp16")
    if ctx.tracer.enabled:
        ctx.extra["load_factor"] = direct.count() / (SHARDS * spec.size / 2)
        ctx.extra["dropped"] = direct.dropped
        cuckoo_kernel_metrics(ctx, tb.h, tb.f, spec, ("build", "remove"))
        sibling_kernel_metrics(ctx, tb, SIBLINGS)
    return Result(
        lat_s=lat,
        items=passes * tb.n,
        fp_ratio=fp / (len(held_h) * MAX_ERROR[2]),
        bytes_per_key=blob_bytes(direct) / direct.count(),
    )


# --------------------------------------------------------------- churn


def churn_inputs(ctx: Ctx) -> dict:
    p = ctx.p
    pages = gen_pages(ctx, p["churn_max_steps"] * p["churn_batch"], ["url"])
    return {"pages": pages, "heldout": heldout_keys(ctx, p["churn_heldout"])}


def run_churn(ctx: Ctx, seconds: float, setup_done) -> Result:
    p, ops, spark = ctx.p, ctx.ops, ctx.spark
    inp = churn_inputs(ctx)
    urls = inp["pages"].toPandas()["url"].to_numpy()
    held = hashes_of(inp["heldout"])
    b = p["churn_batch"]
    spec = CuckooSpec("churn", p["churn_shard_bytes"], 1, num_shards=SHARDS)
    state_dir = os.path.join(ctx.work, "churn_state")
    sink = incremental_cuckoo_sink(spec, F.col("url"), state_dir, mode="fast")
    snapshot: list[ShardedCuckoo] = []

    def step(i: int, lat: list) -> None:
        batch = spark.createDataFrame(pd.DataFrame({"url": urls[i * b:(i + 1) * b]}), "url string")
        with ops.op("churn_step"):
            t = now()
            with ctx.span("streaming.sink", "foreachBatch sink (parquet commit)"):
                sink(batch, i)
            with ctx.span("streaming.read_state", "none: lazy, read by from_df"):
                sdf = read_state(spark, state_dir)
            with ctx.span("spark.cuckoo.from_df", "collect"):
                state = ShardedCuckoo.from_df(sdf, spec)
            with ctx.span("spark.cuckoo.probe", "toPandas"):
                hit = probe(batch, state, key="url").select("member").toPandas()["member"]
            lat.append(now() - t)
            ops.check("read-after-write", len(hit) == b and bool(hit.all()))
            ops.check("state count", state.count() == (i + 1) * b, str(state.count()))
            ops.check("state dropped", state.dropped == 0, str(state.dropped))
            if i == p["churn_fp_step"]:
                snapshot.append(state)

    for i in range(p["churn_warm_steps"]):
        step(i, [])
    setup_done()

    lat: list[float] = []
    first = p["churn_warm_steps"]
    committed = first
    min_steps = p["churn_fp_step"] + 1 - first
    for i in timed_loop(seconds, min_steps, p["churn_max_steps"] - first):
        step(first + i, lat)
        committed += 1

    ctx.tracer.phase = "verify"
    fp = 0
    with ops.op("heldout_fp"):
        snap = snapshot[0]
        fp = int(snap.contains_arrays(u64(held["h"]), u64(held["f"])).sum())
        check_fp(ctx, fp, len(held), 1, "churn fp8")
    final = None
    with ops.op("bulk_probe"):
        final = ShardedCuckoo.from_df(read_state(spark, state_dir), spec)
        n = committed * b
        keys = spark.createDataFrame(pd.DataFrame({"url": urls[:n]}), "url string")
        t = now()
        with ctx.span("spark.cuckoo.probe", "count"):
            misses = probe(keys, final, key="url").where(~F.col("member")).count()
        ctx.extra["bulk_probe_keys_per_s"] = n / (now() - t)
        ops.check("bulk probe false negatives", misses == 0, str(misses))
    if ctx.tracer.enabled and final is not None:
        ctx.extra["broadcast_bytes"] = blob_bytes(final)
        ctx.extra["load_factor"] = final.count() / (SHARDS * spec.size)
        ctx.extra["dropped"] = final.dropped
        ctx.extra["state_bytes"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(state_dir) for f in fs
        )
        keys = hashes_of(inp["pages"])
        cuckoo_kernel_metrics(ctx, u64(keys["h"]), u64(keys["f"]), spec, ("build", "read"))
    return Result(
        lat_s=lat,
        items=len(lat) * b,
        fp_ratio=fp / (len(held) * MAX_ERROR[1]),
        bytes_per_key=blob_bytes(snapshot[0]) / snapshot[0].count(),
    )


WORKLOADS = {"ingest": run_ingest, "churn": run_churn}
INPUTS = {"ingest": ingest_inputs, "churn": churn_inputs}
