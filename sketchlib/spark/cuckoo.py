"""Distributed cuckoo filters over Spark DataFrames.

The Spark-native re-expression of the reference's command surface
(``/root/reference/src/redis-cuckoofilter.zig:157-183``; SURVEY.md §2.1):

- ``CF.INIT``   → :class:`CuckooSpec` (declares name/size/fpsize/shards)
- ``CF.ADD``    → :func:`build_filter_direct`, which is
  ``merge_partials(build_partials(...))``: :func:`build_partials` makes
  per-input-partition partials of packed canonical pairs via Arrow-batched
  ``mapInPandas`` (NO shuffle for the build; no per-row Python: each Arrow
  batch is one vectorized kernel call), and :func:`merge_partials` merges
  them in one lazy ``applyInPandas`` stage per (name, shard) shuffling only
  the partial blobs; canonical merge makes the result byte-identical for
  ANY input partitioning or fold path (SURVEY.md §2.3)
- ``CF.CHECK``  → :func:`probe` — merged blobs broadcast once per executor,
  probes answered by a scalar-iterator ``pandas_udf`` that receives only
  the (hash, fp) longs, one vectorized kernel call per Arrow batch
  (semantically a broadcast left-semi join with bounded one-sided false
  positives);
  :func:`probe_cogrouped` for filters too large to broadcast, and
  :func:`probe_auto` choosing between them from the spec alone
- ``CF.REM``    → :func:`remove_keys` — co-grouped ``applyInPandas`` per
  shard; exact-deletion semantics incl. poison-on-miss. It and
  :func:`probe_cogrouped` share one shard co-group, :func:`_by_shard`,
  which keys items by private columns so a caller's columns pass through
- ``CF.FIXTOOFULL`` → :func:`fix_toofull_shards` — a shuffle-free
  ``mapInPandas`` over the merged rows
- ``CF.COUNT`` / ``CF.ISBROKEN`` / ``CF.ISTOOFULL`` → additive/OR-ed header
  fields on the partial rows (plain aggregations)
- incremental maintenance → ``sketchlib.streaming``: the streaming sinks
  fold each micro-batch into the committed state ON THE DRIVER with the
  kernel's ``merge`` / ``add_batch`` (no Spark-side fold, no shuffle).
  Every state change runs through two per-shard helpers over
  :func:`split_by_shard`'s arrays: :func:`merged_row` (builds, merges,
  canonical folds) and :func:`removed_row` (``remove_keys``, retraction).
  :func:`folded_rows` is the one driver-side fold of a bounded item set
  into rows held on the driver: the sinks' commits and the filter of
  :func:`semi_join_via_filter` both run through it

Hashing: every operator takes ``key`` (an expression :func:`with_hash_fp`
hashes in-plan) or ``key=None`` over prepared ``HASH_COL`` / ``FP_COL``
longs. :func:`_hash_fp` is the one place builds, removals and sinks turn
either into items, and it skips NULL keys; probes answer every row.

Scale design (10^12 docs, SURVEY.md §4): the input scan only ever reads the
key column (Catalyst prunes the rest); the only shuffle moves partial blobs
(KBs–MBs each), never rows; ``num_shards`` splits the key space by the HIGH
hash bits so each shard is an independently mergeable/probeable filter —
total filter memory can exceed a single executor by sharding, and the probe
broadcast ships each executor only the blob dictionary once.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sketchlib.kernels.cuckoo import (
    BrokenError,
    CuckooFilter,
    TooFullError,
    canonical_pairs,
    capacity,
    pack_pairs,
    size_for,
)
from sketchlib.util import i64_to_u64, shard_of, stable_seed

#: one row per (sketch name, shard[, build partition]) — the Spark analogue
#: of the reference's keyed filter wrapper (t_cuckoofilter.zig:9-25)
PARTIAL_SCHEMA = (
    "name string, shard int, part_id int, sketch binary, fpcount long, "
    "toofull boolean, broken boolean, rows long, dropped long"
)

HASH_COL = "__cf_hash"
FP_COL = "__cf_fp"
_FP_SALT = "sketchlib::fp::v1"

#: the most filter bytes (``num_shards × size``) a CF.CHECK broadcasts to
#: every executor; a larger filter is probed co-grouped by shard
BROADCAST_LIMIT_BYTES = 256 << 20


@dataclass(frozen=True)
class CuckooSpec:
    """CF.INIT equivalent: declares one distributed filter.

    ``size`` is bytes PER SHARD (power of two, ≥ 2 buckets). The filter is
    hashing-agnostic like the reference (README.md:40-76), and there are two
    ways to hash: pass ``key`` and :func:`with_hash_fp` derives (hash, fp)
    in-plan with xxhash64, or pass ``key=None`` over prepared ``HASH_COL`` /
    ``FP_COL`` long columns. Builds, removals and sinks skip a row whose key
    (or prepared hash or fp) is NULL; probes answer every row.
    """

    name: str
    size: int
    fpsize: int = 2
    num_shards: int = 1
    seed: int = 42

    def __post_init__(self):
        CuckooFilter.create(self.size, self.fpsize)  # validate eagerly
        if self.num_shards < 1 or self.num_shards > 1 << 16:
            raise ValueError("num_shards must be in [1, 65536]")


def _hash_exprs(key) -> tuple[Column, Column]:
    """The two independent in-plan xxhash64 expressions of a key: (hash, fp)."""
    key = F.col(key) if isinstance(key, str) else key
    return F.xxhash64(key), F.xxhash64(key, F.lit(_FP_SALT))


def _probe_items(key) -> tuple[Column, Column, Column]:
    """CF.CHECK's NULL rule, for both probes: ``(h, f, ok)``, the (hash, fp)
    longs a row is answered with, never NULL, and whether it holds an item.
    A keyed row always does (a NULL key hashes like any never-inserted
    key). With ``key=None`` a row whose prepared hash or fp is NULL does
    not and answers False; its longs stand in 0, because one NULL turns a
    pandas batch's longs into lossy float64."""
    if key is not None:
        return (*_hash_exprs(key), F.lit(True))
    h, f = (F.col(c).cast("long") for c in (HASH_COL, FP_COL))
    return F.coalesce(h, F.lit(0)), F.coalesce(f, F.lit(0)), h.isNotNull() & f.isNotNull()


def with_hash_fp(df: DataFrame, key) -> DataFrame:
    """Derive (HASH_COL, FP_COL) from a key column with two independent
    in-plan xxhash64 expressions — one Catalyst projection, JVM-side,
    codegen'd.

    The reference leaves hashing to the client (README.md:40-53); here the
    "client" is the query plan and any expression can be substituted.
    """
    return df.withColumns(dict(zip((HASH_COL, FP_COL), _hash_exprs(key))))


def _hash_fp(df: DataFrame, key) -> DataFrame:
    """The (HASH_COL, FP_COL) longs that builds, removals and sinks insert:
    derived from ``key``, or the caller's prepared columns when ``key`` is
    None. NULL keys are skipped, not inserted: xxhash64(NULL) is the seed,
    so every NULL would otherwise be the same phantom item."""
    if key is None:
        df = df.dropna(subset=[HASH_COL, FP_COL])
        cols = (F.col(c).cast("long") for c in (HASH_COL, FP_COL))
    else:
        key = F.col(key) if isinstance(key, str) else key
        df = df.where(key.isNotNull())
        cols = _hash_exprs(key)
    return df.select(*(e.alias(c) for c, e in zip((HASH_COL, FP_COL), cols)))


def _u64_pairs(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow batch's (HASH_COL, FP_COL) longs as unsigned arrays."""
    return i64_to_u64(pdf[HASH_COL].to_numpy()), i64_to_u64(pdf[FP_COL].to_numpy())


def collect_hash_fp(df: DataFrame, key) -> tuple[np.ndarray, np.ndarray]:
    """The (hash, fp) items ``key`` inserts from ``df``, as unsigned arrays
    collected to the driver in one Arrow job."""
    return _u64_pairs(_hash_fp(df, key).toPandas())


def _shard_col(hash_col: str, num_shards: int) -> Column:
    """In-plan twin of util.shard_of (cross-checked in tests)."""
    return F.pmod(F.shiftrightunsigned(F.col(hash_col), 48), F.lit(num_shards)).cast("int")


def split_by_shard(
    h: np.ndarray, f: np.ndarray, num_shards: int
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Unsigned (hash, fp) arrays split into per-shard arrays, keyed by
    shard id in ascending order; rows keep their order within a shard."""
    sh = shard_of(h, num_shards)
    out = {}
    for s in np.unique(sh):
        m = sh == s
        out[int(s)] = (h[m], f[m])
    return out


# ----------------------------------------------------------------- build


def build_partials(
    df: DataFrame, spec: CuckooSpec, key=None, skip_pids: set | None = None
) -> DataFrame:
    """CF.ADD, distributed: one partial per (input partition × shard), built
    shuffle-free with ``mapInPandas`` (a task's Arrow batches → one
    vectorized ``canonical_pairs`` call per shard).

    A partial is a packed canonical-pair blob — ~12 bytes/row, NO kicking,
    no PRNG — so shuffle volume scales with data, never with partitions ×
    filter size. Its bytes follow within-partition row order; the canonical
    merge sorts the pairs, so the MERGED filter is invariant.

    ``skip_pids`` (checkpoint resume): partitions whose partials already
    exist emit nothing. The skip happens INSIDE this operator so the resumed
    plan is identical to the original — inserting a filter between an
    upstream repartition and this build would change projection pushdown and
    thereby the row→partition assignment of round-robin exchanges.
    """
    sel = _hash_fp(df, key)
    name, size, fpsize, num_shards = spec.name, spec.size, spec.fpsize, spec.num_shards

    def build(batches):
        pid = TaskContext.get().partitionId()
        if skip_pids and pid in skip_pids:
            return
        pairs = [_u64_pairs(pdf) for pdf in batches if not pdf.empty]
        if pairs:
            shards = split_by_shard(*(np.concatenate(a) for a in zip(*pairs)), num_shards)
            rows = [len(h) for h, _ in shards.values()]
            yield pd.DataFrame(
                {
                    "name": name,
                    "shard": list(shards),
                    "part_id": pid,
                    "sketch": [
                        pack_pairs(*canonical_pairs(h, f, size, fpsize), size, fpsize)
                        for h, f in shards.values()
                    ],
                    "fpcount": rows,
                    "toofull": False,
                    "broken": False,
                    "rows": rows,
                    "dropped": 0,
                }
            )

    return sel.mapInPandas(build, PARTIAL_SCHEMA)


# ----------------------------------------------------------------- merge


def _filter_row(name: str, shard: int, flt: CuckooFilter, rows: int, dropped: int) -> dict:
    """The PARTIAL_SCHEMA row of one shard's built filter; ``part_id`` is
    -1 because a built filter spans input partitions."""
    return {
        "name": name,
        "shard": shard,
        "part_id": -1,
        "sketch": flt.to_bytes(),
        "fpcount": flt.fpcount,
        "toofull": flt.is_toofull(),
        "broken": flt.is_broken(),
        "rows": rows,
        "dropped": dropped,
    }


def merged_row(name: str, shard: int, parts: list, fpcount: int, rows: int, dropped: int) -> dict:
    """The row of ``parts`` (holding ``fpcount`` fingerprints) merged
    canonically with the shard's merge seed, the one place it is chosen, so
    every build and fold path gives the same bytes; drops add to ``dropped``."""
    m = CuckooFilter.merge(parts, seed=stable_seed("merge", name, shard), on_toofull="count")
    return _filter_row(name, shard, m, rows, dropped + fpcount - m.fpcount)


def folded_rows(spec: CuckooSpec, prior: dict[int, dict], h, f, mode: str) -> dict[int, dict]:
    """The new state rows after folding items (h, f) into ``prior``.

    Per touched shard: ``"fast"`` adds the batch's lexsorted canonical
    pairs to the committed blob (``add_batch``, O(batch)); ``"canonical"``
    re-merges committed blob + batch through ``merged_row``, so the blob is
    byte-identical to a batch build. A shard's first batch is that merge in
    both modes. Untouched shards keep their row. Raises ``TooFullError``
    if any shard would drop a fingerprint."""
    rows = dict(prior)
    for s, (h_s, f_s) in split_by_shard(h, f, spec.num_shards).items():
        b, fp = canonical_pairs(h_s, f_s, spec.size, spec.fpsize)
        old = prior.get(s, {"fpcount": 0, "rows": 0, "dropped": 0})
        fpcount, n = old["fpcount"] + len(h_s), old["rows"] + len(h_s)
        if mode == "fast" and s in prior:
            flt = CuckooFilter.from_bytes(old["sketch"])
            if (flt.nbytes, flt.fpsize) != (spec.size, spec.fpsize):
                raise ValueError("fold requires the committed filter's (size, fpsize)")
            # canonical order keeps the fold deterministic per batch sequence
            order = np.lexsort((fp, b))
            flt.add_batch(b[order], fp[order], on_toofull="count")
            rows[s] = _filter_row(spec.name, s, flt, n, old["dropped"])
        else:
            pairs = pack_pairs(b, fp, spec.size, spec.fpsize)
            parts = [old["sketch"], pairs] if s in prior else [pairs]
            rows[s] = merged_row(spec.name, s, parts, fpcount, n, old["dropped"])
        if rows[s]["fpcount"] < fpcount:
            raise TooFullError(
                f"filter '{spec.name}' shard {s}: the fold would drop {fpcount - rows[s]['fpcount']} "
                f"fingerprint(s), a silent false negative ({spec.size} B at fpsize {spec.fpsize})"
            )
    return rows


def _merge_group(key, pdf):
    sums = {c: int(pdf[c].sum()) for c in ("fpcount", "rows", "dropped")}
    parts = [bytes(b) for b in pdf["sketch"]]
    return pd.DataFrame([merged_row(str(key[0]), int(key[1]), parts, **sums)])


def merge_partials(partials: DataFrame) -> DataFrame:
    """One row per (name, shard): a single ``applyInPandas`` stage merges
    all of a shard's partials canonically. Only partial blobs shuffle.

    One stage suffices: pair partials cost ~12 B/key, so a shard's task
    holds exactly the pairs it re-inserts, and pre-merging them in earlier
    stages would bound nothing. The result is lazy: a caller that acts on
    it more than once materializes it first.
    """
    return partials.groupBy("name", "shard").applyInPandas(_merge_group, PARTIAL_SCHEMA)


def build_filter_direct(df: DataFrame, spec: CuckooSpec, key=None) -> DataFrame:
    """CF.ADD in one call: ``merge_partials(build_partials(df, spec, key))``.

    Each input partition builds map-side packed canonical-pair partials
    (~12 B/key shuffled, no kicking), and one ``applyInPandas`` stage per
    (name, shard) merges them, so this is the build every path shares by
    construction. The result is lazy: a caller that acts on it more than
    once materializes it first. ``pipeline.checkpointed_build`` differs
    only by persisting the partials for resume.
    """
    return merge_partials(build_partials(df, spec, key))


# ------------------------------------------------------------ driver view


@dataclass
class ShardedCuckoo:
    """Driver-side handle on a merged filter (all shards).

    Exposes the reference's read commands (CF.COUNT/ISBROKEN/ISTOOFULL,
    SURVEY.md §2.1 #5-7) plus vectorized probing for local use; distributed
    probing goes through :func:`probe`.
    """

    spec: CuckooSpec
    filters: dict[int, CuckooFilter] = field(default_factory=dict)
    rows: int = 0
    dropped: int = 0

    @classmethod
    def from_df(cls, merged: DataFrame, spec: CuckooSpec) -> "ShardedCuckoo":
        return cls.from_rows(merged.collect(), spec)

    @classmethod
    def from_rows(cls, rows, spec: CuckooSpec) -> "ShardedCuckoo":
        """From PARTIAL_SCHEMA rows already on the driver (Spark rows or
        dicts); rows of other filter names are skipped."""
        out = cls(spec)
        for r in rows:
            if r["name"] != spec.name:
                continue
            out.filters[r["shard"]] = CuckooFilter.from_bytes(bytes(r["sketch"]))
            out.rows += r["rows"]
            out.dropped += r["dropped"]
        return out

    def count(self) -> int:
        if self.is_broken():
            raise BrokenError("filter is broken")
        return sum(f.fpcount for f in self.filters.values())

    def is_broken(self) -> bool:
        return any(f.broken for f in self.filters.values())

    def is_toofull(self) -> bool:
        return any(f.is_toofull() for f in self.filters.values())

    def memory_usage(self) -> int:
        return sum(f.memory_usage() for f in self.filters.values())

    def digest(self) -> str:
        import hashlib

        h = hashlib.sha256()
        for s in sorted(self.filters):
            h.update(s.to_bytes(4, "little"))
            h.update(self.filters[s].to_bytes())
        return h.hexdigest()

    def blobs(self) -> dict[int, bytes]:
        return {s: f.to_bytes() for s, f in self.filters.items()}

    def contains_arrays(self, h_u64: np.ndarray, f_u64: np.ndarray) -> np.ndarray:
        hit = np.zeros(len(h_u64), dtype=bool)
        sh = shard_of(h_u64, self.spec.num_shards)
        for s in np.unique(sh):
            flt = self.filters.get(int(s))
            if flt is None:
                continue  # empty shard: definitely absent
            m = sh == s
            hit[m] = flt.contains_batch(h_u64[m], f_u64[m], raise_broken_on_miss=False)
        return hit


# ----------------------------------------------------------------- probe


def probe(df: DataFrame, sharded: ShardedCuckoo, key=None, result_col: str = "member") -> DataFrame:
    """CF.CHECK, distributed: broadcast the shard blobs once, answer probes
    with a scalar-iterator ``pandas_udf`` over the two hash columns: each
    task decodes the filter once and answers each Arrow batch with one
    vectorized kernel call, no per-row Python.

    No false negatives; false positives within the width's published bound.
    The exact-SQL oracle of this operator is a left-semi join on the key.

    Performance: only the (hash, fp) longs travel to the Python worker,
    16 B per row, and only the answer comes back, 1 B per row. The caller's
    columns never leave the JVM, and Catalyst prunes those a later select
    drops. The result is ``df``'s columns plus ``result_col``.

    CAUTION: ``key`` must be the SAME expression (including type!) used at
    build time — ``xxhash64(long)`` ≠ ``xxhash64(string)``. Hashing
    consistency is the caller's responsibility, mirroring the reference's
    client-hashes contract (README.md:40-53). Builds skip NULL keys, so a
    NULL probe answers like any never-inserted key; with ``key=None`` a
    row whose prepared hash or fp is NULL answers False.

    DEVIATION from the reference (SURVEY.md §4.1): operating on a
    nonexistent Redis key errors in the reference
    (src/redis-cuckoofilter.zig:243-247, WRONGTYPE/no-such-key); here a
    shard with no blob (never built / empty shard id) answers "definitely
    absent" instead of raising. In a filter library over immutable builds
    the empty filter IS the correct value of an absent shard; callers who
    need strict existence semantics should validate
    ``ShardedCuckoo.filters`` coverage up front.
    """
    bc = df.sparkSession.sparkContext.broadcast(sharded.blobs())
    spec = sharded.spec

    def member(batches: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        filters = ShardedCuckoo(spec, {s: CuckooFilter.from_bytes(b) for s, b in bc.value.items()})
        for h, f in batches:
            yield pd.Series(filters.contains_arrays(i64_to_u64(h), i64_to_u64(f)))

    h, f, ok = _probe_items(key)
    hit = F.when(ok, F.pandas_udf(member, T.BooleanType())(h, f)).otherwise(False)
    return df.select("*", hit.alias(result_col))


def _by_shard(
    merged: DataFrame, items: DataFrame, spec: CuckooSpec, fn, schema, shard: Column | None = None
) -> DataFrame:
    """Co-group each shard's row of ``merged`` with the ``items`` that
    ``shard`` routes to it (by default HASH_COL's shard), one task per
    shard, and return the frames of ``fn(key, rows, items)``, which gets
    the shard's merged rows (at most one) and items as pandas frames. Items
    are keyed by the private ``__cf_name`` / ``__cf_shard`` columns, so a
    caller's own columns pass through; items routed to a NULL shard meet
    no blob. An empty side arrives as a zero-row frame with its columns."""
    if shard is None:
        shard = _shard_col(HASH_COL, spec.num_shards)
    keyed = items.withColumns({"__cf_name": F.lit(spec.name), "__cf_shard": shard})
    return (
        merged.groupby("name", "shard")
        .cogroup(keyed.groupby("__cf_name", "__cf_shard"))
        .applyInPandas(fn, schema)
    )


def probe_cogrouped(merged: DataFrame, probes: DataFrame, spec: CuckooSpec, key=None) -> DataFrame:
    """CF.CHECK without broadcasting: co-group probes with their shard's
    blob (:func:`_by_shard`) and answer each shard's probes in one
    vectorized kernel call.

    The scale path when the total filter exceeds what every executor should
    hold: each task receives exactly ONE shard blob plus that shard's
    probes. Every column of ``probes`` passes through unchanged, as in
    :func:`probe`, and the results are the same (tested), including the
    missing-shard DEVIATION documented there: probes co-grouped with no
    blob return "definitely absent" rather than erroring like the
    reference's missing-key check (src/redis-cuckoofilter.zig:243-247)."""
    keep = probes.columns
    out_schema = T.StructType(probes.schema.fields + [T.StructField("member", T.BooleanType())])
    h, f, ok = _probe_items(key)
    # a row without an item joins no shard, so no group mixes NULLs into
    # the longs of rows that have one
    items = probes.select("*", h.alias("__cf_h"), f.alias("__cf_f"))

    def run(_, left, right):
        filters = ShardedCuckoo.from_rows(left.to_dict("records"), spec)
        hf = (i64_to_u64(right[c].to_numpy()) for c in ("__cf_h", "__cf_f"))
        return right[keep].assign(member=filters.contains_arrays(*hf))

    shard = F.when(ok, _shard_col("__cf_h", spec.num_shards))
    return _by_shard(merged, items, spec, run, out_schema, shard)


def probe_auto(
    merged: DataFrame,
    probes: DataFrame,
    spec: CuckooSpec,
    key=None,
    broadcast_limit_bytes: int = BROADCAST_LIMIT_BYTES,
) -> DataFrame:
    """CF.CHECK with automatic physical strategy, decided from the spec
    alone (no Spark job): broadcast the shard blobs (:func:`probe`) when
    the whole filter, ``num_shards × size`` bytes, fits in
    ``broadcast_limit_bytes`` (tune to executor memory), else co-group
    probes with their shard (:func:`probe_cogrouped`). A dense shard blob
    is always ``size`` bytes plus a fixed header. Both paths return
    identical results (tested)."""
    if spec.num_shards * spec.size <= broadcast_limit_bytes:
        return probe(probes, ShardedCuckoo.from_df(merged, spec), key=key)
    return probe_cogrouped(merged, probes, spec, key=key)


def semi_join_via_filter(
    big: DataFrame,
    small: DataFrame,
    big_key,
    small_key,
    fpsize: int = 2,
    name: str = "semijoin",
) -> DataFrame:
    """Sketch-accelerated semi join (a distributed runtime filter — the
    classic use of these sketches in a query engine): build a cuckoo filter
    on ``small``'s keys, probe ``big`` through it BEFORE any join shuffle,
    then remove the filter's false positives with an exact left-semi join
    over the (now tiny) survivors. Output is exact — no false negatives
    means the pre-filter never drops a true match, and the exact join
    drops the ≤bound false positives.

    Why it scales: the filter blob is ~``fpsize`` bytes/key — bounded by
    the SMALL side, like a broadcast join's hash table but ~50× smaller,
    so it fits where a broadcast join wouldn't; the big side is filtered
    map-side (no shuffle), and only ``selectivity + fp_rate`` of it ever
    reaches the exchange. The pre-filter only pays off map-side: when the
    filter (``8 × size`` bytes, known from the key count) exceeds
    ``BROADCAST_LIMIT_BYTES``, a co-grouped probe would shuffle all of
    ``big`` into 8 tasks before the join shuffles the survivors again, so
    no filter is built and the result is the exact left-semi join alone.

    ``big_key``/``small_key`` must be the same TYPE (the probe hashing
    contract, see :func:`probe`).

    The filter is built on the DRIVER, like a sink commit: one Arrow
    collect of the distinct keys' (hash, fp), at most ``cap + 1`` rows
    where ``cap`` is the slot count of 8 shards under
    ``BROADCAST_LIMIT_BYTES`` (no larger key set could broadcast), folded
    per shard by :func:`folded_rows`. No key table is cached, and the
    collect both sizes and fills the filter. Driver memory: 16 B per
    collected row, at most 512 MiB at FP8, 256 MiB at FP16 and 128 MiB at
    FP32; the broadcast then holds up to ``8 × size`` ≤ 256 MiB of blobs.
    When the key set is too large, the same collect stops at ``cap + 1``
    rows, which costs one single-partition exchange of at most ``cap + 1``
    16-byte rows per input partition; this has not been measured at scale.

    Exactness guard: the filter holds the DISTINCT keys (a duplicate-keyed
    small side would overflow a bucket with identical fingerprints), and
    the fold raises ``TooFullError`` when any fingerprint would drop, a
    silent false negative. A homeless fingerprint is not a drop: probes
    check the homeless slot, so a too-full filter alone does not raise.
    """
    big_key = F.col(big_key) if isinstance(big_key, str) else big_key
    small_key = F.col(small_key) if isinstance(small_key, str) else small_key
    keys = small.select(small_key.alias("__k")).distinct()
    cap = capacity(BROADCAST_LIMIT_BYTES // 8, fpsize)
    # hashed before the limit, so its exchange moves 16-byte rows, not keys
    h, f = _u64_pairs(_hash_fp(keys, F.col("__k")).limit(cap + 1).toPandas())
    spec = CuckooSpec(name, max(size_for(max(len(h), 1), fpsize), 1024), fpsize, num_shards=8)
    # size_for gives each key >= fpsize bytes, so cap + 1 keys never fit
    if spec.num_shards * spec.size <= BROADCAST_LIMIT_BYTES:
        sc = ShardedCuckoo.from_rows(folded_rows(spec, {}, h, f, "canonical").values(), spec)
        big = probe(big, sc, key=big_key).filter(F.col("member")).drop("member")
    return (
        big.withColumn("__bk", big_key)
        .join(keys, F.col("__bk") == F.col("__k"), "left_semi")
        .drop("__bk")
    )


def fix_toofull_shards(merged: DataFrame) -> DataFrame:
    """CF.FIXTOOFULL, distributed (reference redis-cuckoofilter.zig:325-353):
    try to re-home each shard's homeless fingerprint, row by row in a
    shuffle-free ``mapInPandas``. Shards that stay too full keep the flag
    (the reference errors; the flag carries it here)."""

    def fix(batches):
        for pdf in batches:
            out = []
            for r in pdf.to_dict("records"):
                flt = CuckooFilter.from_bytes(bytes(r["sketch"]))
                try:
                    flt.fix_toofull()
                except TooFullError:
                    pass
                out.append(_filter_row(r["name"], r["shard"], flt, r["rows"], r["dropped"]))
            if out:
                yield pd.DataFrame(out)

    return merged.mapInPandas(fix, PARTIAL_SCHEMA)


# ---------------------------------------------------------------- remove


def removed_row(spec: CuckooSpec, name: str, shard: int, row, h, f) -> dict:
    """``row`` after CF.REM of the unsigned items (h, f) in canonical order,
    so the blob does not depend on arrival order. A never-built shard (no
    ``row``) is a poisoned empty filter (reference semantics); a poisoned
    shard carries ``broken`` in its row instead of raising."""
    if row is None:
        flt = CuckooFilter.create(spec.size, spec.fpsize, seed=stable_seed(name, shard, spec.seed))
        rows = dropped = 0
    else:
        flt = CuckooFilter.from_bytes(bytes(row["sketch"]))
        rows, dropped = int(row["rows"]), int(row["dropped"])
    order = np.lexsort((f, h))
    try:
        flt.remove_batch(h[order], f[order])
    except BrokenError:
        pass
    return _filter_row(name, shard, flt, rows, dropped)


def remove_keys(merged: DataFrame, keys_df: DataFrame, spec: CuckooSpec, key=None) -> DataFrame:
    """CF.REM, distributed: co-group the merged shard rows with the
    to-remove keys per shard (:func:`_by_shard`) and run one vectorized
    ``remove_batch`` per shard. Exact-deletion semantics are the
    reference's: removing a never-inserted key permanently poisons that
    shard (``broken``).

    Keys are sorted canonically inside each shard so the resulting blob is
    independent of ``keys_df``'s partitioning and row order. NULL keys are
    skipped, as at build time, so they never poison a shard.
    """

    def rem(key_tuple, left, right):
        row = None if left.empty else left.iloc[0]
        shard = int(key_tuple[1])
        return pd.DataFrame([removed_row(spec, str(key_tuple[0]), shard, row, *_u64_pairs(right))])

    return _by_shard(merged, _hash_fp(keys_df, key), spec, rem, PARTIAL_SCHEMA)
