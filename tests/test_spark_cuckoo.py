"""Distributed-semantics tests (SURVEY.md §5 item 3): build/merge/probe/
remove over real Spark DataFrames; merge-order and partition-count
invariance; no-false-negatives; exact deletion; sharding; exact-SQL oracle
equivalence (probe ≡ left-semi join)."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.kernels.cuckoo import CuckooFilter, _prep_fps, size_for
from sketchlib.spark.cuckoo import (
    CuckooSpec,
    ShardedCuckoo,
    build_filter_direct,
    build_partials,
    merge_partials,
    probe,
    remove_keys,
    with_hash_fp,
)
from sketchlib.util import i64_to_u64, shard_of


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_shard_col_matches_kernel(spark):
    """The in-plan shard expression and the kernel shard fn must agree."""
    from sketchlib.spark.cuckoo import _shard_col

    df = spark.range(0, 1000).select(F.xxhash64("id").alias("h"))
    rows = df.withColumn("s", _shard_col("h", 7)).collect()
    h = i64_to_u64(np.array([r["h"] for r in rows], dtype=np.int64))
    expect = shard_of(h, 7)
    assert (expect == np.array([r["s"] for r in rows])).all()


@pytest.mark.parametrize("num_shards", [1, 4])
def test_build_probe_remove_end_to_end(spark, docs, num_shards):
    spec = CuckooSpec(
        name=f"docs16-{num_shards}", size=size_for(2000, 2), fpsize=2, num_shards=num_shards
    )
    merged = build_filter_direct(docs, spec, key=F.col("doc_id").cast("string")).cache()
    sc = ShardedCuckoo.from_df(merged, spec)
    n_docs = docs.count()
    assert sc.count() == n_docs
    assert sc.rows == n_docs
    assert sc.dropped == 0
    assert not sc.is_broken() and not sc.is_toofull()

    # CF.CHECK: no false negatives on every inserted key
    probed = probe(docs, sc, key=F.col("doc_id").cast("string"))
    assert probed.filter(~F.col("member")).count() == 0
    # probe ≡ left-semi join oracle: held-out keys (disjoint id space)
    held = docs.select((F.col("doc_id") + 10_000_000).cast("string").alias("k"))
    fp_hits = probe(held, sc, key="k").filter(F.col("member")).count()
    assert fp_hits / n_docs <= 0.01  # FP16 bound with sample slack

    # CF.REM: delete the 'en' docs, then re-probe
    en = docs.filter(F.col("lang") == "en")
    n_en = en.count()
    removed = remove_keys(merged, en, spec, key=F.col("doc_id").cast("string"))
    sc2 = ShardedCuckoo.from_df(removed, spec)
    assert not sc2.is_broken()
    assert sc2.count() == n_docs - n_en
    rest = probe(docs.filter(F.col("lang") != "en"), sc2, key=F.col("doc_id").cast("string"))
    assert rest.filter(~F.col("member")).count() == 0


def test_merged_blob_partition_invariant(spark, docs):
    """Same input at different partition counts must give a byte-identical
    merged filter (SURVEY.md §2.3)."""
    spec = CuckooSpec(name="inv", size=size_for(2000, 2), fpsize=2, num_shards=2)

    def blob_set(df):
        merged = merge_partials(build_partials(df, spec, key=F.col("doc_id").cast("string")))
        return {(r["shard"]): bytes(r["sketch"]) for r in merged.collect()}

    a = blob_set(docs.repartition(2))
    b = blob_set(docs.repartition(7))
    c = blob_set(docs.repartition(80))  # > 64 partials per shard in one merge task
    assert a == b == c
    # and equals a single-process kernel build over the same keys
    rows = with_hash_fp(docs, F.col("doc_id").cast("string")).select(
        "__cf_hash", "__cf_fp"
    ).collect()
    h = i64_to_u64(np.array([r["__cf_hash"] for r in rows], dtype=np.int64))
    f = i64_to_u64(np.array([r["__cf_fp"] for r in rows], dtype=np.int64))
    from sketchlib.util import stable_seed

    for shard, blob in a.items():
        m = shard_of(h, 2) == shard
        local = CuckooFilter.create(spec.size, spec.fpsize, seed=stable_seed("merge", "inv", shard))
        order = np.lexsort((f[m], h[m]))
        # local canonical build: insert sorted canonical pairs like merge does
        pidx = local._primary_idx(h[m][order])
        fps = _prep_fps(f[m][order], spec.fpsize)
        alt = local._alt_idx_vec(pidx, fps)
        bidx = np.minimum(pidx, alt)
        o2 = np.lexsort((fps, bidx))
        local.add_batch(bidx[o2].astype(np.uint64), fps[o2])
        assert local.to_bytes() == blob


def test_pairs_and_dense_partials_merge_identically(spark, docs):
    """Pair partials and a merged (dense) filter fed back as a partial must
    merge to byte-identical filters — they carry the same canonical
    multiset, so re-canonicalizing a merged state is a no-op."""
    spec = CuckooSpec(name="fmt", size=size_for(2000, 2), fpsize=2, num_shards=2)
    key = F.col("doc_id").cast("string")

    def blobs(df):
        return {r["shard"]: bytes(r["sketch"]) for r in df.collect()}

    p = build_partials(docs.repartition(5), spec, key=key).localCheckpoint(eager=True)
    merged = merge_partials(p).localCheckpoint(eager=True)
    assert blobs(merge_partials(merged)) == blobs(merged)
    # pairs partials are small: ~12B/row, not the filter size
    sizes = [(r["rows"], len(bytes(r["sketch"]))) for r in p.collect()]
    for rows, nbytes in sizes:
        assert nbytes <= 12 * rows + 64


def test_direct_build_bytes_ignore_partitioning(spark, docs):
    """The direct build over ``repartition(7)`` gives the same bytes as the
    partials merge over the file's own partitioning: same sorted canonical
    pairs, same merge seed."""
    spec = CuckooSpec(name="direct", size=size_for(2000, 2), fpsize=2, num_shards=4)
    key = F.col("doc_id").cast("string")
    tree = merge_partials(build_partials(docs, spec, key=key))
    tree = {r["shard"]: bytes(r["sketch"]) for r in tree.collect()}
    direct = {
        r["shard"]: bytes(r["sketch"])
        for r in build_filter_direct(docs.repartition(7), spec, key=key).collect()
    }
    assert direct == tree
    sc = ShardedCuckoo.from_df(build_filter_direct(docs, spec, key=key), spec)
    assert sc.count() == docs.count()


def test_merge_partials_is_lazy(spark, docs):
    """merge_partials over checkpointed partials starts no Spark job; one
    action on its result gives the direct build's filter."""
    spec = CuckooSpec(name="lazy", size=size_for(2000, 2), fpsize=2, num_shards=4)
    key = F.col("doc_id").cast("string")
    parts = build_partials(docs.repartition(7), spec, key=key).localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "test_merge_partials_is_lazy"
    sc.setJobGroup(group, "merge_partials")
    try:
        merged = merge_partials(parts)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        lazy = ShardedCuckoo.from_df(merged, spec)
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    direct = ShardedCuckoo.from_df(build_filter_direct(docs, spec, key=key), spec)
    assert lazy.digest() == direct.digest()


def test_build_plans(spark, docs):
    """The build reads only the key column, drops NULL keys at the scan and
    shuffles nothing; the direct build is that build under one merge stage:
    one exchange on (name, shard) between the map-side partials and the
    per-shard merge, and no reducer over shuffled rows."""
    spec = CuckooSpec(name="plans", size=size_for(2000, 2), fpsize=2, num_shards=4)
    key = F.col("doc_id").cast("string")

    def plan(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema: struct<doc_id:bigint>" in p
        assert "PushedFilters: [IsNotNull(doc_id)]" in p
        return p

    assert "Exchange" not in plan(build_partials(docs, spec, key=key))
    lines = plan(build_filter_direct(docs, spec, key=key)).splitlines()

    def at(node):
        [i] = [i for i, line in enumerate(lines) if node in line]
        return i

    exchange = at("Exchange hashpartitioning")
    assert re.search(r"Exchange hashpartitioning\(name#\d+, shard#\d+, \d+\)", lines[exchange])
    assert at("FlatMapGroupsInPandas [name#") < exchange < at("MapInPandas")


def test_probe_fix_and_semi_join_plans(spark, sf_dir, docs):
    """The co-grouped probe shuffles its probe side on the private
    (__cf_name, __cf_shard) columns, so a caller's own ``name`` passes
    through; fix_toofull_shards works row by row with no exchange; the semi
    join probes the big side map-side under the exact LeftSemi join, with
    no nested loop and no cached table."""
    from sketchlib.spark.cuckoo import fix_toofull_shards, probe_cogrouped, semi_join_via_filter

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    spec = CuckooSpec("plans", size_for(2000, 2), 2, num_shards=4)
    key = F.col("doc_id").cast("string")
    merged = build_filter_direct(docs, spec, key=key).localCheckpoint(eager=True)
    probes = docs.select("doc_id", F.col("lang").alias("name"))
    p = plan(probe_cogrouped(merged, probes, spec, key=key))
    assert re.search(r"hashpartitioning\(__cf_name#\d+, __cf_shard#\d+", p), p
    assert "Exchange" not in plan(fix_toofull_shards(merged))
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "user_id", "event_type")
    building = spark.read.parquet(f"{sf_dir}/customer.parquet").where(F.col("c_mktsegment") == "BUILDING")
    p = plan(semi_join_via_filter(events, building.select("c_custkey"), "user_id", "c_custkey"))
    assert "LeftSemi" in p and "ArrowEvalPython" in p.split("LeftSemi")[-1], p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # no cached key table: any cached scan is the big side's own (another
    # module may have cached events.parquet in this session)
    assert p.count("InMemoryTableScan") == plan(events).count("InMemoryTableScan"), p


def test_remove_nonmember_poisons_shard(spark, docs):
    spec = CuckooSpec(name="poison", size=size_for(2000, 2), fpsize=2)
    merged = build_filter_direct(docs, spec, key=F.col("doc_id").cast("string"))
    ghosts = spark.range(5).select((F.col("id") + 99_000_000).cast("string").alias("k"))
    removed = remove_keys(merged, ghosts, spec, key="k")
    sc = ShardedCuckoo.from_df(removed, spec)
    assert sc.is_broken()


def test_probe_carries_columns(spark, docs):
    spec = CuckooSpec(name="cols", size=size_for(2000, 2), fpsize=2)
    merged = build_filter_direct(docs, spec, key=F.col("doc_id").cast("string"))
    sc = ShardedCuckoo.from_df(merged, spec)
    out = probe(docs.select("doc_id", "lang"), sc, key=F.col("doc_id").cast("string"))
    assert set(out.columns) == {"doc_id", "lang", "member"}
    assert out.count() == docs.count()


def test_probe_ships_only_hash_and_fp(spark, arrow_udf_inputs):
    """The probe is one ArrowEvalPython node whose UDF receives the two
    in-plan xxhash64 longs and nothing else: a wide payload column never
    reaches the Python worker, and a select that drops it prunes it."""
    spec = CuckooSpec(name="ship", size=size_for(3000, 2), fpsize=2, num_shards=4)
    wide = spark.range(3000).selectExpr(
        "CAST(id AS STRING) AS k", "repeat(CAST(id AS STRING), 500) AS payload"
    )
    sc = ShardedCuckoo.from_df(build_filter_direct(wide, spec, key="k"), spec)
    plan, udfs = arrow_udf_inputs(probe(wide, sc, key="k").select("member"))
    assert plan.count("ArrowEvalPython") == 1 and "MapInPandas" not in plan
    [(h, f)] = udfs
    key = r"(?:k#\d+|cast\(id#\d+L as string\))"
    assert re.fullmatch(rf"xxhash64\({key}, 42\)", h), h
    assert re.fullmatch(rf"xxhash64\({key}, sketchlib::fp::v1, 42\)", f), f
    assert "payload" not in plan


def test_probe_answers_equal_the_semi_join_oracle(spark):
    """At FP32 the probe's answers are the left-semi join on the key, over
    probes that carry a binary payload, unchanged: keys of a shard with no
    blob answer False, ``result_col`` names the answer column, and an
    empty frame answers nothing."""
    from sketchlib.spark.cuckoo import HASH_COL, _shard_col

    spec = CuckooSpec(name="oracle", size=size_for(2000, 4), fpsize=4, num_shards=4)
    probes = spark.range(0, 8000, 2, numPartitions=3).selectExpr(
        "concat('key-', id) AS k", "unhex(sha2(concat('key-', id), 256)) AS payload"
    )
    # every third key inserted, none of them in shard 0
    built = (
        with_hash_fp(spark.range(0, 8000, 3).selectExpr("concat('key-', id) AS k"), "k")
        .where(_shard_col(HASH_COL, 4) != 0)
        .select("k")
    )
    sc = ShardedCuckoo.from_df(build_filter_direct(built, spec, key="k"), spec)
    assert sorted(sc.filters) == [1, 2, 3]
    out = probe(probes, sc, key="k", result_col="seen")
    assert out.columns == ["k", "payload", "seen"]
    rows = out.collect()
    assert sorted((r["k"], bytes(r["payload"])) for r in rows) == sorted(
        (r["k"], bytes(r["payload"])) for r in probes.collect()
    )
    want = {r["k"] for r in probes.join(built, "k", "left_semi").collect()}
    assert {r["k"] for r in rows if r["seen"]} == want and len(want) > 300
    empty = probe(probes.limit(0), sc, key="k", result_col="seen")
    assert empty.columns == ["k", "payload", "seen"] and empty.collect() == []


def test_probe_null_prepared_hash_is_absent(spark):
    """With key=None, a row whose prepared hash or fp is NULL answers
    False, as the co-grouped probe answers, and leaves the answers of the
    other rows in its Arrow batch exact (a NULL would turn the batch's
    longs into float64 and lose their low bits)."""
    from sketchlib.spark.cuckoo import FP_COL, HASH_COL, probe_cogrouped

    spec = CuckooSpec(name="nullprep", size=size_for(400, 2), fpsize=2, num_shards=2)
    k = F.col("k")
    keys = spark.range(300, numPartitions=1).select(F.col("id").alias("k"))
    built = keys.withColumns(
        {HASH_COL: F.xxhash64(k), FP_COL: F.xxhash64(k, F.lit("fp"))}
    )
    merged = build_filter_direct(built, spec)
    sc = ShardedCuckoo.from_df(merged, spec)
    probes = built.withColumn(HASH_COL, F.when(k % 10 != 3, F.col(HASH_COL))).withColumn(
        FP_COL, F.when(k % 10 != 7, F.col(FP_COL))
    )
    got = {r["k"]: r["member"] for r in probe(probes, sc).collect()}
    assert got == {i: i % 10 not in (3, 7) for i in range(300)}
    cog = probe_cogrouped(merged, probes.where(k % 10 != 7), spec)
    cog = {r["k"]: r["member"] for r in cog.collect()}
    assert cog == {i: got[i] for i in range(300) if i % 10 != 7}


def test_probe_cogrouped_null_prepared_fp_is_absent(spark):
    """With key=None, a probe row whose prepared fp is NULL answers False
    and leaves its shard's other answers exact (in the shard's pandas frame
    one NULL would turn every fp long into float64 and drop its low bits,
    so inserted keys would answer False). The caller's HASH_COL and FP_COL
    come back unchanged."""
    from sketchlib.spark.cuckoo import FP_COL, HASH_COL, probe_cogrouped

    spec = CuckooSpec(name="nullfp", size=size_for(400, 2), fpsize=2)
    built = spark.range(300, numPartitions=1).select(
        F.col("id").alias("k"),
        F.xxhash64("id").alias(HASH_COL),
        F.xxhash64("id", F.lit("fp")).alias(FP_COL),
    )
    merged = build_filter_direct(built, spec).cache()
    probes = built.withColumn(FP_COL, F.when(F.col("k") != 5, F.col(FP_COL)))
    rows = probe_cogrouped(merged, probes, spec).collect()
    assert {r["k"]: r["member"] for r in rows} == {i: i != 5 for i in range(300)}
    assert sorted(tuple(r)[:3] for r in rows) == sorted(tuple(r) for r in probes.collect())


def test_probe_cogrouped_equals_broadcast(spark, docs):
    from sketchlib.spark.cuckoo import probe_cogrouped

    spec = CuckooSpec(name="cog", size=size_for(2000, 2), fpsize=2, num_shards=4)
    key = F.col("doc_id").cast("string")
    merged = build_filter_direct(docs, spec, key=key).cache()
    sc = ShardedCuckoo.from_df(merged, spec)
    # probes: all inserted + disjoint held-out ids, with a caller's own
    # `name` and `shard` columns that must pass through unchanged
    probes = (
        docs.select("doc_id")
        .union(docs.select((F.col("doc_id") + 5_000_000).alias("doc_id")))
        .select(
            "doc_id",
            F.concat(F.lit("user-"), "doc_id").alias("name"),
            (F.col("doc_id") % 7).cast("int").alias("shard"),
        )
    )
    bkey = F.col("doc_id").cast("string")
    a = Counter(tuple(r) for r in probe(probes, sc, key=bkey).collect())
    b = Counter(tuple(r) for r in probe_cogrouped(merged, probes, spec, key=bkey).collect())
    assert a == b
    member = {doc_id: hit for doc_id, _, _, hit in a}
    assert all(member[r["doc_id"]] for r in docs.select("doc_id").collect())


def test_probe_auto_picks_equivalent_paths(spark, docs):
    """probe_auto dispatches on total blob size: a huge limit takes the
    broadcast path, a zero limit the cogrouped path — identical answers."""
    from sketchlib.spark.cuckoo import probe_auto

    spec = CuckooSpec(name="auto", size=size_for(2000, 2), fpsize=2, num_shards=4)
    key = F.col("doc_id").cast("string")
    merged = build_filter_direct(docs, spec, key=key).cache()
    probes = docs.select("doc_id").union(
        docs.select((F.col("doc_id") + 5_000_000).alias("doc_id"))
    )
    bkey = F.col("doc_id").cast("string")
    via_bc = {
        r["doc_id"]: r["member"]
        for r in probe_auto(merged, probes, spec, key=bkey, broadcast_limit_bytes=1 << 40).collect()
    }
    via_cg = {
        r["doc_id"]: r["member"]
        for r in probe_auto(merged, probes, spec, key=bkey, broadcast_limit_bytes=0).collect()
    }
    assert via_bc == via_cg
    assert all(via_bc[r["doc_id"]] for r in docs.select("doc_id").collect())


def test_probe_auto_decides_from_the_spec(spark, docs):
    """probe_auto broadcasts iff num_shards × size fits the limit, read off
    the spec: the co-grouped branch starts no Spark job before an action."""
    from sketchlib.spark.cuckoo import probe_auto

    spec = CuckooSpec(name="auto-spec", size=size_for(2000, 2), fpsize=2, num_shards=4)
    key = F.col("doc_id").cast("string")
    merged = build_filter_direct(docs, spec, key=key)
    total = spec.num_shards * spec.size
    sc = spark.sparkContext
    group = "test_probe_auto_decides_from_the_spec"
    sc.setJobGroup(group, group)
    try:
        cg = probe_auto(merged, docs, spec, key=key, broadcast_limit_bytes=total - 1)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bc = probe_auto(merged, docs, spec, key=key, broadcast_limit_bytes=total)
    assert "CoGroup" in cg._jdf.queryExecution().executedPlan().toString()
    assert "CoGroup" not in bc._jdf.queryExecution().executedPlan().toString()


def test_cogroup_with_an_empty_side(spark):
    """Shard 2 has a blob but no probes or removal keys; shard 3 has probes
    but no blob. probe_cogrouped answers every probe row (no blob means
    absent), and remove_keys keeps shard 2's row byte for byte. Prepared
    HASH_COL values route each item to its shard (the top 16 bits)."""
    from sketchlib.spark.cuckoo import FP_COL, HASH_COL, probe_cogrouped

    def items(shard, lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id",
            f"shiftleft({shard}L, 48) | (xxhash64(id) & {(1 << 48) - 1}) AS {HASH_COL}",
            f"xxhash64(id, 1) AS {FP_COL}",
        )

    spec = CuckooSpec(name="sides", size=size_for(1000, 2), fpsize=2, num_shards=4)
    built = items(0, 0, 300).union(items(1, 300, 600)).union(items(2, 600, 900))
    merged = build_filter_direct(built, spec).cache()
    before = {r["shard"]: r for r in merged.collect()}
    assert sorted(before) == [0, 1, 2]

    probes = items(0, 0, 300).union(items(1, 1000, 1300)).union(items(3, 2000, 2300))
    got = {r["id"]: r["member"] for r in probe_cogrouped(merged, probes, spec).collect()}
    sc = ShardedCuckoo.from_rows(before.values(), spec)
    want = {r["id"]: r["member"] for r in probe(probes, sc).collect()}
    assert got == want and len(got) == 900
    assert all(got[i] for i in range(300)) and not any(got[i] for i in range(2000, 2300))

    gone = items(0, 0, 100).union(items(1, 300, 400))
    after = {r["shard"]: r for r in remove_keys(merged, gone, spec).collect()}
    assert sorted(after) == [0, 1, 2]
    assert after[2] == before[2]
    assert [(after[s]["fpcount"], after[s]["broken"]) for s in (0, 1)] == [(200, False)] * 2


def test_fix_toofull_shards(spark):
    from sketchlib.spark.cuckoo import fix_toofull_shards, remove_keys, probe

    tiny = CuckooSpec(name="fixme", size=64, fpsize=2)  # 32 slots
    keys = spark.range(40).select(F.col("id").cast("string").alias("k"))
    m = build_filter_direct(keys, tiny, key="k").cache()
    sc = ShardedCuckoo.from_df(m, tiny)
    assert sc.is_toofull()
    # fixing while full fails (flag stays); after freeing slots it succeeds
    still = ShardedCuckoo.from_df(fix_toofull_shards(m), tiny)
    assert still.is_toofull()
    present = probe(keys, sc, key="k").filter(F.col("member")).select("k").limit(10)
    freed = remove_keys(m, present, tiny, key="k")
    fixed = ShardedCuckoo.from_df(fix_toofull_shards(freed), tiny)
    assert not fixed.is_toofull()
    assert not fixed.is_broken()


def test_build_counts_toofull_drops(spark):
    """Oversubscribed filter: drops are counted per partial and surface in
    the merged row (reference per-op error becomes an accounted drop)."""
    spec = CuckooSpec(name="tiny", size=64, fpsize=2)  # 32 slots
    df = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    merged = merge_partials(build_partials(df, spec, key="k"))
    sc = ShardedCuckoo.from_df(merged, spec)
    assert sc.dropped > 0
    assert sc.count() + sc.dropped <= 500 + len(sc.filters)  # homeless per partial
    assert sc.rows == 500


def test_semi_join_via_filter_exact_at_fp8(spark):
    """The runtime-filter semi join must be EXACT even at FP8 (~3% FP rate
    pre-filter): no false negatives from the filter, false positives removed
    by the exact join on survivors."""
    from sketchlib.spark.cuckoo import semi_join_via_filter

    big = spark.range(0, 5000).selectExpr("id AS k", "id % 7 AS payload")
    small = spark.range(0, 150).selectExpr("id * 3 AS sk")  # 0,3,...,447
    out = semi_join_via_filter(big, small, "k", "sk", fpsize=1)
    got = sorted(r["k"] for r in out.collect())
    want = [k for k in range(5000) if k % 3 == 0 and k <= 447]
    assert got == want
    assert [f.name for f in out.schema.fields] == ["k", "payload"]


def test_semi_join_via_filter_duplicate_keyed_small_side(spark):
    """A small side with a key repeated far beyond bucket capacity must not
    produce false negatives (the filter is built from the DISTINCT keys)."""
    from sketchlib.spark.cuckoo import semi_join_via_filter

    big = spark.range(0, 2000).selectExpr("id AS k")
    # key 7 repeated 64x would overflow both buckets if inserted per-row
    small = spark.createDataFrame(
        [(7,)] * 64 + [(13,), (999,)], "sk long"
    )
    out = sorted(r["k"] for r in semi_join_via_filter(big, small, "k", "sk", fpsize=1).collect())
    assert out == [7, 13, 999]


def test_semi_join_via_filter_too_large_filter(spark, monkeypatch):
    """A filter too large to broadcast is not built: a co-grouped probe
    would shuffle all of ``big`` by shard before the join shuffles the
    survivors again. The result is the exact left-semi join alone, equal
    to the broadcast path's rows, with ``big``'s own ``name`` and ``shard``
    columns intact."""
    from sketchlib.spark import cuckoo

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    big = spark.range(0, 3000).selectExpr(
        "id AS k", "concat('user-', id) AS name", "CAST(id % 7 AS INT) AS shard"
    )
    small = spark.range(0, 100).selectExpr("id * 7 AS sk")
    bc = cuckoo.semi_join_via_filter(big, small, "k", "sk")
    assert "ArrowEvalPython" in plan(bc)
    monkeypatch.setattr(cuckoo, "BROADCAST_LIMIT_BYTES", 1)
    exact = cuckoo.semi_join_via_filter(big, small, "k", "sk")
    assert "ArrowEvalPython" not in plan(exact)
    want = [(k, f"user-{k}", k % 7) for k in range(0, 694, 7)]
    rows = [sorted(tuple(r) for r in df.collect()) for df in (exact, bc)]
    assert rows == [want, want]


def test_semi_join_via_filter_caches_nothing(spark):
    """The semi join builds its filter on the driver and registers no
    cached table: after 8 calls over 8 distinct small sides and a Python
    and JVM gc, no persistent RDD and no CacheManager entry for a key
    table remain, and no plan scans an in-memory table."""
    import gc

    from sketchlib.spark.cuckoo import semi_join_via_filter

    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = sc._jsc.getPersistentRDDs().size()
    big = spark.range(0, 2000).selectExpr("id AS k")
    smalls = [spark.range(0, 50 + i).selectExpr(f"id * {i + 2} AS sk") for i in range(8)]
    for i, small in enumerate(smalls):
        out = semi_join_via_filter(big, small, "k", "sk")
        assert out.count() == 50 + i
        assert "InMemoryTableScan" not in out._jdf.queryExecution().executedPlan().toString()
    gc.collect()
    spark._jvm.System.gc()
    assert sc._jsc.getPersistentRDDs().size() <= before
    for small in smalls:
        keys = small.select(F.col("sk").alias("__k")).distinct()
        assert cache.lookupCachedData(keys._jdf).isEmpty()


@pytest.mark.parametrize("fpsize", [1, 2, 4])
def test_semi_join_via_filter_matches_direct_build(spark, monkeypatch, fpsize):
    """The filter the semi join probes with is byte-identical to
    build_filter_direct over the small side's distinct keys, with
    duplicate and NULL small keys present."""
    from sketchlib.spark import cuckoo

    seen = []

    def spy(df, sharded, **kw):
        seen.append(sharded)
        return probe(df, sharded, **kw)

    monkeypatch.setattr(cuckoo, "probe", spy)
    big = spark.range(0, 12000).selectExpr("id AS k")
    small = spark.createDataFrame(
        [(i * 4,) for i in range(3000)] + [(8,)] * 64 + [(None,)] * 3, "sk long"
    ).repartition(3)
    out = cuckoo.semi_join_via_filter(big, small, "k", "sk", fpsize=fpsize)
    assert sorted(r["k"] for r in out.collect()) == list(range(0, 12000, 4))
    spec = CuckooSpec("semijoin", max(size_for(3000, fpsize), 1024), fpsize, num_shards=8)
    keys = small.select(F.col("sk").alias("__k")).distinct()
    want = ShardedCuckoo.from_df(build_filter_direct(keys, spec, key="__k"), spec)
    [got] = seen
    assert got.spec == spec
    assert (got.rows, got.count(), got.dropped) == (3000, 3000, 0)
    assert got.digest() == want.digest()


def test_semi_join_via_filter_two_eager_jobs(spark, monkeypatch):
    """A warm semi join starts at most 2 eager Spark jobs on each branch:
    the bounded collect of the distinct keys' (hash, fp) both sizes and
    fills the filter, and the too-large branch runs that collect alone."""
    from sketchlib.spark import cuckoo

    big = spark.range(0, 5000).selectExpr("id AS k", "id % 7 AS payload")
    small = spark.range(0, 150).selectExpr("id * 3 AS sk")
    sc = spark.sparkContext
    for limit in (cuckoo.BROADCAST_LIMIT_BYTES, 1):
        monkeypatch.setattr(cuckoo, "BROADCAST_LIMIT_BYTES", limit)
        cuckoo.semi_join_via_filter(big, small, "k", "sk")  # warm-up
        group = f"test_semi_join_via_filter_two_eager_jobs_{limit}"
        sc.setJobGroup(group, group)
        try:
            out = cuckoo.semi_join_via_filter(big, small, "k", "sk")
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) <= 2, (limit, jobs)
        assert ("ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()) == (
            limit > 1
        )
        assert out.count() == 150


def test_semi_join_via_filter_raises_on_a_drop(spark, monkeypatch):
    """The fold's TooFullError is the semi join's one drop guard: a filter
    too small for its keys raises instead of dropping matching rows. The
    error names the filter and the shard, not a sink the caller has none of."""
    from sketchlib.kernels.cuckoo import TooFullError
    from sketchlib.spark import cuckoo

    monkeypatch.setattr(cuckoo, "size_for", lambda n, fpsize: 0)  # 8 × 1 KiB
    big = spark.range(0, 100).selectExpr("id AS k")
    small = spark.range(0, 20000).selectExpr("id AS sk")
    with pytest.raises(TooFullError, match=r"filter 'semijoin' shard \d+: .*would drop") as err:
        cuckoo.semi_join_via_filter(big, small, "k", "sk")
    assert "sink" not in str(err.value)


def test_null_keys_are_skipped(spark):
    """A NULL key is not an item: xxhash64(NULL) is the seed, so inserting
    NULLs would pile identical fingerprints into one bucket pair until they
    drop. Builds skip them, and removing one is a no-op, not a poisoning."""
    spec = CuckooSpec(name="nulls", size=128, fpsize=1)
    urls = [(f"https://example.org/{i}",) for i in range(50)]
    clean = spark.createDataFrame(urls, "url string")
    dirty = spark.createDataFrame([(None,)] * 12 + urls, "url string").repartition(3)

    def blobs(df):
        return {r["shard"]: bytes(r["sketch"]) for r in df.collect()}

    want = blobs(build_filter_direct(clean, spec, key="url"))
    for merged in (
        build_filter_direct(dirty, spec, key="url").cache(),
        merge_partials(build_partials(dirty, spec, key="url")).cache(),
    ):
        sc = ShardedCuckoo.from_df(merged, spec)
        assert (sc.rows, sc.count(), sc.dropped, sc.is_toofull()) == (50, 50, 0, False)
        assert blobs(merged) == want

    gone = spark.createDataFrame([(None,), (None,), urls[0]], "url string")
    after = ShardedCuckoo.from_df(remove_keys(merged, gone, spec, key="url"), spec)
    assert not after.is_broken()
    assert after.count() == 49


def test_prepared_hash_columns(spark):
    """key=None takes the caller's own (HASH_COL, FP_COL): any hash works as
    long as build, probe and removal agree. Rows with a NULL prepared hash
    are skipped like NULL keys."""
    from sketchlib.spark.cuckoo import FP_COL, HASH_COL, probe_cogrouped

    def prepared(df):
        k = F.col("k")
        return df.withColumn(
            HASH_COL, F.when(k.isNotNull(), F.expr("xxhash64(k, 7)"))
        ).withColumn(FP_COL, F.expr("hash(k)"))

    spec = CuckooSpec(name="prep", size=size_for(3000, 2), fpsize=2, num_shards=4)
    keys = spark.range(2000).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    built = prepared(keys.union(spark.createDataFrame([(None,)] * 5, "k string")))
    merged = merge_partials(build_partials(built.repartition(5), spec)).cache()
    direct = build_filter_direct(built, spec)
    assert {r["shard"]: r["sketch"] for r in merged.collect()} == {
        r["shard"]: r["sketch"] for r in direct.collect()
    }
    sc = ShardedCuckoo.from_df(merged, spec)
    assert (sc.rows, sc.count(), sc.dropped) == (2000, 2000, 0)

    held = spark.range(2000).select(F.concat(F.lit("other-"), F.col("id")).alias("k"))
    probes = prepared(keys.union(held))
    a = {r["k"]: r["member"] for r in probe(probes, sc).collect()}
    b = {r["k"]: r["member"] for r in probe_cogrouped(merged, probes, spec).collect()}
    assert a == b and len(a) == 4000
    assert all(a[f"key-{i}"] for i in range(2000))
    assert set(probe(probes, sc).columns) == {"k", HASH_COL, FP_COL, "member"}

    gone = prepared(keys.where(F.col("id") % 4 == 0))
    rest = ShardedCuckoo.from_df(remove_keys(merged, gone, spec), spec)
    assert not rest.is_broken() and rest.count() == 1500
    survivors = prepared(keys.where(F.col("id") % 4 != 0))
    assert probe(survivors, rest).where(~F.col("member")).count() == 0
