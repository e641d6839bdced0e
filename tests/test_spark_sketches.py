"""Spark-level sibling-sketch tests: partition-invariant merges, accuracy
vs exact aggregates, distributed Bloom probe (SURVEY.md §5 items 3-4)."""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.kernels.bloom import optimal_params
from sketchlib.spark.agg import (
    SketchSpec,
    bloom_probe,
    build_sketch,
    build_sketch_partials,
    merge_sketch_partials,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_sketch_spec_rejects_unserializable_params_on_driver():
    """A float t-digest delta constructs a sketch but cannot serialize it;
    the spec must fail on the driver, not later inside an executor."""
    import struct

    with pytest.raises(struct.error):
        SketchSpec("t", "tdigest", (100.0,))


@pytest.mark.parametrize("kind,params,col", [
    ("bloom", optimal_params(2000, 0.01), "user_id"),
    ("hll", (12,), "user_id"),
    ("cms", (1024, 4), "event_type"),
    ("kmv", (256,), "user_id"),
])
def test_merge_partition_invariant_bytes(spark, events, kind, params, col):
    """OR/max/add merges: byte-identical merged blob at any partitioning."""
    spec = SketchSpec(f"inv-{kind}", kind, params)

    def blob(df):
        m = merge_sketch_partials(build_sketch_partials(df, spec, col), spec)
        return bytes(m.first()["sketch"])

    a = blob(events.repartition(2))
    b = blob(events.repartition(9))
    c = blob(events.repartition(80))  # more than 64 partials in one merge
    assert a == b == c


def test_merge_sketch_partials_is_lazy(spark, events):
    """merge_sketch_partials over checkpointed partials starts no Spark job;
    one action on its result gives one row with the 2-partition blob."""
    spec = SketchSpec("lazy-hll", "hll", (12,))
    parts = build_sketch_partials(events.repartition(7), spec, "user_id")
    parts = parts.localCheckpoint(eager=True)
    sc = spark.sparkContext
    group = "test_merge_sketch_partials_is_lazy"
    sc.setJobGroup(group, "merge_sketch_partials")
    try:
        merged = merge_sketch_partials(parts, spec)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        rows = merged.collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 1
    ref = merge_sketch_partials(build_sketch_partials(events.repartition(2), spec, "user_id"), spec)
    assert bytes(rows[0]["sketch"]) == bytes(ref.first()["sketch"])


def test_hll_vs_exact_distinct(spark, events):
    spec = SketchSpec("hll-users", "hll", (14,))
    hll = build_sketch(events, spec, "user_id")
    exact = events.select(F.countDistinct("user_id")).first()[0]
    assert abs(hll.estimate() - exact) / exact <= 3 * 1.04 / np.sqrt(hll.m) + 0.01
    # cross-check family: Spark's own HLL++ lands in the same neighborhood
    spark_est = events.select(F.approx_count_distinct("user_id", 0.02)).first()[0]
    assert abs(hll.estimate() - spark_est) / exact <= 0.1


def test_cms_vs_exact_counts(spark, events):
    spec = SketchSpec("cms-types", "cms", (2048, 5))
    cms = build_sketch(events, spec, "event_type")
    truth = {
        r["event_type"]: (r["n"], r["h"])
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.first(F.xxhash64("event_type")).alias("h"))
        .collect()
    }
    hashes = np.array([h for _, h in truth.values()], dtype=np.int64).view(np.uint64)
    est = cms.query_hashes(hashes)
    exact = np.array([n for n, _ in truth.values()])
    assert (est >= exact).all()
    assert (est <= exact + cms.eps * cms.total + 1).all()
    assert cms.total == events.count()


@pytest.mark.parametrize("kind,params", [("kll", (256,)), ("tdigest", (200,))])
def test_quantiles_vs_exact(spark, events, kind, params):
    spec = SketchSpec(f"q-{kind}", kind, params)
    sk = build_sketch(events.repartition(7), spec, "value")
    vals = np.sort(np.array([r["value"] for r in events.select("value").collect()]))
    for q in (0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = sk.quantile(q)
        rank = np.searchsorted(vals, est, side="right") / len(vals)
        assert abs(rank - q) <= 0.03, (kind, q)
    assert sk.count == len(vals)


def test_bloom_probe_distributed(spark, docs):
    m, k = optimal_params(5000, 0.001)
    spec = SketchSpec("bloom-docs", "bloom", (m, k))
    bf = build_sketch(docs, spec, F.col("doc_id").cast("string"))
    probed = bloom_probe(docs.select("doc_id", "lang"), bf, F.col("doc_id").cast("string"))
    assert probed.filter(~F.col("member")).count() == 0  # no false negatives
    assert set(probed.columns) == {"doc_id", "lang", "member"}
    held = docs.select((F.col("doc_id") + 5_000_000).cast("string").alias("key"))
    fp = bloom_probe(held, bf, "key").filter(F.col("member")).count()
    assert fp <= max(2, 0.01 * docs.count())


def test_bloom_probe_ships_only_the_hash(spark, arrow_udf_inputs):
    """The Bloom probe is one ArrowEvalPython node whose UDF receives the
    in-plan xxhash64 of the key and nothing else; a wide payload column
    never reaches the Python worker, and a select that drops it prunes it."""
    wide = spark.range(2000).selectExpr(
        "CAST(id AS STRING) AS k", "repeat(CAST(id AS STRING), 500) AS payload"
    )
    bf = build_sketch(wide, SketchSpec("bloom-ship", "bloom", optimal_params(2000, 0.01)), "k")
    probed = bloom_probe(wide, bf, "k")
    assert probed.columns == ["k", "payload", "member"]
    plan, udfs = arrow_udf_inputs(probed.select("member"))
    assert plan.count("ArrowEvalPython") == 1 and "MapInPandas" not in plan
    [[h]] = udfs
    assert re.fullmatch(r"xxhash64\((?:k#\d+|cast\(id#\d+L as string\)), 42\)", h), h
    assert "payload" not in plan
    assert probed.where(~F.col("member")).count() == 0


def test_kmv_vs_exact_distinct(spark, events):
    """Distributed KMV estimate within 3/√(k-2) of COUNT(DISTINCT); the
    count field tracks total non-NULL rows fed (the hash-mode contract)."""
    sk = build_sketch(events, SketchSpec("t-kmv", "kmv", (512,)), "user_id")
    exact = events.filter(F.col("user_id").isNotNull()).select("user_id").distinct().count()
    assert abs(sk.estimate() - exact) <= 3 * sk.rel_error * exact + 1
    assert sk.count == events.filter(F.col("user_id").isNotNull()).count()


@pytest.mark.parametrize("kind,params", [("kll", (64,)), ("tdigest", (50,))])
def test_order_dependent_merges_ignore_row_order(spark, events, kind, params):
    """KLL and t-digest merges depend on the order they fold their parts
    in, so a merge folds a group's blobs in sorted byte order: the same
    partials arriving in two row orders merge to equal bytes."""
    spec = SketchSpec(f"order-{kind}", kind, params)
    partials = build_sketch_partials(events.repartition(6), spec, "value")
    rows = partials.collect()
    assert len(rows) == 6

    def merged(ordered):
        df = spark.createDataFrame(ordered, partials.schema).coalesce(1)
        return bytes(merge_sketch_partials(df, spec).first()["sketch"])

    assert merged(rows) == merged(rows[::-1])
