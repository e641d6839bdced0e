"""Grouped-sketch tests: per-group HLL/t-digest accuracy, a hot group,
determinism across partitionings, partials folded on the driver."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.spark.agg import SketchSpec, _map_partials, build_sketch_grouped, grouped_estimates


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").cache()


def test_grouped_hll_per_type(spark, events):
    spec = SketchSpec("g-hll", "hll", (12,))
    grouped = build_sketch_grouped(events, "event_type", spec, "user_id")
    est = {r["event_type"]: r["estimate"] for r in grouped_estimates(grouped, spec, "event_type").collect()}
    exact = {
        r["event_type"]: r["d"]
        for r in events.groupBy("event_type").agg(F.countDistinct("user_id").alias("d")).collect()
    }
    assert set(est) == set(exact)
    for t in exact:
        assert abs(est[t] - exact[t]) / max(exact[t], 1) <= 3 * 1.04 / np.sqrt(1 << 12) + 0.02


def test_grouped_tdigest_median(spark, events):
    spec = SketchSpec("g-td", "tdigest", (200,))
    grouped = build_sketch_grouped(events, "event_type", spec, "value")
    med = {r["event_type"]: r["estimate"] for r in grouped_estimates(grouped, spec, "event_type").collect()}
    for r in events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m"), F.count(F.lit(1)).alias("n")
    ).collect():
        assert abs(med[r["event_type"]] - r["m"]) / max(abs(r["m"]), 1) < 0.05


@pytest.mark.parametrize("kind,params", [
    ("hll", (11,)),
    ("kmv", (512,)),
    ("cms", (1024, 4)),
    ("bloom", (1 << 14, 5)),
], ids=["hll", "kmv", "cms", "bloom"])
def test_grouped_hll_partition_invariant_bytes(spark, events, kind, params):
    """Hash-kind grouped sketches: byte-identical per-group blobs at any
    input partitioning (max/union/add/OR merges are order-free and these
    kinds take no seed)."""
    spec = SketchSpec(f"g-inv-{kind}", kind, params)

    def blobs(df):
        g = build_sketch_grouped(df, "event_type", spec, "user_id")
        return {r["event_type"]: bytes(r["sketch"]) for r in g.collect()}

    assert blobs(events.repartition(3)) == blobs(events.repartition(11)) == blobs(
        events.repartition(80)
    )


def test_grouped_build_shuffles_nothing(spark, sf_dir, events):
    """The grouped partials read only the key and group columns and plan no
    exchange; the merged result is a local relation (folded on the
    driver), and each group's ``rows`` is its exact count of non-NULL
    keys."""
    spec = SketchSpec("g-plan", "hll", (12,))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    parts = _map_partials(docs, spec, F.col("doc_id").cast("string"), ["lang"])
    plan = parts._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan
    assert "Exchange" not in plan, plan
    grouped = build_sketch_grouped(events, "event_type", spec, "user_id")
    assert "LocalTableScan" in grouped._jdf.queryExecution().executedPlan().toString()
    rows = {r["event_type"]: r["rows"] for r in grouped.collect()}
    exact = {
        r["event_type"]: r["count"]
        for r in events.where(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("event_type")
        .count()
        .collect()
    }
    assert rows == exact


def test_grouped_all_null_groups(spark, events):
    """Every group key NULL: the grouped build and its estimates are empty
    frames of their merged schemas."""
    spec = SketchSpec("g-null", "hll", (12,))
    df = events.select(F.lit(None).cast("string").alias("g"), "user_id")
    grouped = build_sketch_grouped(df, "g", spec, "user_id")
    assert grouped.dtypes == [("g", "string"), ("sketch", "binary"), ("rows", "bigint")]
    assert grouped.collect() == []
    est = grouped_estimates(grouped, spec, "g")
    assert est.dtypes == [("g", "string"), ("estimate", "double"), ("rows", "bigint")]
    assert est.collect() == []


def test_grouped_skewed_group(spark):
    """One group holding 95% of rows still aggregates correctly: each input
    partition builds its own partial of the hot group."""
    n = 20_000
    df = spark.range(n).selectExpr(
        "CASE WHEN id % 20 = 0 THEN concat('g', id % 3) ELSE 'hot' END AS grp",
        "id AS v",
    )
    spec = SketchSpec("g-skew", "hll", (12,))
    grouped = build_sketch_grouped(df, "grp", spec, "v")
    est = {r["grp"]: r["estimate"] for r in grouped_estimates(grouped, spec, "grp").collect()}
    exact = {r["grp"]: r["d"] for r in df.groupBy("grp").agg(F.countDistinct("v").alias("d")).collect()}
    for g in exact:
        assert abs(est[g] - exact[g]) / exact[g] <= 0.06, (g, est[g], exact[g])


def test_grouped_kmv_per_type(spark, events):
    """Grouped KMV: per-group distinct estimates within 3/sqrt(k-2) of the
    exact per-group COUNT(DISTINCT) — the framework's sixth kind routes
    through the cardinality branch of grouped_estimates."""
    import numpy as np
    from pyspark.sql import functions as F

    spec = SketchSpec("g-kmv", "kmv", (512,))
    grouped = build_sketch_grouped(events, "event_type", spec, "user_id")
    est = {
        r["event_type"]: r["estimate"]
        for r in grouped_estimates(grouped, spec, "event_type").collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in events.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    tol = 3 / np.sqrt(512 - 2)
    for t, d in exact.items():
        assert abs(est[t] - d) <= tol * d + 1, (t, est[t], d)
