"""Pages-pipeline tests: generator determinism, the byte-identical
extracted-text invariant (input_hint), Zipf host skew + salting, and
checkpoint/resume equivalence (SURVEY.md §5 item 6, §7.1 step 6)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sketchlib.kernels.cuckoo import size_for
from sketchlib.pipeline import (
    checkpointed_build,
    generate_pages,
    heavy_keys,
    salted_repartition,
    with_extracted_text,
)
from sketchlib.spark.cuckoo import (
    CuckooSpec,
    ShardedCuckoo,
    build_partials,
    merge_partials,
    probe,
)


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 5000, n_hosts=200, seed=42).cache()


def test_pages_shape_and_determinism(spark, pages):
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    assert pages.count() == 5000
    assert pages.select("url").distinct().count() == 5000
    # pure function of row index: partitioning must not change content
    a = sorted(r["url"] + "|" + r["text"] for r in pages.collect())
    again = generate_pages(spark, 5000, n_hosts=200, seed=42, partitions=13)
    b = sorted(r["url"] + "|" + r["text"] for r in again.collect())
    assert a == b
    # different seed → different content
    other = generate_pages(spark, 100, n_hosts=200, seed=7)
    assert other.join(pages, "url", "left_semi").count() < 100


def test_extracted_text_byte_identical(spark, pages):
    """input_hint invariant: text == extract(html) byte-identically per url,
    asserted with a sha2 comparison."""
    checked = with_extracted_text(pages)
    mismatches = checked.filter(
        F.sha2(F.col("text"), 256) != F.sha2(F.col("text_check"), 256)
    ).count()
    assert mismatches == 0


def test_host_skew_and_salting(spark, pages):
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    counts = pages.groupBy(host.alias("h")).count()
    top = counts.orderBy(F.desc("count")).first()
    # Zipf head: the hottest host dominates (far above uniform 5000/200 = 25)
    assert top["count"] > 250
    heavy = heavy_keys(pages, host, top_fraction=0.02)
    assert top["h"] in heavy
    salted = salted_repartition(pages, host, 8, heavy, salt_buckets=8, salt_source="url")
    sizes = [len(p) for p in salted.rdd.glom().collect()]
    assert max(sizes) < 2.5 * (sum(sizes) / len(sizes))  # no partition dominated


def test_heavy_keys_approx_matches_exact(spark, pages):
    """Single-pass sketch heavy hitters vs the exact groupBy baseline:
    recall 1 on genuinely heavy hosts; false extras bounded by CMS ε·N."""
    from sketchlib.pipeline import heavy_keys_approx

    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    exact = set(heavy_keys(pages, host, top_fraction=0.02))
    approx = set(heavy_keys_approx(pages, host, top_fraction=0.02))
    assert exact <= approx  # no heavy key missed
    assert len(approx) <= len(exact) + 5  # CMS slack only


def test_heavy_keys_approx_survives_batch_local_camouflage(spark):
    """Regression (ADVICE r1): a key that is heavy ACROSS the partition but
    never in any single Arrow batch's local top must still be found — the
    per-partition Misra-Gries accumulates across batches, unlike the old
    per-batch top-k candidate harvest."""
    import pandas as pd

    from sketchlib.pipeline import heavy_keys_approx

    rows = []
    for b in range(10):  # 10 batches of 1000 rows (maxRecordsPerBatch below)
        rows += [("X",)] * 20  # the camouflaged heavy key: 20/batch
        for i in range(140):  # per-batch UNIQUE fillers, each heavier locally
            rows += [(f"f{b}_{i}",)] * 7
    pdf = pd.DataFrame(rows, columns=["k"])
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
    try:
        df = spark.createDataFrame(pdf).coalesce(1)
        # X: 200/10000 = 2%; fillers: 7 each (never heavy); in every batch X
        # ranks ~141st by local count, below any per-batch top-64 harvest
        heavy = heavy_keys_approx(df, "k", top_fraction=0.01, candidates_per_partition=64)
        # X (200 = 2% ≥ 1%) must be found; no 7-count filler can pass the
        # CMS threshold of 100 even with ε·N overestimate slack
        assert heavy == ["X"]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_checkpointed_build_resume(spark, pages):
    spec = CuckooSpec(name="ckpt", size=size_for(8000, 2), fpsize=2, num_shards=2)
    key = F.col("url")
    ref = merge_partials(build_partials(pages.repartition(8), spec, key=key))
    ref_blobs = {r["shard"]: bytes(r["sketch"]) for r in ref.collect()}

    d = tempfile.mkdtemp(prefix="sketchlib-ckpt-")
    try:
        src = pages.repartition(8)
        m1 = checkpointed_build(src, spec, key, d)
        blobs1 = {r["shard"]: bytes(r["sketch"]) for r in m1.collect()}
        assert blobs1 == ref_blobs

        # simulate a partial failure: drop the partials of some partitions
        import pandas as pd

        partials = spark.read.parquet(f"{d}/partials")
        kept = partials.filter(F.col("part_id") < 5)
        kept_pdf = kept.toPandas()
        shutil.rmtree(f"{d}/partials")
        spark.createDataFrame(kept_pdf, partials.schema).write.parquet(f"{d}/partials")

        m2 = checkpointed_build(src, spec, key, d)
        blobs2 = {r["shard"]: bytes(r["sketch"]) for r in m2.collect()}
        assert blobs2 == ref_blobs  # resume == uninterrupted build

        # resumed run rebuilt ONLY the missing partitions
        pid_rows = (
            spark.read.parquet(f"{d}/partials")
            .groupBy("part_id")
            .count()
            .collect()
        )
        assert all(r["count"] <= spec.num_shards for r in pid_rows)

        # probe the checkpointed filter end-to-end
        sc = ShardedCuckoo.from_df(m2, spec)
        assert sc.count() == 5000
        assert probe(pages, sc, key=key).filter(~F.col("member")).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpointed_build_detects_input_change(spark):
    """Resuming against a DIFFERENT input (same spec, same partition count)
    must trigger a clean full rebuild — never merge stale partials from the
    old input with new ones (ADVICE r1)."""
    import os

    spec = CuckooSpec(name="ckpt-in", size=size_for(4000, 2), fpsize=2, num_shards=2)
    key = F.col("url")
    d = tempfile.mkdtemp(prefix="sketchlib-ckpt-in-")
    try:
        pa = generate_pages(spark, 1500, n_hosts=50, seed=1, partitions=4)
        pb = generate_pages(spark, 1500, n_hosts=50, seed=2, partitions=4)
        src_a, src_b = os.path.join(d, "in_a"), os.path.join(d, "in_b")
        pa.write.parquet(src_a)
        pb.write.parquet(src_b)
        ck = os.path.join(d, "ck")
        a = spark.read.parquet(src_a).repartition(4)
        b = spark.read.parquet(src_b).repartition(4)
        checkpointed_build(a, spec, key, ck)
        m = checkpointed_build(b, spec, key, ck)  # same spec+parts, new input
        ref = merge_partials(build_partials(b, spec, key=key))
        ref = {r["shard"]: bytes(r["sketch"]) for r in ref.collect()}
        got = {r["shard"]: bytes(r["sketch"]) for r in m.collect()}
        assert got == ref  # byte-identical to a clean build over input B
        sc = ShardedCuckoo.from_df(m, spec)
        assert sc.count() == 1500  # not 3000: no stale partials from A
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_from_before_null_skipping_rebuilds(spark, pages):
    """A checkpoint whose meta lacks ``null_keys`` comes from a build that
    inserted NULL keys under a different plan: it rebuilds in full instead
    of resuming over its partials."""
    import json
    import os

    spec = CuckooSpec(name="ckpt-null", size=size_for(8000, 2), fpsize=2, num_shards=2)
    key = F.col("url")
    d = tempfile.mkdtemp(prefix="sketchlib-ckpt-null-")
    try:
        src = pages.repartition(4)
        checkpointed_build(src, spec, key, d)
        meta_path = os.path.join(d, "meta.json")
        with open(meta_path) as f:
            meta = json.load(f)
        meta.pop("null_keys", None)
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        # a partial a resume would merge in a second time
        partials = spark.read.parquet(f"{d}/partials")
        stale = partials.where("part_id = 0").toPandas()
        spark.createDataFrame(stale, partials.schema).write.mode("append").parquet(f"{d}/partials")
        m = checkpointed_build(src, spec, key, d)
        assert ShardedCuckoo.from_df(m, spec).count() == 5000
        with open(meta_path) as f:
            assert json.load(f)["null_keys"] == "skipped"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_checkpointed_build_raises_on_an_unreadable_partial(spark, pages):
    """A resume that cannot read an existing partial raises before it
    appends anything; once the bad file is removed, only its partition
    rebuilds and no partial is inserted twice."""
    import glob
    import os

    from py4j.protocol import Py4JJavaError

    spec = CuckooSpec(name="ckpt-bad", size=size_for(8000, 2), fpsize=2, num_shards=2)
    key = F.col("url")
    d = tempfile.mkdtemp(prefix="sketchlib-ckpt-bad-")
    try:
        src = pages.repartition(8)
        first = checkpointed_build(src, spec, key, d)
        want = {r["shard"]: bytes(r["sketch"]) for r in first.collect()}
        files = sorted(glob.glob(f"{d}/partials/*.parquet"))
        assert len(files) == 8
        with open(files[0], "wb") as f:
            f.write(b"not a parquet file")
        with pytest.raises(Py4JJavaError):
            checkpointed_build(src, spec, key, d)
        assert sorted(glob.glob(f"{d}/partials/*.parquet")) == files

        os.remove(files[0])
        m = checkpointed_build(src, spec, key, d)
        sc = ShardedCuckoo.from_df(m, spec)
        assert (sc.count(), sc.rows) == (5000, 5000)
        assert {r["shard"]: bytes(r["sketch"]) for r in m.collect()} == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
