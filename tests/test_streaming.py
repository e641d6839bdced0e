"""Structured Streaming tests: incremental cuckoo maintenance equals the
batch build byte-for-byte; checked, crash-atomic state commits; paragraph
dedup and its retraction."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sketchlib.kernels.cuckoo import size_for
from sketchlib.spark.cuckoo import (
    CuckooSpec,
    ShardedCuckoo,
    build_partials,
    merge_partials,
    probe,
)
from sketchlib.streaming import incremental_cuckoo_sink, read_state


def test_incremental_stream_equals_batch(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = CuckooSpec(name="stream", size=size_for(2000, 2), fpsize=2, num_shards=2)
    key = F.col("doc_id").cast("string")
    batch_blobs = {
        r["shard"]: bytes(r["sketch"])
        for r in merge_partials(build_partials(docs, spec, key=key)).collect()
    }

    work = tempfile.mkdtemp(prefix="sketchlib-stream-")
    src = os.path.join(work, "src")
    state_dir = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    try:
        # stream the same rows as 4 separate files (4+ micro-batches)
        docs.withColumn("g", F.pmod("doc_id", F.lit(4))).write.partitionBy("g").parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src + "/g=*")
        )
        q = (
            stream.writeStream.foreachBatch(incremental_cuckoo_sink(spec, key, state_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        merged = read_state(spark, state_dir)
        stream_blobs = {r["shard"]: bytes(r["sketch"]) for r in merged.collect()}
        assert stream_blobs == batch_blobs  # canonical merge: stream ≡ batch
        sc = ShardedCuckoo.from_df(merged, spec)
        assert sc.count() == docs.count()
        assert probe(docs, sc, key=key).filter(~F.col("member")).count() == 0

        # epoch guard: re-folding the last epoch is a no-op
        sink = incremental_cuckoo_sink(spec, key, state_dir)
        sink(docs, 0)  # stale epoch id — must be skipped
        again = {
            r["shard"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
        }
        assert again == batch_blobs

        # crash-atomicity: a crash after the state write but BEFORE the
        # pointer flip leaves the committed pointer on the previous epoch —
        # recovery re-reads consistent state and replays the batch once
        import json as _json

        with open(os.path.join(state_dir, "epoch.json")) as f:
            commit = _json.load(f)
        orphan = os.path.join(state_dir, "state_epoch999")
        spark.read.parquet(commit["state"]).write.mode("overwrite").parquet(orphan)
        # pointer still names the old epoch → replaying the next epoch folds in
        sink(docs.limit(0), commit["epoch"] + 1)  # empty replay: state unchanged
        final = {
            r["shard"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
        }
        assert final == batch_blobs

        # the same crash in fast mode: the orphan holds the next epoch
        # already folded in, but the pointer still names the previous one,
        # so the replayed epoch folds its rows in exactly once
        fast_dir = os.path.join(work, "fast")
        fast = incremental_cuckoo_sink(spec, key, fast_dir, mode="fast")
        groups = [docs.filter(F.pmod("doc_id", F.lit(4)) == g) for g in range(4)]
        for e in range(3):
            fast(groups[e], e)
        crashed = os.path.join(work, "fast_crashed")
        shutil.copytree(fast_dir, crashed)
        incremental_cuckoo_sink(spec, key, crashed, mode="fast")(groups[3], 3)
        with open(os.path.join(crashed, "epoch.json")) as f:
            shutil.copytree(json.load(f)["state"], os.path.join(fast_dir, "state_epoch999"))
        fast(groups[3], 3)
        assert ShardedCuckoo.from_df(read_state(spark, fast_dir), spec).count() == docs.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("mode", ["canonical", "fast"])
def test_fold_rejects_a_spec_of_another_geometry(mode):
    """A spec whose (size, fpsize) differs from the committed filter's
    raises in both modes: folding pairs of one geometry into a filter of
    another would store them in the wrong buckets."""
    import numpy as np

    from sketchlib.kernels.cuckoo import CuckooFilter
    from sketchlib.spark.cuckoo import _filter_row, folded_rows

    prior = {0: _filter_row("geo", 0, CuckooFilter.create(1024, 2), 0, 0)}
    h = np.arange(1, 50, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    for size, fpsize in ((2048, 2), (1024, 1)):
        spec = CuckooSpec(name="geo", size=size, fpsize=fpsize, num_shards=1)
        with pytest.raises(ValueError, match=r"\(size, fpsize\)"):
            folded_rows(spec, prior, h, h >> np.uint64(40), mode)


@pytest.mark.parametrize("mode", ["canonical", "fast"])
def test_sink_fold_drop_raises_before_commit(spark, mode):
    """A fold that would drop a fingerprint (a silent false negative) raises
    TooFullError naming the shard and the count; the committed pointer and
    the state directories stay as they were."""
    from sketchlib.kernels.cuckoo import TooFullError

    spec = CuckooSpec(name="tiny", size=16, fpsize=1, num_shards=1)
    key = F.col("k")
    work = tempfile.mkdtemp(prefix="sketchlib-toofull-")
    state_dir = os.path.join(work, "state")
    try:
        sink = incremental_cuckoo_sink(spec, key, state_dir, mode=mode)
        sink(spark.createDataFrame([(f"a{i}",) for i in range(4)], "k string"), 0)
        with open(os.path.join(state_dir, "epoch.json")) as f:
            before = json.load(f)
        dirs = sorted(os.listdir(state_dir))
        overfill = spark.createDataFrame([(f"b{i}",) for i in range(200)], "k string")
        with pytest.raises(TooFullError, match=r"shard 0: .*drop \d+ fingerprint"):
            sink(overfill, 1)
        with open(os.path.join(state_dir, "epoch.json")) as f:
            assert json.load(f) == before
        assert sorted(os.listdir(state_dir)) == dirs
        assert not os.path.exists(os.path.join(state_dir, "state_epoch1"))
        assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == 4
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_sink_skips_null_keys(spark):
    """NULL urls are skipped, not folded in: every NULL hashes to the same
    item, so a few per batch used to fill one bucket pair and wedge the
    sink with TooFullError for every later batch."""
    spec = CuckooSpec(name="nullsink", size=size_for(200, 1), fpsize=1)
    work = tempfile.mkdtemp(prefix="sketchlib-nullsink-")
    state_dir = os.path.join(work, "state")
    try:
        sink = incremental_cuckoo_sink(spec, F.col("url"), state_dir)
        for e in range(4):
            urls = [(None,)] * 3 + [(f"https://example.org/{e}/{i}",) for i in range(5)]
            sink(spark.createDataFrame(urls, "url string"), e)
            with open(os.path.join(state_dir, "epoch.json")) as f:
                assert json.load(f)["epoch"] == e
        sc = ShardedCuckoo.from_df(read_state(spark, state_dir), spec)
        assert (sc.rows, sc.count(), sc.dropped) == (20, 20, 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_cuckoo_sink_warns_on_an_epoch_below_the_committed_one(spark):
    """Epoch ids below the committed one mean the stream restarted with a
    fresh checkpointLocation: the sink skips the batch, as a replay, but
    warns, and the state stays as it was."""
    spec = CuckooSpec(name="restart", size=size_for(200, 2), fpsize=2)
    work = tempfile.mkdtemp(prefix="sketchlib-restart-")
    state_dir = os.path.join(work, "state")
    batch = spark.createDataFrame([(f"k{i}",) for i in range(10)], "k string")
    try:
        sink = incremental_cuckoo_sink(spec, F.col("k"), state_dir)
        sink(batch, 0)
        sink(batch.limit(3), 1)
        with open(os.path.join(state_dir, "epoch.json")) as f:
            before = json.load(f)
        with pytest.warns(RuntimeWarning, match="epoch 0 < committed 1"):
            sink(batch, 0)
        with open(os.path.join(state_dir, "epoch.json")) as f:
            assert json.load(f) == before
        assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == 13
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _jobs_in_group(spark, group, fn):
    """Spark jobs started by ``fn()`` under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_fast_sink_commit_is_one_job(spark, sf_dir):
    """One fast-mode commit over a committed state starts at most one Spark
    job: the Arrow collect of the batch's hashes. State load, fold and
    write run on the driver."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = CuckooSpec(name="onejob", size=size_for(2000, 2), fpsize=2, num_shards=2)
    key = F.col("doc_id").cast("string")
    work = tempfile.mkdtemp(prefix="sketchlib-onejob-")
    state_dir = os.path.join(work, "state")
    try:
        sink = incremental_cuckoo_sink(spec, key, state_dir, mode="fast")
        halves = [docs.filter(F.pmod("doc_id", F.lit(2)) == g) for g in range(2)]
        sink(halves[0], 0)
        jobs = _jobs_in_group(spark, "test_fast_sink_commit_is_one_job", lambda: sink(halves[1], 1))
        assert len(jobs) <= 1, jobs
        assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == docs.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_read_state_starts_no_job(spark, sf_dir):
    """read_state serves the checked state bytes as a local relation, so
    neither it nor ShardedCuckoo.from_df over its result starts a Spark
    job. Its result, and a plain schema-less parquet read of the
    driver-written state directory, have PARTIAL_SCHEMA's column names and
    types."""
    from pyspark.sql import types as T

    from sketchlib.spark.cuckoo import PARTIAL_SCHEMA

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = CuckooSpec(name="nojob", size=size_for(2000, 2), fpsize=2, num_shards=2)
    work = tempfile.mkdtemp(prefix="sketchlib-nojob-")
    state_dir = os.path.join(work, "state")
    try:
        incremental_cuckoo_sink(spec, F.col("doc_id").cast("string"), state_dir)(docs, 0)
        got = {}
        jobs = _jobs_in_group(
            spark,
            "test_read_state_starts_no_job",
            lambda: got.update(sc=ShardedCuckoo.from_df(read_state(spark, state_dir), spec)),
        )
        assert jobs == []
        assert got["sc"].count() == docs.count()
        want = [(c.name, c.dataType) for c in T._parse_datatype_string(PARTIAL_SCHEMA)]
        assert [(c.name, c.dataType) for c in read_state(spark, state_dir).schema] == want
        with open(os.path.join(state_dir, "epoch.json")) as f:
            plain = spark.read.parquet(json.load(f)["state"])
        assert [(c.name, c.dataType) for c in plain.schema] == want
        assert plain.count() == spec.num_shards
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_state_pointer_checks_the_state_file(spark, sf_dir):
    """epoch.json records the state file's length and sha256: a state file
    replaced by an older epoch's, or a missing one, raises on the next load
    (read_state and the sink's fold) instead of returning stale state. A
    pointer without those fields could not be checked, so it raises too."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = CuckooSpec(name="checked", size=size_for(2000, 2), fpsize=2, num_shards=2)
    key = F.col("doc_id").cast("string")
    work = tempfile.mkdtemp(prefix="sketchlib-checked-")
    state_dir = os.path.join(work, "state")
    try:
        sink = incremental_cuckoo_sink(spec, key, state_dir)
        halves = [docs.filter(F.pmod("doc_id", F.lit(2)) == g) for g in range(2)]
        sink(halves[0], 0)
        sink(halves[1], 1)
        # a pointer without the check fields raises in every loader
        from sketchlib.streaming import retract_paragraphs_from_state

        epoch_path = os.path.join(state_dir, "epoch.json")
        with open(epoch_path) as f:
            commit = json.load(f)
        with open(epoch_path, "w") as f:
            json.dump({k: v for k, v in commit.items() if k not in ("bytes", "sha256")}, f)
        kept = docs.select("doc_id", F.col("text").alias("kept_text"))
        for load in (
            lambda: read_state(spark, state_dir),
            lambda: sink(halves[0], 2),
            lambda: retract_paragraphs_from_state(spec, state_dir, kept),
        ):
            with pytest.raises(ValueError, match="sha256"):
                load()
        with open(epoch_path, "w") as f:
            json.dump(commit, f)
        current = os.path.join(state_dir, "state_epoch1", "part-00000.parquet")
        shutil.copyfile(os.path.join(state_dir, "state_epoch0", "part-00000.parquet"), current)
        with pytest.raises(ValueError, match="sha256"):
            read_state(spark, state_dir)
        with pytest.raises(ValueError, match="sha256"):
            sink(halves[0], 2)
        os.remove(current)
        with pytest.raises(FileNotFoundError):
            read_state(spark, state_dir)
        with pytest.raises(FileNotFoundError):
            sink(halves[0], 2)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_fast_sink_semantics_equal_canonical(spark, sf_dir):
    """mode='fast' folds each batch in O(batch) — the fp multiset (and so
    membership, count, removability) must stay EXACTLY equal to the
    canonical path; only byte layout may differ."""
    from sketchlib.kernels.cuckoo import CuckooFilter
    from sketchlib.streaming import read_state

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = CuckooSpec(name="faststream", size=size_for(2000, 2), fpsize=2, num_shards=2)
    key = F.col("doc_id").cast("string")
    work = tempfile.mkdtemp(prefix="sketchlib-fast-")
    try:
        sink_c = incremental_cuckoo_sink(spec, key, os.path.join(work, "c"))
        sink_f = incremental_cuckoo_sink(spec, key, os.path.join(work, "f"), mode="fast")
        for e in range(4):
            batch = docs.filter(F.pmod("doc_id", F.lit(4)) == e)
            sink_c(batch, e)
            sink_f(batch, e)
        canon = {r["shard"]: r for r in read_state(spark, os.path.join(work, "c")).collect()}
        fast = {r["shard"]: r for r in read_state(spark, os.path.join(work, "f")).collect()}
        assert set(canon) == set(fast)
        for s in canon:
            assert fast[s]["fpcount"] == canon[s]["fpcount"]
            # identical stored fp multiset ⇒ identical canonical pairs
            fc = CuckooFilter.from_bytes(bytes(canon[s]["sketch"]))
            ff = CuckooFilter.from_bytes(bytes(fast[s]["sketch"]))
            pc = sorted(zip(*[a.tolist() for a in fc.extract_pairs()]))
            pf = sorted(zip(*[a.tolist() for a in ff.extract_pairs()]))
            assert pc == pf
        sc = ShardedCuckoo.from_df(read_state(spark, os.path.join(work, "f")), spec)
        assert sc.count() == docs.count()
        assert probe(docs.select("doc_id"), sc, key=key).filter(~F.col("member")).count() == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_streaming_exact_dedup_matches_batch(spark, sf_dir):
    """Streaming exact dedup: dropDuplicates on the md5 fingerprint over a
    micro-batched stream keeps exactly one doc per normalized text — the
    same groups the batch dedup_exact produces."""
    from sketchlib.dedup import dedup_exact
    from sketchlib.textops import fingerprint_sql

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    batch_groups = dedup_exact(docs).count()
    work = tempfile.mkdtemp(prefix="sketchlib-sdedup-")
    try:
        src = os.path.join(work, "src")
        docs.withColumn("g", F.pmod("doc_id", F.lit(4))).write.partitionBy("g").parquet(src)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src + "/g=*")
            .selectExpr("doc_id", f"{fingerprint_sql('spark')} AS fp")
            .dropDuplicates(["fp"])
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("sdedup_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM sdedup_out").collect()
        assert len(out) == batch_groups  # one survivor per distinct text
        assert len({r["fp"] for r in out}) == len(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_streaming_sessions_match_batch(spark, sf_dir):
    """Sessionization uses the SAME session_window operator in batch and
    streaming: every session the watermarked stream emits (append mode →
    closed sessions only) must be exactly a session of the batch run."""
    from sketchlib.relops import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "ts")
    batch = {
        (r["user_id"], r["session_start_us"], r["last_ts_us"], r["n_events"])
        for r in sessionize(ev, "user_id", "ts", "30 minutes").collect()
    }
    work = tempfile.mkdtemp(prefix="sketchlib-sess-")
    try:
        src = os.path.join(work, "src")
        ev.withColumn("g", F.pmod(F.xxhash64("ts"), F.lit(4))).write.partitionBy("g").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src + "/g=*")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 minute")
        )
        agg = (
            stream.groupBy("user_id", F.session_window("ts", "30 minutes").alias("__w"))
            .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("__last"))
            .select(
                "user_id",
                F.unix_micros(F.col("__w.start")).alias("session_start_us"),
                F.unix_micros(F.col("__last")).alias("last_ts_us"),
                "n_events",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("sess_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        emitted = {
            (r["user_id"], r["session_start_us"], r["last_ts_us"], r["n_events"])
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
        # append mode emits only watermark-closed sessions; files arrive
        # out of event-time order, so some sessions stay open at stream end
        assert emitted, "no sessions emitted"
        assert emitted <= batch, f"streaming emitted a session batch never produced: {sorted(emitted - batch)[:3]}"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_read_state_outlives_later_commits(spark, sf_dir):
    """A read_state result holds its epoch's rows: resolved before two more
    commits, it still collects that epoch after the sink has retired its
    directory. The sink keeps only the immediately-previous epoch
    directory; older ones are GC'd."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    spec = CuckooSpec(name="retain", size=size_for(1000, 2), fpsize=2, num_shards=2)
    key = F.col("doc_id").cast("string")
    work = tempfile.mkdtemp(prefix="sketchlib-retain-")
    state_dir = os.path.join(work, "state")
    try:
        sink = incremental_cuckoo_sink(spec, key, state_dir)
        parts = [docs.filter(F.pmod("doc_id", F.lit(3)) == i) for i in range(3)]
        sink(parts[0], 0)
        held = read_state(spark, state_dir)  # epoch 0's rows
        sink(parts[1], 1)  # commit epoch 1 — epoch 0 dir must survive
        assert os.path.isdir(os.path.join(state_dir, "state_epoch0"))
        sink(parts[2], 2)  # commit epoch 2 — epoch 0 GC'd, epoch 1 retained
        assert not os.path.isdir(os.path.join(state_dir, "state_epoch0"))
        assert os.path.isdir(os.path.join(state_dir, "state_epoch1"))
        assert ShardedCuckoo.from_df(held, spec).count() == parts[0].count()
        assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == docs.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_read_state_ignores_a_later_replaced_state_file(spark, sf_dir):
    """read_state's result is the state file's checked bytes at the time of
    the call: replacing that file afterwards (here by an older epoch's)
    does not change what the result yields."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = CuckooSpec(name="replaced", size=size_for(2000, 2), fpsize=2, num_shards=2)
    work = tempfile.mkdtemp(prefix="sketchlib-replaced-")
    state_dir = os.path.join(work, "state")
    try:
        sink = incremental_cuckoo_sink(spec, F.col("doc_id").cast("string"), state_dir)
        halves = [docs.filter(F.pmod("doc_id", F.lit(2)) == g) for g in range(2)]
        sink(halves[0], 0)
        sink(halves[1], 1)
        held = read_state(spark, state_dir)
        want = sorted((r["shard"], bytes(r["sketch"])) for r in held.collect())
        current = os.path.join(state_dir, "state_epoch1", "part-00000.parquet")
        shutil.copyfile(os.path.join(state_dir, "state_epoch0", "part-00000.parquet"), current)
        assert sorted((r["shard"], bytes(r["sketch"])) for r in held.collect()) == want
        assert ShardedCuckoo.from_df(held, spec).count() == docs.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_sink_commit_frees_nothing_on_the_callers_thread(spark, monkeypatch):
    """A commit frees no disk blocks on the caller's thread: retired state
    directories and the old pointer go to ``.trash`` by rename and hard
    link, so no delete runs there and ``os.replace`` only drops a link of
    the old pointer. Once the reclaim worker is idle, the state directory
    holds the pointer, the current and prior states and an empty trash."""
    import threading

    from sketchlib import streaming

    spec = CuckooSpec(name="trash", size=size_for(200, 2), fpsize=2)
    work = tempfile.mkdtemp(prefix="sketchlib-trash-")
    state_dir = os.path.join(work, "state")
    batches = [
        spark.createDataFrame([(f"k{e}_{i}",) for i in range(10)], "k string") for e in range(4)
    ]
    caller = threading.get_ident()
    deletes, replaced_links = [], []

    def recorded(name, fn):
        def call(*args, **kwargs):
            deletes.append((name, threading.get_ident(), args[0] if args else None))
            return fn(*args, **kwargs)

        return call

    def replace(src, dst, *args, real=os.replace, **kwargs):
        if threading.get_ident() == caller and os.path.exists(dst):
            replaced_links.append(os.stat(dst).st_nlink)
        return real(src, dst, *args, **kwargs)

    try:
        sink = incremental_cuckoo_sink(spec, F.col("k"), state_dir)
        for mod, name in ((os, "unlink"), (os, "remove"), (os, "rmdir"), (shutil, "rmtree")):
            monkeypatch.setattr(mod, name, recorded(name, getattr(mod, name)))
        monkeypatch.setattr(os, "replace", replace)
        for e, batch in enumerate(batches):
            sink(batch, e)
        streaming._reclaimed()
        monkeypatch.undo()
        assert [d for d in deletes if d[1] == caller] == []
        assert any(d[0] == "rmtree" for d in deletes)  # the worker reclaimed epochs 0 and 1
        assert len(replaced_links) == 3 and min(replaced_links) >= 2, replaced_links
        assert sorted(os.listdir(state_dir)) == [
            ".trash", "epoch.json", "state_epoch2", "state_epoch3"
        ]
        assert os.listdir(os.path.join(state_dir, ".trash")) == []
        assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == 40
    finally:
        monkeypatch.undo()
        shutil.rmtree(work, ignore_errors=True)


def test_commit_reclaims_crash_leftovers(spark):
    """A crash can leave entries in ``.trash``, a pointer tmp file and a
    torn directory of the epoch about to be committed. The next commit
    succeeds, its retired copy of the torn directory does not collide
    with a trash entry of the same name, and once the reclaim worker is
    idle all of them are gone and the loads' length and sha256 checks
    pass."""
    from sketchlib import streaming

    spec = CuckooSpec(name="leftover", size=size_for(200, 2), fpsize=2)
    work = tempfile.mkdtemp(prefix="sketchlib-leftover-")
    state_dir = os.path.join(work, "state")
    trash = os.path.join(state_dir, ".trash")
    batches = [
        spark.createDataFrame([(f"k{e}_{i}",) for i in range(10)], "k string") for e in range(2)
    ]
    try:
        sink = incremental_cuckoo_sink(spec, F.col("k"), state_dir)
        sink(batches[0], 0)
        streaming._reclaimed()
        torn = os.path.join(state_dir, "state_epoch1")  # the epoch about to be committed
        for d in (torn, os.path.join(trash, "state_epoch1"), os.path.join(trash, "state_epoch7.0123")):
            os.makedirs(d)
            with open(os.path.join(d, "part-00000.parquet"), "wb") as f:
                f.write(b"torn")
        for stale in (os.path.join(trash, "epoch.json.0123"), os.path.join(state_dir, "epoch.json.tmp")):
            with open(stale, "w") as f:
                f.write("{}")
        sink(batches[1], 1)
        streaming._reclaimed()
        assert os.listdir(trash) == []
        assert sorted(os.listdir(state_dir)) == [
            ".trash", "epoch.json", "state_epoch0", "state_epoch1"
        ]
        with open(os.path.join(state_dir, "epoch.json")) as f:
            assert json.load(f)["epoch"] == 1
        sc = ShardedCuckoo.from_df(read_state(spark, state_dir), spec)
        assert (sc.rows, sc.count(), sc.dropped) == (20, 20, 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_streaming_paragraph_dedup_matches_batch(spark):
    """Doc_id-ordered micro-batches through the paragraph sink emit
    exactly the batch paragraph_dedup corpus (fp32 state → FP ~0), a
    duplicate paragraph never appears twice across batches, and a
    replayed epoch is a no-op for both output and state."""
    from sketchlib.dedup import paragraph_dedup
    from sketchlib.streaming import incremental_paragraph_dedup_sink

    rows = []
    for i in range(90):
        rows.append((i, f"unique para {i}\nshared boilerplate line\ncommon {i % 5}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        r["doc_id"]: (r["kept_text"], r["n_paras"], r["n_kept"])
        for r in paragraph_dedup(docs).collect()
    }

    spec = CuckooSpec(name="parastream", size=size_for(4000, 4), fpsize=4, num_shards=2)
    work = tempfile.mkdtemp(prefix="sketchlib-parastream-")
    state_dir, out_dir = os.path.join(work, "state"), os.path.join(work, "out")
    try:
        sink = incremental_paragraph_dedup_sink(spec, state_dir, out_dir)
        for e, lo in enumerate(range(0, 90, 30)):
            sink(docs.where(F.col("doc_id").between(lo, lo + 29)), e)
        got = {
            r["doc_id"]: (r["kept_text"], r["n_paras"], r["n_kept"])
            for r in spark.read.parquet(os.path.join(out_dir, "batch_epoch*")).collect()
        }
        assert got == want
        # replayed epoch: no-op (same output dirs, same state pointer)
        import json as _json

        with open(os.path.join(state_dir, "epoch.json")) as f:
            before = _json.load(f)
        sink(docs.limit(5), 1)
        with open(os.path.join(state_dir, "epoch.json")) as f:
            assert _json.load(f) == before
        # cross-batch guarantee: each normalized paragraph at most once
        kept_paras = []
        for (text, _, _) in got.values():
            kept_paras += [p.strip() for p in text.split("\n") if p.strip()]
        assert len(kept_paras) == len(set(kept_paras))
        assert "shared boilerplate line" in set(kept_paras)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_paragraph_retraction_exact_deletion(spark):
    """Cuckoo-backed retraction: after retracting a doc's emitted
    paragraphs, re-ingesting the same text keeps them again (exact
    deletion — the bloom-state design cannot do this); untouched
    paragraph classes still dedup."""
    from sketchlib.dedup import paragraph_table
    from sketchlib.spark.cuckoo import remove_keys
    from sketchlib.streaming import (
        incremental_paragraph_dedup_sink,
        retract_paragraphs_from_state,
    )

    docs = spark.createDataFrame(
        [(1, "secret para one\nsecret para two\ncommon line"),
         (2, "other text\ncommon line")],
        "doc_id long, text string",
    )
    spec = CuckooSpec(name="retract", size=size_for(1000, 4), fpsize=4, num_shards=2)
    work = tempfile.mkdtemp(prefix="sketchlib-retract-")
    state_dir, out_dir = os.path.join(work, "state"), os.path.join(work, "out")
    try:
        sink = incremental_paragraph_dedup_sink(spec, state_dir, out_dir)
        sink(docs, 0)
        emitted = spark.read.parquet(os.path.join(out_dir, "batch_epoch0"))
        victim = emitted.where("doc_id = 1").select("doc_id", "kept_text")
        # the distributed CF.REM over the same norms is the reference state
        norms = paragraph_table(victim.select("doc_id", F.col("kept_text").alias("text")))
        want = remove_keys(
            read_state(spark, state_dir), norms.select("__norm").distinct(), spec, key=F.col("__norm")
        )
        want = {r["shard"]: r.asDict() for r in want.collect()}
        n = retract_paragraphs_from_state(spec, state_dir, victim)
        assert n == 3  # doc 1 owned all three of its classes (incl. common line)
        got = {r["shard"]: r.asDict() for r in read_state(spark, state_dir).collect()}
        assert got == want
        # re-ingestion: doc 1's paragraphs are novel again; doc 2's
        # surviving class ('other text') still dedups
        sink(spark.createDataFrame(
            [(10, "secret para one\nother text")], "doc_id long, text string"), 1)
        out1 = spark.read.parquet(os.path.join(out_dir, "batch_epoch1")).first()
        assert out1["kept_text"] == "secret para one" and out1["n_kept"] == 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_retraction_starts_at_most_two_jobs(spark):
    """Retraction runs on the driver like a sink commit: the distinct
    paragraphs' hashes are the only thing it reads through Spark."""
    from sketchlib.streaming import (
        incremental_paragraph_dedup_sink,
        retract_paragraphs_from_state,
    )

    docs = spark.createDataFrame(
        [(i, f"para {i}\nshared line\nother {i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    spec = CuckooSpec(name="retractjobs", size=size_for(1000, 4), fpsize=4, num_shards=2)
    work = tempfile.mkdtemp(prefix="sketchlib-retractjobs-")
    state_dir, out_dir = os.path.join(work, "state"), os.path.join(work, "out")
    try:
        incremental_paragraph_dedup_sink(spec, state_dir, out_dir)(docs, 0)
        victims = (
            spark.read.parquet(os.path.join(out_dir, "batch_epoch0"))
            .where("doc_id < 5")
            .select("doc_id", "kept_text")
            .localCheckpoint(eager=True)
        )
        jobs = _jobs_in_group(
            spark,
            "test_retraction_starts_at_most_two_jobs",
            lambda: retract_paragraphs_from_state(spec, state_dir, victims),
        )
        assert len(jobs) <= 2, jobs
    finally:
        shutil.rmtree(work, ignore_errors=True)
