"""Structured Streaming tests: incremental cuckoo maintenance equals the
batch build byte-for-byte; checked, crash-atomic state commits; paragraph
dedup and its retraction."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sketchlib import streaming
from sketchlib.kernels.cuckoo import size_for
from sketchlib.spark.cuckoo import (
    CuckooSpec,
    ShardedCuckoo,
    build_partials,
    merge_partials,
    probe,
)
from sketchlib.streaming import incremental_cuckoo_sink, read_state


def _torn_write(state_dir, body):
    """A crash between a commit's body write and its header write:
    ``body`` lands in the slot the next commit rewrites, whose header still
    names the commit before the newest."""
    commit = streaming._read_commit(state_dir)
    with open(os.path.join(state_dir, streaming._SLOTS[(commit["seq"] + 1) % 2]), "r+b") as f:
        f.seek(streaming._HEADER_BYTES)
        f.write(body)


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

        # crash-atomicity: a crash after the body write but BEFORE the
        # header write leaves the previous commit the newest — recovery
        # re-reads consistent state and replays the batch once
        commit = streaming._read_commit(state_dir)
        _torn_write(state_dir, streaming._state_bytes(commit))
        # the newest header still names the old epoch → the next epoch folds in
        sink(docs.limit(0), commit["epoch"] + 1)  # empty replay: state unchanged
        final = {
            r["shard"]: bytes(r["sketch"]) for r in read_state(spark, state_dir).collect()
        }
        assert final == batch_blobs

        # the same crash in fast mode: the torn body holds the next epoch
        # already folded in, but the newest header still names the previous
        # one, so the replayed epoch folds its rows in exactly once
        fast_dir = os.path.join(work, "fast")
        fast = incremental_cuckoo_sink(spec, key, fast_dir, mode="fast")
        groups = [docs.filter(F.pmod("doc_id", F.lit(4)) == g) for g in range(4)]
        for e in range(3):
            fast(groups[e], e)
        crashed = os.path.join(work, "fast_crashed")
        shutil.copytree(fast_dir, crashed)
        incremental_cuckoo_sink(spec, key, crashed, mode="fast")(groups[3], 3)
        _torn_write(fast_dir, streaming._state_bytes(streaming._read_commit(crashed)))
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


def _slot_bytes(state_dir):
    out = {}
    for name in os.listdir(state_dir):
        with open(os.path.join(state_dir, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("mode", ["canonical", "fast"])
def test_sink_fold_drop_raises_before_commit(spark, mode):
    """A fold that would drop a fingerprint (a silent false negative) raises
    TooFullError naming the shard and the count; the slot files stay as
    they were."""
    from sketchlib.kernels.cuckoo import TooFullError

    spec = CuckooSpec(name="tiny", size=16, fpsize=1, num_shards=1)
    key = F.col("k")
    work = tempfile.mkdtemp(prefix="sketchlib-toofull-")
    state_dir = os.path.join(work, "state")
    try:
        sink = incremental_cuckoo_sink(spec, key, state_dir, mode=mode)
        sink(spark.createDataFrame([(f"a{i}",) for i in range(4)], "k string"), 0)
        before = _slot_bytes(state_dir)
        overfill = spark.createDataFrame([(f"b{i}",) for i in range(200)], "k string")
        with pytest.raises(TooFullError, match=r"shard 0: .*drop \d+ fingerprint"):
            sink(overfill, 1)
        assert _slot_bytes(state_dir) == before
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
            assert streaming._read_commit(state_dir)["epoch"] == e
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
        before = streaming._read_commit(state_dir)
        with pytest.warns(RuntimeWarning, match="epoch 0 < committed 1"):
            sink(batch, 0)
        assert streaming._read_commit(state_dir) == before
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
    job. Its result, and the Arrow table the driver reads from the state
    (``_state_table``), have PARTIAL_SCHEMA's column names and types."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

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
        schema = T._parse_datatype_string(PARTIAL_SCHEMA)
        want = [(c.name, c.dataType) for c in schema]
        assert [(c.name, c.dataType) for c in read_state(spark, state_dir).schema] == want
        table = streaming._state_table(streaming._read_commit(state_dir))
        assert [(c.name, c.type) for c in table.schema] == [
            (c.name, c.type) for c in to_arrow_schema(schema)
        ]
        assert table.num_rows == spec.num_shards
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _copy_older_over_newer(state_dir):
    shutil.copyfile(*(os.path.join(state_dir, s) for s in streaming._SLOTS))


def _flip(path, offset):
    with open(path, "r+b") as f:
        f.seek(offset)
        byte = f.read(1)
        f.seek(offset)
        f.write(bytes([byte[0] ^ 0xFF]))


def test_state_slots_are_checked(spark, sf_dir):
    """Each slot's header carries a crc and its body's length and sha256,
    and the newest commit's slot must sit beside its predecessor: a
    corrupt body or header, an older slot copied over the newer one and a
    deleted slot each raise in read_state, in the sink and in retraction,
    instead of yielding stale or empty state."""
    from sketchlib.streaming import retract_paragraphs_from_state

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spec = CuckooSpec(name="checked", size=size_for(2000, 2), fpsize=2, num_shards=2)
    key = F.col("doc_id").cast("string")
    work = tempfile.mkdtemp(prefix="sketchlib-checked-")
    state_dir = os.path.join(work, "state")
    newest = os.path.join(state_dir, streaming._SLOTS[1])
    breaks = {
        "body": (lambda: _flip(newest, streaming._HEADER_BYTES + 100), ValueError),
        "header": (lambda: _flip(newest, 8), ValueError),
        "older over newer": (lambda: _copy_older_over_newer(state_dir), ValueError),
        "deleted slot": (lambda: os.remove(newest), FileNotFoundError),
    }
    try:
        sink = incremental_cuckoo_sink(spec, key, state_dir)
        halves = [docs.filter(F.pmod("doc_id", F.lit(2)) == g) for g in range(2)]
        sink(halves[0], 0)
        sink(halves[1], 1)
        good = _slot_bytes(state_dir)
        kept = docs.select("doc_id", F.col("text").alias("kept_text"))
        for case, (corrupt, error) in breaks.items():
            corrupt()
            for load in (
                lambda: read_state(spark, state_dir),
                lambda: sink(halves[0], 2),
                lambda: retract_paragraphs_from_state(spec, state_dir, kept),
            ):
                with pytest.raises(error):
                    load()
            for name, data in good.items():
                with open(os.path.join(state_dir, name), "wb") as f:
                    f.write(data)
            assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == docs.count(), case
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_an_earlier_layout_is_loud(spark):
    """A state directory in the earlier layout (an ``epoch.json`` pointer
    beside ``state_epoch*`` directories) raises ValueError in every
    loader: a sink starting from an empty filter there would answer
    "never seen" for every key it had folded in."""
    from sketchlib.streaming import (
        incremental_paragraph_dedup_sink,
        retract_paragraphs_from_state,
    )

    spec = CuckooSpec(name="earlier", size=size_for(200, 2), fpsize=2)
    work = tempfile.mkdtemp(prefix="sketchlib-earlier-")
    state_dir = os.path.join(work, "state")
    try:
        os.makedirs(os.path.join(state_dir, "state_epoch0"))
        with open(os.path.join(state_dir, "epoch.json"), "w") as f:
            f.write('{"epoch": 0}')
        docs = spark.createDataFrame([(1, "a para")], "doc_id long, text string")
        kept = docs.select("doc_id", F.col("text").alias("kept_text"))
        for load in (
            lambda: read_state(spark, state_dir),
            lambda: incremental_cuckoo_sink(spec, F.col("text"), state_dir)(docs, 1),
            lambda: incremental_paragraph_dedup_sink(spec, state_dir, os.path.join(work, "out"))(
                docs, 1
            ),
            lambda: retract_paragraphs_from_state(spec, state_dir, kept),
        ):
            with pytest.raises(ValueError, match="epoch.json"):
                load()
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
    commits, it still collects that epoch after the sink has rewritten its
    slot. The state directory holds the two slots throughout."""
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
        sink(parts[1], 1)  # commit epoch 1 into the other slot
        sink(parts[2], 2)  # commit epoch 2 over epoch 0's slot
        assert streaming._read_commit(state_dir)["path"] == os.path.join(state_dir, "state.0")
        assert sorted(os.listdir(state_dir)) == list(streaming._SLOTS)
        assert ShardedCuckoo.from_df(held, spec).count() == parts[0].count()
        assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == docs.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_read_state_ignores_a_later_replaced_state_file(spark, sf_dir):
    """read_state's result is the newest slot's checked bytes at the time
    of the call: replacing that file afterwards (here by the older slot)
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
        _copy_older_over_newer(state_dir)
        assert sorted((r["shard"], bytes(r["sketch"])) for r in held.collect()) == want
        assert ShardedCuckoo.from_df(held, spec).count() == docs.count()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_sink_commits_rewrite_two_slots_in_place(spark, monkeypatch):
    """A commit frees no disk blocks: on any thread it deletes, renames,
    replaces, links and truncates nothing in the state directory, and it
    starts no thread. After four commits the directory holds exactly the
    two slots, with the inodes the first commit gave them."""
    import builtins
    import threading

    spec = CuckooSpec(name="inplace", size=size_for(200, 2), fpsize=2)
    work = tempfile.mkdtemp(prefix="sketchlib-inplace-")
    state_dir = os.path.join(work, "state")
    batches = [
        spark.createDataFrame([(f"k{e}_{i}",) for i in range(10)], "k string") for e in range(4)
    ]
    calls = []

    def recorded(name, fn):
        def call(*args, **kwargs):
            if any(str(a).startswith(state_dir) for a in args[:2]):
                calls.append((name, args[:2]))
            return fn(*args, **kwargs)

        return call

    def opened(file, mode="r", *args, real=builtins.open, **kwargs):
        if "w" in mode and str(file).startswith(state_dir):
            calls.append(("open", file, mode))
        return real(file, mode, *args, **kwargs)

    def start(self, real=threading.Thread.start):
        calls.append(("thread", self.name))
        return real(self)

    try:
        sink = incremental_cuckoo_sink(spec, F.col("k"), state_dir)
        sink(batches[0], 0)
        inodes = {s: os.stat(os.path.join(state_dir, s)).st_ino for s in streaming._SLOTS}
        for mod, names in (
            (os, ("unlink", "remove", "rmdir", "rename", "replace", "link", "truncate")),
            (shutil, ("rmtree", "move")),
        ):
            for name in names:
                monkeypatch.setattr(mod, name, recorded(name, getattr(mod, name)))
        monkeypatch.setattr(builtins, "open", opened)
        monkeypatch.setattr(threading.Thread, "start", start)
        for e, batch in enumerate(batches[1:], 1):
            sink(batch, e)
        monkeypatch.undo()
        assert calls == []
        assert sorted(os.listdir(state_dir)) == list(streaming._SLOTS)
        assert {s: os.stat(os.path.join(state_dir, s)).st_ino for s in streaming._SLOTS} == inodes
        assert ShardedCuckoo.from_df(read_state(spark, state_dir), spec).count() == 40
    finally:
        monkeypatch.undo()
        shutil.rmtree(work, ignore_errors=True)


def test_commit_overwrites_a_torn_write(spark):
    """A crash can leave a torn body, longer than any commit's, in the
    slot the next commit rewrites. That commit overwrites it in place
    without truncating the file, and the loads' length and sha256 checks
    pass."""
    spec = CuckooSpec(name="torn", size=size_for(200, 2), fpsize=2)
    work = tempfile.mkdtemp(prefix="sketchlib-torn-")
    state_dir = os.path.join(work, "state")
    batches = [
        spark.createDataFrame([(f"k{e}_{i}",) for i in range(10)], "k string") for e in range(2)
    ]
    try:
        sink = incremental_cuckoo_sink(spec, F.col("k"), state_dir)
        sink(batches[0], 0)
        _torn_write(state_dir, b"torn" * 100_000)
        sink(batches[1], 1)
        commit = streaming._read_commit(state_dir)
        assert (commit["seq"], commit["epoch"]) == (1, 1)
        assert os.path.getsize(commit["path"]) == streaming._HEADER_BYTES + 400_000
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
        # replayed epoch: no-op (same output dirs, same newest commit)
        before = streaming._read_commit(state_dir)
        sink(docs.limit(5), 1)
        assert streaming._read_commit(state_dir) == before
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
