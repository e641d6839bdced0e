"""Gate-hermeticity guarantees (VERDICT r4 next-round #1/#2).

Round 4's two driver-red rows traced to shared mutable /tmp cache paths
(concurrent-writer races) and a local replica whose float canon was
lossier than the driver's hash. These tests pin the fixes:

* the replica's value_hash detects a 1-ulp float perturbation and
  distinguishes NaN from NULL (driver-strength comparison);
* no registered query composes a shared basename-keyed /tmp path — all
  cache/scratch paths go through sketchlib.cache (content-addressed
  immutable dirs or run-scoped unique dirs);
* concurrent runs of the same sink query cannot corrupt each other;
* ensure_cached publishes atomically under a seeded write race.
"""

from __future__ import annotations

import math
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracles import value_hash  # noqa: E402


def test_value_hash_detects_1ulp_perturbation():
    base = pd.DataFrame({"k": [1, 2], "v": [0.1, 2.0 / 3.0]})
    same = pd.DataFrame({"k": [1, 2], "v": [0.1, 2.0 / 3.0]})
    bumped = base.copy()
    bumped.loc[1, "v"] = math.nextafter(bumped.loc[1, "v"], math.inf)
    assert value_hash(base) == value_hash(same)
    assert value_hash(base) != value_hash(bumped), (
        "replica float canon is lossier than the driver hash — a 1-ulp "
        "difference must change the fingerprint (VERDICT r4 #2)"
    )


def test_value_hash_distinguishes_nan_from_null():
    # object column: None survives to the canon (float columns coerce
    # NULL→NaN identically in both engines, so no distinction is possible
    # or needed there)
    a = pd.DataFrame({"v": pd.array([None, "x"], dtype=object)})
    b = pd.DataFrame({"v": pd.array([float("nan"), "x"], dtype=object)})
    assert value_hash(a) != value_hash(b)


def test_value_hash_distinguishes_int_widths():
    """A schema divergence whose values render identically (int32 vs
    int64) must fail the replica — the driver's schema_match catches it,
    so the replica has to as well (VERDICT r5 #2)."""
    import pyarrow as pa

    a = pa.table({"v": pa.array([1, 2], type=pa.int64())})
    b = pa.table({"v": pa.array([1, 2], type=pa.int32())})
    assert value_hash(a) != value_hash(b)
    # same bits, same engine-rendered values, different widths: only the
    # type channel distinguishes them
    assert value_hash(a)[3] != value_hash(b)[3]


def test_value_hash_distinguishes_date_from_timestamp():
    import datetime

    import pyarrow as pa

    d = pa.table({"t": pa.array([datetime.date(2020, 1, 1)], type=pa.date32())})
    ts = pa.table(
        {"t": pa.array([datetime.datetime(2020, 1, 1)], type=pa.timestamp("us"))}
    )
    assert value_hash(d) != value_hash(ts)


def test_value_hash_tz_and_unit_noise_collapses():
    """Engine noise must NOT flip the hash: Spark emits timestamp[us,
    tz=UTC], DuckDB emits naive timestamp[us] for the same instant."""
    import datetime

    import pyarrow as pa

    instant = datetime.datetime(2021, 6, 1, 12, 30, 15)
    naive = pa.table({"t": pa.array([instant], type=pa.timestamp("us"))})
    utc = pa.table({"t": pa.array([instant], type=pa.timestamp("us", tz="UTC"))})
    assert value_hash(naive) == value_hash(utc)


def test_value_hash_row_and_column_order_insensitive():
    a = pd.DataFrame({"k": [1, 2], "v": [1.5, 2.5]})
    b = pd.DataFrame({"v": [2.5, 1.5], "k": [2, 1]})
    assert value_hash(a) == value_hash(b)


def test_driver_gate_order_covers_rotated_entries():
    """The correctness gate checks only the first 50 queries() entries;
    gate_order must land every fronted entry inside that window, keep
    name->fn/oracle pairing intact, and cover each registered name
    exactly once."""
    import sketchlib.queries as q

    order = q.gate_order()
    assert sorted(order) == sorted(q.REGISTRY)          # a permutation
    gated = set(order[:50])
    for name in q._GATE_FRONT:
        assert name in gated, name
    # deferred entries sit past the cutoff but are still registered
    for name in q._GATE_DEFERRED:
        assert name in order[50:], name
    qs, osql = q.queries(), q.oracle_sql()
    assert list(qs) == order
    for name in osql:
        assert osql[name] == q.REGISTRY[name][1]
        assert qs[name] is q.REGISTRY[name][0]


def test_registry_has_no_shared_mutable_paths():
    """Lint: no registered query may compose a raw /tmp path — every
    cache or scratch dir must come from sketchlib.cache (immutable
    content-addressed dirs / run-scoped unique dirs). A shared
    basename-keyed path is exactly the r4 rows_match+hash_mismatch race."""
    import inspect

    from sketchlib.queries import queries

    offenders = []
    for name, fn in queries().items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            continue
        if "sketchlib_cache" in src or '"/tmp' in src or "'/tmp" in src:
            offenders.append(name)
    assert offenders == [], (
        f"queries composing raw /tmp paths (use sketchlib.cache): {offenders}"
    )


def test_registry_outputs_are_driver_hashable(spark, sf_dir):
    """Registry-wide schema lint (VERDICT r6 #2): the driver's
    canonicalizer sorts result cells with pandas, which cannot hash
    list/dict cells — a gate entry returning ArrayType/MapType/StructType
    is a guaranteed driver `err` row (the r6 failure class: 4 red rows,
    all `unhashable type: 'list'`). Every queries() entry must emit only
    scalar columns; library APIs keep their array forms, gate entries
    serialize (CSV for engine-exact integers/strings, posexplode for
    floats needing bitwise comparison)."""
    from pyspark.sql import types as T

    from sketchlib.queries import queries

    # these builders EXECUTE real work (foreachBatch folds, sink
    # write/read roundtrips) rather than just constructing a plan —
    # skipped here for test-suite cost; their schemas stay covered by
    # check_oracles' container_types rejection, which runs every entry
    eager_entries = {
        "streaming_paragraph_dedup_replay",
        "sink_roundtrip_csv",
        "sink_roundtrip_jsonl",
    }
    offenders: dict[str, list[str]] = {}
    for name, fn in queries().items():
        if name in eager_entries:
            continue
        bad = [
            f.name
            for f in fn(spark, sf_dir).schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert offenders == {}, (
        "gate entries with container-typed output columns (the driver canon "
        f"cannot hash them — serialize to scalars): {offenders}"
    )


def test_replica_rejects_container_typed_outputs():
    """The replica must reject whatever the driver cannot hash (the
    recurring 'replica ≥ driver strictness' rule, container-type
    dimension): check_oracles flags an array-typed result as a failure
    even when both engines produce identical arrays."""
    import pyarrow as pa

    from check_oracles import container_types, value_hash

    tbl = pa.table({"k": [1], "v": pa.array([[1, 2]], type=pa.list_(pa.int32()))})
    res = value_hash(tbl)
    assert container_types(res[2]) == ["array<int32>"]
    scalar = pa.table({"k": [1]})
    assert container_types(value_hash(scalar)[2]) == []


def test_concurrent_sink_runs_do_not_corrupt(spark, sf_dir):
    """Two simultaneous runs of the CSV sink roundtrip must both return
    the exact aggregate — with run-scoped unique dirs there is no shared
    path to clobber (the r4 failure mode, seeded here via a thread race)."""
    from concurrent.futures import ThreadPoolExecutor

    from sketchlib.queries import queries

    fn = queries()["sink_roundtrip_csv"]
    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(lambda: value_hash(fn(spark, sf_dir))) for _ in range(2)]
        res = [f.result() for f in futs]
    assert res[0] == res[1]
    # and both match a fresh serial run
    assert value_hash(fn(spark, sf_dir)) == res[0]


def test_sink_leaves_no_scratch_dirs(spark, sf_dir):
    from sketchlib.cache import CACHE_ROOT
    from sketchlib.queries import queries

    run_dir = os.path.join(CACHE_ROOT, "run")
    before = set(os.listdir(run_dir)) if os.path.isdir(run_dir) else set()
    queries()["sink_roundtrip_jsonl"](spark, sf_dir).collect()
    after = set(os.listdir(run_dir)) if os.path.isdir(run_dir) else set()
    leaked = {d for d in after - before if d.startswith("roundtrip_jsonl")}
    assert leaked == set()


def test_ensure_cached_atomic_under_write_race(tmp_path):
    """Seeded concurrent build of the same cache path: both writers run,
    exactly one publishes, the published dir is complete and immutable,
    and no temp dirs leak."""
    import threading
    import time

    from sketchlib.cache import ensure_cached

    path = str(tmp_path / "cachedir")
    barrier = threading.Barrier(2)
    winners = []

    def writer_factory(tag):
        def writer(tmp):
            os.makedirs(tmp)
            barrier.wait()  # both builders are mid-write simultaneously
            with open(os.path.join(tmp, "data.txt"), "w") as f:
                f.write(tag)
            time.sleep(0.05)
            open(os.path.join(tmp, "_SUCCESS"), "w").close()
        return writer

    def run(tag):
        ensure_cached(path, writer_factory(tag))
        winners.append(tag)

    t1 = threading.Thread(target=run, args=("a",))
    t2 = threading.Thread(target=run, args=("b",))
    t1.start(); t2.start(); t1.join(); t2.join()

    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    with open(os.path.join(path, "data.txt")) as f:
        assert f.read() in ("a", "b")  # one COMPLETE write, never a mix
    leftovers = [d for d in os.listdir(tmp_path) if ".tmp-" in d]
    assert leftovers == []
    # an already-published dir is never rebuilt
    calls = []
    ensure_cached(path, lambda tmp: calls.append(tmp))
    assert calls == []


def test_content_cache_path_tracks_version_and_data(tmp_path):
    from sketchlib.cache import content_cache_path

    sf = tmp_path / "sfx"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"1234")
    p1 = content_cache_path(str(sf), "roll", "v1", ["events"])
    p1b = content_cache_path(str(sf), "roll", "v1", ["events"])
    p2 = content_cache_path(str(sf), "roll", "v2", ["events"])
    assert p1 == p1b and p1 != p2
    (sf / "events.parquet").write_bytes(b"12345")  # size change → new key
    p3 = content_cache_path(str(sf), "roll", "v1", ["events"])
    assert p3 != p1


@pytest.mark.parametrize("q", ["hourly_continuous_aggregate"])
def test_rollup_cache_is_immutable_published(spark, sf_dir, q):
    """The rollup query publishes a content-addressed dir; a second run
    reuses it byte-identically (no overwrite path exists)."""
    from sketchlib.cache import content_cache_path
    from sketchlib.queries import queries

    fn = queries()[q]
    h1 = value_hash(fn(spark, sf_dir))
    path = content_cache_path(sf_dir, "rollup_hour", "v3", ["events"])
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    mtimes = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    h2 = value_hash(fn(spark, sf_dir))
    assert h1 == h2
    assert mtimes == {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }, "published cache dir was rewritten — it must be immutable"


def test_ensure_cached_expect_heals_partial_publish(tmp_path):
    """A marker-bearing cache dir missing an expected child (the r6
    SIGTERM-mid-session state) is quarantined and rebuilt instead of
    wedging every consumer; a valid dir is still never rebuilt; a writer
    that fails to produce an expected child raises loudly."""
    import pytest

    from sketchlib.cache import ensure_cached

    path = str(tmp_path / "ivfcache")
    # simulate the partial publish: marker present, 'index_centroids' absent
    os.makedirs(os.path.join(path, "index"))
    open(os.path.join(path, "_SUCCESS"), "w").close()

    def good(tmp):
        os.makedirs(os.path.join(tmp, "index"))
        os.makedirs(os.path.join(tmp, "index_centroids"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    ensure_cached(path, good, expect=("index", "index_centroids"))
    assert os.path.exists(os.path.join(path, "index_centroids"))
    # now valid: not rebuilt
    calls = []
    ensure_cached(path, lambda t: calls.append(t), expect=("index", "index_centroids"))
    assert calls == []
    # a writer that omits an expected child must raise, not publish quietly
    bad_path = str(tmp_path / "badcache")

    def bad(tmp):
        os.makedirs(os.path.join(tmp, "index"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    with pytest.raises(RuntimeError, match="expected child"):
        ensure_cached(bad_path, bad, expect=("index", "index_centroids"))


def test_ensure_cached_quarantine_never_deletes_concurrent_valid_publish(
    tmp_path, monkeypatch
):
    """TOCTOU seam: a concurrent builder publishes a VALID dir between
    our staleness check and the quarantine rename — the claimed dir is
    re-verified AFTER the atomic rename and restored, never deleted, and
    our writer does not run (first publisher wins)."""
    import sketchlib.cache as cache

    path = str(tmp_path / "c")
    os.makedirs(os.path.join(path, "index"))  # stale partial: no marker
    real_rename = os.rename
    armed = {"on": True}

    def racy_rename(src, dst):
        if armed["on"] and src == path:
            armed["on"] = False
            # the concurrent publisher completes path just before our claim
            open(os.path.join(path, "_SUCCESS"), "w").close()
            os.makedirs(os.path.join(path, "index_centroids"))
        return real_rename(src, dst)

    monkeypatch.setattr(cache.os, "rename", racy_rename)
    calls = []
    out = cache.ensure_cached(
        path, lambda t: calls.append(t), expect=("index", "index_centroids")
    )
    assert out == path and calls == []
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert os.path.exists(os.path.join(path, "index_centroids"))
    assert not [d for d in os.listdir(tmp_path) if "markerless" in d]
