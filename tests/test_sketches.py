"""Sibling-sketch kernel tests (SURVEY.md §5 item 4): published error
bounds, merge associativity/byte-determinism, serialization round-trips."""

from __future__ import annotations

import numpy as np
import pytest

from sketchlib.kernels.bitutil import bit_length_u64, mix_u64
from sketchlib.kernels.bloom import BloomFilter, optimal_params
from sketchlib.kernels.cms import CountMinSketch, params_for
from sketchlib.kernels.hll import HyperLogLog
from sketchlib.kernels.kll import KLLSketch
from sketchlib.kernels.tdigest import TDigest


def _hashes(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 2**64, n, dtype=np.uint64, endpoint=False)


def test_bit_length_u64():
    x = np.array([0, 1, 2, 3, 255, 256, 2**31, 2**32 - 1, 2**63, 2**64 - 1], dtype=np.uint64)
    expect = np.array([v.bit_length() for v in x.tolist()])
    assert (bit_length_u64(x) == expect).all()


def test_mix_u64_deterministic_and_spread():
    x = np.arange(1000, dtype=np.uint64)
    a, b = mix_u64(x), mix_u64(x)
    assert (a == b).all()
    assert len(np.unique(a)) == 1000


@pytest.mark.parametrize(
    "sketch",
    [HyperLogLog(12), BloomFilter(1 << 12, 3), CountMinSketch(256, 4)],
    ids=["hll", "bloom", "cms"],
)
def test_blob_length_checked_against_header(sketch):
    """A truncated or padded blob raises instead of decoding to a sketch
    with a different estimate."""
    sketch.add_hashes(_hashes(3000))
    blob = sketch.to_bytes()
    assert type(sketch).from_bytes(blob).to_bytes() == blob
    for bad in (blob[:-1], blob[:-8], blob[:-64], blob + b"\0", blob + bytes(8)):
        with pytest.raises(ValueError, match="header declares"):
            type(sketch).from_bytes(bad)


# ------------------------------------------------------------------ bloom

def test_bloom_no_fn_and_fp_bound():
    n = 50_000
    m, k = optimal_params(n, 0.01)
    bf = BloomFilter(m, k)
    ins, held = _hashes(n, 1), _hashes(n, 2)
    bf.add_hashes(ins)
    assert bf.contains_hashes(ins).all()  # no false negatives
    fp = bf.contains_hashes(held).mean()
    assert fp <= 0.02
    # cardinality estimate from fill
    est = bf.approx_count_distinct()
    assert abs(est - n) / n < 0.05


def test_bloom_merge_byte_deterministic():
    m, k = optimal_params(10_000, 0.01)
    h = _hashes(10_000, 3)

    def build(chunks):
        parts = []
        for c in np.array_split(h, chunks):
            b = BloomFilter(m, k)
            b.add_hashes(c)
            parts.append(b.to_bytes())
        return parts

    a = BloomFilter.merge(build(4)).to_bytes()
    b = BloomFilter.merge(build(9)[::-1]).to_bytes()
    single = BloomFilter(m, k)
    single.add_hashes(h)
    assert a == b == single.to_bytes()
    back = BloomFilter.from_bytes(a)
    assert back.contains_hashes(h).all()


# -------------------------------------------------------------------- hll

@pytest.mark.parametrize("true_n", [100, 5_000, 200_000])
def test_hll_error_bound(true_n):
    hll = HyperLogLog(p=14)
    h = _hashes(true_n, 5)
    # add with duplicates: estimate must track DISTINCT count
    hll.add_hashes(np.concatenate([h, h[: true_n // 2]]))
    est = hll.estimate()
    rel = abs(est - true_n) / true_n
    assert rel <= 3 * 1.04 / np.sqrt(hll.m) + 0.01, f"rel err {rel}"


def test_hll_merge_byte_deterministic():
    h = _hashes(50_000, 6)

    def build(chunks):
        parts = []
        for c in np.array_split(h, chunks):
            s = HyperLogLog(p=12)
            s.add_hashes(c)
            parts.append(s.to_bytes())
        return parts

    a = HyperLogLog.merge(build(3)).to_bytes()
    b = HyperLogLog.merge(build(8)[::-1]).to_bytes()
    single = HyperLogLog(p=12)
    single.add_hashes(h)
    assert a == b == single.to_bytes()
    assert abs(HyperLogLog.from_bytes(a).estimate() - 50_000) / 50_000 < 0.05


# -------------------------------------------------------------------- cms

def test_cms_bounds():
    w, d = params_for(eps=0.001, delta=0.01)
    cms = CountMinSketch(w, d)
    rng = np.random.default_rng(7)
    # zipf-ish: key i appears ~ n/i times
    keys = _hashes(200, 8)
    counts = (200_000 / np.arange(1, 201)).astype(np.int64)
    cms.add_hashes(keys, counts)
    est = cms.query_hashes(keys)
    assert (est >= counts).all()  # one-sided guarantee
    assert (est <= counts + cms.eps * cms.total + 1).all()
    # unseen keys estimate only collision noise
    unseen = cms.query_hashes(_hashes(100, 9))
    assert (unseen <= cms.eps * cms.total + 1).all()


def test_cms_merge_byte_deterministic():
    keys = _hashes(1000, 10)

    def build(chunks):
        parts = []
        for c in np.array_split(keys, chunks):
            s = CountMinSketch(w=1024, d=4)
            s.add_hashes(c)
            parts.append(s.to_bytes())
        return parts

    a = CountMinSketch.merge(build(2)).to_bytes()
    b = CountMinSketch.merge(build(7)[::-1]).to_bytes()
    single = CountMinSketch(w=1024, d=4)
    single.add_hashes(keys)
    assert a == b == single.to_bytes()
    m = CountMinSketch.from_bytes(a)
    assert (m.query_hashes(keys) >= 1).all()
    assert m.total == 1000


# -------------------------------------------------------------------- kll

def _rank_of(sorted_data: np.ndarray, x: float) -> float:
    return np.searchsorted(sorted_data, x, side="right") / len(sorted_data)


QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


@pytest.mark.parametrize("dist", ["uniform", "sorted", "lognormal", "dupes"])
def test_kll_rank_error(dist):
    rng = np.random.default_rng(11)
    n = 100_000
    if dist == "uniform":
        data = rng.random(n)
    elif dist == "sorted":
        data = np.sort(rng.random(n))  # adversarial: fully sorted stream
    elif dist == "lognormal":
        data = rng.lognormal(0, 2, n)
    else:
        data = rng.integers(0, 50, n).astype(float)  # heavy duplicates
    sk = KLLSketch(k=256)
    sk.add_values(data)
    sd = np.sort(data)
    for q in QS:
        est = sk.quantile(q)
        assert abs(_rank_of(sd, est) - q) <= 0.025, (dist, q)


def test_kll_merge_consistency():
    rng = np.random.default_rng(12)
    data = rng.random(80_000)
    parts = []
    for c in np.array_split(data, 16):
        s = KLLSketch(k=256, seed=len(parts))
        s.add_values(c)
        parts.append(s.to_bytes())
    m = KLLSketch.merge(parts)
    m2 = KLLSketch.merge(parts[::-1])
    sd = np.sort(data)
    for q in QS:
        assert abs(_rank_of(sd, m.quantile(q)) - q) <= 0.03
        assert abs(_rank_of(sd, m2.quantile(q)) - q) <= 0.03
    assert m.count == 80_000
    back = KLLSketch.from_bytes(m.to_bytes())
    assert back.quantile(0.5) == m.quantile(0.5)


# ---------------------------------------------------------------- tdigest

@pytest.mark.parametrize("dist", ["uniform", "lognormal"])
def test_tdigest_rank_error(dist):
    rng = np.random.default_rng(13)
    n = 200_000
    data = rng.random(n) if dist == "uniform" else rng.lognormal(0, 2, n)
    td = TDigest(delta=200)
    td.add_values(data)
    sd = np.sort(data)
    for q in QS:
        est = td.quantile(q)
        assert abs(_rank_of(sd, est) - q) <= 0.02, (dist, q)
    # tails get RELATIVE accuracy: much tighter than mid-range
    for q in (0.001, 0.999):
        est = td.quantile(q)
        assert abs(_rank_of(sd, est) - q) <= 0.003, q


def test_tdigest_small_merge_stays_sorted():
    """Regression: merging partials whose total centroid count fits under
    delta+1 must still answer correct quantiles (merge_with concatenates
    unsorted arrays; the no-recompress path must sort)."""
    rng = np.random.default_rng(21)
    data = rng.normal(50, 10, 200)
    parts = []
    for c in np.array_split(data, 8):
        t = TDigest(delta=200)
        t.add_values(c)
        parts.append(t.to_bytes())
    m = TDigest.merge(parts)
    assert abs(m.quantile(0.5) - np.median(data)) < 2.0
    sd = np.sort(data)
    for q in (0.1, 0.5, 0.9):
        est = m.quantile(q)
        assert abs(_rank_of(sd, est) - q) <= 0.05, q


def test_tdigest_merge_consistency():
    rng = np.random.default_rng(14)
    data = rng.lognormal(0, 1, 100_000)
    parts = []
    for c in np.array_split(data, 10):
        t = TDigest(delta=200)
        t.add_values(c)
        parts.append(t.to_bytes())
    m = TDigest.merge(parts)
    m2 = TDigest.merge(parts[::-1])
    sd = np.sort(data)
    for q in QS:
        assert abs(_rank_of(sd, m.quantile(q)) - q) <= 0.025
        assert abs(_rank_of(sd, m2.quantile(q)) - q) <= 0.025
    assert m.count == 100_000
    back = TDigest.from_bytes(m.to_bytes())
    assert back.quantile(0.5) == pytest.approx(m.quantile(0.5))
    assert len(m.means) <= m.delta + 2  # compressed size bound


# ---------------------------------------------------------------- KMV


def _kmv_hashes(xs):
    import hashlib

    import numpy as np

    return np.array(
        [
            int.from_bytes(
                hashlib.blake2b(str(x).encode(), digest_size=8).digest(), "big"
            )
            for x in xs
        ],
        dtype=np.uint64,
    )


def test_kmv_exact_below_k_and_bounded_above():
    from sketchlib.kernels.kmv import KMVSketch

    s = KMVSketch(128)
    s.add_hashes(_kmv_hashes(range(100)))
    assert s.estimate() == 100.0  # exact below k
    big = KMVSketch(512)
    big.add_hashes(_kmv_hashes(range(50_000)))
    assert abs(big.estimate() - 50_000) / 50_000 <= 3 * big.rel_error


def test_kmv_merge_byte_identical_any_split_and_duplicates():
    """State is a set function of the distinct hash set: any partitioning,
    order, or duplication yields the SAME serialized bytes (counts aside —
    the count field tracks rows fed, so feed equal rows)."""
    from sketchlib.kernels.kmv import KMVSketch

    h = _kmv_hashes(range(10_000))
    full = KMVSketch(256)
    full.add_hashes(h)
    parts = []
    for lo, hi in [(7_000, 10_000), (0, 5_000), (3_000, 7_000), (5_000, 8_000)]:
        p = KMVSketch(256)
        p.add_hashes(h[lo:hi])
        parts.append(p.to_bytes())
    m = KMVSketch.merge(parts)
    assert m.mins.tobytes() == full.mins.tobytes()
    rt = KMVSketch.from_bytes(m.to_bytes())
    assert rt.mins.tobytes() == m.mins.tobytes() and rt.k == m.k


def test_kmv_set_operations_accuracy():
    from sketchlib.kernels.kmv import KMVSketch

    a, b = KMVSketch(1024), KMVSketch(1024)
    a.add_hashes(_kmv_hashes(range(0, 30_000)))
    b.add_hashes(_kmv_hashes(range(20_000, 50_000)))
    tol = 3 * a.rel_error
    assert abs(a.union_estimate(b) - 50_000) / 50_000 <= tol
    # intersection compounds jaccard + union errors: double tolerance
    assert abs(a.intersection_estimate(b) - 10_000) / 10_000 <= 2 * tol
    # difference is DIRECT (fraction of the combined synopsis in A only),
    # not the error-amplifying |A| - |A∩B| of two estimates
    # A = [0, 30k), B = [20k, 50k): |A∖B| = |B∖A| = 20 000
    assert abs(a.difference_estimate(b) - 20_000) / 20_000 <= 2 * tol
    assert abs(b.difference_estimate(a) - 20_000) / 20_000 <= 2 * tol
    # disjoint sets → (near-)zero intersection, difference ≈ |A|
    c = KMVSketch(1024)
    c.add_hashes(_kmv_hashes(range(1_000_000, 1_030_000)))
    assert a.intersection_estimate(c) <= 0.02 * 30_000
    assert abs(a.difference_estimate(c) - 30_000) / 30_000 <= tol + 0.02
    # exact below k: small disjoint synopses → exact difference
    s1, s2 = KMVSketch(1024), KMVSketch(1024)
    s1.add_hashes(_kmv_hashes(range(0, 300)))
    s2.add_hashes(_kmv_hashes(range(200, 500)))
    assert s1.difference_estimate(s2) == 200.0


def test_kmv_mismatched_k_raises_everywhere():
    """All cross-sketch ops require equal k — a mismatched union would
    silently bias toward the larger sketch (review finding r4)."""
    import pytest

    from sketchlib.kernels.kmv import KMVSketch

    a, b = KMVSketch(64), KMVSketch(128)
    for op in (a.merge_with, a.union_estimate, a.intersection_estimate, a.difference_estimate):
        with pytest.raises(ValueError):
            op(b)


def test_kmv_properties_hypothesis():
    """Property-based (the repo's lockstep strategy, applied to KMV): for
    arbitrary hash multisets and arbitrary partitionings, (a) the merged
    mins equal the bulk build's mins BYTE-for-byte (associativity +
    idempotence under overlap), (b) the estimate is exact below k, (c)
    serialization round-trips."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from sketchlib.kernels.kmv import KMVSketch

    @settings(max_examples=100, deadline=None)
    @given(
        hashes=st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300),
        cuts=st.lists(st.integers(min_value=0, max_value=300), max_size=4),
        k=st.sampled_from([8, 16, 64]),
    )
    def prop(hashes, cuts, k):
        h = np.array(hashes, dtype=np.uint64)
        bulk = KMVSketch(k)
        bulk.add_hashes(h)
        bounds = sorted({0, len(h), *[min(c, len(h)) for c in cuts]})
        parts = []
        for lo, hi in zip(bounds, bounds[1:]):
            p = KMVSketch(k)
            p.add_hashes(h[lo:hi])
            parts.append(p.to_bytes())
        if parts:
            merged = KMVSketch.merge(parts)
            assert merged.mins.tobytes() == bulk.mins.tobytes()
        n_distinct = len(np.unique(h))
        if n_distinct < k:
            assert bulk.estimate() == float(n_distinct)
        rt = KMVSketch.from_bytes(bulk.to_bytes())
        assert rt.mins.tobytes() == bulk.mins.tobytes() and rt.count == bulk.count

    prop()
