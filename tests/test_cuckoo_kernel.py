"""Kernel unit tests mirroring the reference's in-source Zig tests 1:1
(``/root/reference/src/lib/zig-cuckoofilter.zig:263-585``), plus lockstep
differential tests against a pure-Python model (the reference's own
methodology, RELEASENOTES:104-117), batch-kernel equivalence, serialization
round-trips, and canonical-merge invariance (SURVEY.md §5 items 1-3)."""

from __future__ import annotations

import numpy as np
import pytest

from sketchlib.kernels.cuckoo import (
    BUCK_SIZE,
    MAX_ERROR,
    BadLengthError,
    BrokenError,
    CuckooFilter,
    TooFullError,
    capacity,
    size_for,
    size_for_exactly,
    size2str,
    str2size,
)
from sketchlib.kernels.prng import Xoroshiro128Plus

from tests.pymodel import PyBroken, PyCuckoo, PyTooFull

FPSIZES = [1, 2, 4]


def kstate(cf: CuckooFilter):
    return (
        tuple(tuple(int(x) for x in row) for row in cf.buckets),
        int(cf.homeless_fp),
        int(cf.homeless_bucket_idx) if cf.homeless_fp else None,
        cf.fpcount,
        cf.broken,
        cf.prng.state,
    )


def pairs_multiset(cf: CuckooFilter):
    b, f = cf.extract_pairs()
    return sorted(zip(b.tolist(), f.tolist()))


# ---------------------------------------------------------------- prng

def test_xoroshiro_golden():
    """Pin the deterministic stream (regression guard for merge byte-identity)."""
    g = Xoroshiro128Plus(seed=42)
    first = [g.next_u64() for _ in range(4)]
    g2 = Xoroshiro128Plus(seed=42)
    assert [g2.next_u64() for _ in range(4)] == first
    assert len(set(first)) == 4
    g3 = Xoroshiro128Plus(state=g.state)
    assert g3.next_u64() == g.next_u64()


# ------------------------------------------------- reference test parity

@pytest.mark.parametrize("fpsize", FPSIZES)
def test_involution(fpsize):
    """Mirrors "Hx == (Hy XOR hash(fp))" (reference lib:263-275)."""
    cf = CuckooFilter.create(1 << 18, fpsize)
    fp = ord("x")
    for idx in [0, 1, 42, 500, 5000, 10585, 10586, 18028, (1 << 15) - 1]:
        alt = cf._alt_idx_scalar(idx, fp)
        assert cf._alt_idx_scalar(alt, fp) == idx
    idxs = np.array([0, 1, 42, 500, 5000, 10585, 10586, 18028, (1 << 15) - 1], dtype=np.int64)
    fps = np.full(len(idxs), fp)
    alts = cf._alt_idx_vec(idxs, fps.astype(np.uint64))
    assert (cf._alt_idx_vec(alts, fps.astype(np.uint64)) == idxs).all()


@pytest.mark.parametrize("fpsize", FPSIZES)
def test_not_broken_smoke(fpsize):
    """Mirrors test_not_broken / "generics are not completely broken"
    (reference lib:277-314)."""
    cf = CuckooFilter.create(16, fpsize)
    assert not cf.contains_one(2, 1)
    assert cf.count() == 0
    cf.add_one(2, 1)
    assert cf.contains_one(2, 1)
    assert cf.count() == 1
    cf.remove_one(2, 1)
    assert not cf.contains_one(2, 1)
    assert cf.count() == 0
    assert not cf.is_broken()


@pytest.mark.parametrize("fpsize", FPSIZES)
def test_too_full_duplicate_copies(fpsize):
    """Mirrors "too full when adding too many copies" (reference lib:316-378)."""
    bl = BUCK_SIZE[fpsize]
    cf = CuckooFilter.create(1024, fpsize)
    for _ in range(bl * 2):
        cf.add_one(0, 1)
    assert not cf.is_toofull()
    # first overflow occupies the homeless slot
    cf.add_one(0, 1)
    assert cf.is_toofull()
    for _ in range(3):
        with pytest.raises(TooFullError):
            cf.add_one(0, 1)
        assert cf.is_toofull()
    for _ in range(bl * 2):
        cf.add_one(2, 1)
    for _ in range(3):
        with pytest.raises(TooFullError):
            cf.add_one(2, 1)
    assert cf.is_toofull()
    with pytest.raises(TooFullError):
        cf.fix_toofull()
    cf.remove_one(0, 1)
    cf.fix_toofull()
    assert not cf.is_toofull()
    cf.add_one(2, 1)
    assert cf.is_toofull()
    for _ in range(bl * 2):
        cf.remove_one(2, 1)
    assert cf.contains_one(2, 1)  # homeless fp findable
    cf.remove_one(2, 1)
    assert not cf.contains_one(2, 1)
    assert not cf.is_broken()


@pytest.mark.parametrize("fpsize", FPSIZES)
def test_properly_breaks_when_misused(fpsize):
    """Mirrors "properly breaks when misused" (reference lib:380-391)."""
    cf = CuckooFilter.create(1024, fpsize)
    with pytest.raises(BrokenError):
        cf.remove_one(2, 1)
    assert cf.is_broken()
    with pytest.raises(BrokenError):
        cf.add_one(2, 1)
    with pytest.raises(BrokenError):
        cf.count()
    with pytest.raises(BrokenError):
        cf.contains_one(2, 1)


def _test_set(n_inserted: int, n_heldout: int, seed: int = 42):
    """Analogue of the reference TestSet (lib:393-431): unique 64-bit hashes
    keyed to fingerprints, one inserted set, one disjoint held-out set."""
    rng = np.random.default_rng(seed)
    h = rng.choice(np.iinfo(np.int64).max, size=n_inserted + n_heldout, replace=False)
    h = h.astype(np.uint64)
    fps = rng.integers(0, 2**32, size=n_inserted + n_heldout, dtype=np.uint64)
    return (h[:n_inserted], fps[:n_inserted]), (h[n_inserted:], fps[n_inserted:])


@pytest.mark.parametrize("fpsize", FPSIZES)
def test_small_stress(fpsize):
    """Mirrors "small stress test" (reference lib:433-585): 60k inserted,
    10k held-out, FP < 2.5% (lib:506,:517,:527), delete-all leaves memory
    all-zero (lib:565-575)."""
    (ih, ifp), (hh, hfp) = _test_set(60_000, 10_000)
    cf = CuckooFilter.create(size_for(60_000, fpsize), fpsize)
    assert not cf.contains_batch(ih, ifp).any()
    dropped = cf.add_batch(ih, ifp, on_toofull="count")
    assert dropped == 0
    assert cf.count() == 60_000
    # exactly n nonzero fingerprints stored (lib:470-480)
    stored = int((cf.buckets != 0).sum()) + (1 if cf.is_toofull() else 0)
    assert stored == 60_000
    # no false negatives (lib:490-504)
    assert cf.contains_batch(ih, ifp).all()
    # held-out FP rate below the reference stress threshold (lib:527).
    # MAX_ERROR is the asymptotic max *rate*; on a 10k-probe sample the
    # observed count is Poisson around rate·n, so we assert the reference's
    # own 2.5% threshold plus a loose per-width sanity margin.
    fp_rate = cf.contains_batch(hh, hfp).mean()
    assert fp_rate < 0.025
    loose = {1: 0.04, 2: 0.001, 4: 1e-3}[fpsize]
    assert fp_rate <= loose
    # delete half, deleted keys only FP within threshold (lib:506-517)
    half = 30_000
    cf.remove_batch(ih[:half], ifp[:half])
    assert cf.count() == half
    assert cf.contains_batch(ih[half:], ifp[half:]).all()
    assert cf.contains_batch(ih[:half], ifp[:half]).mean() < 0.025
    # re-add, then delete everything: memory must be all zeros (lib:565-575)
    cf.add_batch(ih[:half], ifp[:half])
    cf.remove_batch(ih, ifp)
    assert cf.count() == 0
    assert (cf.buckets == 0).all()
    assert not cf.is_toofull() and not cf.is_broken()


# ------------------------------------------------------------ quirks

@pytest.mark.parametrize("fpsize", FPSIZES)
def test_fp_zero_remap_quirk(fpsize):
    """fp 0 is remapped to 1 → 0 and 1 are indistinguishable (lib:111,157)."""
    cf = CuckooFilter.create(64, fpsize)
    cf.add_one(7, 0)
    assert cf.contains_one(7, 0)
    assert cf.contains_one(7, 1)
    cf.remove_one(7, 1)
    assert cf.count() == 0


def test_fp_truncation_quirk():
    """High fingerprint bits dropped when fpsize < 4 (README.md:202-204)."""
    cf = CuckooFilter.create(64, 1)
    cf.add_one(3, 256 + 5)
    assert cf.contains_one(3, 5)


def test_broken_filter_still_hits():
    """A broken filter answers True on a hit; errors only on a miss (lib:110-123)."""
    cf = CuckooFilter.create(64, 2)
    cf.add_one(5, 9)
    with pytest.raises(BrokenError):
        cf.remove_one(6, 1)  # poison
    assert cf.contains_one(5, 9)  # hit path still works
    with pytest.raises(BrokenError):
        cf.contains_one(6, 1)  # miss path errors


# ----------------------------------------------------------- sizing

def test_capacity_and_size_for():
    assert capacity(65536, 1) == 65536
    assert capacity(65536, 2) == 32768
    assert capacity(65536, 4) == 16384
    # size_for pads +20% then rounds up to pow2 slots (lib:70-79)
    assert size_for_exactly(1024, 2) == 2048
    assert size_for_exactly(1025, 2) == 4096
    assert size_for(60_000, 1) == 131072  # 72000 → 2^17 slots × 1B
    assert size_for(60_000, 2) == 262144
    assert size_for_exactly(0, 2) == 16  # min size = 2 buckets


def test_str2size_grammar():
    """Mirrors the reference str2size/size2str tests
    (redis-cuckoofilter.zig:507-567)."""
    assert str2size("1K") == 1024
    assert str2size("64k") == 64 * 1024
    assert str2size("512M") == 512 * 1024**2
    assert str2size("8G") == 8 * 1024**3
    for bad in ["5K", "55", "800G", "", "K", "16G", "1024K", "1T"]:
        with pytest.raises(ValueError):
            str2size(bad)
    assert size2str(1024) == "1K"
    assert size2str(64 * 1024) == "64K"
    assert size2str(8 * 1024**3) == "8G"
    for bad in [512, 3 * 1024, 16 * 1024**3]:
        with pytest.raises(ValueError):
            size2str(bad)
    for s in ["1K", "2K", "256K", "4M", "2G", "8G"]:
        assert size2str(str2size(s)) == s


def test_create_validation():
    with pytest.raises(BadLengthError):
        CuckooFilter.create(100, 1)  # not pow2
    with pytest.raises(BadLengthError):
        CuckooFilter.create(4, 2)  # below min
    with pytest.raises(ValueError):
        CuckooFilter.create(64, 3)  # bad fpsize


# ----------------------------------------------------- serialization

@pytest.mark.parametrize("fpsize", FPSIZES)
def test_serialization_roundtrip(fpsize):
    (ih, ifp), _ = _test_set(500, 0)
    cf = CuckooFilter.create(size_for(500, fpsize), fpsize)
    cf.add_batch(ih, ifp)
    blob = cf.to_bytes()
    back = CuckooFilter.from_bytes(blob)
    assert kstate(back) == kstate(cf)
    assert back.to_bytes() == blob
    assert back.digest() == cf.digest()
    assert back.contains_batch(ih, ifp).all()
    with pytest.raises(BadLengthError):
        CuckooFilter.from_bytes(b"XXXX" + blob[4:])
    with pytest.raises(BadLengthError):
        CuckooFilter.from_bytes(blob[:-3])


# -------------------------------------------------- lockstep vs model

@pytest.mark.parametrize("fpsize", FPSIZES)
def test_lockstep_differential(fpsize):
    """Scalar kernel vs pure-Python model, full state compared after every
    op (the reference's own lockstep methodology, RELEASENOTES:104-117)."""
    size = 512
    cf = CuckooFilter.create(size, fpsize)
    model = PyCuckoo(size, fpsize)
    rng = np.random.default_rng(123)
    inserted: list[tuple[int, int]] = []
    for step in range(3000):
        op = rng.integers(0, 10)
        h = int(rng.integers(0, 2**63))
        fp = int(rng.integers(0, 2**32))
        if op < 5 or not inserted:  # add
            r1 = r2 = None
            try:
                cf.add_one(h, fp)
            except (TooFullError, BrokenError) as e:
                r1 = type(e).__name__
            try:
                model.add(h, fp)
            except (PyTooFull, PyBroken) as e:
                r2 = {"PyTooFull": "TooFullError", "PyBroken": "BrokenError"}[type(e).__name__]
            assert r1 == r2, f"step {step} add mismatch"
            if r1 is None:
                inserted.append((h, fp))
        elif op < 8:  # remove an inserted item
            h, fp = inserted.pop(int(rng.integers(0, len(inserted))))
            cf.remove_one(h, fp)
            model.remove(h, fp)
        elif op == 8:  # probe
            assert cf.contains_one(h, fp) == model.contains(h, fp)
        else:  # fix_toofull
            r1 = r2 = None
            try:
                cf.fix_toofull()
            except TooFullError:
                r1 = "toofull"
            try:
                model.fix_toofull()
            except PyTooFull:
                r2 = "toofull"
            assert r1 == r2
        assert kstate(cf) == model.state(), f"state diverged at step {step}"


@pytest.mark.parametrize("fpsize", FPSIZES)
def test_batch_equals_sequential_multiset(fpsize):
    """Batch kernel vs one-op-at-a-time: identical canonical pair multisets,
    fpcount, and no-false-negative sets (physical slot layout may differ —
    documented batch semantics)."""
    (ih, ifp), (hh, hfp) = _test_set(4000, 1000, seed=7)
    size = size_for(4000, fpsize)
    batch = CuckooFilter.create(size, fpsize)
    batch.add_batch(ih, ifp)
    seq = CuckooFilter.create(size, fpsize)
    for h, fp in zip(ih.tolist(), ifp.tolist()):
        seq.add_one(h, fp)
    assert batch.count() == seq.count() == 4000
    assert pairs_multiset(batch) == pairs_multiset(seq)
    assert batch.contains_batch(ih, ifp).all()
    assert seq.contains_batch(ih, ifp).all()


@pytest.mark.parametrize("fpsize", FPSIZES)
def test_batch_determinism(fpsize):
    (ih, ifp), _ = _test_set(2000, 0, seed=11)
    a = CuckooFilter.create(size_for(2000, fpsize), fpsize)
    a.add_batch(ih, ifp)
    b = CuckooFilter.create(size_for(2000, fpsize), fpsize)
    b.add_batch(ih, ifp)
    assert a.to_bytes() == b.to_bytes()


def test_batch_duplicate_removes():
    cf = CuckooFilter.create(256, 2)
    h = np.array([9, 9, 9], dtype=np.uint64)
    fp = np.array([5, 5, 5])
    cf.add_batch(h, fp)
    assert cf.count() == 3
    cf.remove_batch(h[:2], fp[:2])
    assert cf.count() == 1
    assert cf.contains_one(9, 5)
    cf.remove_one(9, 5)
    assert not cf.contains_one(9, 5)


# ------------------------------------------------------------- merge

@pytest.mark.parametrize("fpsize", FPSIZES)
def test_merge_order_and_partition_invariance(fpsize):
    """Canonical merge: byte-identical blob for any partial order, any
    chunking, and any merge-tree shape (SURVEY.md §2.3)."""
    (ih, ifp), (hh, hfp) = _test_set(6000, 1000, seed=3)
    size = size_for(6000, fpsize)

    def build_chunks(k: int):
        outs = []
        for part in range(k):
            cf = CuckooFilter.create(size, fpsize, seed=1000 + part)
            sl = slice(part * len(ih) // k, (part + 1) * len(ih) // k)
            cf.add_batch(ih[sl], ifp[sl])
            outs.append(cf)
        return outs

    m2 = CuckooFilter.merge(build_chunks(2), seed=99)
    m7 = CuckooFilter.merge(build_chunks(7), seed=99)
    chunks = build_chunks(5)
    m5r = CuckooFilter.merge(chunks[::-1], seed=99)
    # tree shape: merge pairs then merge the results
    left = CuckooFilter.merge(chunks[:2], seed=99)
    right = CuckooFilter.merge(chunks[2:], seed=99)
    mtree = CuckooFilter.merge([left, right], seed=99)
    blobs = {m.to_bytes() for m in (m2, m7, m5r, mtree)}
    assert len(blobs) == 1
    assert m2.count() == 6000
    assert m2.contains_batch(ih, ifp).all()
    assert m2.contains_batch(hh, hfp).mean() <= max(MAX_ERROR[fpsize], 0.025)


def test_merge_requires_same_shape():
    a = CuckooFilter.create(256, 2)
    b = CuckooFilter.create(512, 2)
    c = CuckooFilter.create(256, 1)
    with pytest.raises(ValueError):
        CuckooFilter.merge([a, b])
    with pytest.raises(ValueError):
        CuckooFilter.merge([a, c])


def test_merge_propagates_broken():
    a = CuckooFilter.create(256, 2)
    b = CuckooFilter.create(256, 2)
    with pytest.raises(BrokenError):
        b.remove_one(1, 1)
    m = CuckooFilter.merge([a, b])
    assert m.is_broken()


def test_encoding_version_evolution_v1_v2():
    """Encoding-version migration (VERDICT r4 #7, reference encver
    rejection t_cuckoofilter.zig:71-75): v1 blobs still load under the
    v2-capable reader, v2 round-trips with its integrity checksum, a
    corrupted v2 blob and an unknown version both fail loud, and the
    default stays byte-identical v1 (the merge byte-identity contract)."""
    import hashlib

    import pytest

    from sketchlib.kernels.cuckoo import BadLengthError, CuckooFilter, size_for

    cf = CuckooFilter.create(size_for(500, 2), 2)
    ih = np.arange(1, 400, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    ifp = (ih >> np.uint64(7)) & np.uint64(0xFF)
    cf.add_batch(ih, ifp)

    v1 = cf.to_bytes()
    assert v1 == cf.to_bytes(version=1)  # default IS v1 — bytes pinned
    old_style = CuckooFilter.from_bytes(v1)  # a pre-evolution blob loads
    assert old_style.to_bytes() == v1

    v2 = cf.to_bytes(version=2)
    assert len(v2) == len(v1) + 32
    assert v2[-32:] == hashlib.sha256(v2[:-32]).digest()
    back = CuckooFilter.from_bytes(v2)
    assert back.to_bytes() == v1  # semantic state identical across versions
    assert back.contains_batch(ih, ifp).all()

    corrupt = bytearray(v2)
    corrupt[len(corrupt) // 2] ^= 0xFF
    with pytest.raises(BadLengthError, match="checksum"):
        CuckooFilter.from_bytes(bytes(corrupt))

    v3 = bytearray(v1)
    v3[4] = 3  # bump the little-endian version field
    with pytest.raises(BadLengthError, match="unsupported encoding version"):
        CuckooFilter.from_bytes(bytes(v3))
    with pytest.raises(ValueError, match="unknown encoding version"):
        cf.to_bytes(version=3)


# ------------------------------------------------------- golden bytes

def _golden_run(fpsize: int) -> dict[str, str]:
    """One fixed-seed pass over the batch kernel: the sha256 of the blob
    after each step (prefixed by the drop count where one is returned)."""
    from sketchlib.kernels.cuckoo import canonical_pairs, pack_pairs

    rng = np.random.default_rng(1000 + fpsize)
    size = 2048
    slots = capacity(size, fpsize)

    def items(n):
        return (
            rng.integers(0, 2**64, size=n, dtype=np.uint64),
            rng.integers(0, 2**32, size=n, dtype=np.uint64),
        )

    out = {}
    # add_batch past capacity: the kick loop runs, one item ends homeless
    # and the rest drop
    h, f = items(slots + slots // 8)
    full = CuckooFilter.create(size, fpsize, seed=1)
    dropped = full.add_batch(h, f, on_toofull="count")
    assert dropped > 0 and full.is_toofull()
    out["add_batch"] = f"{dropped}:{full.digest()}"

    # remove_batch of duplicated members, some stored in their alt bucket
    u_h, u_f = items(slots // 2)
    dup = slots // 8
    flt = CuckooFilter.create(size, fpsize, seed=2)
    flt.add_batch(np.concatenate([u_h, u_h[:dup]]), np.concatenate([u_f, u_f[:dup]]))
    rh = np.concatenate([u_h[:dup], u_h[: 2 * dup], u_h[-dup:]])
    rf = np.concatenate([u_f[:dup], u_f[: 2 * dup], u_f[-dup:]])
    fp = rf.astype(flt.buckets.dtype)
    fp[fp == 0] = 1
    primary = flt.buckets[(rh & np.uint64(flt.nbuckets - 1)).astype(np.int64)]
    assert not (primary == fp[:, None]).any(axis=1).all()
    flt.remove_batch(rh, rf)
    assert flt.count() == slots // 2 + dup - len(rh)
    out["remove_batch"] = flt.digest()
    # a non-member in the batch poisons the filter after the members go
    miss_h, miss_f = items(64)
    miss = ~flt.contains_batch(miss_h, miss_f)
    with pytest.raises(BrokenError):
        flt.remove_batch(
            np.array([u_h[2 * dup], miss_h[miss][0]]), np.array([u_f[2 * dup], miss_f[miss][0]])
        )
    out["poisoned"] = flt.digest()

    # merge of pair partials plus one dense blob
    dense = CuckooFilter.create(size, fpsize, seed=3)
    dense.add_batch(*items(slots // 5))
    parts = [dense.to_bytes()]
    for _ in range(3):
        parts.append(pack_pairs(*canonical_pairs(*items(slots // 6), size, fpsize), size, fpsize))
    merged = CuckooFilter.merge(parts, seed=4)
    out["merge"] = merged.digest()

    # the sink's fast fold: lexsorted canonical pairs into a committed filter
    b, fp = canonical_pairs(*items(slots // 8), size, fpsize)
    order = np.lexsort((fp, b))
    dropped = merged.add_batch(b[order], fp[order], on_toofull="count")
    out["fold"] = f"{dropped}:{merged.digest()}"
    return out


#: digests of ``_golden_run`` per fingerprint width
GOLDEN = {
    1: {
        "add_batch": "275:2a1f74a3a189ead329e171130ad2de9229374712f6097798733d1da06ad750a0",
        "remove_batch": "9d1611744bd8fae25b65d647414bba5274e03dc893884e697d61221fd4268be7",
        "poisoned": "5db12f62acc2915a7c9ddf6dd89adcc75f6667e0413f3e380e218266b519acc7",
        "merge": "97a8e4eb3a1891e4b2592924d4061db18aa293d6d35b1bfe8609e41340fc3792",
        "fold": "0:19a0f6370d7769b090c5bb72fffb3b9c8043b0e0ad065499f4aad0cb524a4b67",
    },
    2: {
        "add_batch": "140:a75d4659081aa11a35f1a43794df79adaa322352a82404d8718924ff8b8bb752",
        "remove_batch": "720d320e67ea96a1904a1195ecf7fad088857d5bae724b7e00bb21cffe998994",
        "poisoned": "ffea21cb89a63dbaf9ce0733b771a1bae63319c28f954993d4132c66a3ae0838",
        "merge": "1f58cbb529712a303acc2a53f78b499ee9eacde3b3d469c5084f4ef85d5b20e8",
        "fold": "0:c4ae0f9db17268ad32d9de9b1d260ef0e7af7e8a5fdff9383a1cc4cb1f718b16",
    },
    4: {
        "add_batch": "79:8201a3f868e4aea87df89aefd45db26b2d437cedba8a5a3a3c3c27220ee79278",
        "remove_batch": "05f1e34e7073e56e4eb282926f69c6c36286b93577c2f52bfdae854b9f6d5193",
        "poisoned": "8dd600da9c47870d235195acce4c6c95aa7e51a316f2313945910f42f378e0d0",
        "merge": "1148b4c536c0251322ee68ecf1602f4d62dca99e1dffe09d02a6971bb3135d3c",
        "fold": "0:e6b62bb442c2a01f822002a34f8317d40117ec2fa562524add63d173e772d3c6",
    },
}


@pytest.mark.parametrize("fpsize", FPSIZES)
def test_batch_kernel_golden_bytes(fpsize):
    """Pins the batch kernel's bytes to fixed digests: every other
    byte-identity test compares one path with another, so a change that
    moved both paths alike would pass them all."""
    assert _golden_run(fpsize) == GOLDEN[fpsize]
