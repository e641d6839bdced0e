"""KMV (k-minimum-values) distinct sketch: the k smallest distinct item
hashes, treated as uniforms on [0, 2^64).

Bar-Yossef et al. 2002 / Beyer et al. 2007 ("Distinct-value synopses").
Complements HLL in the sibling-sketch family with a capability HLL lacks:
DIRECT set-operation estimates — the union of two KMVs is again a valid
KMV (take the k smallest of the combined sets), and the intersection is
estimated from the Jaccard fraction inside the combined synopsis (Beyer
et al. §4), avoiding HLL's error-amplifying inclusion-exclusion.

Determinism: the state is a SET of the k smallest distinct hashes — a
pure, order-free function of the input's distinct hash set. Merge is set
union + truncation: associative, commutative, idempotent, and therefore
byte-identical under ANY input order, partitioning, or merge-tree shape
(the serialized form sorts the hashes). Below k distinct values the
sketch is EXACT.

Estimator: with L = k-th smallest hash as a fraction of 2^64,
n̂ = (k-1)/L (unbiased; Beyer et al. eq. 2). Relative error ≈ 1/√(k-2).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.kernels.fold import FoldMerge

_MAGIC = b"SKKM"
_HEADER = struct.Struct("<4sHHIQ")  # magic, version, reserved, k, count
_U64_SPAN = float(1 << 64)


class KMVSketch(FoldMerge):
    __slots__ = ("k", "mins", "count")

    def __init__(self, k: int = 1024):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = int(k)
        #: sorted ascending, <= k entries, all distinct
        self.mins = np.empty(0, dtype=np.uint64)
        self.count = 0

    def add_hashes(self, hashes_u64: np.ndarray) -> None:
        h = hashes_u64.astype(np.uint64)
        if len(h) == 0:
            return
        merged = np.union1d(self.mins, h)  # sorted distinct
        self.mins = merged[: self.k]
        self.count += len(h)

    def estimate(self) -> float:
        if len(self.mins) < self.k:
            return float(len(self.mins))  # exact below k distinct
        kth = float(self.mins[self.k - 1]) + 1.0  # (0, 2^64]
        return (self.k - 1) * _U64_SPAN / kth

    @property
    def rel_error(self) -> float:
        """Standard-error coefficient ≈ 1/√(k-2)."""
        return 1.0 / float(np.sqrt(self.k - 2))

    def merge_with(self, other: "KMVSketch") -> None:
        if self.k != other.k:
            raise ValueError("merge requires equal k")
        merged = np.union1d(self.mins, other.mins)
        self.mins = merged[: self.k]
        self.count += other.count

    # ------------------------------------------------- set operations

    def union_estimate(self, other: "KMVSketch") -> float:
        if self.k != other.k:
            raise ValueError("union requires equal k")
        u = KMVSketch(self.k)
        u.mins = np.union1d(self.mins, other.mins)[: self.k]
        return u.estimate()

    def intersection_estimate(self, other: "KMVSketch") -> float:
        """Beyer et al. 2007 §4: over the combined synopsis L (the k
        smallest of the union), the fraction of hashes present in BOTH
        input synopses estimates the Jaccard similarity; scaled by the
        union estimate it yields |A ∩ B|."""
        if self.k != other.k:
            raise ValueError("intersection requires equal k")
        u = KMVSketch(self.k)
        u.mins = np.union1d(self.mins, other.mins)[: self.k]
        if len(u.mins) == 0:
            return 0.0
        both = np.intersect1d(u.mins, self.mins, assume_unique=True)
        both = np.intersect1d(both, other.mins, assume_unique=True)
        jaccard = len(both) / len(u.mins)
        return jaccard * u.estimate()

    def difference_estimate(self, other: "KMVSketch") -> float:
        """|A \\ B| via the combined synopsis (Beyer et al. 2007 §4, same
        construction as the intersection): over the k smallest of the
        union, the fraction of hashes present in A but NOT in B estimates
        |A∖B| / |A∪B|; scaled by the union estimate. Direct — no
        error-amplifying |A| − |A∩B| subtraction of two estimates.
        Exact when the union stays below k (both synopses complete)."""
        if self.k != other.k:
            raise ValueError("difference requires equal k")
        u = KMVSketch(self.k)
        u.mins = np.union1d(self.mins, other.mins)[: self.k]
        if len(u.mins) == 0:
            return 0.0
        in_a = np.intersect1d(u.mins, self.mins, assume_unique=True)
        only_a = np.setdiff1d(in_a, other.mins, assume_unique=True)
        return len(only_a) / len(u.mins) * u.estimate()

    # ------------------------------------------------- serialization

    def to_bytes(self) -> bytes:
        # '<u8' pins the mins little-endian like the '<'-packed header —
        # native-endian tobytes() would silently break the byte-identical
        # blob contract on a big-endian host
        return _HEADER.pack(_MAGIC, 1, 0, self.k, self.count) + np.ascontiguousarray(
            self.mins.astype("<u8", copy=False)
        ).tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KMVSketch":
        magic, ver, _r, k, count = _HEADER.unpack_from(blob, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad magic/version")
        out = cls(k)
        out.mins = (
            np.frombuffer(blob[_HEADER.size:], dtype="<u8").astype(np.uint64, copy=True)
        )
        out.count = count
        return out

    def _empty_like(self) -> "KMVSketch":
        return KMVSketch(self.k)
