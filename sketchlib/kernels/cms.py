"""Count–min sketch kernel: d×w int64 counters, double-hashed rows.

Cormode & Muthukrishnan 2005: point estimate = min over rows; guarantees
est ≥ true and est ≤ true + ε·N with probability ≥ 1−δ, for w = ⌈e/ε⌉ and
d = ⌈ln(1/δ)⌉. Merge = elementwise add — associative, commutative,
byte-deterministic under any order/partitioning.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from sketchlib.kernels.bitutil import mix_u64
from sketchlib.kernels.fold import FoldMerge

_MAGIC = b"SKCM"
_HEADER = struct.Struct("<4sHHIQQ")  # magic, version, d, reserved, w, total


def params_for(eps: float, delta: float) -> tuple[int, int]:
    """(w, d) for additive error ε·N at confidence 1−δ; w rounded to pow2."""
    w = 1 << max(6, int(math.ceil(math.e / eps)) - 1).bit_length()
    d = max(1, int(math.ceil(math.log(1.0 / delta))))
    return w, d


class CountMinSketch(FoldMerge):
    __slots__ = ("d", "w", "counters", "total")

    def __init__(self, w: int = 2048, d: int = 5):
        if w & (w - 1) or w < 64:
            raise ValueError("w must be a power of two >= 64")
        self.d = d
        self.w = w
        self.counters = np.zeros((d, w), dtype=np.int64)
        self.total = 0

    @property
    def eps(self) -> float:
        return math.e / self.w

    @property
    def delta(self) -> float:
        return math.exp(-self.d)

    def _indices(self, hashes_u64: np.ndarray) -> np.ndarray:
        h1 = hashes_u64.astype(np.uint64)
        h2 = mix_u64(h1) | np.uint64(1)
        i = np.arange(self.d, dtype=np.uint64)[:, None]
        return ((h1[None, :] + i * h2[None, :]) & np.uint64(self.w - 1)).astype(np.int64)

    def add_hashes(self, hashes_u64: np.ndarray, counts: np.ndarray | None = None) -> None:
        if counts is None:
            counts = np.ones(len(hashes_u64), dtype=np.int64)
        idx = self._indices(hashes_u64)
        for r in range(self.d):  # d is small (≤ ~10); each row op is vectorized
            np.add.at(self.counters[r], idx[r], counts)
        self.total += int(counts.sum())

    def query_hashes(self, hashes_u64: np.ndarray) -> np.ndarray:
        idx = self._indices(hashes_u64)
        ests = self.counters[np.arange(self.d)[:, None], idx]
        return ests.min(axis=0)

    def merge_with(self, other: "CountMinSketch") -> None:
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("merge requires equal (d, w)")
        self.counters += other.counters
        self.total += other.total

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, 1, self.d, 0, self.w, self.total) + self.counters.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CountMinSketch":
        magic, ver, d, _r, w, total = _HEADER.unpack_from(blob, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad magic/version")
        out = cls(w, d)
        body = out._body(blob, _HEADER.size, out.counters.nbytes)
        out.counters = np.frombuffer(body, dtype=np.int64).reshape(d, w).copy()
        out.total = total
        return out

    def _empty_like(self) -> "CountMinSketch":
        return CountMinSketch(self.w, self.d)
