"""HyperLogLog kernel: dense 2^p uint8 registers, max-merge.

Flajolet et al. 2007 with the standard small-range linear-counting
correction. Relative error ≈ 1.04/√m. Register update is a pure function of
the item hash, and merge is elementwise max — so the merged register array
is byte-deterministic under ANY input order, partitioning, or merge-tree
shape. Cross-checkable against Spark's built-in ``approx_count_distinct``
(different estimator, same contract) and the exact ``COUNT(DISTINCT)``
oracle (SURVEY.md §5 item 4).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.kernels.bitutil import bit_length_u64
from sketchlib.kernels.fold import FoldMerge

_MAGIC = b"SKHL"
_HEADER = struct.Struct("<4sHBBQ")  # magic, version, p, reserved, count


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


class HyperLogLog(FoldMerge):
    __slots__ = ("p", "registers", "count")

    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.registers = np.zeros(1 << p, dtype=np.uint8)
        self.count = 0

    @property
    def m(self) -> int:
        return 1 << self.p

    def add_hashes(self, hashes_u64: np.ndarray) -> None:
        h = hashes_u64.astype(np.uint64)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)  # low 64-p bits, left-aligned
        # rho = leading-zero count of the remaining bits + 1
        rho = (64 - self.p + 1 - (bit_length_u64(w) - self.p)).astype(np.uint8)
        # note: bit_length of the left-aligned word; w==0 → rho = 64-p+1
        rho[w == 0] = 64 - self.p + 1
        np.maximum.at(self.registers, idx, rho)
        self.count += len(h)

    def estimate(self) -> float:
        m = self.m
        inv = np.ldexp(1.0, -self.registers.astype(np.int64))
        e = _alpha(m) * m * m / inv.sum()
        if e <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * np.log(m / zeros)
        return float(e)

    def merge_with(self, other: "HyperLogLog") -> None:
        if self.p != other.p:
            raise ValueError("merge requires equal p")
        np.maximum(self.registers, other.registers, out=self.registers)
        self.count += other.count

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, 1, self.p, 0, self.count) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HyperLogLog":
        magic, ver, p, _r, count = _HEADER.unpack_from(blob, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad magic/version")
        out = cls(p)
        body = out._body(blob, _HEADER.size, out.registers.nbytes)
        out.registers = np.frombuffer(body, dtype=np.uint8).copy()
        out.count = count
        return out

    def _empty_like(self) -> "HyperLogLog":
        return HyperLogLog(self.p)
