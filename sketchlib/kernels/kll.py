"""KLL-style streaming quantile sketch: weighted compactor levels.

Karnin–Lang–Liberty 2016 family: level i holds items of weight 2^i; a full
level sorts itself and promotes every other item (random even/odd offset) to
level i+1. This implementation uses uniform level capacity k (the classic
MRL layout) with KLL's randomized compaction offset from the deterministic
xoroshiro PRNG — rank error is O(√(levels)/k) in practice; tests assert an
empirical ε with margin (SURVEY.md §5 item 4).

Merge concatenates levels pairwise then re-compacts; estimates are
merge-order stable within the error bound (byte-identity is NOT part of the
contract for quantile sketches — randomized compaction depends on input
split; the deterministic seed makes any fixed plan replayable).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.kernels.fold import FoldMerge
from sketchlib.kernels.prng import Xoroshiro128Plus

_MAGIC = b"SKKL"
_HEADER = struct.Struct("<4sHHIQQQQ")  # magic, ver, k, nlevels, count, s0, s1, reserved


class KLLSketch(FoldMerge):
    __slots__ = ("k", "levels", "count", "prng")

    def __init__(self, k: int = 256, seed: int = 42):
        if k < 8:
            raise ValueError("k must be >= 8")
        self.k = k
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.count = 0
        self.prng = Xoroshiro128Plus(seed=seed)

    def add_values(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.count += len(v)
        # feed in k-sized chunks so level 0 never grossly overflows
        for start in range(0, len(v), self.k):
            self.levels[0] = np.concatenate([self.levels[0], v[start : start + self.k]])
            self._compact()

    def _compact(self) -> None:
        i = 0
        while i < len(self.levels):
            if len(self.levels[i]) > self.k:
                lv = np.sort(self.levels[i])
                off = self.prng.next_below(2)
                promote = lv[off::2]
                keep = np.empty(0, dtype=np.float64)
                if i + 1 == len(self.levels):
                    self.levels.append(np.empty(0, dtype=np.float64))
                self.levels[i] = keep
                self.levels[i + 1] = np.concatenate([self.levels[i + 1], promote])
            i += 1

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for i, lv in enumerate(self.levels):
            if len(lv):
                vals.append(lv)
                wts.append(np.full(len(lv), 1 << i, dtype=np.int64))
        if not vals:
            return np.empty(0), np.empty(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def rank(self, x: float) -> float:
        """Estimated fraction of items ≤ x."""
        v, w = self._weighted_items()
        if len(v) == 0:
            return 0.0
        return float(w[v <= x].sum()) / max(1, w.sum())

    def quantile(self, q: float) -> float:
        v, w = self._weighted_items()
        if len(v) == 0:
            return float("nan")
        cum = np.cumsum(w)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(v[min(i, len(v) - 1)])

    def quantiles(self, qs) -> list[float]:
        return [self.quantile(q) for q in qs]

    def merge_with(self, other: "KLLSketch") -> None:
        if self.k != other.k:
            raise ValueError("merge requires equal k")
        for i, lv in enumerate(other.levels):
            if i == len(self.levels):
                self.levels.append(np.empty(0, dtype=np.float64))
            self.levels[i] = np.concatenate([self.levels[i], lv])
        self.count += other.count
        self._compact()

    def to_bytes(self) -> bytes:
        head = _HEADER.pack(
            _MAGIC, 1, self.k, len(self.levels), self.count, self.prng.s0, self.prng.s1, 0
        )
        parts = [head]
        for lv in self.levels:
            parts.append(struct.pack("<Q", len(lv)))
            parts.append(lv.tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "KLLSketch":
        magic, ver, k, nlevels, count, s0, s1, _r = _HEADER.unpack_from(blob, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad magic/version")
        out = cls(k)
        out.count = count
        out.prng = Xoroshiro128Plus(state=(s0, s1))
        out.levels = []
        off = _HEADER.size
        for _ in range(nlevels):
            (n,) = struct.unpack_from("<Q", blob, off)
            off += 8
            out.levels.append(np.frombuffer(blob, dtype=np.float64, count=n, offset=off).copy())
            off += 8 * n
        if not out.levels:
            out.levels = [np.empty(0, dtype=np.float64)]
        return out

    def _empty_like(self) -> "KLLSketch":
        # every merge compacts with the same fixed PRNG, whatever the parts
        return KLLSketch(self.k, seed=42)
