"""t-digest kernel: mergeable quantile sketch with k1 scale function.

Dunning & Ertl's merging t-digest, vectorized: points/centroids are sorted
by mean and grouped into clusters by bucketing the mid-quantile through the
k1 scale function k(q) = (δ/2π)·asin(2q−1) — clusters are narrow near the
tails and wide in the middle, giving relative accuracy at extreme quantiles.
Fully deterministic (no PRNG). Merge = concatenate + recompress.
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.kernels.fold import FoldMerge

_MAGIC = b"SKTD"
_HEADER = struct.Struct("<4sHHIQdd")  # magic, ver, delta, ncentroids, count, min, max


class TDigest(FoldMerge):
    __slots__ = ("delta", "means", "weights", "count", "vmin", "vmax", "_buf")

    def __init__(self, delta: int = 200):
        if delta < 10:
            raise ValueError("delta must be >= 10")
        self.delta = delta
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.count = 0
        self.vmin = np.inf
        self.vmax = -np.inf
        self._buf: list[np.ndarray] = []

    def add_values(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.count += len(v)
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self._buf.append(v)
        if sum(len(b) for b in self._buf) >= 20 * self.delta:
            self._compress()

    def _k01(self, q: np.ndarray) -> np.ndarray:
        """Scale function normalized to [0, 1]: asin(2q−1)/π + 1/2."""
        return np.arcsin(np.clip(2 * q - 1, -1, 1)) / np.pi + 0.5

    def _compress(self) -> None:
        if not self._buf and len(self.means) <= self.delta + 1:
            # merge_with concatenates unsorted centroid arrays; quantile's
            # cumulative walk requires sorted means even when no
            # recompression is needed
            if len(self.means) > 1 and not np.all(np.diff(self.means) >= 0):
                order = np.lexsort((self.weights, self.means))
                self.means = self.means[order]
                self.weights = self.weights[order]
            return
        m = [self.means] + self._buf
        w = [self.weights] + [np.ones(len(b)) for b in self._buf]
        means = np.concatenate(m)
        weights = np.concatenate(w)
        self._buf = []
        if len(means) == 0:
            return
        order = np.lexsort((weights, means))
        means, weights = means[order], weights[order]
        total = weights.sum()
        qmid = (np.cumsum(weights) - weights / 2) / total
        bucket = np.floor(self.delta * self._k01(qmid)).astype(np.int64)
        # group consecutive equal buckets
        new = np.empty(len(bucket), dtype=bool)
        new[0] = True
        new[1:] = bucket[1:] != bucket[:-1]
        gid = np.cumsum(new) - 1
        ngroups = gid[-1] + 1
        gw = np.zeros(ngroups)
        gm = np.zeros(ngroups)
        np.add.at(gw, gid, weights)
        np.add.at(gm, gid, means * weights)
        self.means = gm / gw
        self.weights = gw

    def quantile(self, q: float) -> float:
        self._compress()
        if len(self.means) == 0:
            return float("nan")
        if len(self.means) == 1:
            return float(self.means[0])
        w = self.weights
        total = w.sum()
        target = q * total
        # half-weight convention: centroid i spans
        # [cum_i - w_i/2 - ... ] — interpolate between centroid midpoints
        cum = np.cumsum(w) - w / 2
        if target <= cum[0]:
            # interpolate min → first centroid
            frac = target / max(cum[0], 1e-300)
            return float(self.vmin + frac * (self.means[0] - self.vmin))
        if target >= cum[-1]:
            span = total - cum[-1]
            frac = (target - cum[-1]) / max(span, 1e-300)
            return float(self.means[-1] + frac * (self.vmax - self.means[-1]))
        i = int(np.searchsorted(cum, target) - 1)
        frac = (target - cum[i]) / max(cum[i + 1] - cum[i], 1e-300)
        return float(self.means[i] + frac * (self.means[i + 1] - self.means[i]))

    def quantiles(self, qs) -> list[float]:
        return [self.quantile(q) for q in qs]

    def merge_with(self, other: "TDigest") -> None:
        if self.delta != other.delta:
            raise ValueError("merge requires equal delta")
        other._compress()
        self.count += other.count
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self._compress()

    def to_bytes(self) -> bytes:
        self._compress()
        head = _HEADER.pack(
            _MAGIC, 1, self.delta, len(self.means), self.count,
            self.vmin if self.count else 0.0, self.vmax if self.count else 0.0,
        )
        return head + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "TDigest":
        magic, ver, delta, nc, count, vmin, vmax = _HEADER.unpack_from(blob, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad magic/version")
        out = cls(delta)
        out.count = count
        if count:
            out.vmin, out.vmax = vmin, vmax
        off = _HEADER.size
        out.means = np.frombuffer(blob, dtype=np.float64, count=nc, offset=off).copy()
        out.weights = np.frombuffer(blob, dtype=np.float64, count=nc, offset=off + 8 * nc).copy()
        return out

    def _empty_like(self) -> "TDigest":
        return TDigest(self.delta)
