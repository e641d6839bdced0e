"""Bloom filter kernel: m-bit array, k indices by double hashing.

Classic Bloom (Bloom 1970) with Kirsch–Mitzenmacher double hashing
(g_i = h1 + i·h2): no false negatives, FP rate ≈ (1 - e^{-kn/m})^k, union
merge = bitwise OR (associative, commutative, byte-deterministic under any
merge order). The reference repo deliberately chose cuckoo over Bloom for
deletability (/root/reference/README.md:16-27, RELEASENOTES:94-102); Bloom
is provided as the no-delete sibling with the same aggregator shape.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from sketchlib.kernels.bitutil import mix_u64
from sketchlib.kernels.fold import FoldMerge

_MAGIC = b"SKBL"
_HEADER = struct.Struct("<4sHHIQQ")  # magic, version, k, reserved, m_bits, count


def optimal_params(n: int, fp_rate: float) -> tuple[int, int]:
    """(m_bits, k) for n items at the target FP rate; m rounded to a pow2."""
    m = max(64, int(-n * math.log(fp_rate) / (math.log(2) ** 2)))
    m_bits = 1 << (m - 1).bit_length()
    k = max(1, round(m_bits / n * math.log(2))) if n else 1
    return m_bits, min(k, 30)


class BloomFilter(FoldMerge):
    __slots__ = ("m_bits", "k", "words", "count")

    def __init__(self, m_bits: int, k: int):
        if m_bits & (m_bits - 1) or m_bits < 64:
            raise ValueError("m_bits must be a power of two >= 64")
        self.m_bits = m_bits
        self.k = k
        self.words = np.zeros(m_bits // 64, dtype=np.uint64)
        self.count = 0  # items added (adds, not distinct)

    def _indices(self, hashes_u64: np.ndarray) -> np.ndarray:
        h1 = hashes_u64.astype(np.uint64)
        h2 = mix_u64(h1) | np.uint64(1)  # odd → full-period double hashing
        i = np.arange(self.k, dtype=np.uint64)[:, None]
        return (h1[None, :] + i * h2[None, :]) & np.uint64(self.m_bits - 1)

    def add_hashes(self, hashes_u64: np.ndarray) -> None:
        idx = self._indices(hashes_u64).ravel()
        np.bitwise_or.at(self.words, (idx >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (idx & np.uint64(63)))
        self.count += len(hashes_u64)

    def contains_hashes(self, hashes_u64: np.ndarray) -> np.ndarray:
        idx = self._indices(hashes_u64)
        bits = (self.words[(idx >> np.uint64(6)).astype(np.int64)]
                >> (idx & np.uint64(63))) & np.uint64(1)
        return bits.all(axis=0)

    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.words.view(np.uint8)).mean())

    def approx_count_distinct(self) -> int:
        """Swamidass–Baldi cardinality estimate from the fill ratio."""
        t = self.fill_ratio()
        if t >= 1.0:
            return self.m_bits
        return int(round(-self.m_bits / self.k * math.log(1.0 - t)))

    def merge_with(self, other: "BloomFilter") -> None:
        if (self.m_bits, self.k) != (other.m_bits, other.k):
            raise ValueError("merge requires equal (m_bits, k)")
        self.words |= other.words
        self.count += other.count

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, 1, self.k, 0, self.m_bits, self.count) + self.words.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        magic, ver, k, _r, m_bits, count = _HEADER.unpack_from(blob, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("bad magic/version")
        out = cls(m_bits, k)
        body = out._body(blob, _HEADER.size, out.words.nbytes)
        out.words = np.frombuffer(body, dtype=np.uint64).copy()
        out.count = count
        return out

    def _empty_like(self) -> "BloomFilter":
        return BloomFilter(self.m_bits, self.k)
