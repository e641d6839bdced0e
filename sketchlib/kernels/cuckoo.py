"""Cuckoo-filter kernel: dtype-parametric, numpy-vectorized, mergeable.

A from-scratch implementation of the partial-key cuckoo filter (Fan et al.,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014) with the exact
parameters and semantics of the reference module kristoff-it/redis-cuckoofilter
(see SURVEY.md §1-2 for the full mapping):

- three widths (``/root/reference/src/lib/zig-cuckoofilter.zig:42-44``):
  fpsize 1 → uint8 fingerprints, 4 slots/bucket (max FP rate 3.125e-2)
  fpsize 2 → uint16 fingerprints, 4 slots/bucket (max FP rate 1.22070312e-4)
  fpsize 4 → uint32 fingerprints, 2 slots/bucket (max FP rate 9.31322574e-10)
- power-of-two byte size, mask-based indexing (``:88-92``, ``:158``)
- FNV1a partial-key alt-bucket mapping, an involution (``:212-228``)
- bounded kick loop (500 evictions) + a single "homeless" overflow slot
  (``:175-186``); ``fix_toofull`` re-homes it (``:196-203``)
- fingerprint 0 remapped to 1 on add/check/remove (``:111,:127,:157``) —
  fingerprints 0 and 1 are indistinguishable (semantic quirk preserved)
- deleting a non-member permanently poisons the filter (``broken``,
  ``:150-152``); a broken filter still answers ``True`` on a probe hit and
  errors only on the miss path (``:110-123``)
- ``fpcount`` counts stored copies (multiset adds), incremented even when an
  item lands homeless (``:178``)

Batch semantics (this library's extension — the reference is per-op only):
``add_batch``/``remove_batch``/``contains_batch`` take whole numpy arrays.
The vectorized fast path handles every item whose primary bucket has a free
(resp. matching) slot; only the small residue (collisions/kicks/alt-bucket
cases) goes through the scalar reference algorithm, so Python-level work is
bounded by collisions per batch, not rows. Batch results are deterministic
given (input order, seed) but may differ from strict one-op-at-a-time
interleaving in *which* of the two pair-buckets an fp physically lands in —
all guarantees (no false negatives, exact deletion, fpcount, error bounds)
are unaffected because an fp only ever occupies a bucket from its own closed
pair ``{i, alt(i, fp)}``.

Distributed merge (not in the reference — required at Spark scale): every
stored fingerprint is extracted as a canonical ``(min(i, alt(i,fp)), fp)``
pair — a pure function of the original item, independent of kick history —
so re-inserting the *sorted* pair multiset into a fresh, name-seeded filter
yields a byte-identical blob for any merge order, merge-tree shape, or input
partitioning. Validity of re-insertion-by-bucket-index rests on the same
property the reference's own ``fix_toofull`` uses
(``/root/reference/src/lib/zig-cuckoofilter.zig:196-203``): the bucket pair
is closed under the alt mapping (involution, tested at ``:263-275``).
"""

from __future__ import annotations

import struct

import numpy as np

from sketchlib.kernels.prng import Xoroshiro128Plus

FNV_OFFSET = 14695981039346656037  # reference lib:214
FNV_PRIME = 1099511628211  # reference lib:215
_MASK64 = (1 << 64) - 1

#: slots per bucket, keyed by fingerprint byte width (reference lib:42-44)
BUCK_SIZE = {1: 4, 2: 4, 4: 2}
DTYPE = {1: np.uint8, 2: np.uint16, 4: np.uint32}
#: published max false-positive rate per width (reference lib:56)
MAX_ERROR = {1: 2.0 * 4 / 2**8, 2: 2.0 * 4 / 2**16, 4: 2.0 * 2 / 2**32}

KICK_BOUND = 500  # reference lib:180

_MAGIC = b"SKCF"
_VERSION = 1
# magic, version, fpsize, bucksize, flags, pad, s0, s1, homeless_fp,
# homeless_bucket_idx, fpcount, nbytes
_HEADER = struct.Struct("<4sHBBB3sQQQQQQ")

# packed canonical-pair blob: the sparse partial representation. A partial
# built over k rows costs ~12·k bytes instead of the full filter size —
# at cluster scale the shuffle volume is ∝ data, not ∝ partitions × size.
_PAIRS_MAGIC = b"SKCP"
_PAIRS_HEADER = struct.Struct("<4sHBBQQ")  # magic, ver, fpsize, bucksize, filter nbytes, npairs


class CuckooError(Exception):
    """Base class for cuckoo-filter errors."""


class TooFullError(CuckooError):
    """Insert failed: homeless slot occupied and both pair buckets full
    (reference lib:172)."""


class BrokenError(CuckooError):
    """Filter poisoned by deleting a non-member (reference lib:150-152)."""


class BadLengthError(CuckooError):
    """Byte size not a power of two or below the minimum (reference lib:88-92)."""


def min_size(fpsize: int) -> int:
    """Smallest legal byte size: two buckets (reference lib:61)."""
    return fpsize * BUCK_SIZE[fpsize] * 2


def capacity(size: int, fpsize: int = 2) -> int:
    """Fingerprint slots in a filter of ``size`` bytes (reference lib:81-83)."""
    return size // fpsize


def size_for_exactly(min_capacity: int, fpsize: int = 2) -> int:
    """Bytes for exactly ``min_capacity`` slots, pow2-rounded (reference lib:74-79)."""
    if min_capacity <= 0:
        return min_size(fpsize)
    res = 1 << (min_capacity.bit_length() - 1)
    if res != min_capacity:
        res <<= 1
    requested = res * fpsize
    return max(min_size(fpsize), requested)


def size_for(min_capacity: int, fpsize: int = 2) -> int:
    """Bytes for ``min_capacity`` items padded +20% — the ≤80%-fill guidance
    (reference lib:70-72, README.md:175-177)."""
    return size_for_exactly(min_capacity + min_capacity // 5, fpsize)


_SIZE_MANTISSAS = {1, 2, 4, 8, 16, 32, 64, 128, 256, 512}
_UNIT = {"K": 1024, "M": 1024**2, "G": 1024**3}


def str2size(s: str) -> int:
    """``"64K"`` → 65536. Grammar of the reference (redis-cuckoofilter.zig:75-96):
    power-of-two mantissa 1..512, unit K/M/G, capped at 8G.

    Quirk note: the reference's own 8G-cap check in ``str2size`` compares the
    unit *multiplier* against 3 and therefore never fires (dead code at
    ``:89-90``); we implement the documented intent (cap at 8G, matching
    ``size2str``'s working check at ``:65``).
    """
    if len(s) < 2 or len(s) > 4:
        raise ValueError(f"bad size string: {s!r}")
    unit = s[-1].upper()
    if unit not in _UNIT:
        raise ValueError(f"bad size unit in: {s!r}")
    try:
        num = int(s[:-1], 10)
    except ValueError:
        raise ValueError(f"bad size mantissa in: {s!r}") from None
    if num not in _SIZE_MANTISSAS:
        raise ValueError(f"size mantissa must be a power of two 1..512: {s!r}")
    if unit == "G" and num > 8:
        raise ValueError(f"max size is 8G: {s!r}")
    return num * _UNIT[unit]


def size2str(size: int) -> str:
    """65536 → ``"64K"`` (reference redis-cuckoofilter.zig:47-71)."""
    num, pow_1024 = size, 0
    while num >= 1024 and num % 1024 == 0:
        num //= 1024
        pow_1024 += 1
    if pow_1024 == 0:
        raise ValueError("too small (< 1K)")
    if pow_1024 > 3 or (pow_1024 == 3 and num > 8):
        raise ValueError("too big (> 8G)")
    if num not in _SIZE_MANTISSAS:
        raise ValueError(f"not an expressible size: {size}")
    return f"{num}{'KMG'[pow_1024 - 1]}"


def _prep_fps(fps, fpsize: int) -> np.ndarray:
    """Fingerprints truncated to the width (README.md:202-204: high bits
    dropped) with 0 remapped to 1 (reference lib:111,:127,:157)."""
    f = np.asarray(fps).astype(DTYPE[fpsize], casting="unsafe", copy=True)
    f[f == 0] = 1
    return f


def _alt_idx(idx, fps: np.ndarray, nbuckets: int, fpsize: int) -> np.ndarray:
    """Alternate bucket ``idx ^ fnv1a(fp)`` as uint64: FNV1a over the
    little-endian fingerprint bytes, 1/2/4 rounds by width (reference
    lib:212-228). An involution, so it maps either bucket of a pair to the
    other."""
    f = fps.astype(np.uint64)
    res = np.full(f.shape, np.uint64(FNV_OFFSET), dtype=np.uint64)
    for i in range(fpsize):
        res = (res ^ ((f >> np.uint64(8 * i)) & np.uint64(0xFF))) * np.uint64(FNV_PRIME)
    return (np.asarray(idx, dtype=np.uint64) ^ res) & np.uint64(nbuckets - 1)


def canonical_pairs(hashes_u64, fps, size: int, fpsize: int) -> tuple[np.ndarray, np.ndarray]:
    """(min(i, alt(i, fp)), fp) for each item — a pure function of the item
    and the filter geometry, requiring NO filter state. This is what makes
    the sparse-partial build embarrassingly parallel: partials never kick,
    they just project items to canonical pairs; all kicking happens once in
    the final per-shard merge insert."""
    nbuckets = size // fpsize // BUCK_SIZE[fpsize]
    f = _prep_fps(fps, fpsize)
    p = np.asarray(hashes_u64, dtype=np.uint64) & np.uint64(nbuckets - 1)
    return np.minimum(p, _alt_idx(p, f, nbuckets, fpsize)), f


def pack_pairs(bidx: np.ndarray, fps: np.ndarray, size: int, fpsize: int) -> bytes:
    """Serialize canonical pairs: ~12 bytes/item (u64 bucket + u32 fp)."""
    head = _PAIRS_HEADER.pack(_PAIRS_MAGIC, 1, fpsize, BUCK_SIZE[fpsize], size, len(bidx))
    return head + bidx.astype("<u8").tobytes() + fps.astype("<u4").tobytes()


def unpack_pairs(blob: bytes) -> tuple[int, int, np.ndarray, np.ndarray]:
    magic, ver, fpsize, bucksize, size, n = _PAIRS_HEADER.unpack_from(blob, 0)
    if magic != _PAIRS_MAGIC or ver != 1 or bucksize != BUCK_SIZE.get(fpsize):
        raise BadLengthError("bad pairs blob")
    off = _PAIRS_HEADER.size
    bidx = np.frombuffer(blob, dtype="<u8", count=n, offset=off).copy()
    fps = np.frombuffer(blob, dtype="<u4", count=n, offset=off + 8 * n).copy()
    return size, fpsize, bidx, fps.astype(DTYPE[fpsize])


def is_pairs_blob(blob: bytes) -> bool:
    return blob[:4] == _PAIRS_MAGIC


class CuckooFilter:
    """One cuckoo filter: a (nbuckets × bucksize) array of fingerprints plus
    the homeless slot, fpcount, broken flag, and persisted PRNG state —
    mirroring the reference's keyed wrapper
    (``/root/reference/src/t_cuckoofilter.zig:9-25``)."""

    __slots__ = (
        "fpsize",
        "bucksize",
        "buckets",
        "homeless_fp",
        "homeless_bucket_idx",
        "fpcount",
        "broken",
        "prng",
    )

    def __init__(self, buckets: np.ndarray, fpsize: int, prng: Xoroshiro128Plus):
        self.fpsize = fpsize
        self.bucksize = BUCK_SIZE[fpsize]
        self.buckets = buckets  # shape (nbuckets, bucksize), dtype DTYPE[fpsize]
        self.homeless_fp = 0
        self.homeless_bucket_idx = 0
        self.fpcount = 0
        self.broken = False
        self.prng = prng

    # ------------------------------------------------------------------ init

    @classmethod
    def create(cls, size: int, fpsize: int = 2, seed: int = 42) -> CuckooFilter:
        """CF.INIT (reference redis-cuckoofilter.zig:186-235): zeroed filter
        of ``size`` bytes. ``size`` must be a power of two ≥ the minimum."""
        if fpsize not in BUCK_SIZE:
            raise ValueError(f"fpsize must be 1, 2 or 4, got {fpsize}")
        if size & (size - 1) != 0 or size < min_size(fpsize):
            raise BadLengthError(f"size {size} not pow2 or below min {min_size(fpsize)}")
        nslots = size // fpsize
        buckets = np.zeros((nslots // BUCK_SIZE[fpsize], BUCK_SIZE[fpsize]), dtype=DTYPE[fpsize])
        return cls(buckets, fpsize, Xoroshiro128Plus(seed=seed))

    @property
    def nbuckets(self) -> int:
        return self.buckets.shape[0]

    @property
    def nbytes(self) -> int:
        return self.buckets.size * self.fpsize

    # --------------------------------------------------------------- helpers

    def _primary_idx(self, hashes) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.uint64)
        return (h & np.uint64(self.nbuckets - 1)).astype(np.int64)

    def _alt_idx_vec(self, idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        return _alt_idx(idx, fps, self.nbuckets, self.fpsize).astype(np.int64)

    def _item(self, hash_: int, fp: int) -> tuple[int, int]:
        """One item's (primary bucket, fp), the fp prepared as ``_prep_fps``
        does; raises on a broken filter."""
        if self.broken:
            raise BrokenError("filter is broken")
        fp = int(fp) & ((1 << (8 * self.fpsize)) - 1)
        return int(hash_) & (self.nbuckets - 1), fp or 1

    def _kth_slots(self, sp: np.ndarray, sf: np.ndarray | None):
        """The reference's first-qualifying-slot scan (lib:230-259),
        vectorized over a batch sorted by bucket ``sp``. Items form
        one-bucket groups, and the k-th item of a group gets the k-th
        qualifying slot of its bucket, in slot order. A slot qualifies if
        it is free (``sf`` None) or holds the item's fingerprint in ``sf``
        (groups then split by fingerprint too). Returns the
        mask of items that got a slot, and those items' slots."""
        n = len(sp)
        boundary = np.empty(n, dtype=bool)
        boundary[0] = True
        boundary[1:] = sp[1:] != sp[:-1]
        if sf is not None:
            boundary[1:] |= sf[1:] != sf[:-1]
        starts = np.nonzero(boundary)[0]
        counts = np.diff(np.append(starts, n))
        sub = self.buckets[sp[starts]]
        ok = sub == (0 if sf is None else sf[starts, None])
        rank = np.arange(n) - np.repeat(starts, counts)
        got = rank < np.repeat(ok.sum(axis=1), counts)
        slot_order = np.argsort(~ok, axis=1, kind="stable")
        grp = np.repeat(np.arange(len(starts)), counts)
        return got, slot_order[grp[got], rank[got]]

    def _alt_idx_scalar(self, idx: int, fp: int) -> int:
        res = FNV_OFFSET
        for i in range(self.fpsize):
            res = ((res ^ ((fp >> (8 * i)) & 0xFF)) * FNV_PRIME) & _MASK64
        return (idx ^ res) & (self.nbuckets - 1)

    # ------------------------------------------------------------------- add

    def _add_one(self, pidx: int, fp: int) -> None:
        """Scalar reference algorithm (lib:155-186); ``fp`` already remapped."""
        row = self.buckets[pidx]
        free = np.nonzero(row == 0)[0]
        if free.size:  # first free slot of primary (lib:161-164)
            row[free[0]] = fp
            self.fpcount += 1
            return
        alt = self._alt_idx_scalar(pidx, fp)
        if self.homeless_fp != 0:  # lib:167-173: no forcing while homeless occupied
            row = self.buckets[alt]
            free = np.nonzero(row == 0)[0]
            if free.size:
                row[free[0]] = fp
                self.fpcount += 1
                return
            raise TooFullError(f"bucket pair ({pidx},{alt}) full and homeless occupied")
        # willing to force (lib:175-186); count even if it ends homeless (lib:178)
        self.homeless_bucket_idx = alt
        self.homeless_fp = fp
        self.fpcount += 1
        for _ in range(KICK_BOUND):
            self.homeless_bucket_idx = self._alt_idx_scalar(
                self.homeless_bucket_idx, self.homeless_fp
            )
            row = self.buckets[self.homeless_bucket_idx]
            free = np.nonzero(row == 0)[0]
            if free.size:
                row[free[0]] = self.homeless_fp
                self.homeless_fp = 0
                return
            slot = self.prng.next_below(self.bucksize)
            evicted = int(row[slot])
            row[slot] = self.homeless_fp
            self.homeless_fp = evicted
        # kick bound exhausted: item stays homeless; filter now "too full"

    def add_one(self, hash_: int, fp: int) -> None:
        """CF.ADD for a single item (reference semantics, incl. errors)."""
        self._add_one(*self._item(hash_, fp))

    def _bulk_place(self, bidx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Place each item into a free slot of its bucket, the k-th arrival
        taking the k-th free slot (``_kth_slots``). Returns a boolean mask
        of placed items; fpcount is updated."""
        order = np.argsort(bidx, kind="stable")
        sp = bidx[order]
        fits, slots = self._kth_slots(sp, None)
        self.buckets[sp[fits], slots] = fps[order][fits]
        self.fpcount += int(fits.sum())
        placed = np.empty(len(order), dtype=bool)
        placed[order] = fits
        return placed

    def add_batch(self, hashes, fps, on_toofull: str = "raise") -> int:
        """Vectorized bulk CF.ADD. Returns the number of items dropped as
        TooFull (0 unless ``on_toofull="count"``).

        Three phases: (1) vectorized placement into primary buckets,
        (2) vectorized placement of the residue into alt buckets,
        (3) scalar reference kick algorithm for items whose pair buckets
        are both full — Python-level work is bounded by genuine kick cases,
        not rows. Phase 2 deviates from strict per-op order (the reference
        force-evicts from primary before considering alt when homeless is
        free, lib:175-186) but every fp still lands inside its own closed
        pair ``{i, alt(i, fp)}``, so all guarantees and the canonical-pair
        multiset are identical (tested)."""
        if self.broken:
            raise BrokenError("filter is broken")
        f = _prep_fps(fps, self.fpsize)
        pidx = self._primary_idx(hashes)
        if len(f) == 0:
            return 0
        placed = self._bulk_place(pidx, f)
        dropped = 0
        if not placed.all():
            rest = np.nonzero(~placed)[0]
            aidx = self._alt_idx_vec(pidx[rest], f[rest])
            placed2 = self._bulk_place(aidx, f[rest])
            for i in rest[~placed2]:
                try:
                    self._add_one(int(pidx[i]), int(f[i]))
                except TooFullError:
                    if on_toofull == "raise":
                        raise
                    dropped += 1
        return dropped

    # ----------------------------------------------------------------- check

    def contains_batch(self, hashes, fps, raise_broken_on_miss: bool = True) -> np.ndarray:
        """Vectorized CF.CHECK: probe primary, alt, homeless (lib:110-123).
        No false negatives. A broken filter still returns True on hits and
        errors only if any probe misses (reference quirk, lib:122)."""
        f = _prep_fps(fps, self.fpsize)
        pidx = self._primary_idx(hashes)
        aidx = self._alt_idx_vec(pidx, f)
        fcol = f[:, None]
        hit = (self.buckets[pidx] == fcol).any(axis=1) | (self.buckets[aidx] == fcol).any(axis=1)
        if self.homeless_fp != 0:
            hit |= (f.astype(np.uint64) == np.uint64(self.homeless_fp)) & (
                (pidx == self.homeless_bucket_idx) | (aidx == self.homeless_bucket_idx)
            )
        if self.broken and raise_broken_on_miss and not hit.all():
            raise BrokenError("filter is broken")
        return hit

    def contains_one(self, hash_: int, fp: int) -> bool:
        return bool(self.contains_batch(np.array([hash_], dtype=np.uint64), [fp])[0])

    # ---------------------------------------------------------------- remove

    def _remove_one(self, pidx: int, fp: int) -> None:
        """Scalar reference remove (lib:125-153); ``fp`` already remapped."""
        row = self.buckets[pidx]
        match = np.nonzero(row == fp)[0]
        if match.size:
            row[match[0]] = 0
            self.fpcount -= 1
            return
        alt = self._alt_idx_scalar(pidx, fp)
        row = self.buckets[alt]
        match = np.nonzero(row == fp)[0]
        if match.size:
            row[match[0]] = 0
            self.fpcount -= 1
            return
        if self.homeless_fp == fp and self.homeless_bucket_idx in (pidx, alt):
            self.homeless_fp = 0
            self.fpcount -= 1
            return
        self.broken = True  # poison: deleted a non-member (lib:150-152)
        raise BrokenError(f"removed non-member (hash-bucket {pidx}, fp {fp})")

    def remove_one(self, hash_: int, fp: int) -> None:
        self._remove_one(*self._item(hash_, fp))

    def remove_batch(self, hashes, fps) -> None:
        """Vectorized bulk CF.REM. Duplicate (hash, fp) items each delete one
        distinct stored copy. First miss poisons the filter and raises
        (reference semantics)."""
        if self.broken:
            raise BrokenError("filter is broken")
        f = _prep_fps(fps, self.fpsize)
        pidx = self._primary_idx(hashes)
        if len(f) == 0:
            return
        # group duplicates by (primary bucket, fp); lexsort is stable so
        # arrival order is preserved within each group
        order = np.lexsort((f, pidx))
        sp = pidx[order]
        hits, slots = self._kth_slots(sp, f[order])
        self.buckets[sp[hits], slots] = 0
        self.fpcount -= int(hits.sum())
        for i in np.sort(order[~hits]):
            self._remove_one(int(pidx[i]), int(f[i]))

    # ------------------------------------------------------- state / queries

    def count(self) -> int:
        """CF.COUNT: exact stored-copy count (lib:106-108)."""
        if self.broken:
            raise BrokenError("filter is broken")
        return self.fpcount

    def is_broken(self) -> bool:
        return self.broken

    def is_toofull(self) -> bool:
        return self.homeless_fp != 0

    def fix_toofull(self) -> None:
        """CF.FIXTOOFULL (lib:196-203): re-home the homeless fp, re-inserting
        by its stored bucket index — valid because the pair is closed under
        the alt mapping.

        Deliberate deviation: the reference's internal ``add`` call increments
        ``fpcount`` for an item that was already counted when it landed
        homeless (lib:178), silently double-counting on a successful fix; its
        own tests never observe fpcount around fix_toofull. We keep the count
        exact (net zero change)."""
        if self.homeless_fp == 0:
            return
        fp = self.homeless_fp
        self.homeless_fp = 0
        self.fpcount -= 1  # _add_one re-increments
        self._add_one(self.homeless_bucket_idx & (self.nbuckets - 1), fp)
        if self.homeless_fp != 0:
            raise TooFullError("fix_toofull failed: still homeless")

    def memory_usage(self) -> int:
        """Bucket bytes + fixed header, mirroring t_cuckoofilter.zig:155-159."""
        return self.nbytes + _HEADER.size

    # ------------------------------------------------------------- serialize

    def to_bytes(self, version: int = 1) -> bytes:
        """Little-endian header (magic, version, widths, flags, PRNG state,
        homeless, fpcount) + raw bucket bytes — format inspired by the RDB
        layout at t_cuckoofilter.zig:115-129.

        ``version=1`` (default) is the canonical format every
        byte-identity contract in the repo pins. ``version=2`` appends a
        sha256 of header+body — an integrity-checked envelope for
        long-lived checkpoint blobs (corruption at load time raises
        instead of resurrecting a silently-wrong filter). from_bytes
        loads BOTH; unknown versions are rejected like the reference
        rejects a wrong encver (t_cuckoofilter.zig:71-75)."""
        if version not in (1, 2):
            raise ValueError(f"unknown encoding version {version}")
        flags = 1 if self.broken else 0
        header = _HEADER.pack(
            _MAGIC,
            version,
            self.fpsize,
            self.bucksize,
            flags,
            b"\x00\x00\x00",
            self.prng.s0,
            self.prng.s1,
            self.homeless_fp,
            self.homeless_bucket_idx,
            self.fpcount,
            self.nbytes,
        )
        blob = header + self.buckets.tobytes()
        if version == 2:
            import hashlib

            blob += hashlib.sha256(blob).digest()
        return blob

    @classmethod
    def from_bytes(cls, blob: bytes) -> CuckooFilter:
        (magic, version, fpsize, bucksize, flags, _pad, s0, s1, hfp, hidx, fpcount, nbytes) = (
            _HEADER.unpack_from(blob, 0)
        )
        if magic != _MAGIC:
            raise BadLengthError("bad magic")
        if version not in (1, 2):
            # mirror the reference's wrong-encver rejection
            # (t_cuckoofilter.zig:71-75): fail loud, never misparse
            raise BadLengthError(f"unsupported encoding version {version}")
        if version == 2:
            import hashlib

            body_end = len(blob) - 32
            if body_end <= _HEADER.size or hashlib.sha256(
                blob[:body_end]
            ).digest() != blob[body_end:]:
                raise BadLengthError("v2 checksum mismatch — corrupt blob")
            blob = blob[:body_end]
        if fpsize not in BUCK_SIZE or bucksize != BUCK_SIZE[fpsize]:
            raise BadLengthError("bad widths")
        body = blob[_HEADER.size :]
        if len(body) != nbytes or nbytes & (nbytes - 1) != 0 or nbytes < min_size(fpsize):
            raise BadLengthError("bad bucket byte length")
        buckets = np.frombuffer(body, dtype=DTYPE[fpsize]).reshape(-1, BUCK_SIZE[fpsize]).copy()
        flt = cls(buckets, fpsize, Xoroshiro128Plus(state=(s0, s1)))
        flt.homeless_fp = hfp
        flt.homeless_bucket_idx = hidx
        flt.fpcount = fpcount
        flt.broken = bool(flags & 1)
        return flt

    def digest(self) -> str:
        """Content digest of the canonical state (the reference leaves
        RedisModule digest unimplemented, t_cuckoofilter.zig:161-163; we
        provide a real one for lineage)."""
        import hashlib

        return hashlib.sha256(self.to_bytes()).hexdigest()

    # ----------------------------------------------------------------- merge

    def extract_pairs(self) -> tuple[np.ndarray, np.ndarray]:
        """All stored fingerprints as canonical (bucket_idx, fp) pairs,
        homeless included. The index is ``min(i, alt(i, fp))`` — a pure
        function of the original item, independent of kick history and
        input partitioning."""
        occ = self.buckets != 0
        flat = np.nonzero(occ.ravel())[0]
        bidx = (flat // self.bucksize).astype(np.int64)
        fps = self.buckets.ravel()[flat]
        if self.homeless_fp != 0:
            bidx = np.append(bidx, np.int64(self.homeless_bucket_idx))
            fps = np.append(fps, DTYPE[self.fpsize](self.homeless_fp))
        return np.minimum(bidx, self._alt_idx_vec(bidx, fps)), fps

    @classmethod
    def merge(cls, parts: list, seed: int = 42, on_toofull: str = "raise") -> CuckooFilter:
        """Canonical, merge-order-invariant union (SURVEY.md §2.3).

        All partials must share (size, fpsize). Every stored pair is
        extracted canonically, the union multiset is sorted, and re-inserted
        into a fresh filter seeded from ``seed`` — so any merge-tree shape
        and any input partitioning yield a byte-identical blob. ``broken``
        ORs across partials.

        Accepts dense filter blobs/objects AND packed canonical-pair blobs
        (the sparse partial format) interchangeably."""
        if not parts:
            raise ValueError("nothing to merge")
        read = [_read_part(p) for p in parts]
        size, fpsize = read[0][:2]
        if any(r[:2] != (size, fpsize) for r in read):
            raise ValueError("merge requires equal (size, fpsize)")
        out = cls.create(size, fpsize, seed=seed)
        bidx = np.concatenate([r[2] for r in read])
        fps = np.concatenate([r[3] for r in read])
        order = np.lexsort((fps, bidx))
        out.add_batch(bidx[order], fps[order], on_toofull=on_toofull)
        out.broken = any(r[4] for r in read)
        return out


def _read_part(p) -> tuple[int, int, np.ndarray, np.ndarray, bool]:
    """Any merge input — a filter, a dense blob or a packed pair blob — as
    ``(size, fpsize, canonical bucket idx, fp, broken)``. Pair blobs come
    from unbuilt partials, which cannot be broken."""
    if not isinstance(p, CuckooFilter) and is_pairs_blob(bytes(p)):
        size, fpsize, bidx, fps = unpack_pairs(bytes(p))
        return size, fpsize, bidx, fps, False
    f = p if isinstance(p, CuckooFilter) else CuckooFilter.from_bytes(bytes(p))
    bidx, fps = f.extract_pairs()
    return f.nbytes, f.fpsize, bidx.astype(np.uint64), fps, f.broken
