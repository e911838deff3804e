"""Blocked (cache-line-partitioned) Bloom filter — the reference's core op.

Semantics mirror the reference filter family (``src/bloom_filter.hpp``,
``src/standard_bloom_filter.cpp``, ``src/dpu/bloom_filters_dpu.cpp``) without
porting its execution machinery:

- geometry ``(m = 2**size2 bits, k = nb_hash)`` with the reference's validation
  (``size2 >= 3``, ``1 <= nb_hash < 10`` — ``src/bloom_filter.hpp:31-36,272-274``);
- *blocked* bit placement: all k bits of an item land inside one fixed-size
  block, mirroring the DPU variant's 4096-bit / 512-byte blocks
  (``BLOCK_MODULO 4095`` at ``src/dpu/bloom_filters_dpu.cpp:27``,
  ``CACHE8_BLOOM_SIZE 512`` at ``src/pim_bloom_filter_common.h:11``) — one
  memory fetch per probe instead of k;
- zero false negatives; FPR follows the *blocked*-Bloom bound
  (Poisson-weighted per-block standard bound), not the ideal-Bloom formula —
  see ``theoretical_fpr``;
- merge = bitwise OR, replacing the reference's physical sharding of one
  logical filter across ranks/DPUs/tasklets (``src/pim_bloom_filter.cpp:77``).

Index derivation is xxhash-family double hashing (north rule): the block comes
from h1's high bits, the k in-block offsets from ``(h1 + i*h2) mod block_bits``
— replacing the reference's 10-seed hash table (``src/bloom_filter.hpp:271-299``).

All bulk paths are numpy-vectorized (no Python loop over items): an insert
takes ``np.unique`` of its batch first (OR is idempotent, so each distinct
value is hashed, positioned and scattered once and the bits are the same;
a Zipf token batch holds ~5x fewer distinct values than occurrences), then
ORs the bit positions into the 64-bit words with ``np.bitwise_or.at``
(``scatter_or_bits``; repeated words need no dedup or sort). A probe
(``bloom_probe``) tests one hash at a time over a cache-sized slice of keys
and drops each key at its first unset bit, so a negative costs one or two
gathers instead of k. Weight and the dense/sparse payload choice count bits
with Arrow's popcount over a zero-copy boolean view of the words
(``_popcount``).
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..hashing import DEFAULT_SEED, double_hashes
from .base import Sketch, payload_size_error, register

BLOCK_BITS = 4096  # = 512 bytes, the DPU variant's block size


# keys per probe slice: the slice's base, offset, step and index columns and
# the per-hash temporaries (8 bytes a key each) stay near 1 MB, within L2;
# 2^12..2^17 measured, 2^14 best or tied at 2^24 and 2^26 bits
_PROBE_SLICE = 1 << 14


def _block_hashes(values: np.ndarray, size2: int, seed: int, block_bits: int):
    """(base, off, step, mask) per item: ``base`` is the first bit of its
    block (top bits of h1), ``off = h1 mod bb`` its first in-block offset and
    ``step = h2 mod bb`` the stride. Offset i is ``(off + i*step) mod bb``,
    equal to ``(h1 + i*h2) mod bb`` because bb divides 2**64."""
    m_bits = 1 << size2
    block_bits = min(block_bits, m_bits)
    n_blocks = m_bits // block_bits
    h1, h2 = double_hashes(values, seed)
    if n_blocks > 1:
        base = (h1 >> np.uint64(64 - int(math.log2(n_blocks)))) \
            * np.uint64(block_bits)
    else:
        base = np.zeros(h1.shape[0], dtype=np.uint64)
    mask = np.uint64(block_bits - 1)
    h1 &= mask
    h2 &= mask
    return base, h1, h2, mask


def bloom_positions(values: np.ndarray, size2: int, nb_hash: int, seed: int,
                    block_bits: int) -> np.ndarray:
    """(n*k,) uint64 global bit positions; k per item, all inside one block.

    Block index = top bits of h1 (so a power-of-two shard count owns a
    contiguous, block-aligned bit range — the basis of the sharded build);
    in-block offsets = (h1 + i*h2) mod block_bits (double hashing), one
    in-place step per hash into row i of a (k, n) buffer, returned
    key-major. Module-level so executors can compute positions for a
    *shard* of the filter without allocating the full bit array.
    """
    base, off, step, mask = _block_hashes(values, size2, seed, block_bits)
    pos = np.empty((nb_hash, off.size), dtype=np.uint64)
    for i in range(nb_hash):
        if i:
            off += step
            off &= mask
        np.add(base, off, out=pos[i])
    return pos.T.reshape(-1)


def bloom_probe(values: np.ndarray, size2: int, nb_hash: int, seed: int,
                block_bits: int, cell_test) -> np.ndarray:
    """Order-preserving membership: result[i] is True iff ``cell_test`` holds
    at all k positions of values[i]. ``cell_test(pos)`` maps a uint64
    position array to a bool array (``word_bits`` for a bit filter).

    Per slice of ``_PROBE_SLICE`` keys the hash runs once; then hash j
    advances the in-block offset in place, tests that one cell, and keeps
    only the keys that hit. All-positive slices never compact; a negative
    leaves after its first unset cell."""
    values = np.asarray(values)
    out = np.zeros(values.size, dtype=bool)
    for lo in range(0, values.size, _PROBE_SLICE):
        base, off, step, mask = _block_hashes(
            values[lo:lo + _PROBE_SLICE], size2, seed, block_bits)
        keep = np.arange(lo, lo + off.size)
        for j in range(nb_hash):
            if j:
                off += step
                off &= mask
            hit = cell_test(base + off)
            if not hit.all():
                keep, base, off, step = keep[hit], base[hit], off[hit], step[hit]
                if not keep.size:
                    break
        out[keep] = True
    return out


def word_bits(words: np.ndarray, offset: int = 0):
    """Cell test of a bit filter: is bit ``pos - offset`` of ``words`` set
    (``offset`` is a shard window's first bit)."""
    def test(pos: np.ndarray) -> np.ndarray:
        if offset:
            pos = pos - np.uint64(offset)
        w = words[(pos >> np.uint64(6)).view(np.int64)]
        w >>= pos & np.uint64(63)
        return (w & np.uint64(1)).astype(bool)
    return test


def _bits(words: np.ndarray) -> pa.BooleanArray:
    """Zero-copy Arrow boolean view of a uint64 word array: bit i of word w
    is element 64*w + i (little-endian words, LSB-first bitmaps)."""
    return pa.BooleanArray.from_buffers(
        pa.bool_(), 64 * words.size, [None, pa.py_buffer(words)])


def _popcount(words: np.ndarray) -> int:
    """Set bits in a uint64 word array (Arrow's hardware popcount)."""
    return pc.sum(_bits(words), min_count=0).as_py()


def scatter_or_bits(words: np.ndarray, pos: np.ndarray, pos_offset: int = 0) -> None:
    """OR the given bit positions into a uint64 word array. ``bitwise_or.at``
    handles duplicate indexes correctly and measured ~1.7x faster than a
    sort/unique + reduceat scheme (the sort of n*k positions was the single
    hottest step of the build at 10M-key scale)."""
    if pos_offset:
        pos = pos - np.uint64(pos_offset)
    w = (pos >> np.uint64(6)).astype(np.int64)
    bits = np.uint64(1) << (pos & np.uint64(63))
    np.bitwise_or.at(words, w, bits)


@register(1)
class BlockedBloomFilter(Sketch):
    kind = "bloom"

    def __init__(self, size2: int, nb_hash: int, seed: int = DEFAULT_SEED,
                 block_bits: int = BLOCK_BITS, blocked: bool = True):
        # reference validation: src/bloom_filter.hpp:31-36 and :272-274
        if size2 < 3:
            raise ValueError("size2 must be >= 3")
        if not (1 <= nb_hash < 10):
            raise ValueError("nb_hash must be in [1, 10)")
        if block_bits & (block_bits - 1):
            raise ValueError("block_bits must be a power of two")
        self.size2 = int(size2)
        self.nb_hash = int(nb_hash)
        self.seed = int(seed)
        self.m_bits = 1 << size2
        # blocked=False: the reference's BASIC/BASIC2 variants
        # (src/bloom_filter_factory.cpp:19-47, standard_bloom_filter.cpp:14-29)
        # place the k bits independently across the WHOLE filter — one block
        # spanning m. Minimum FPR at fixed m (the ideal-Bloom bound, no
        # blocked penalty and a vanishing double-hash floor), at the price of
        # k memory fetches per probe instead of 1.
        self.blocked = bool(blocked)
        self.block_bits = min(int(block_bits), self.m_bits) if blocked \
            else self.m_bits
        self.n_blocks = self.m_bits // self.block_bits
        n_words = max(1, self.m_bits // 64)
        self._words = np.zeros(n_words, dtype=np.uint64)

    # -- position derivation ---------------------------------------------------
    def _positions(self, values: np.ndarray) -> np.ndarray:
        """(n*k,) uint64 global bit positions, k per item, all in one block."""
        return bloom_positions(values, self.size2, self.nb_hash, self.seed,
                               self.block_bits)

    # insert in chunks of 2^19 values so the k-wide position matrix and the
    # scatter's word/bit columns stay near k x 4 MB each, however many values
    # one Arrow batch flattens to (a 65k-row batch of 54-token arrays is 3.5M
    # values -> 28M positions -> ~0.7 GB transients without chunking;
    # measured ~2x slower)
    _CHUNK = 1 << 19

    # -- build -------------------------------------------------------------------
    def insert_bulk(self, values: np.ndarray) -> None:
        # OR is idempotent: each distinct value is hashed and scattered once
        values = np.unique(values)
        for lo in range(0, values.size, self._CHUNK):
            chunk = values[lo:lo + self._CHUNK]
            scatter_or_bits(self._words, self._positions(chunk))

    # -- probe --------------------------------------------------------------------
    def contains_bulk(self, values: np.ndarray) -> np.ndarray:
        """Order-preserving bulk probe (reference contract:
        ``src/bloom_filter.hpp:55-58``): result[i] corresponds to values[i]."""
        return bloom_probe(values, self.size2, self.nb_hash, self.seed,
                           self.block_bits, word_bits(self._words))

    def contains(self, value) -> bool:
        return bool(self.contains_bulk(np.asarray([value]))[0])

    # -- aggregate ------------------------------------------------------------------
    def get_weight(self) -> int:
        """Popcount of set bits (reference ``get_weight``,
        ``src/bloom_filter.hpp:62``; partial+final sum on DPU,
        ``src/dpu/bloom_filters_dpu.cpp:146-166``). Arrow counts the bits of
        a zero-copy boolean view of the words: no temporary, no LUT."""
        return _popcount(self._words)

    # -- merge / set algebra ------------------------------------------------------------
    def merge(self, other: "BlockedBloomFilter") -> "BlockedBloomFilter":
        self._check_mergeable(other)
        np.bitwise_or(self._words, other._words, out=self._words)
        return self

    def union(self, other: "BlockedBloomFilter") -> "BlockedBloomFilter":
        """Out-of-place union: exactly the filter of the concatenated inputs."""
        out = BlockedBloomFilter(**self.config())
        np.bitwise_or(self._words, other._words, out=out._words)
        return out

    def intersect(self, other: "BlockedBloomFilter") -> "BlockedBloomFilter":
        """Approximate intersection via bitwise AND. Unlike union this is NOT
        exactly the filter of the intersected sets: AND keeps bits that both
        sides set for different items, so it still has no false negatives for
        the true intersection but a higher FPR than a filter built from it
        directly (standard Bloom set-algebra caveat)."""
        out = BlockedBloomFilter(**self.config())
        np.bitwise_and(self._words, other._words, out=out._words)
        return out

    def estimate_cardinality(self) -> float:
        """Swamidass–Baldi estimate from the fill ratio:
        n ~ -(m/k) * ln(1 - X/m), X = popcount. Valid while the filter is not
        saturated; for serious cardinality work use the HLL sketch."""
        x = self.get_weight()
        if x >= self.m_bits:
            return float("inf")
        return -(self.m_bits / self.nb_hash) * math.log(1.0 - x / self.m_bits)

    # -- serialization -------------------------------------------------------------------
    def config(self) -> dict[str, Any]:
        return {
            "size2": self.size2,
            "nb_hash": self.nb_hash,
            "seed": self.seed,
            "block_bits": self.block_bits,
            "blocked": self.blocked,
        }

    # Payload wire form, self-describing by LENGTH (dense is exactly m/8
    # bytes; sparse is 1 + 4n or 1 + 8n, never equal to a power of two >= 2):
    #   raw m/8 word bytes                      dense (legacy form)
    #   b'S' + uint32[n] set-bit positions      sparse, size2 <= 32
    #   b'T' + uint64[n] set-bit positions      sparse, size2 > 32
    # Sparse is chosen automatically when smaller (fill < ~1/128). The win
    # is the partial-merge traffic: a build task that saw few keys ships KBs
    # instead of the full m/8 bytes — at the gated 2^24-bit geometry a
    # 32-partition build over small inputs moved 64 MB of mostly-zero
    # bitmaps to the driver before this (same motivation as the HLL sparse
    # form above; guide §2.3, shuffle/collect fewer bytes).
    def payload(self) -> bytes:
        wi = np.flatnonzero(self._words)
        nz = self._words[wi]
        nbits = _popcount(nz)
        width = 4 if self.size2 <= 32 else 8
        if 1 + width * nbits < self.m_bits // 8:
            # set bits of the non-zero words, ascending: word wi[r], bit c
            idx = pc.indices_nonzero(_bits(nz)).to_numpy().view(np.int64)
            pos = wi[idx >> 6] * 64 + (idx & 63)
            if width == 4:
                return b"S" + pos.astype(np.uint32).tobytes()
            return b"T" + pos.astype(np.uint64).tobytes()
        return self._words.tobytes()

    def _load_payload(self, raw: bytes) -> None:
        n_bytes = self._words.size * 8
        if len(raw) == n_bytes:
            arr = np.frombuffer(raw, dtype=np.uint64)
            self._words = arr.copy()
            return
        dt = {b"S": np.uint32, b"T": np.uint64}.get(raw[:1])
        if dt is None or (len(raw) - 1) % np.dtype(dt).itemsize:
            raise payload_size_error("bloom", n_bytes, "S/T", raw)
        pos = np.frombuffer(raw, dtype=dt, offset=1).astype(np.uint64)
        if pos.size and int(pos.max()) >= self.m_bits:
            raise ValueError("sparse bloom payload position out of range")
        words = np.zeros(self._words.size, dtype=np.uint64)
        scatter_or_bits(words, pos)
        self._words = words

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "BlockedBloomFilter":
        return cls(**cfg)

    # -- analysis ---------------------------------------------------------------------------
    def theoretical_fpr_bound(self, n_items: int) -> float:
        """Expected FPR of THIS construction (blocked + double-hashed), the sum
        of two effects:

        1. *Blocked* Bloom: E over Poisson block load b~Poi(n/B) of the
           standard per-block bound (1 - exp(-k*b/bb))**k — the reference pays
           the same penalty vs ideal Bloom (BASELINE.md: PIM 4096-bit blocks).
        2. *Double-hashing structural floor*: inside a bb-bit block the k
           offsets have only ~2*log2(bb) bits of freedom (a = h1 mod bb,
           d = h2 mod bb), so a probe collides with an inserted key that
           landed on the same (a, d) — or on (a+(k-1)d, -d), the reversed
           sequence — giving ~4*lam/bb^2 per probe, plus partially-overlapping
           shifts completed by random bits (factor ~(1+2q)). Measured
           empirically: ~85% of observed FPs at low load are exactly these
           (a, +/-d) matches. The reference's own measured FPR sits orders of
           magnitude above the ideal formula for the same structural reason
           (its in-block offsets come from a 16-bit hash family,
           ``src/bloom_filter.hpp:301-307``).
        """
        if n_items <= 0:
            return 0.0
        lam = n_items / self.n_blocks
        bb = self.block_bits
        if self.n_blocks == 1:
            # unblocked (BASIC) variant: the one "block" holds exactly n items
            # (no Poisson load variance), so the bound is the classic ideal
            # formula; the double-hash (a, +/-d) floor scales 1/m^2 and is
            # negligible at any practical m but kept for honesty.
            ideal = (1.0 - math.exp(-self.nb_hash * lam / bb)) ** self.nb_hash
            q = 1.0 - math.exp(-self.nb_hash * lam / bb)
            floor = 6.0 * lam / (bb * bb) * (1.0 + 2.0 * q) \
                if self.nb_hash > 1 else 0.0
            return ideal + floor
        sd = math.sqrt(max(lam, 1.0))
        lo = max(0, int(lam - 12 * sd))
        hi = int(lam + 12 * sd) + 8
        b = np.arange(lo, hi + 1, dtype=np.float64)
        logpmf = b * math.log(lam) - lam - np.array([math.lgamma(x + 1) for x in b])
        pmf = np.exp(logpmf)
        fpr_b = (1.0 - np.exp(-self.nb_hash * b / bb)) ** self.nb_hash
        blocked = float((pmf * fpr_b).sum() / max(pmf.sum(), 1e-300))
        q = 1.0 - math.exp(-self.nb_hash * lam / bb)  # fraction of bits set/block
        floor = 6.0 * lam / (bb * bb) * (1.0 + 2.0 * q) if self.nb_hash > 1 else 0.0
        return blocked + floor
