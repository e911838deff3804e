"""Counting Bloom filter (Fan, Cao, Almeida & Broder 2000, "Summary Cache")
— membership WITH DELETION, the operation a plain Bloom filter (and the
reference's DPU filter, src/bloom_filter.hpp) cannot support.

Each bit of the blocked Bloom layout becomes a uint16 counter: insert
increments an item's k counters, delete decrements them, membership = all k
counters non-zero. Because counters ADD, two filters merge by element-wise
addition — exactly associative/commutative, so every existing build path
(partials, grouped, sharded-by-geometry, streaming fold) applies unchanged;
contrast cuckoo filters, whose eviction chains make merge order-dependent
and failable.

Positions reuse ``bloom_positions`` and the probe reuses ``bloom_probe``
with a ``counter != 0`` cell test (same double-hashing, same blocked
layout), so FPR follows the same blocked-Bloom bound as the bit version at
equal (m, k, n) — verified in tests by comparing membership against a
BlockedBloomFilter built from the same keys.

Contracts (standard counting-Bloom caveats, enforced where detectable):
- delete only items you inserted: deleting a non-member whose cells are all
  shared would silently corrupt; a decrement that would go negative raises.
- a counter overflowing uint16 (a cell shared by >65535 items) raises at
  insert/merge rather than wrapping. Memory is 16x the bit filter.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..hashing import DEFAULT_SEED
from .base import Sketch, payload_size_error, register
from .bloom import BLOCK_BITS, bloom_positions, bloom_probe


@register(9)
class CountingBloomFilter(Sketch):
    kind = "countingbloom"

    def __init__(self, size2: int, nb_hash: int, seed: int = DEFAULT_SEED,
                 block_bits: int = BLOCK_BITS, blocked: bool = True):
        if size2 < 3:
            raise ValueError("size2 must be >= 3")
        if not (1 <= nb_hash <= 64):
            raise ValueError("nb_hash must be in 1..64")
        self.size2 = int(size2)
        self.nb_hash = int(nb_hash)
        self.seed = int(seed)
        self.blocked = bool(blocked)
        self.block_bits = int(block_bits) if blocked else (1 << self.size2)
        self._counters = np.zeros(1 << self.size2, dtype=np.uint16)
        self.n_items = 0

    def _positions(self, values: np.ndarray) -> np.ndarray:
        return bloom_positions(np.asarray(values), self.size2, self.nb_hash,
                               self.seed, self.block_bits).astype(np.int64)

    _CHUNK = 1 << 19

    def _staged_counts(self, values: np.ndarray):
        """(staged, cells, totals): per-chunk aggregated (cell, count)
        pairs plus the cross-chunk per-cell totals — the shared staging
        pass behind all-or-nothing insert/delete. Fully vectorized: one
        ``np.unique`` per chunk, then one concat + unique + bincount over
        the (already tiny) per-chunk aggregates."""
        staged = []
        for lo in range(0, values.size, self._CHUNK):
            pos = self._positions(values[lo:lo + self._CHUNK])
            u, cnt = np.unique(pos, return_counts=True)  # O(chunk log chunk)
            staged.append((u, cnt))
        if not staged:
            return staged, np.empty(0, np.int64), np.empty(0, np.int64)
        cells, inv = np.unique(np.concatenate([u for u, _ in staged]),
                               return_inverse=True)
        totals = np.bincount(
            inv, weights=np.concatenate([c for _, c in staged]),
            minlength=cells.size).astype(np.int64)
        return staged, cells, totals

    def insert_bulk(self, values: np.ndarray) -> None:
        """Increment the k counters of each value. All-or-nothing: every
        chunk's per-cell increments are aggregated and headroom-checked
        against uint16 BEFORE any counter is touched — a ``before/after``
        wrap probe would miss increments that are exact multiples of 65536
        within a chunk (e.g. one hot key repeated 65536 times wraps its k
        cells back to their prior value), silently re-introducing false
        negatives."""
        values = np.asarray(values)
        staged, cells, incs = self._staged_counts(values)
        if cells.size and (incs > np.iinfo(np.uint16).max
                           - self._counters[cells]).any():
            raise OverflowError(
                "counting-bloom cell exceeded uint16; grow size2")
        for u, inc in staged:
            self._counters[u] += inc.astype(np.uint16)
        self.n_items += int(values.size)

    def delete_bulk(self, values: np.ndarray) -> None:
        """Decrement the k counters of each value. Only delete items that
        were inserted (see module docstring); an underflow raises and the
        filter state is left unchanged — validated across ALL chunks
        before any counter moves (the all-or-nothing promise holds across
        chunk boundaries)."""
        values = np.asarray(values)
        staged, cells, decs = self._staged_counts(values)
        if cells.size and (self._counters[cells] < decs).any():
            raise ValueError(
                "delete of a non-inserted item (counter underflow)")
        for u, dec in staged:
            self._counters[u] -= dec.astype(np.uint16)
        self.n_items -= int(values.size)

    def contains_bulk(self, values: np.ndarray) -> np.ndarray:
        return bloom_probe(
            values, self.size2, self.nb_hash, self.seed, self.block_bits,
            lambda pos: self._counters[pos.view(np.int64)] != 0)

    def contains(self, value) -> bool:
        return bool(self.contains_bulk(np.asarray([value]))[0])

    def get_weight(self) -> int:
        """Number of non-zero cells (the popcount analogue)."""
        return int(np.count_nonzero(self._counters))

    def subtract(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        """Bulk DISTRIBUTED delete: subtract a filter built (with the same
        geometry/seed, via any build path) from the items to remove. Every
        removed item must have been inserted here with at least the
        multiplicity it carries in ``other`` — underflow raises, state
        unchanged. This turns deletion into the same mergeable-partials
        shape as building: construct the deletion filter in parallel, then
        one subtract."""
        self._check_mergeable(other)
        if (self._counters < other._counters).any():
            raise ValueError(
                "subtract of items not (all) inserted (counter underflow)")
        self._counters -= other._counters
        self.n_items -= other.n_items
        return self

    def merge(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        self._check_mergeable(other)
        # touch only the other side's nonzero cells: a partial built from a
        # slice of the corpus is mostly zeros, and the old whole-array
        # int32 upcast allocated + scanned 3x m per merge (measured: the
        # driver fold of a 32-partial distributed build spent seconds in
        # pure merge arithmetic at size2=24). The overflow check on just
        # the touched cells is exactly as strong.
        nz = np.flatnonzero(other._counters)
        if nz.size:
            summed = (self._counters[nz].astype(np.int32)
                      + other._counters[nz])
            if summed.max() > np.iinfo(np.uint16).max:
                raise OverflowError(
                    "counting-bloom cell exceeded uint16 on merge; grow size2")
            self._counters[nz] = summed.astype(np.uint16)
        self.n_items += other.n_items
        return self

    def config(self) -> dict[str, Any]:
        return {"size2": self.size2, "nb_hash": self.nb_hash,
                "seed": self.seed, "block_bits": self.block_bits,
                "blocked": self.blocked}

    # Payload wire form, self-describing by LENGTH (dense is exactly
    # 8 + 2m bytes; sparse 9 + 6n can never equal it: 8 + 2m ≡ 0 (mod 2),
    # 9 + 6n ≡ 1 (mod 2)):
    #   int64 n_items + uint16[m] cells                      dense (legacy)
    #   b'S' + int64 n_items + uint32[n] idx + uint16[n] cnt sparse
    # Sparse when smaller (< ~1/3 of cells nonzero). A distributed-build
    # partial at the gated 2^24-cell geometry is 32 MiB dense; a partial
    # that saw 10k keys is ~0.5 MB sparse — the driver fold traffic of
    # counting_bloom_delete dropped ~50x (guide §2.3).
    def payload(self) -> bytes:
        m = 1 << self.size2
        nz = np.flatnonzero(self._counters)
        if 9 + 6 * nz.size < 8 + 2 * m and self.size2 <= 32:
            return (b"S" + np.int64(self.n_items).tobytes()
                    + nz.astype(np.uint32).tobytes()
                    + self._counters[nz].tobytes())
        return np.int64(self.n_items).tobytes() + self._counters.tobytes()

    def _load_payload(self, raw: bytes) -> None:
        m = 1 << self.size2
        if len(raw) == 8 + 2 * m:
            self.n_items = int(np.frombuffer(raw[:8], dtype=np.int64)[0])
            self._counters = np.frombuffer(raw[8:], dtype=np.uint16).copy()
            return
        if raw[:1] != b"S" or len(raw) < 9 or (len(raw) - 9) % 6:
            raise payload_size_error("countingbloom", 8 + 2 * m, "S", raw)
        n = (len(raw) - 9) // 6
        self.n_items = int(np.frombuffer(raw, dtype=np.int64,
                                         count=1, offset=1)[0])
        idx = np.frombuffer(raw, dtype=np.uint32, count=n, offset=9)
        cnt = np.frombuffer(raw, dtype=np.uint16, count=n, offset=9 + 4 * n)
        if n and int(idx.max()) >= m:
            raise ValueError("sparse countingbloom payload index out of range")
        counters = np.zeros(m, dtype=np.uint16)
        counters[idx.astype(np.int64)] = cnt
        self._counters = counters

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "CountingBloomFilter":
        return cls(**cfg)
