"""HyperLogLog cardinality sketch (dense registers, numpy-vectorized).

North-rule extension (SURVEY.md §2.3): the reference has no cardinality
operator — this follows Flajolet et al. 2007 ("HyperLogLog: the analysis of a
near-optimal cardinality estimation algorithm") with the standard 64-bit-hash
variant (no large-range correction needed) and linear-counting small-range
correction. Relative standard error ≈ 1.04/sqrt(2**p).

Register update is the lane-wise max of rho values; ``merge`` is lane-wise max
of registers — exactly associative/commutative, so partition order never
changes the result (tested by permuted-partition equality). Max is also
idempotent, so an insert hashes each distinct value of its batch once
(``np.unique`` first). rho's leading-zero count comes from the ``np.frexp``
exponent of one 32-bit half of the hash suffix, exact in float64.

Oracle in tests: Spark's own ``approx_count_distinct`` (HLL++) and exact
``countDistinct`` at small scale — used for validation only, never as the
implementation.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..hashing import DEFAULT_SEED, xxh64_u64
from .base import Sketch, register


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _bit_length_u64(w: np.ndarray) -> np.ndarray:
    """Exact bit_length of each uint64, as int64: the ``np.frexp`` exponent
    of its high 32-bit half (plus 32) or, when that is zero, of its low
    half. Both halves are below 2^53, so their float64 values are exact."""
    hi = (w >> np.uint64(32)).astype(np.float64)
    top = hi > 0
    half = np.where(top, hi, (w & np.uint64(0xFFFFFFFF)).astype(np.float64))
    return np.frexp(half)[1] + np.where(top, 32, 0)


@register(2)
class HyperLogLog(Sketch):
    kind = "hll"

    def __init__(self, p: int = 14, seed: int = DEFAULT_SEED):
        if not (4 <= p <= 18):
            raise ValueError("p must be in [4, 18]")
        self.p = int(p)
        self.seed = int(seed)
        self.m = 1 << p
        self._regs = np.zeros(self.m, dtype=np.uint8)

    def insert_bulk(self, values: np.ndarray) -> None:
        values = np.unique(values)  # max is idempotent: hash each value once
        if values.size == 0:
            return
        h = xxh64_u64(values, self.seed)
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = (h << np.uint64(self.p)) >> np.uint64(self.p)  # low 64-p bits
        # rho = leading-zero count within the (64-p)-bit suffix, + 1
        rho = (64 - self.p + 1 - _bit_length_u64(w)).astype(np.uint8)
        np.maximum.at(self._regs, idx, rho)

    def estimate(self) -> float:
        regs = self._regs.astype(np.float64)
        est = _alpha(self.m) * self.m * self.m / np.power(2.0, -regs).sum()
        zeros = int((self._regs == 0).sum())
        if est <= 2.5 * self.m and zeros > 0:
            est = self.m * np.log(self.m / zeros)  # linear counting
        return float(est)

    def relative_error(self) -> float:
        return 1.04 / (self.m ** 0.5)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        self._check_mergeable(other)
        np.maximum(self._regs, other._regs, out=self._regs)
        return self

    def union(self, other: "HyperLogLog") -> "HyperLogLog":
        out = HyperLogLog(**self.config())
        np.maximum(self._regs, other._regs, out=out._regs)
        return out

    def intersection_estimate(self, other: "HyperLogLog") -> float:
        """Inclusion–exclusion: |A ∩ B| ~ est(A) + est(B) - est(A ∪ B).
        Error grows when the intersection is small relative to the union
        (differences of estimates) — standard HLL caveat."""
        return max(0.0, self.estimate() + other.estimate()
                   - self.union(other).estimate())

    def config(self) -> dict[str, Any]:
        return {"p": self.p, "seed": self.seed}

    # Payload wire form, self-describing by the first byte:
    #   raw m register bytes            dense (unchanged legacy form — a
    #                                   register value is rho <= 64-p+1 <= 61,
    #                                   so the first byte can never collide
    #                                   with the sparse tag 'S' = 0x53)
    #   b'S' + idx uint32[n] + rho u8[n]  sparse nonzero registers
    # Sparse is chosen automatically when it is smaller (fill < ~20%). This
    # matters for GROUPED builds: one partial per (task, group) at p=14
    # is a 16 KB dense blob; with 10^5-10^6 mostly-empty groups the partial
    # shuffle is tens of GB dense vs KBs sparse (operators/build.py).
    def payload(self) -> bytes:
        nz = np.flatnonzero(self._regs)
        if 1 + 5 * nz.size < self.m:
            idx = nz.astype(np.uint32)
            return b"S" + idx.tobytes() + self._regs[nz].tobytes()
        return self._regs.tobytes()

    def _load_payload(self, raw: bytes) -> None:
        if raw[:1] == b"S":
            n = (len(raw) - 1) // 5
            if len(raw) != 1 + 5 * n:
                raise ValueError("corrupt sparse hll payload")
            idx = np.frombuffer(raw, dtype=np.uint32, count=n, offset=1)
            rho = np.frombuffer(raw, dtype=np.uint8, count=n, offset=1 + 4 * n)
            if n and int(idx.max()) >= self.m:
                raise ValueError("sparse hll payload index out of range")
            regs = np.zeros(self.m, dtype=np.uint8)
            regs[idx.astype(np.int64)] = rho
            self._regs = regs
            return
        arr = np.frombuffer(raw, dtype=np.uint8)
        if arr.shape != self._regs.shape:
            raise ValueError("payload size mismatch for hll geometry")
        self._regs = arr.copy()

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "HyperLogLog":
        return cls(**cfg)
