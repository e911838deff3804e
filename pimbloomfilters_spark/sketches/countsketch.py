"""Count Sketch (Charikar, Chen & Farach-Colton 2002, "Finding Frequent
Items in Data Streams") — the SIGNED counterpart of count-min.

Where CMS only over-estimates (bias +eps*N one-sided), Count Sketch is
UNBIASED: each of ``depth`` rows adds ``sign_j(x)`` at ``idx_j(x)``, the
point estimate is the MEDIAN over rows of ``sign_j(x) * table[j][idx_j(x)]``.
Per-row variance is <= F2/width (F2 = second frequency moment), so the
median of ``depth`` rows satisfies |est - f_x| <= 3*sqrt(F2/width) with
probability >= 1 - 2^-Omega(depth) — the published guarantee the tests and
the oracle gate assert (with F2 computed exactly).

Hashing: row indexes from the same Kirsch–Mitzenmacher double-hash stream
as CMS; row signs from an INDEPENDENT double-hash stream (seed offset by a
fixed odd constant), lowest bit mapped to ±1. An insert hashes each
distinct value of its batch once and adds ``sign * count`` (integer add
ignores order and repeats, so the table equals one update per
occurrence). Merge = element-wise table add — exactly
associative/commutative, the property every build path here relies on
(reference analogue: the mergeable partials replacing
``src/pim_bloom_filter.cpp``'s bucket dispatch).
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..hashing import DEFAULT_SEED, double_hashes
from .base import Sketch, register

_SIGN_SEED_OFFSET = 0x9E3779B9  # fixed odd constant: independent sign stream


@register(8)
class CountSketch(Sketch):
    kind = "countsketch"

    def __init__(self, width: int = 8192, depth: int = 5,
                 seed: int = DEFAULT_SEED):
        if depth % 2 == 0:
            raise ValueError("depth must be odd (median of row estimates)")
        self.width = int(width)
        self.depth = int(depth)
        self.seed = int(seed)
        self._table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0

    def _indexes_signs(self, values: np.ndarray):
        """((d, n) column indexes, (d, n) ±1 signs)."""
        h1, h2 = double_hashes(values, self.seed)
        s1, s2 = double_hashes(values, self.seed + _SIGN_SEED_OFFSET)
        j = np.arange(self.depth, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            g = h1[None, :] + j * h2[None, :]
            s = s1[None, :] + j * s2[None, :]
        idx = (g % np.uint64(self.width)).astype(np.int64)
        sign = 1 - 2 * (s & np.uint64(1)).astype(np.int64)
        return idx, sign

    _CHUNK = 1 << 19  # keep the (d, n) matrices cache-sized

    def insert_bulk(self, values: np.ndarray) -> None:
        values = np.asarray(values)
        # integer add is order-free: hash each distinct value once and add
        # sign * its count
        uniq, counts = np.unique(values, return_counts=True)
        for lo in range(0, uniq.size, self._CHUNK):
            idx, sign = self._indexes_signs(uniq[lo:lo + self._CHUNK])
            sign *= counts[lo:lo + self._CHUNK]
            for d in range(self.depth):  # d tiny; inner op vectorized
                np.add.at(self._table[d], idx[d], sign[d])
        self.total += int(values.size)

    def query_bulk(self, values: np.ndarray) -> np.ndarray:
        """Unbiased point estimates: median over rows of sign * cell."""
        values = np.asarray(values)
        if values.size == 0:
            return np.zeros(0, dtype=np.int64)
        idx, sign = self._indexes_signs(values)
        rows = np.arange(self.depth)[:, None]
        ests = sign * self._table[rows, idx]  # (d, n)
        return np.median(ests, axis=0).astype(np.int64)

    def query(self, value) -> int:
        return int(self.query_bulk(np.asarray([value]))[0])

    def f2_estimate(self) -> float:
        """Second frequency moment F2 = sum_x f_x^2 — the AMS estimator
        (Alon, Matias & Szegedy 1996) falls out of the Count Sketch table
        for free: each row's sum of squared cells is an UNBIASED F2
        estimate (cross terms vanish in expectation under the ±1 signs,
        relative sd <= sqrt(2/width)), and the median over the depth rows
        concentrates it. F2 drives skew detection and join-size estimates."""
        return float(np.median((self._table.astype(np.float64) ** 2)
                               .sum(axis=1)))

    def merge(self, other: "CountSketch") -> "CountSketch":
        self._check_mergeable(other)
        self._table += other._table
        self.total += other.total
        return self

    def config(self) -> dict[str, Any]:
        return {"width": self.width, "depth": self.depth, "seed": self.seed}

    def payload(self) -> bytes:
        return np.int64(self.total).tobytes() + self._table.tobytes()

    def _load_payload(self, raw: bytes) -> None:
        self.total = int(np.frombuffer(raw[:8], dtype=np.int64)[0])
        arr = np.frombuffer(raw[8:], dtype=np.int64)
        if arr.size != self.depth * self.width:
            raise ValueError("payload size mismatch for countsketch geometry")
        self._table = arr.reshape(self.depth, self.width).copy()

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "CountSketch":
        return cls(**cfg)
