"""Count-min frequency sketch (Cormode & Muthukrishnan 2005).

North-rule extension (SURVEY.md §2.3): heavy-hitter token counts. Geometry
from the published bounds: width w = ceil(e/eps), depth d = ceil(ln(1/delta));
point query over-estimates by at most eps*N with probability >= 1-delta, and
never under-estimates (one-sided error, asserted in tests against exact
``groupBy(token).count()``).

Update: d row-hashes per key via xxhash double hashing (one (h1,h2) pair
expands to d indexes — Kirsch–Mitzenmacher applies to CMS rows too). An
insert hashes each distinct value of its batch once
(``np.unique(..., return_counts=True)``) and adds its count with
``np.add.at``: integer add ignores order and repeats, so the table equals
one update per occurrence. Merge = element-wise add (exactly assoc/comm).

Spark's built-in ``count_min_sketch`` aggregate is the test oracle only.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from ..hashing import DEFAULT_SEED, double_hashes
from .base import Sketch, register


@register(3)
class CountMinSketch(Sketch):
    kind = "cms"

    def __init__(self, eps: float = 1e-4, delta: float = 1e-3,
                 seed: int = DEFAULT_SEED, width: int | None = None,
                 depth: int | None = None):
        self.eps = float(eps)
        self.delta = float(delta)
        self.seed = int(seed)
        self.width = int(width) if width else int(math.ceil(math.e / self.eps))
        self.depth = int(depth) if depth else int(math.ceil(math.log(1.0 / self.delta)))
        self._table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0  # N = total updates, for the eps*N bound

    def _indexes(self, values: np.ndarray) -> np.ndarray:
        """(d, n) column indexes, one row of indexes per CMS row."""
        h1, h2 = double_hashes(values, self.seed)
        j = np.arange(self.depth, dtype=np.uint64)[:, None]
        with np.errstate(over="ignore"):
            g = h1[None, :] + j * h2[None, :]
        return (g % np.uint64(self.width)).astype(np.int64)

    _CHUNK = 1 << 19  # keep the (d, n) index matrix cache-sized

    def insert_bulk(self, values: np.ndarray) -> None:
        values = np.asarray(values)
        # integer add is order-free: hash each distinct value once and add
        # its count
        uniq, counts = np.unique(values, return_counts=True)
        for lo in range(0, uniq.size, self._CHUNK):
            idx = self._indexes(uniq[lo:lo + self._CHUNK])
            cnt = counts[lo:lo + self._CHUNK]
            for d in range(self.depth):  # d tiny (<=10); inner op vectorized
                np.add.at(self._table[d], idx[d], cnt)
        self.total += int(values.size)

    def query_bulk(self, values: np.ndarray) -> np.ndarray:
        """Point-estimate counts; >= true count, <= true + eps*N w.p. 1-delta."""
        values = np.asarray(values)
        if values.size == 0:
            return np.zeros(0, dtype=np.int64)
        idx = self._indexes(values)
        rows = np.arange(self.depth)[:, None]
        return self._table[rows, idx].min(axis=0)

    def query(self, value) -> int:
        return int(self.query_bulk(np.asarray([value]))[0])

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._check_mergeable(other)
        self._table += other._table
        self.total += other.total
        return self

    def inner_product(self, other: "CountMinSketch") -> int:
        """Estimate of sum_k count_self(k) * count_other(k) — the equi-JOIN
        CARDINALITY (with multiplicity) between the two sketched key
        streams, Cormode & Muthukrishnan 2005 §4.2: per row the dot product
        of the two count rows over-counts by hash collisions only, so the
        min over the d rows NEVER under-estimates and over-estimates by at
        most eps * N_self * N_other with probability >= 1 - delta. The
        join-size estimator a distributed planner wants BEFORE committing
        to a shuffle strategy: both sides are sketched in one pass each
        (mergeable partials), the estimate is O(d*w) — no data moves.
        Requires identical geometry AND seed (same row hashes), like
        ``merge``. Row dot products are exact in int64 up to ~9.2e18 —
        ample headroom: a meaningful estimate needs eps*Na*Nb below that
        anyway (Na*Nb = 1e22 would make even the BOUND vacuous)."""
        self._check_mergeable(other)
        return int(min(
            int(np.dot(self._table[d], other._table[d]))
            for d in range(self.depth)))

    def inner_product_bound(self, other: "CountMinSketch") -> int:
        """eps * N_self * N_other — the published additive over-estimate
        ceiling for ``inner_product`` (holds w.p. >= 1 - delta)."""
        return int(math.ceil(self.eps * self.total * other.total))

    def config(self) -> dict[str, Any]:
        return {"eps": self.eps, "delta": self.delta, "seed": self.seed,
                "width": self.width, "depth": self.depth}

    def payload(self) -> bytes:
        return np.int64(self.total).tobytes() + self._table.tobytes()

    def _load_payload(self, raw: bytes) -> None:
        self.total = int(np.frombuffer(raw[:8], dtype=np.int64)[0])
        arr = np.frombuffer(raw[8:], dtype=np.int64)
        if arr.size != self.depth * self.width:
            raise ValueError("payload size mismatch for cms geometry")
        self._table = arr.reshape(self.depth, self.width).copy()

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "CountMinSketch":
        return cls(**cfg)
