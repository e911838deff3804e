"""Theta (KMV) sketch: distinct counting WITH full set algebra.

The gap it fills: Bloom ``intersect`` is bitwise-AND (no cardinality, inflated
FPR) and HLL intersection via inclusion–exclusion compounds error; the theta
sketch — keep the k smallest distinct 64-bit hashes, treat the k-th smallest
as a sampling threshold θ — supports union/intersection/difference ESTIMATES
with published error, and union-merge is exactly equivalent to a single-stream
build (the k smallest of A∪B are each among the k smallest of their own
stream), so partial-merge builds are byte-identical to one-shot builds.

Public construction (KMV / bottom-k, Bar-Yossef et al.; the Apache
DataSketches theta family is the production reference). Estimators:

- estimate:     exact count while fewer than k distinct hashes are retained;
                otherwise (k-1)/θ with θ = kth_smallest / 2^64.
- union:        merge retained sets, keep k smallest (associative+commutative,
                stream-equivalent — see above).
- intersection: θ* = min(θ_a, θ_b); both retained sets cut to < θ*; the
                common survivors are a θ*-rate sample of the true
                intersection, so |common| / θ* estimates it.
- difference:   same sample, a-side survivors not in b.

RSE of the full-sketch estimate is ~1/sqrt(k-2); intersection estimates have
sd ~ sqrt(n_inter/θ*) (binomial thinning), both used by the oracle-gated
bound checks.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from ..hashing import DEFAULT_SEED, xxh64_u64
from .base import Sketch, register

_TWO64 = float(1 << 64)


@register(7)
class ThetaSketch(Sketch):
    kind = "theta"

    def __init__(self, k: int = 4096, seed: int = DEFAULT_SEED):
        if k < 16:
            raise ValueError("k must be >= 16")
        self.k = int(k)
        self.seed = int(seed)
        self._vals = np.empty(0, dtype=np.uint64)  # sorted, distinct, <= k

    # -- build -----------------------------------------------------------------
    def insert_bulk(self, values: np.ndarray) -> None:
        values = np.unique(values)  # a retained set: hash each value once
        if values.size == 0:
            return
        h = xxh64_u64(values, self.seed)
        self._vals = np.unique(np.concatenate([self._vals, h]))[:self.k]

    # -- estimate ----------------------------------------------------------------
    @property
    def theta_raw(self) -> int:
        """Sampling threshold in hash space: retained < theta_raw."""
        if self._vals.size < self.k:
            return 1 << 64
        return int(self._vals[-1])

    @property
    def theta(self) -> float:
        return self.theta_raw / _TWO64

    def retained(self) -> np.ndarray:
        """Hashes strictly below θ (k-1 entries when full, all when exact)."""
        if self._vals.size < self.k:
            return self._vals
        return self._vals[:-1]

    def estimate(self) -> float:
        if self._vals.size < self.k:
            return float(self._vals.size)  # exact mode
        return (self.k - 1) / self.theta

    def relative_error(self) -> float:
        """RSE of the full-sketch estimator ~ 1/sqrt(k-2); 0 in exact mode."""
        if self._vals.size < self.k:
            return 0.0
        return 1.0 / math.sqrt(self.k - 2)

    # -- merge (union) -----------------------------------------------------------
    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        self._check_mergeable(other)
        self._vals = np.unique(np.concatenate([self._vals, other._vals]))[:self.k]
        return self

    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        out = ThetaSketch(k=self.k, seed=self.seed)
        out.merge(self)
        return out.merge(other)

    # -- set algebra (estimates + bounds) -----------------------------------------
    def _common_cut(self, other: "ThetaSketch") -> tuple[np.ndarray, np.ndarray, float]:
        self._check_mergeable(other)
        th = min(self.theta_raw, other.theta_raw)
        a = self._vals[self._vals < np.uint64(min(th, (1 << 64) - 1))] \
            if th < (1 << 64) else self._vals
        b = other._vals[other._vals < np.uint64(min(th, (1 << 64) - 1))] \
            if th < (1 << 64) else other._vals
        return a, b, th / _TWO64

    def intersection_estimate(self, other: "ThetaSketch") -> float:
        a, b, theta = self._common_cut(other)
        return float(np.intersect1d(a, b).size) / theta

    def difference_estimate(self, other: "ThetaSketch") -> float:
        """Estimate of |self \\ other|."""
        a, b, theta = self._common_cut(other)
        return float(np.setdiff1d(a, b).size) / theta

    def intersection_sd(self, other: "ThetaSketch", n_inter: float) -> float:
        """sd of the intersection estimate at true size n_inter (binomial
        thinning at rate θ*): sqrt(n_inter (1-θ) / θ)."""
        _, _, theta = self._common_cut(other)
        return math.sqrt(max(n_inter, 1.0) * (1.0 - theta) / theta)

    # -- serialization --------------------------------------------------------------
    def config(self) -> dict[str, Any]:
        return {"k": self.k, "seed": self.seed}

    def payload(self) -> bytes:
        return self._vals.tobytes()

    def _load_payload(self, raw: bytes) -> None:
        self._vals = np.frombuffer(raw, dtype=np.uint64).copy()

    @classmethod
    def _from_config(cls, cfg: dict[str, Any]) -> "ThetaSketch":
        return cls(**cfg)
