"""Single-process kernel layers, timed in the driver: hashing, Bloom
positions / scatter / gather, serialization and merge of each sketch kind.

Each figure is the median of five calls after one warm call, in ms.
"""

from __future__ import annotations

import numpy as np

from harness import median_of
from spans import Tracer

_HDR = 12  # sketch envelope: magic, version, kind code, header length


def _ms(tr: Tracer, name: str, fn) -> float:
    with tr.span(name):
        return median_of(fn) * 1000.0


def bloom_kernels(tr: Tracer, values: np.ndarray, size2: int, k: int,
                  weight: bool) -> dict[str, float]:
    """Hash, positions, scatter, gather, dense/sparse serialize, load and
    merge for a Bloom filter of 2^size2 bits over `values`."""
    from pimbloomfilters_spark.hashing import DEFAULT_SEED, double_hashes
    from pimbloomfilters_spark.sketches import make_sketch, sketch_from_bytes
    from pimbloomfilters_spark.sketches.bloom import (
        BLOCK_BITS, bloom_positions, scatter_or_bits)

    bf = make_sketch("bloom", size2=size2, nb_hash=k)
    bf.insert_bulk(values)
    small = make_sketch("bloom", size2=size2, nb_hash=k)
    small.insert_bulk(values[: max(1, (1 << size2) // (64 * k))])
    other = make_sketch("bloom", size2=size2, nb_hash=k)
    other.insert_bulk(values[::2])
    pos = bloom_positions(values, size2, k, DEFAULT_SEED, BLOCK_BITS)
    words = np.zeros((1 << size2) // 64, dtype=np.uint64)
    dense = bf.to_bytes()
    out = {
        "hashing.double_hashes_ms": _ms(
            tr, "hashing.double_hashes", lambda: double_hashes(values, DEFAULT_SEED)),
        "sketches.bloom.positions_ms": _ms(
            tr, "sketches.bloom.bloom_positions",
            lambda: bloom_positions(values, size2, k, DEFAULT_SEED, BLOCK_BITS)),
        "sketches.bloom.scatter_ms": _ms(
            tr, "sketches.bloom.scatter_or_bits", lambda: scatter_or_bits(words, pos)),
        "sketches.bloom.contains_ms": _ms(
            tr, "sketches.bloom.contains_bulk", lambda: bf.contains_bulk(values)),
        "sketches.bloom.to_bytes_dense_ms": _ms(
            tr, "sketches.bloom.to_bytes", bf.to_bytes),
        "sketches.bloom.to_bytes_sparse_ms": _ms(
            tr, "sketches.bloom.to_bytes", small.to_bytes),
        "sketches.bloom.from_bytes_ms": _ms(
            tr, "sketches.sketch_from_bytes", lambda: sketch_from_bytes(dense)),
        "sketches.bloom.merge_ms": _ms(
            tr, "sketches.bloom.merge", lambda: bf.merge(other)),
    }
    if len(small.to_bytes()) >= len(dense):
        raise ValueError("sparse-form kernel input did not serialize sparse")
    if weight:
        out["sketches.bloom.weight_ms"] = _ms(
            tr, "sketches.bloom.get_weight", bf.get_weight)
    return out


def sketch_kernels(tr: Tracer, kind: str, values: np.ndarray,
                   **cfg) -> dict[str, float]:
    """Insert, serialize, load and merge for one HLL / CMS / KLL geometry.
    Merge folds a copy built from half the values, as a driver fold would."""
    from pimbloomfilters_spark.sketches import make_sketch, sketch_from_bytes

    def insert():
        sk = make_sketch(kind, **cfg)
        sk.insert_bulk(values)
        return sk

    sk = insert()
    half = make_sketch(kind, **cfg)
    half.insert_bulk(values[::2])
    raw = sk.to_bytes()
    targets = iter([sketch_from_bytes(raw) for _ in range(6)])
    p = f"sketches.{kind}"
    return {
        f"{p}.insert_ms": _ms(tr, f"{p}.insert_bulk", insert),
        f"{p}.to_bytes_ms": _ms(tr, f"{p}.to_bytes", sk.to_bytes),
        f"{p}.from_bytes_ms": _ms(
            tr, "sketches.sketch_from_bytes", lambda: sketch_from_bytes(raw)),
        f"{p}.merge_ms": _ms(
            tr, f"{p}.merge", lambda: next(targets).merge(half)),
    }


def payload_len(blob: bytes) -> int:
    """Length of the payload inside a serialized sketch envelope."""
    hdr_len = int.from_bytes(blob[8:12], "little")
    return len(blob) - _HDR - hdr_len
