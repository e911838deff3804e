"""Vectorized 64-bit hashing (numpy) — the engine's only hash family.

The reference derives k Bloom indexes from a seeded shift/xor/add chain
(``src/bloom_filter.hpp:288-299`` with a 10-entry seed table at
``src/bloom_filter.hpp:271-282``) plus a cheap secondary hash
(``simplehash16_64``, ``src/bloom_filter.hpp:301-307``). Per the north rule we
replace that with xxhash-family **double hashing** (Kirsch–Mitzenmacher:
``g_i = h1 + i*h2``), which needs only two independent 64-bit hashes per key.

``xxh64_u64`` below is the exact XXH64 algorithm specialised to an 8-byte
little-endian integer input, fully vectorized over numpy uint64 arrays. It is
bit-identical to Spark's ``F.xxhash64`` on LongType columns (verified in
tests/test_hashing.py against the JVM implementation), which gives us a
JVM-side oracle for the Python hash path and lets SQL-side expressions
(`repartition(n, xxhash64(col))`) agree with UDF-side routing.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)

DEFAULT_SEED = 42  # Spark's XxHash64 default seed


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def xxh64_u64(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """XXH64 of each value's 8-byte little-endian encoding. uint64 in/out.

    Matches org.apache.spark.sql.catalyst.expressions.XxHash64 on LongType.
    Any other input is read as int64 first, a float truncated toward zero.
    """
    x = np.asarray(values)
    if x.dtype != np.uint64:
        x = x.astype(np.int64, copy=False).view(np.uint64)
    with np.errstate(over="ignore"):
        acc = np.uint64(seed) + _P5 + np.uint64(8)
        k1 = x * _P2
        k1 = _rotl(k1, 31)
        k1 = k1 * _P1
        acc = acc ^ k1
        acc = _rotl(acc, 27) * _P1 + _P4
        # avalanche
        acc ^= acc >> np.uint64(33)
        acc *= _P2
        acc ^= acc >> np.uint64(29)
        acc *= _P3
        acc ^= acc >> np.uint64(32)
    return acc


def double_hashes(values: np.ndarray, seed: int = DEFAULT_SEED) -> tuple[np.ndarray, np.ndarray]:
    """(h1, h2) for Kirsch–Mitzenmacher double hashing; h2 forced odd so the
    probe sequence cycles through any power-of-two range."""
    h1 = xxh64_u64(values, seed)
    h2 = xxh64_u64(values, seed + 0x9E37) | np.uint64(1)
    return h1, h2


def splitmix64(values: np.ndarray) -> np.ndarray:
    """Cheap auxiliary mixer (public-domain splitmix64 finalizer)."""
    z = np.ascontiguousarray(values, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z


def _s64(x: int) -> int:
    """Python int (mod 2^64) -> signed 64-bit literal value."""
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def xxh64_sql(col: str, seed: int = DEFAULT_SEED, *,
              check_ansi: bool = True) -> str:
    """Spark SQL expression string computing ``xxh64_u64(col, seed)`` for a
    LONG column — XXH64 of the value's 8-byte little-endian encoding, with
    an ARBITRARY seed (the builtin ``xxhash64(col)`` is fixed at seed 42).
    Bit-identical to the numpy path at every seed (tested), so BOTH probe
    hashes of the double-hashing family are JVM-expressible; whole-stage
    codegen evaluates the ~15 integer ops per row.

    Requires non-ANSI arithmetic (``spark.sql.ansi.enabled=false`` while
    the plan is analyzed): the multiply-wrapping steps are intentional
    mod-2^64 overflow, which ANSI mode (the Spark 4.x default) turns into
    runtime errors. Java's signed long +, * and ^ wrap identically to
    uint64 arithmetic; logical right shifts use shiftrightunsigned.

    To fail fast instead of erroring mid-job, construction checks the
    ACTIVE session's ``spark.sql.ansi.enabled`` and raises a RuntimeError
    with the fix if it is on (pass ``check_ansi=False`` to skip, e.g.
    when building the expression before the target session exists — the
    requirement then rests on the caller).
    """
    if check_ansi:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if (active is not None and
                str(active.conf.get("spark.sql.ansi.enabled",
                                    "true")).lower() == "true"):
            raise RuntimeError(
                "xxh64_sql emits wraparound long arithmetic, which ANSI "
                "mode turns into runtime overflow errors. Set "
                "spark.conf.set('spark.sql.ansi.enabled', False) while "
                "this expression is planned (or pass check_ansi=False "
                "and manage the conf yourself).")
    acc0 = _s64(seed + int(_P5) + 8)
    k1 = f"({col} * {_s64(int(_P2))}L)"
    k1 = f"((({k1} << 31) | shiftrightunsigned({k1}, 33)) * {_s64(int(_P1))}L)"
    acc = f"(({acc0}L ^ {k1}))"
    acc = (f"((((({acc} << 27) | shiftrightunsigned({acc}, 37)) "
           f"* {_s64(int(_P1))}L) + {_s64(int(_P4))}L))")
    acc = f"(({acc} ^ shiftrightunsigned({acc}, 33)) * {_s64(int(_P2))}L)"
    acc = f"(({acc} ^ shiftrightunsigned({acc}, 29)) * {_s64(int(_P3))}L)"
    return f"({acc} ^ shiftrightunsigned({acc}, 32))"
