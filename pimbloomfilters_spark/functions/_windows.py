"""The one window coder behind every n-gram, shingle, k-mer and fingerprint
pass: code every length-``n`` window of every row of an Arrow batch column
in a few flat vectorized passes, never per-row Python.

Three pieces, shared by all coders, over the flat (values, offsets) of
the column (``_arrow.flat``; token coders read ``_arrow.ids``):

- ``fold``: Horner over the ``n`` shifted views of the flat values, with a
  ``pack(bits)`` step (an exact bijection window <-> uint64 while
  n * bits <= 64) or the ``kr`` step (Karp–Rabin mod 2^31-1, base 257);
- ``windows``: which flat windows lie inside one row and hold no invalid
  value, with each kept window's 1-based position and row;
- ``distinct_runs``: per-row distinct codes, sorted, as runs.

The per-kind coders below compose them: char grams (pack 8), token
shingles (pack 32), token KR codes, byte KR hashes and DNA k-mers (pack 2).
A distinct coder returns ``(codes, starts, rows)``: codes grouped by row,
``starts`` the offset of each present row's run (for ``np.ufunc.reduceat``)
and ``rows`` the batch-local row of each run; rows without a window have
no run.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .._arrow import flat, ids

# Modulus 2^31-1 (Mersenne prime) keeps every intermediate EXACT in 64-bit
# integer math on both engines: byte (<2^8) * power (<2^31) < 2^39, and a
# window-sum of 16 such products < 2^43 — no wraparound, so the same values
# are reproducible in DuckDB BIGINT arithmetic (the oracle recomputes them).
_FP_MOD = (1 << 31) - 1
_FP_BASE = 257

# byte value -> 2-bit base code; 255 marks non-ACGT (invalidates a window)
_BASE_MAP = np.full(256, 255, dtype=np.uint8)
for _b, _c in zip(b"ACGT", range(4)):
    _BASE_MAP[_b] = _c


def pack(bits: int):
    """Horner step of base-2^bits packing into uint64."""
    shift = np.uint64(bits)
    return lambda acc, x: ((acc.astype(np.uint64, copy=False) << shift)
                           | x.astype(np.uint64))


def kr(acc, x):
    """Horner step of the Karp–Rabin code: every intermediate is below
    (p-1)*257 + x < 2^40 for x < 2^31, exact in int64 and equal to the
    coefficient dot product mod p the SQL oracles recompute."""
    return (acc * _FP_BASE + x) % _FP_MOD


def fold(values: np.ndarray, n: int, step, reverse: bool = False):
    """The code of every length-``n`` window of ``values`` (window j starts
    at values[j]): Horner over the ``n`` shifted views, last view first when
    ``reverse``."""
    n_win = max(values.size - n + 1, 0)
    acc = np.zeros(n_win, dtype=np.int64)
    for i in (range(n - 1, -1, -1) if reverse else range(n)):
        acc = step(acc, values[i:i + n_win])
    return acc


def windows(offsets: np.ndarray, n: int, n_win: int, bad=None):
    """(keep, pos, row) of the ``n_win`` flat windows of width ``n``:
    ``keep`` masks the windows inside one row that cover no ``bad`` value;
    ``pos`` (1-based, the oracles' convention) and ``row`` belong to the
    kept windows."""
    start = np.arange(n_win, dtype=np.int64)
    row = np.repeat(np.arange(offsets.size - 1, dtype=np.int64),
                    np.diff(offsets))[:n_win]
    keep = start + n <= offsets[1:][row]
    if bad is not None:
        cum = np.r_[0, np.cumsum(bad, dtype=np.int64)]
        keep &= cum[n:n + n_win] == cum[:n_win]
    row = row[keep]
    return keep, start[keep] - offsets[:-1][row] + 1, row


def distinct_runs(codes: np.ndarray, row: np.ndarray):
    """(codes, starts, rows): each row's distinct codes in ascending order,
    rows ascending, as runs starting at ``starts``.

    Codes of any dtype are dense-ranked first (``np.unique`` with its
    inverse), so one int64 key ``row * n_distinct + rank`` (below
    ``size**2``, which fits for any Arrow batch) sorts and dedups row and
    code at once: ~2.6x faster than a two-key ``np.lexsort``."""
    if codes.size == 0:
        return codes, row, row
    uniq, rank = np.unique(codes, return_inverse=True)
    key = np.unique(row.astype(np.int64) * uniq.size + rank)
    row, codes = (key // uniq.size).astype(row.dtype), uniq[key % uniq.size]
    starts = np.r_[0, np.flatnonzero(row[1:] != row[:-1]) + 1]
    return codes, starts, row[starts]


def _coded(values, offsets, n: int, step):
    """(codes, pos, row) of every window inside one row."""
    codes = fold(values, n, step)
    keep, pos, row = windows(offsets, n, codes.size)
    return codes[keep], pos, row


def char_grams(col: pa.Array, n: int):
    """Distinct UTF-8 byte n-grams per row, packed base 256 (a bijection
    for n <= 8, so intersections over codes count gram intersections)."""
    vals, offs, _ = flat(col)
    codes, _, row = _coded(vals, offs, n, pack(8))
    return distinct_runs(codes, row)


def token_shingles(col: pa.Array, shingle: int):
    """Distinct token-id shingles per row, packed base 2^32 (the
    ``a*2^32 + b`` coding of the relational bigram queries; a bijection for
    shingle <= 2 over ids in [0, 2^32))."""
    vals, offs = ids(col)
    if vals.size >= shingle and (vals.min() < 0 or vals.max() >= 1 << 32):
        raise ValueError("token ids must be in [0, 2^32) for shingle packing")
    codes, _, row = _coded(vals, offs, shingle, pack(32))
    return distinct_runs(codes, row)


def token_kr(col: pa.Array, n: int):
    """(codes, pos, row): the KR code of every token n-gram occurrence with
    its 1-based start position, in row-then-position order. Not a
    bijection, but both engines code identically, so collisions are
    symmetric and code-set comparisons stay exact cross-engine."""
    if n < 1:
        raise ValueError(f"ngram width must be >= 1, got {n}")
    vals, offs = ids(col)
    if vals.size >= n and (vals.min() < 0 or vals.max() >= 1 << 31):
        raise ValueError("token ids must be in [0, 2^31) for KR coding")
    return _coded(vals, offs, n, kr)


def distinct_token_kr(col: pa.Array, n: int):
    """Each row's distinct token n-gram KR codes as runs."""
    codes, _, row = token_kr(col, n)
    return distinct_runs(codes, row)


def byte_kr(col: pa.Array, window: int):
    """(codes, row): the KR hash of every ``window``-byte UTF-8 substring
    of every row, in row-then-position order."""
    vals, offs, _ = flat(col)
    codes, _, row = _coded(vals.astype(np.int64), offs, window, kr)
    return codes, row


def kmers(col: pa.Array, k: int, canonical: bool = False):
    """Distinct 2-bit k-mer codes per row (A=0, C=1, G=2, T=3, big-endian;
    a bijection for k <= 31). Windows over any non-ACGT byte are dropped;
    ``canonical`` takes min(code, reverse-complement code)."""
    vals, offs, _ = flat(col)
    b = _BASE_MAP[vals]
    codes = fold(b, k, pack(2))
    if canonical:  # complement = 3 - base, read from the other end
        codes = np.minimum(codes, fold(3 - b, k, pack(2), reverse=True))
    keep, _, row = windows(offs, k, codes.size, bad=b == 255)
    return distinct_runs(codes[keep], row)
