"""Sharded Bloom build/probe: each partition owns a disjoint bit-range.

This is the faithful Spark re-expression of the reference's dispatch model:
``HashPimItemDispatcher`` routes every item by the high/low 32 bits of its
hash to the one (rank, DPU) whose sub-filter covers it
(``src/pim_bloom_filter.cpp:29-43``), so no two DPUs ever write the same bits
and "merging" is just gathering sub-filters in order
(``src/pim_bloom_filter.cpp:379-396``).

Here: shard id = top ``log2(n_shards)`` bits of xxhash64(key) — computed with
the *JVM-side* ``F.shiftrightunsigned(F.xxhash64(col), 64-s)``, which agrees
bit-for-bit with the numpy hash used inside the UDF (tests/test_hashing.py).
Because block index also comes from h1's top bits, every 4096-bit block falls
entirely inside one shard: partitions build disjoint sub-bitmaps and the
global filter is their concatenation.

Why it matters at scale: a non-sharded build moves P x (m/8) bytes of partial
bitmaps through the merge; the sharded build moves exactly m/8 in total,
regardless of partition count. For m=2^33 on 1000 executors that is 1 GiB
instead of 1 TiB of shuffle.

The probe side can stay broadcast (small m) or go *distributed*: probes are
repartitioned by the same shard expression and cogrouped with the shard
bitmaps (``cogroup.applyInPandas``), so each task reads only the slice of the
filter it needs — the filter is never materialized on one machine.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField

from .._arrow import keys
from ..sketches import BlockedBloomFilter
from ..sketches.bloom import (BLOCK_BITS, bloom_positions, bloom_probe,
                              scatter_or_bits, word_bits)
from .build import collect_rows, keyed_partials, task_slots


def _shard_expr(col: str, shard_bits: int):
    # top shard_bits of xxhash64(col); logical shift keeps it unsigned
    return F.shiftrightunsigned(F.xxhash64(F.col(col)), 64 - shard_bits)


def _check_routable_seed(seed: int) -> None:
    """JVM-side shard routing uses F.xxhash64, whose seed is fixed at Spark's
    default (42). bloom_positions derives the block (hence shard) from
    xxh64(key, seed) — with any other seed, probes would be cogrouped with
    the WRONG shard bitmap (wrong membership / index underflow). Fail fast."""
    from ..hashing import DEFAULT_SEED

    if seed != DEFAULT_SEED:
        raise ValueError(
            f"sharded build/probe requires seed={DEFAULT_SEED} (Spark's fixed "
            f"xxhash64 seed, used for JVM-side shard routing); got {seed}. "
            "Use the non-sharded build_sketch path for custom seeds."
        )


class _ShardWindow:
    """The sharded build's partial: one shard's bit range of the filter."""

    def __init__(self, shard: int, size_bits: int):
        self.offset = shard * size_bits
        self.words = np.zeros(size_bits // 64, dtype=np.uint64)

    def insert_bulk(self, pos: np.ndarray) -> None:
        scatter_or_bits(self.words, pos.ravel(), pos_offset=self.offset)

    def to_bytes(self) -> bytes:
        return self.words.tobytes()


def build_bloom_shards(
    df: DataFrame,
    col: str,
    size2: int,
    nb_hash: int,
    seed: int = 42,
    block_bits: int = BLOCK_BITS,
    n_shards: int = 64,
    n_partitions: int | None = None,
) -> DataFrame:
    """DataFrame[shard int, sketch binary, n_values long]: one disjoint
    bit-range sub-filter per shard. Requires n_shards <= m/block_bits so shard
    boundaries are block-aligned.

    ``n_partitions`` decouples the exchange width from the shard count:
    partitioning is a pure hash of the shard id, so every shard still has
    exactly ONE writer task whatever the partition count — a task simply
    owns several disjoint sub-filters (the reference's rank owning several
    DPUs). Default = ``task_slots(df)`` (capped at n_shards): measured 2x
    faster than one-task-per-shard at 10M keys / local[32], because tiny
    reduce tasks are pure scheduling + Python worker-batch overhead (guide
    §2.2: fewer, larger reduce partitions). Per-task memory is bounded by
    (n_shards / n_partitions) x shard bytes = m/8/n_partitions — raise
    n_partitions for very large m."""
    _check_routable_seed(seed)
    m_bits = 1 << size2
    if n_shards & (n_shards - 1):
        raise ValueError("n_shards must be a power of two")
    if m_bits // min(block_bits, m_bits) < n_shards:
        raise ValueError("n_shards must be <= number of blocks (m/block_bits)")
    if n_partitions is None:
        n_partitions = max(1, min(n_shards, task_slots(df)))
    shard_bits = int(math.log2(n_shards))
    shard_size_bits = m_bits // n_shards

    is_array = str(df.schema[col].dataType).lower().startswith("array")

    def _split(batch: pa.RecordBatch):
        # hash once per batch; the k positions of a value share one block,
        # hence one shard, so the value's first position names its shard
        pos = bloom_positions(keys(batch.column(0)), size2, nb_hash,
                              seed, block_bits).reshape(-1, nb_hash)
        shards = (pos[:, 0] // np.uint64(shard_size_bits)).astype(np.int64)
        return shards, pos, lambda i: (int(shards[i]),)

    if is_array:
        # route by array element: explode JVM-side, then shard on the element
        # (cast to long first — JVM xxhash64 of int32 hashes 4 bytes and would
        # mis-route vs the numpy 8-byte hash; build correctness is unaffected
        # since shards are recomputed from numpy positions, but mis-routing
        # costs locality: one partition emitting many shard bitmaps)
        src = df.select(F.explode(F.col(col)).alias("_e")).select(
            F.col("_e").cast("long").alias(col))
    else:
        src = df.select(F.col(col).cast("long").alias(col))
    # repartition by the shard EXPRESSION (not a materialized column): the
    # exchange then carries ONLY the 8-byte key — half the shuffle bytes of
    # the old (key, shard) row (guide §2.3: project before the exchange)
    parts = src.repartition(n_partitions, _shard_expr(col, shard_bits))
    return keyed_partials(
        parts, lambda key: _ShardWindow(key[0], shard_size_bits), _split,
        [StructField("shard", IntegerType())],
    ).select("shard", "sketch", "n_values")


def assemble_bloom(shards_rows, size2: int, nb_hash: int, seed: int = 42,
                   block_bits: int = BLOCK_BITS, n_shards: int = 64
                   ) -> BlockedBloomFilter:
    """Concatenate collected shard rows into the full filter (deterministic
    order by shard id — the reference's sequential gather)."""
    bf = BlockedBloomFilter(size2=size2, nb_hash=nb_hash, seed=seed,
                            block_bits=min(block_bits, 1 << size2))
    shard_words = bf.m_bits // n_shards // 64
    for r in shards_rows:
        w = np.frombuffer(r["sketch"], dtype=np.uint64)
        s = int(r["shard"])
        bf._words[s * shard_words:(s + 1) * shard_words] |= w
    return bf


def build_bloom_sharded(df: DataFrame, col: str, size2: int, nb_hash: int,
                        seed: int = 42, block_bits: int = BLOCK_BITS,
                        n_shards: int = 64,
                        n_partitions: int | None = None) -> BlockedBloomFilter:
    rows = collect_rows(build_bloom_shards(
        df, col, size2, nb_hash, seed, block_bits, n_shards, n_partitions))
    return assemble_bloom(rows, size2, nb_hash, seed, block_bits, n_shards)


def probe_bloom_distributed(
    probes: DataFrame,
    shards: DataFrame,
    key_col: str,
    size2: int,
    nb_hash: int,
    seed: int = 42,
    block_bits: int = BLOCK_BITS,
    n_shards: int = 64,
    out_col: str = "member",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Probe WITHOUT materializing the filter anywhere: cogroup probe keys
    with the one shard bitmap that covers them. The filter can be arbitrarily
    large — each task touches m/n_shards bits. Missing shard bitmap (no
    inserts landed there) => definitely-absent => member=false. A NULL key
    keeps its row with member NULL, as in ``probe_key_column``.
    ``passthrough`` columns of ``probes`` ride along unchanged (row-aligned),
    e.g. (doc_id, pos) when probing exploded token arrays."""
    _check_routable_seed(seed)
    m_bits = 1 << size2
    shard_bits = int(math.log2(n_shards))
    shard_size_bits = m_bits // n_shards
    passthrough = tuple(passthrough)

    # cast to long BEFORE hashing: JVM xxhash64 of an INT column hashes 4
    # bytes, numpy's xxh64_u64 hashes the 8-byte value — an int32 key column
    # would otherwise route to the wrong shard. NULL keys go to shard -1,
    # which no bitmap has: pandas reads a key column holding a NULL as
    # float64 (NaN -> -2^63, keys above 2^53 rounded), so no other group may
    # hold one
    keyed = probes.select(
        F.col(key_col).cast("long").alias(key_col), *passthrough
    ).withColumn("_shard", F.when(F.col(key_col).isNull(), F.lit(-1))
                 .otherwise(_shard_expr(key_col, shard_bits)).cast("int"))

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left[[key_col, *passthrough]].copy()
        if left.empty:
            out[out_col] = np.zeros(0, bool)
            return out
        if left["_shard"].iloc[0] < 0:  # NULL keys: membership unknown
            out[out_col] = pd.array([None] * len(left), dtype="boolean")
            return out
        vals = left[key_col].to_numpy(dtype=np.int64)
        if right.empty:
            out[out_col] = np.zeros(len(vals), bool)
            return out
        words = np.frombuffer(right["sketch"].iloc[0], dtype=np.uint64)
        if len(right) > 1:  # defensive: OR duplicate shard rows
            words = words.copy()
            for blob in right["sketch"].iloc[1:]:
                words |= np.frombuffer(blob, dtype=np.uint64)
        base = int(right["shard"].iloc[0]) * shard_size_bits
        out[out_col] = bloom_probe(vals, size2, nb_hash, seed, block_bits,
                                   word_bits(words, base))
        return out

    dtypes = dict(probes.dtypes)
    extra = "".join(f", {c} {dtypes[c]}" for c in passthrough)
    out_schema = f"{key_col} long{extra}, {out_col} boolean"
    return (
        keyed.groupBy("_shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(_probe, schema=out_schema)
    )
