"""Sharded (disjoint-bit-range) build/probe must agree exactly with the
broadcast path — same filter bytes, same probe answers."""

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from pimbloomfilters_spark.operators import build_sketch, probe_key_column
from pimbloomfilters_spark.operators.sharded import (
    assemble_bloom,
    build_bloom_shards,
    build_bloom_sharded,
    probe_bloom_distributed,
)
from pimbloomfilters_spark.sketches import make_sketch

CFG = dict(size2=20, nb_hash=8)


@pytest.fixture(scope="module")
def keys_df(spark):
    df = spark.range(0, 50_000, numPartitions=8).cache()
    df.count()
    return df


def test_sharded_equals_plain_build(spark, keys_df):
    plain, _ = build_sketch(
        keys_df, "id", functools.partial(make_sketch, "bloom", **CFG)
    )
    sharded = build_bloom_sharded(keys_df, "id", n_shards=16, **CFG)
    assert sharded.payload() == plain.payload()


def test_sharded_array_column(spark):
    from pimbloomfilters_spark.sources import generate_token_sequences

    toks = generate_token_sequences(spark, 500, num_partitions=4).cache()
    plain, _ = build_sketch(
        toks, "tokens", functools.partial(make_sketch, "bloom", **CFG)
    )
    sharded = build_bloom_sharded(toks, "tokens", n_shards=16, **CFG)
    assert sharded.payload() == plain.payload()


def test_distributed_probe_matches_broadcast(spark, keys_df):
    """Cogroup probe == broadcast probe, NULL keys and keys above 2^53
    included: a NULL key keeps its row with member NULL, and 2^60+1 is
    probed as itself, not as its float64 neighbour 2^60."""
    big = 1 << 60
    extra = spark.createDataFrame([(big,)], "id long")
    shards = build_bloom_shards(keys_df.union(extra), "id", n_shards=16,
                                **CFG).cache()
    bf = assemble_bloom(shards.collect(), n_shards=16, **CFG)
    # 50k positives + 10k unknown, 5 NULLs and the pair 2^60 (in), 2^60+1
    probes = spark.range(0, 60_000, numPartitions=4).union(
        spark.createDataFrame([(None,)] * 5 + [(big,), (big + 1,)],
                              "id long"))
    dist = probe_bloom_distributed(probes, shards, "id", n_shards=16, **CFG)
    bcast = probe_key_column(probes, bf, "id")
    dist_rows, bcast_rows = dist.collect(), bcast.collect()
    assert len(dist_rows) == len(bcast_rows) == 60_007
    assert [r["member"] for r in dist_rows if r["id"] is None] == [None] * 5
    d = {r["id"]: r["member"] for r in dist_rows}
    b = {r["id"]: r["member"] for r in bcast_rows}
    assert d == b
    assert d[big] is True and d[big + 1] is False
    assert all(d[i] for i in range(0, 50_000, 997))  # no FN spot-check


def test_shard_validation():
    import pyspark.sql  # noqa: F401

    from pimbloomfilters_spark.operators.sharded import build_bloom_shards

    class FakeDF:  # only validation runs before df is touched
        pass

    with pytest.raises(ValueError):
        build_bloom_shards(FakeDF(), "x", size2=20, nb_hash=4, n_shards=48)
    with pytest.raises(ValueError):
        # 2^14 bits / 4096 block = 4 blocks < 16 shards
        build_bloom_shards(FakeDF(), "x", size2=14, nb_hash=4, n_shards=16)


def test_fpr_block_variant_ordering(spark):
    """Block-size variants (the reference's CPU 64-bit-block 'cache' filter
    vs the DPU 512-byte-block filter) at equal (m,k,n): smaller blocks
    concentrate the k bits more, so the 64-bit variant's measured FPR must
    be >= the 4096-bit variant's, and each must sit within its own
    theoretical bound (our bound is block-size-aware)."""
    import numpy as np

    from pimbloomfilters_spark.sketches import BlockedBloomFilter

    n = 100_000
    keys = np.arange(n, dtype=np.int64)
    neg = np.arange(10_000_000, 10_200_000, dtype=np.int64)
    fprs = {}
    for bb in (64, 4096):
        bf = BlockedBloomFilter(size2=21, nb_hash=8, block_bits=bb)
        bf.insert_bulk(keys)
        fprs[bb] = bf.contains_bulk(neg).mean()
        assert fprs[bb] <= 3 * bf.theoretical_fpr_bound(n) + 1e-4, (bb, fprs[bb])
    # smaller blocks => heavier blocked penalty at equal m,k,n
    assert fprs[64] >= fprs[4096]



@pytest.mark.parametrize("k", [2, 9])
def test_distributed_probe_matches_broadcast_formula(spark, k):
    """The cogroup probe tests bits through a shard window's offset. On a
    half-full filter (every hash index decides some keys), with per-shard
    groups longer than one probe slice, its membership equals the broadcast
    n x k formula over the assembled filter, with no false negatives."""
    from pimbloomfilters_spark.hashing import double_hashes
    from pimbloomfilters_spark.sketches.bloom import _PROBE_SLICE

    size2, n_shards = 16, 2
    cfg = dict(size2=size2, nb_hash=k, n_shards=n_shards)
    n_keys = int((1 << size2) * 0.69 / k)
    keys = spark.range(0, n_keys, numPartitions=2)
    shards = build_bloom_shards(keys, "id", **cfg).cache()
    bf = assemble_bloom(shards.collect(), **cfg)
    probes = spark.range(0, n_keys + 3 * _PROBE_SLICE, numPartitions=3)
    got = {r["id"]: r["member"] for r in
           probe_bloom_distributed(probes, shards, "id", **cfg).collect()}
    shards.unpersist()

    vals = np.arange(n_keys + 3 * _PROBE_SLICE, dtype=np.int64)
    h1, h2 = double_hashes(vals, bf.seed)
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        base = (h1 >> np.uint64(64 - 4)) * np.uint64(4096)  # 16 blocks
        pos = base[:, None] + ((h1[:, None] + i * h2[:, None])
                               & np.uint64(4095))
    w = bf._words[(pos >> np.uint64(6)).astype(np.int64)]
    want = ((w >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool).all(axis=1)
    assert 0 < want[n_keys:].sum() < want[n_keys:].size
    assert np.array_equal(np.array([got[int(v)] for v in vals]), want)
    assert want[:n_keys].all()
