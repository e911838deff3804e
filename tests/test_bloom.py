"""Blocked Bloom invariants — the reference's own test grid re-expressed
(tests/unit_test1.cpp:25-116, unit_test2.cpp:26-145): size2 x nb_hash x
partition-count sections; weight/no-FN/FPR/order/serialize invariants."""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pimbloomfilters_spark.hashing import double_hashes
from pimbloomfilters_spark.sketches import (
    BlockedBloomFilter,
    CountingBloomFilter,
    sketch_from_bytes,
)
from pimbloomfilters_spark.sketches.bloom import _PROBE_SLICE, bloom_positions

NB_ITEMS = 10_000  # mirrors NB_ITEMS at tests/unit_test1.cpp:15
NB_NEG = 1_000     # mirrors NB_NO_ITEMS at tests/unit_test1.cpp:16

GRID = [(size2, k) for size2 in (16, 24) for k in (1, 4, 8)]


def _items(n=NB_ITEMS):
    return np.arange(n, dtype=np.int64)  # sequential keys, tests/tests_utils.hpp:13-20


def _negatives(n=NB_NEG):
    return np.arange(NB_ITEMS, NB_ITEMS + n, dtype=np.int64)


@pytest.mark.parametrize("size2,k", GRID)
def test_reference_invariant_grid(size2, k):
    bf = BlockedBloomFilter(size2=size2, nb_hash=k)
    # fresh filter: weight 0 (unit_test1.cpp:59-61)
    assert bf.get_weight() == 0
    # one insert: 0 < weight <= k (unit_test1.cpp:63-68)
    bf.insert(7)
    w1 = bf.get_weight()
    assert 0 < w1 <= k
    assert bf.contains(7)
    # idempotent re-insert (unit_test1.cpp:73-76)
    bf.insert(7)
    assert bf.get_weight() == w1
    # bulk no-false-negatives on shuffled probes (unit_test1.cpp:78-85)
    items = _items()
    bf.insert_bulk(items)
    rng = np.random.default_rng(42)
    shuffled = rng.permutation(items)
    assert bf.contains_bulk(shuffled).all()
    # FPR sanity (unit_test1.cpp:87-96): warn threshold 0.5 in the reference;
    # we assert against the blocked-Bloom theoretical bound with slack
    fpr = bf.contains_bulk(_negatives()).mean()
    bound = bf.theoretical_fpr_bound(NB_ITEMS)
    assert fpr <= min(1.0, 3 * bound + 0.02), (fpr, bound)


def test_probe_order_preserved():
    # unit_test1.cpp:98-106 — results align with input order, both directions
    bf = BlockedBloomFilter(size2=16, nb_hash=4)
    bf.insert(1)
    pos_neg = bf.contains_bulk(np.array([1, 100], dtype=np.int64))
    neg_pos = bf.contains_bulk(np.array([100, 1], dtype=np.int64))
    assert pos_neg.tolist() == [True, False]
    assert neg_pos.tolist() == [False, True]


def test_serialize_restore_roundtrip():
    # unit_test1.cpp:108-116 — get_data/set_data preserves weight + no-FN
    bf = BlockedBloomFilter(size2=20, nb_hash=8)
    bf.insert_bulk(_items())
    blob = bf.to_bytes()
    bf2 = sketch_from_bytes(blob)
    assert isinstance(bf2, BlockedBloomFilter)
    assert bf2.get_weight() == bf.get_weight()
    assert bf2.contains_bulk(_items()).all()
    # raw payload path (reference get_data/set_data)
    bf3 = BlockedBloomFilter(size2=20, nb_hash=8)
    bf3.set_data(bf.get_data())
    assert bf3.get_weight() == bf.get_weight()


def test_merge_assoc_comm():
    a = _items(5000)
    b = np.arange(5000, 10000, dtype=np.int64)
    c = np.arange(10000, 15000, dtype=np.int64)

    def build(vals):
        bf = BlockedBloomFilter(size2=20, nb_hash=4)
        bf.insert_bulk(vals)
        return bf

    ab_c = build(a).merge(build(b)).merge(build(c))
    c_ba = build(c).merge(build(b)).merge(build(a))
    one = build(np.concatenate([a, b, c]))
    assert ab_c.payload() == c_ba.payload() == one.payload()


def test_geometry_validation():
    with pytest.raises(ValueError):
        BlockedBloomFilter(size2=2, nb_hash=1)   # size2 >= 3 (hpp:31-36)
    with pytest.raises(ValueError):
        BlockedBloomFilter(size2=16, nb_hash=0)  # nb_hash >= 1
    with pytest.raises(ValueError):
        BlockedBloomFilter(size2=16, nb_hash=10)  # nb_hash < 10 (hpp:272-274)


def test_blocked_locality():
    # all k bits of one item land inside a single 4096-bit block
    bf = BlockedBloomFilter(size2=24, nb_hash=8)
    pos = bf._positions(np.arange(1000, dtype=np.int64)).reshape(-1, 8)
    blocks = pos // bf.block_bits
    assert (blocks == blocks[:, :1]).all()


def test_fpr_within_blocked_bound_sweep():
    # FPR-vs-bound across the reference bench geometry (scaled down):
    # n/m ratio like m=2^32,n=100M -> ratio ~0.023 items/bit
    n = 200_000
    bf = BlockedBloomFilter(size2=23, nb_hash=8)  # 8.4M bits, ratio 0.024
    bf.insert_bulk(np.arange(n, dtype=np.int64))
    neg = np.arange(10_000_000, 10_100_000, dtype=np.int64)
    fpr = bf.contains_bulk(neg).mean()
    bound = bf.theoretical_fpr_bound(n)
    assert fpr <= 2.0 * bound + 1e-4, (fpr, bound)


@pytest.mark.parametrize("k", [1, 4, 8])
def test_fpr_grid_vs_bound(k):
    """BASELINE metric: measured FPR within the theoretical bound across the
    reference's geometry grid (scaled from its m=2^30..33, n=10M/100M runs to
    the same load ratios at test size)."""
    rng_negatives = np.arange(50_000_000, 50_200_000, dtype=np.int64)
    for size2, n in [(20, 20_000), (20, 100_000), (22, 100_000), (22, 400_000)]:
        bf = BlockedBloomFilter(size2=size2, nb_hash=k)
        bf.insert_bulk(np.arange(n, dtype=np.int64))
        measured = bf.contains_bulk(rng_negatives).mean()
        bound = bf.theoretical_fpr_bound(n)
        # allow binomial noise: 3 sigma on 200k probes plus 50% model slack
        sigma = (bound / len(rng_negatives)) ** 0.5
        assert measured <= 1.5 * bound + 3 * sigma + 2e-5, (size2, k, n, measured, bound)


@pytest.mark.parametrize("size2,k", GRID)
def test_unblocked_variant_grid(size2, k):
    """The reference's BASIC (non-blocked) variant semantics
    (src/bloom_filter_factory.cpp:19-47, src/standard_bloom_filter.cpp:14-29):
    k positions placed independently across the whole filter. Same invariant
    grid as the blocked tests: weight bounds, no false negatives, order,
    serialize round-trip, idempotent re-insert."""
    bf = BlockedBloomFilter(size2=size2, nb_hash=k, blocked=False)
    assert bf.n_blocks == 1 and bf.block_bits == bf.m_bits
    assert bf.get_weight() == 0
    items = _items()
    bf.insert_bulk(items)
    w = bf.get_weight()
    assert 0 < w <= k * NB_ITEMS
    assert bf.contains_bulk(items).all(), "false negative"
    again = BlockedBloomFilter(size2=size2, nb_hash=k, blocked=False)
    again.insert_bulk(items)
    again.insert_bulk(items)  # idempotent re-insert
    assert again.payload() == bf.payload()
    restored = sketch_from_bytes(bf.to_bytes())
    assert restored.payload() == bf.payload()
    assert restored.config()["blocked"] is False
    assert restored.contains_bulk(items).all()


def test_unblocked_fpr_near_ideal_bound():
    """Measured FPR of the unblocked variant tracks the ideal-Bloom formula
    (the whole point of BASIC: minimum FPR at fixed m). Geometry chosen so
    the ideal FPR is large enough to measure: m=2^18, n=20k, k=4 ->
    ideal ~4.7e-3."""
    n = 20_000
    bf = BlockedBloomFilter(size2=18, nb_hash=4, blocked=False)
    bf.insert_bulk(np.arange(n, dtype=np.int64))
    neg = np.arange(1_000_000, 1_500_000, dtype=np.int64)
    measured = bf.contains_bulk(neg).mean()
    bound = bf.theoretical_fpr_bound(n)
    assert 0.5 * bound <= measured <= 1.5 * bound, (measured, bound)


def test_unblocked_beats_blocked_at_low_fill():
    """At low fill the blocked construction pays its double-hash in-block
    floor; the unblocked variant's measured FPR must be materially lower at
    the same (m, k, n) — the reason a min-FPR user picks BASIC."""
    n, size2, k = 100_000, 26, 8
    items = np.arange(n, dtype=np.int64)
    neg = np.arange(5_000_000, 7_000_000, dtype=np.int64)
    blocked = BlockedBloomFilter(size2=size2, nb_hash=k)
    blocked.insert_bulk(items)
    basic = BlockedBloomFilter(size2=size2, nb_hash=k, blocked=False)
    basic.insert_bulk(items)
    fp_blocked = blocked.contains_bulk(neg).sum()
    fp_basic = basic.contains_bulk(neg).sum()
    assert fp_basic < fp_blocked, (fp_basic, fp_blocked)
    assert basic.theoretical_fpr_bound(n) < blocked.theoretical_fpr_bound(n)


def test_factory_variant_presets():
    """The reference factory's enum, semantically (bloom_filter_factory.cpp:
    7-13): BASIC = unblocked, CACHE = 2^6-bit blocks, PIM = 4096-bit blocks.
    All satisfy the no-FN contract; presets are overridable."""
    from pimbloomfilters_spark.sketches import make_sketch

    items = _items(5000)
    basic = make_sketch("bloom", variant="basic", size2=20, nb_hash=4)
    cache = make_sketch("bloom", variant="cache", size2=20, nb_hash=4)
    pim = make_sketch("bloom", variant="pim", size2=20, nb_hash=4)
    assert basic.n_blocks == 1
    assert cache.block_bits == 64
    assert pim.block_bits == 4096
    for bf in (basic, cache, pim):
        bf.insert_bulk(items)
        assert bf.contains_bulk(items).all()
    # cache pays the highest FPR (tiny blocks), basic the lowest
    neg = _negatives(100_000)
    assert basic.contains_bulk(neg).sum() <= pim.contains_bulk(neg).sum() \
        <= cache.contains_bulk(neg).sum()
    with pytest.raises(ValueError):
        make_sketch("hll", variant="basic")
    with pytest.raises(ValueError):
        make_sketch("bloom", variant="nope")


def test_counting_bloom_delete_semantics():
    """Counting Bloom: membership equals the bit Bloom at identical
    geometry; deletes never create false negatives for remaining keys;
    underflow (deleting a non-member) raises; merge/subtract are exact
    counter algebra; serialize round-trips."""
    import numpy as np
    import pytest as _pt

    from pimbloomfilters_spark.sketches import make_sketch, sketch_from_bytes

    keys = np.arange(10_000, dtype=np.int64)
    cb = make_sketch("countingbloom", size2=20, nb_hash=8)
    cb.insert_bulk(keys)
    bb = make_sketch("bloom", size2=20, nb_hash=8)
    bb.insert_bulk(keys)
    probe = np.arange(20_000, dtype=np.int64)
    assert np.array_equal(cb.contains_bulk(probe), bb.contains_bulk(probe))

    cb.delete_bulk(keys[:5000])
    assert cb.contains_bulk(keys[5000:]).all()  # no FN from deletion
    with _pt.raises(ValueError):
        cb.delete_bulk(np.array([10**9]))

    a = make_sketch("countingbloom", size2=20, nb_hash=8)
    b = make_sketch("countingbloom", size2=20, nb_hash=8)
    a.insert_bulk(keys[:5000]); b.insert_bulk(keys[5000:])
    merged = a.merge(b)
    full = make_sketch("countingbloom", size2=20, nb_hash=8)
    full.insert_bulk(keys)
    assert np.array_equal(merged._counters, full._counters)
    d = make_sketch("countingbloom", size2=20, nb_hash=8)
    d.insert_bulk(keys[:5000])
    full.subtract(d)
    assert np.array_equal(full._counters, cb._counters)
    with _pt.raises(ValueError):  # subtracting d again must underflow
        full.subtract(d)
    back = sketch_from_bytes(cb.to_bytes())
    assert np.array_equal(back._counters, cb._counters)
    assert back.n_items == cb.n_items


def test_counting_bloom_multi_chunk_delete_atomic():
    """A delete batch spanning multiple chunks that fails validation must
    leave the filter byte-identical (all-or-nothing across chunks)."""
    import numpy as np

    from pimbloomfilters_spark.sketches import CountingBloomFilter, make_sketch

    cb = make_sketch("countingbloom", size2=16, nb_hash=4)
    keys = np.arange(5000, dtype=np.int64)
    cb.insert_bulk(keys)
    CountingBloomFilter._CHUNK, saved = 1024, CountingBloomFilter._CHUNK
    try:
        before = cb._counters.copy()
        # valid keys in early chunks, a non-member in the LAST chunk
        bad = np.concatenate([keys[:4000], np.array([10**9])])
        import pytest as _pt

        with _pt.raises(ValueError):
            cb.delete_bulk(bad)
        assert np.array_equal(cb._counters, before), "partial delete applied"
        cb.delete_bulk(keys[:4000])  # the valid prefix alone still works
        assert cb.contains_bulk(keys[4000:]).all()
    finally:
        CountingBloomFilter._CHUNK = saved


def test_counting_bloom_insert_overflow_atomic():
    """A hot key repeated exactly 65536 times in ONE chunk wraps its k
    counters back to their prior value — a before/after probe cannot see
    it. insert_bulk must raise (headroom check) and leave the filter
    byte-identical; a smaller hot batch that fits must still apply."""
    import numpy as np
    import pytest as _pt

    from pimbloomfilters_spark.sketches import make_sketch

    cb = make_sketch("countingbloom", size2=8, nb_hash=2)
    base = np.arange(100, dtype=np.int64)
    cb.insert_bulk(base)
    before = cb._counters.copy()
    hot = np.full(1 << 16, 7, dtype=np.int64)  # 65536 copies, one chunk
    with _pt.raises(OverflowError):
        cb.insert_bulk(hot)
    assert np.array_equal(cb._counters, before), "partial insert applied"
    assert cb.contains_bulk(base).all()  # no silent false negative
    cb.insert_bulk(hot[: (1 << 16) - 200])  # fits: 65336 + prior < 65536
    assert cb.contains_bulk(base).all()
    assert cb.contains(7)


def test_counting_bloom_insert_overflow_cross_chunk():
    """Overflow assembled ACROSS chunk boundaries (each chunk individually
    fine) must also raise before any mutation."""
    import numpy as np
    import pytest as _pt

    from pimbloomfilters_spark.sketches import CountingBloomFilter, make_sketch

    cb = make_sketch("countingbloom", size2=8, nb_hash=2)
    CountingBloomFilter._CHUNK, saved = 1024, CountingBloomFilter._CHUNK
    try:
        cb.insert_bulk(np.full(60_000, 3, dtype=np.int64))
        before = cb._counters.copy()
        with _pt.raises(OverflowError):  # 60k + 10k > 65535 per cell
            cb.insert_bulk(np.full(10_000, 3, dtype=np.int64))
        assert np.array_equal(cb._counters, before)
    finally:
        CountingBloomFilter._CHUNK = saved



@pytest.mark.parametrize("case", ["truncated_dense", "foreign_tag", "torn_sparse"])
@pytest.mark.parametrize("kind, size2, dense, tags", [
    ("bloom", 12, 512, "S/T"),               # 4096 bits
    ("countingbloom", 8, 8 + 2 * 256, "S"),  # n_items + 256 uint16 cells
])
def test_bad_payload_names_expected_and_received(kind, size2, dense, tags, case):
    """A payload that is neither the dense form nor a whole sparse one fails
    with the expected dense size, the accepted tags, the received length and
    the leading byte."""
    import re

    from pimbloomfilters_spark.sketches import make_sketch

    sk = make_sketch(kind, size2=size2, nb_hash=4)
    sk.insert_bulk(np.arange(2_000, dtype=np.int64))
    dense_payload = sk.payload()
    assert len(dense_payload) == dense  # the dense form, not a sparse one
    raw = {"truncated_dense": dense_payload[:-8],
           "foreign_tag": b"X" + bytes(15),
           "torn_sparse": b"S" + bytes(2)}[case]
    want = (f"{kind} payload size mismatch: expected {dense} dense bytes or a "
            f"sparse payload tagged {tags}, got {len(raw)} bytes with "
            f"leading byte 0x{raw[0]:02x}")
    with pytest.raises(ValueError, match=re.escape(want)):
        make_sketch(kind, size2=size2, nb_hash=4).set_data(raw)


# -- probe kernel, positions and popcount against the broadcast formulas ------
# The oracles below are the n x k broadcast forms the one-hash-at-a-time
# kernel replaced; every output must stay bit-for-bit the same.

_S = _PROBE_SLICE


def _oracle_positions(values, size2, k, seed, block_bits):
    """(n, k) global bit positions: (h1 + i*h2) mod bb inside h1's block."""
    m = 1 << size2
    bb = min(block_bits, m)
    n_blocks = m // bb
    h1, h2 = double_hashes(values, seed)
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        base = (h1 >> np.uint64(64 - int(math.log2(n_blocks)))) * np.uint64(bb) \
            if n_blocks > 1 else np.zeros_like(h1)
        off = (h1[:, None] + i[None, :] * h2[:, None]) & np.uint64(bb - 1)
    return base[:, None] + off


def _oracle_bits(words, pos):
    w = words[(pos >> np.uint64(6)).astype(np.int64)]
    return ((w >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool).all(axis=1)


def _oracle_payload(words, m_bits):
    """The dense/sparse payload by unpackbits, as it was written before."""
    wi = np.flatnonzero(words)
    bits = np.unpackbits(words[wi].view(np.uint8), bitorder="little")
    if 1 + 4 * int(bits.sum()) < m_bits // 8:
        rows, cols = np.nonzero(bits.reshape(-1, 64))
        return b"S" + (wi[rows] * 64 + cols).astype(np.uint32).tobytes()
    return words.tobytes()


def _popcount_oracle(words):
    return sum(int(w).bit_count() for w in words[words != 0])


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(size2=st.integers(3, 28), k=st.integers(1, 9), blocked=st.booleans(),
       seed=st.integers(0, 2**31), key_seed=st.integers(0, 2**31),
       n_keys=st.sampled_from([0, 1, 100, 3000]),
       n_probe=st.sampled_from([0, 1, _S - 1, _S, _S + 1, 2 * _S + 1]))
def test_probe_kernel_matches_broadcast_formula(size2, k, blocked, seed,
                                                key_seed, n_keys, n_probe):
    """Bloom and counting-Bloom membership, positions, weight and payload
    equal the broadcast oracles at slice boundaries +-1, on empty input and
    on all-miss batches (an empty filter); inserted keys always hit."""
    rng = np.random.default_rng(key_seed)
    keys = rng.integers(-(2**63), 2**63 - 1, n_keys, dtype=np.int64)
    probes = np.concatenate([
        keys, rng.integers(-(2**63), 2**63 - 1, n_probe, dtype=np.int64)])
    rng.shuffle(probes)
    bf = BlockedBloomFilter(size2=size2, nb_hash=k, seed=seed, blocked=blocked)
    bf.insert_bulk(keys)

    pos = _oracle_positions(probes, size2, k, seed, bf.block_bits)
    assert bloom_positions(probes, size2, k, seed, bf.block_bits).tobytes() \
        == pos.tobytes()
    got = bf.contains_bulk(probes)
    assert got.dtype == bool and got.shape == probes.shape
    assert np.array_equal(got, _oracle_bits(bf._words, pos))
    assert bf.contains_bulk(keys).all()
    assert bf.get_weight() == _popcount_oracle(bf._words)
    assert bf.payload() == _oracle_payload(bf._words, bf.m_bits)

    if size2 <= 22:  # uint16 cells: 2 bytes per bit of the bit filter
        cb = CountingBloomFilter(size2=size2, nb_hash=k, seed=seed,
                                 blocked=blocked)
        cb.insert_bulk(keys)
        hit = (cb._counters[pos.astype(np.int64)] != 0).all(axis=1)
        assert np.array_equal(cb.contains_bulk(probes), hit)
        assert np.array_equal(hit, got)


@pytest.mark.parametrize("k", range(1, 10))
def test_probe_kernel_half_full_filter(k):
    """At ~50% fill a negative key survives j hashes with probability 2^-j,
    so every hash index decides some keys: a kernel that skips any one hash,
    or keeps a key that missed, answers differently from the oracle."""
    size2 = 16
    bf = BlockedBloomFilter(size2=size2, nb_hash=k)
    bf.insert_bulk(np.arange(int((1 << size2) * 0.69 / k), dtype=np.int64))
    probes = np.arange(10**9, 10**9 + 3 * _S + 7, dtype=np.int64)
    pos = _oracle_positions(probes, size2, k, bf.seed, bf.block_bits)
    want = _oracle_bits(bf._words, pos)
    assert 0 < want.sum() < want.size
    assert np.array_equal(bf.contains_bulk(probes), want)
    cb = CountingBloomFilter(size2=size2, nb_hash=k)
    cb.insert_bulk(np.arange(int((1 << size2) * 0.69 / k), dtype=np.int64))
    assert np.array_equal(cb.contains_bulk(probes), want)


@pytest.mark.parametrize("size2", [3, 4, 5, 6, 7, 12, 20])
def test_weight_is_popcount(size2):
    """get_weight and estimate_cardinality count every set bit, including
    filters smaller than one 64-bit word."""
    bf = BlockedBloomFilter(size2=size2, nb_hash=3)
    bf.insert_bulk(np.arange(1 << max(0, size2 - 4), dtype=np.int64))
    x = _popcount_oracle(bf._words)
    assert bf.get_weight() == x
    if x < bf.m_bits:
        assert bf.estimate_cardinality() == \
            -(bf.m_bits / 3) * math.log(1.0 - x / bf.m_bits)


@pytest.mark.parametrize("size2", [6, 10, 16, 20])
@pytest.mark.parametrize("shift", [-1, 0, 1])
def test_payload_at_dense_sparse_boundary(size2, shift):
    """Payload bytes at the set-bit counts around the switch: sparse while
    1 + 4*nbits < m/8, dense from there on; both forms round-trip."""
    m_bytes = (1 << size2) // 8
    nbits = m_bytes // 4 + shift  # 1 + 4*nbits = m/8 - 3, m/8 + 1, m/8 + 5
    bf = BlockedBloomFilter(size2=size2, nb_hash=4)
    rng = np.random.default_rng(size2)
    pos = rng.choice(bf.m_bits, size=nbits, replace=False).astype(np.uint64)
    np.bitwise_or.at(bf._words, (pos >> np.uint64(6)).astype(np.int64),
                     np.uint64(1) << (pos & np.uint64(63)))
    raw = bf.payload()
    assert raw == _oracle_payload(bf._words, bf.m_bits)
    assert (len(raw) == m_bytes) == (1 + 4 * nbits >= m_bytes)
    back = BlockedBloomFilter(size2=size2, nb_hash=4)
    back.set_data(raw)
    assert np.array_equal(back._words, bf._words)
