"""Property-based invariants (hypothesis): the reference's contracts must
hold for ARBITRARY int64 key sets, not just the sequential fixtures."""

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pimbloomfilters_spark.sketches import (
    BlockedBloomFilter,
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    sketch_from_bytes,
)

keysets = st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                   min_size=1, max_size=500)


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(keys=keysets, size2=st.sampled_from([10, 16, 20]),
       k=st.sampled_from([1, 4, 8]))
def test_bloom_never_false_negative(keys, size2, k):
    bf = BlockedBloomFilter(size2=size2, nb_hash=k)
    arr = np.array(keys, dtype=np.int64)
    bf.insert_bulk(arr)
    assert bf.contains_bulk(arr).all()


@settings(max_examples=30, deadline=None)
@given(keys=keysets)
def test_bloom_split_merge_equals_oneshot(keys):
    arr = np.array(keys, dtype=np.int64)
    cut = len(arr) // 2
    a = BlockedBloomFilter(size2=16, nb_hash=4)
    b = BlockedBloomFilter(size2=16, nb_hash=4)
    a.insert_bulk(arr[:cut])
    b.insert_bulk(arr[cut:])
    one = BlockedBloomFilter(size2=16, nb_hash=4)
    one.insert_bulk(arr)
    assert a.merge(b).payload() == one.payload()


@settings(max_examples=30, deadline=None)
@given(keys=keysets)
def test_roundtrip_all_kinds(keys):
    arr = np.array(keys, dtype=np.int64)
    for sk in (BlockedBloomFilter(size2=12, nb_hash=4), HyperLogLog(p=8),
               CountMinSketch(eps=1e-2, delta=1e-2), KLLSketch(k=32)):
        sk.insert_bulk(arr if sk.kind != "kll" else arr.astype(np.float64))
        back = sketch_from_bytes(sk.to_bytes())
        assert back.to_bytes() == sk.to_bytes()


@settings(max_examples=30, deadline=None)
@given(keys=keysets)
def test_cms_never_underestimates(keys):
    arr = np.array(keys, dtype=np.int64)
    c = CountMinSketch(eps=1e-2, delta=1e-2)
    c.insert_bulk(arr)
    uniq, counts = np.unique(arr, return_counts=True)
    assert (c.query_bulk(uniq) >= counts).all()


@settings(max_examples=30, deadline=None)
@given(keys=keysets)
def test_hll_insert_order_irrelevant(keys):
    arr = np.array(keys, dtype=np.int64)
    a, b = HyperLogLog(p=10), HyperLogLog(p=10)
    a.insert_bulk(arr)
    b.insert_bulk(arr[::-1].copy())
    assert a.payload() == b.payload()


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(keys=keysets)
def test_unblocked_bloom_never_false_negative(keys):
    bf = BlockedBloomFilter(size2=16, nb_hash=8, blocked=False)
    arr = np.array(keys, dtype=np.int64)
    bf.insert_bulk(arr)
    assert bf.contains_bulk(arr).all()
    assert sketch_from_bytes(bf.to_bytes()).contains_bulk(arr).all()


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(keys=keysets, splits=st.integers(min_value=1, max_value=5))
def test_theta_split_merge_equals_oneshot(keys, splits):
    """Theta union-merge == single-stream build for ARBITRARY key sets and
    ARBITRARY partitionings — byte-identical (the KMV property)."""
    from pimbloomfilters_spark.sketches import ThetaSketch

    arr = np.array(keys, dtype=np.int64)
    single = ThetaSketch(k=64)
    single.insert_bulk(arr)
    merged = ThetaSketch(k=64)
    for part in np.array_split(arr, splits):
        p = ThetaSketch(k=64)
        p.insert_bulk(part)
        merged.merge(p)
    assert merged.payload() == single.payload()
    # exact mode correctness for small distinct sets
    n_distinct = len(set(keys))
    if n_distinct < 64:
        assert single.estimate() == float(n_distinct)


@settings(max_examples=50, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(px=st.lists(st.integers(min_value=0, max_value=255),
                   min_size=6, max_size=96))
def test_netpbm_roundtrip_property(px):
    """encode->decode is the identity for arbitrary pixel data in both P6
    (rgb) and P5 (gray) at arbitrary (h, w) factorizations."""
    from pimbloomfilters_spark.functions import multimodal

    n = len(px) - len(px) % 3
    if n >= 3:
        rgb = np.array(px[:n], dtype=np.uint8).reshape(-1, 1, 3)
        assert (multimodal.decode_netpbm(multimodal.encode_netpbm(rgb)) == rgb).all()
    gray = np.array(px, dtype=np.uint8).reshape(1, -1)
    out = multimodal.decode_netpbm(multimodal.encode_netpbm(gray))
    assert (out[:, :, 0] == gray).all()


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(
    st.one_of(st.none(), st.text(alphabet="ab é世", min_size=0, max_size=30)),
    min_size=1, max_size=12),
    offset=st.integers(min_value=0, max_value=3))
def test_batch_distinct_grams_matches_reference(texts, offset):
    """The flat-array gram extractor (boundary masking, Horner packing,
    lexsort dedup) must agree with a trivially-correct per-doc Python
    reference for arbitrary (including unicode, empty and NULL) texts, and
    must honor the slice offset of a ``pa.string()`` array."""
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import char_grams

    n = 3
    offset = min(offset, len(texts) - 1)
    sliced = pa.array(texts, type=pa.string()).slice(offset)
    packed, starts, doc_idx = char_grams(sliced, n)
    # reference: per-doc set of base-256 packed byte windows (a bijection
    # gram <-> uint64 for n <= 8, which the minhash verify stage relies on)
    expect = {}
    for i, t in enumerate(texts[offset:]):
        raw = (t or "").encode("utf-8", "ignore")
        s = set()
        for p in range(len(raw) - n + 1):
            v = 0
            for b in raw[p:p + n]:
                v = v * 256 + b
            s.add(v)
        if s:
            expect[i] = s
    got = {}
    bounds = list(starts) + [len(packed)]
    for j, d in enumerate(doc_idx):
        got[int(d)] = set(int(x) for x in packed[bounds[j]:bounds[j + 1]])
    assert got == expect
    assert packed.dtype == np.uint64 and doc_idx.dtype == np.int64


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(
    st.one_of(st.none(), st.text(alphabet="ab é世", min_size=0, max_size=30)),
    min_size=1, max_size=12),
    window=st.integers(min_value=1, max_value=6),
    offset=st.integers(min_value=0, max_value=3))
def test_byte_window_hashes_match_reference(texts, window, offset):
    """The byte Karp-Rabin window coder behind ``winnow_fingerprints`` and
    ``rolling_fingerprints`` emits every ``window``-byte window of every row
    in row-then-position order, with the code a per-row Python Horner
    reference computes, for unicode, empty, NULL and sliced string rows."""
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import byte_kr
    from pimbloomfilters_spark.functions.text import _FP_BASE, _FP_MOD

    offset = min(offset, len(texts) - 1)
    sliced = pa.array(texts, type=pa.string()).slice(offset)
    acc, doc = byte_kr(sliced, window)
    expect = []
    for i, t in enumerate(texts[offset:]):
        raw = (t or "").encode("utf-8")
        for p in range(len(raw) - window + 1):
            v = 0
            for b in raw[p:p + window]:
                v = (v * _FP_BASE + b) % _FP_MOD
            expect.append((i, v))
    assert list(zip(doc.tolist(), acc.tolist())) == expect
    assert acc.dtype == np.int64 and doc.dtype == np.int64


def test_window_coder_empties_null_rows():
    """A NULL row is empty even when its offsets still span bytes or list
    values (Arrow allows it): no window of a NULL row is coded."""
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import char_grams, token_kr

    valid = pa.py_buffer(np.packbits([1, 0, 1], bitorder="little").tobytes())
    offs = pa.py_buffer(np.array([0, 3, 6, 9], np.int32).tobytes())
    strs = pa.StringArray.from_buffers(3, offs, pa.py_buffer(b"abcxyzabd"),
                                       valid)
    codes, starts, rows = char_grams(strs, 3)
    assert rows.tolist() == [0, 2]
    assert codes.tolist() == [int.from_bytes(g, "big") for g in (b"abc", b"abd")]
    lists = pa.ListArray.from_buffers(
        pa.list_(pa.int64()), 3, [valid, offs],
        children=[pa.array(np.arange(9, dtype=np.int64))])
    codes, pos, rows = token_kr(lists, 3)
    assert rows.tolist() == [0, 2] and pos.tolist() == [1, 1]


def _kmer_reference(seq, k, canonical):
    """Distinct 2-bit k-mer codes of one sequence, window by window; a
    window with any character outside ACGT has no code."""
    code = {"A": 0, "C": 1, "G": 2, "T": 3}
    out = set()
    for p in range(len(seq or "") - k + 1):
        w = seq[p:p + k]
        if any(c not in code for c in w):
            continue
        fwd = rc = 0
        for c in w:
            fwd = fwd * 4 + code[c]
        for c in reversed(w):
            rc = rc * 4 + 3 - code[c]
        out.add(min(fwd, rc) if canonical else fwd)
    return out


@settings(max_examples=80, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(seqs=st.lists(
    st.one_of(st.none(), st.text(alphabet="ACGTACGTNacgX é世", min_size=0,
                                 max_size=40)),
    min_size=1, max_size=10),
    k=st.integers(min_value=1, max_value=12),
    canonical=st.booleans(),
    offset=st.integers(min_value=0, max_value=3))
def test_kmers_match_reference(seqs, k, canonical, offset):
    """The k-mer coder (2-bit packing, non-ACGT window drop, reverse-
    complement min, per-row distinct) agrees with a per-row Python
    reference over N, lowercase and other non-ACGT bytes, non-ASCII
    characters, NULL rows and sliced arrays."""
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import kmers

    offset = min(offset, len(seqs) - 1)
    sliced = pa.array(seqs, type=pa.string()).slice(offset)
    packed, starts, rows = kmers(sliced, k, canonical)
    expect = {i: sorted(s) for i, seq in enumerate(seqs[offset:])
              if (s := _kmer_reference(seq, k, canonical))}
    bounds = list(starts) + [len(packed)]
    got = {int(r): [int(x) for x in packed[bounds[j]:bounds[j + 1]]]
           for j, r in enumerate(rows)}
    assert got == expect
    assert packed.dtype == np.uint64 and rows.dtype == np.int64


@settings(max_examples=40, deadline=None)
@given(cut=st.integers(min_value=0, max_value=20))
def test_netpbm_truncated_payload_rejected(cut):
    """A payload shorter than the header promises must raise, never return
    garbage pixels."""
    from pimbloomfilters_spark.functions import multimodal

    rgb = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    blob = multimodal.encode_netpbm(rgb)
    if cut == 0:
        assert (multimodal.decode_netpbm(blob) == rgb).all()
    else:
        import pytest as _pytest

        with _pytest.raises(ValueError):
            multimodal.decode_netpbm(blob[:-cut])


@settings(max_examples=40, deadline=None)
@given(idx=st.lists(st.integers(min_value=0, max_value=(1 << 14) - 1),
                    min_size=0, max_size=400, unique=True),
       rho=st.lists(st.integers(min_value=1, max_value=51), min_size=400,
                    max_size=400))
def test_hll_payload_roundtrip_any_registers(idx, rho):
    """Sparse/dense HLL serialization round-trips for ARBITRARY register
    states (the format self-describes by first byte; register values <= 61
    can never alias the sparse tag)."""
    import numpy as np

    from pimbloomfilters_spark.sketches import HyperLogLog, sketch_from_bytes

    h = HyperLogLog(p=14)
    for i, j in enumerate(idx):
        h._regs[j] = rho[i]
    back = sketch_from_bytes(h.to_bytes())
    assert np.array_equal(back._regs, h._regs)
    # legacy raw payload path
    h2 = HyperLogLog(p=14)
    h2.set_data(h._regs.tobytes())
    assert np.array_equal(h2._regs, h._regs)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(rows=st.lists(
    st.one_of(st.none(),
              st.lists(st.integers(min_value=0, max_value=2**32 - 1),
                       min_size=0, max_size=20)),
    min_size=1, max_size=12),
    shingle=st.integers(min_value=1, max_value=2))
def test_batch_distinct_list_shingles_matches_reference(rows, shingle):
    """The Arrow list-array shingle extractor (zero-copy flatten, boundary
    masking, base-2^32 packing, lexsort dedup) must agree with a per-row
    Python reference for arbitrary token arrays including empty, null, and
    full-range uint32 ids — and must honor Arrow slice offsets."""
    import numpy as np
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import token_shingles

    arr = pa.array(rows, type=pa.list_(pa.int64()))
    for sliced in (arr, arr.slice(1) if len(rows) > 1 else arr):
        packed, starts, doc_idx = token_shingles(sliced, shingle)
        offset = len(rows) - len(sliced)
        expect = {}
        for i in range(len(sliced)):
            toks = rows[offset + i]
            s = set()
            for p in range(len(toks or []) - shingle + 1):
                v = 0
                for t in toks[p:p + shingle]:
                    v = (v << 32) | t
                s.add(v)
            if s:
                expect[i] = s
        bounds = list(starts) + [len(packed)]
        got = {int(d): {int(x) for x in packed[bounds[j]:bounds[j + 1]]}
               for j, d in enumerate(doc_idx)}
        assert got == expect


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(sizes=st.lists(st.integers(min_value=1, max_value=120),
                      min_size=1, max_size=60),
       cap=st.integers(min_value=8, max_value=128))
def test_pack_bins_greedy_invariants(sizes, cap):
    """The driver-side greedy inside pack_bins_best_fit (exercised via its
    pandas body on one group): every emitted bin fits the capacity, every
    fitting doc is packed exactly once, oversize docs are dropped, at most
    one bin is <= half full, and the run is deterministic."""
    from pimbloomfilters_spark.functions.packing import _bfd_assign

    L = cap
    fitting = sorted((n for n in sizes if n <= L), reverse=True)
    bins = _bfd_assign(fitting, L)  # the REAL placement code
    assert len(bins) == len(fitting)
    fills: dict = {}
    for n, b in zip(fitting, bins):
        fills[b] = fills.get(b, 0) + n
    assert all(v <= L for v in fills.values())
    assert sum(1 for v in fills.values() if v * 2 <= L) <= 1
    total = sum(fills.values())
    if total:
        assert len(fills) <= (2 * total + L - 1) // L + 1
    assert _bfd_assign(fitting, L) == bins  # deterministic


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(ops=st.lists(
    st.tuples(st.booleans(), st.integers(min_value=0, max_value=50)),
    min_size=1, max_size=80))
def test_counting_bloom_random_insert_delete_no_fn(ops):
    """Under ANY interleaving of inserts and (valid) deletes, every item
    with a positive net count is a member — counting cells make deletion
    FN-free — and invalid deletes raise without corrupting state."""
    import collections

    import numpy as np

    from pimbloomfilters_spark.sketches import make_sketch

    cb = make_sketch("countingbloom", size2=14, nb_hash=4)
    ref: collections.Counter = collections.Counter()
    for is_insert, key in ops:
        if is_insert:
            cb.insert_bulk(np.array([key], dtype=np.int64))
            ref[key] += 1
        elif ref[key] > 0:
            cb.delete_bulk(np.array([key], dtype=np.int64))
            ref[key] -= 1
        else:
            before = cb._counters.copy()
            try:
                cb.delete_bulk(np.array([key], dtype=np.int64))
            except ValueError:
                assert (cb._counters == before).all()
            else:
                pass  # FP cells allowed the delete: documented caveat
    present = np.array([k for k, c in ref.items() if c > 0], dtype=np.int64)
    if present.size:
        assert cb.contains_bulk(present).all()


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(samples=st.lists(st.integers(min_value=-32768, max_value=32767),
                        min_size=0, max_size=300),
       rate=st.sampled_from([8000, 16000, 44100]))
def test_wav_codec_roundtrip_and_rejection(samples, rate):
    """WAV encode/decode round-trips arbitrary int16 PCM exactly; corrupt
    or non-PCM payloads are rejected, never silently mis-decoded."""
    import numpy as np
    import pytest as _pt

    from pimbloomfilters_spark.functions.multimodal import decode_wav, encode_wav

    s = np.array(samples, dtype=np.int16)
    blob = encode_wav(s, rate)
    back, r = decode_wav(blob)
    assert r == rate and np.array_equal(back, s)
    with _pt.raises(ValueError):
        decode_wav(b"RIFX" + blob[4:])  # wrong magic
    if len(blob) > 50:
        with _pt.raises(ValueError):
            # truncate inside the data chunk: declared size > available
            decode_wav(blob[:-7])


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(
    st.lists(st.integers(min_value=0, max_value=2**31 - 1),
             min_size=0, max_size=25),
    min_size=1, max_size=10),
    n=st.integers(min_value=1, max_value=6))
def test_token_ngram_codes_match_reference(rows, n):
    """The flat KR n-gram coder (boundary masking, Horner mod 2^31-1,
    lexsort dedup) must agree with a per-row Python reference for
    arbitrary token arrays including empty and shorter-than-n rows."""
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import distinct_token_kr

    col = pa.array(rows, type=pa.list_(pa.int64()))
    codes, starts, doc_idx = distinct_token_kr(col, n)
    P, B = (1 << 31) - 1, 257
    expect = {}
    for i, toks in enumerate(rows):
        s = set()
        for p in range(len(toks) - n + 1):
            v = 0
            for t in toks[p:p + n]:
                v = (v * B + t) % P
            s.add(v)
        if s:
            expect[i] = s
    got = {}
    bounds = list(starts) + [len(codes)]
    for j, d in enumerate(doc_idx):
        got[int(d)] = set(int(x) for x in codes[bounds[j]:bounds[j + 1]])
    assert got == expect


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(
    st.lists(st.integers(min_value=0, max_value=2**31 - 1),
             min_size=3, max_size=25),
    min_size=2, max_size=10),
    offset=st.integers(min_value=0, max_value=3))
def test_token_ngram_codes_sliced_batch(rows, offset):
    """A SLICED Arrow list array (offsets not starting at 0 — what Spark
    hands mapInArrow mid-stream) must code identically to the unsliced
    equivalent."""
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import distinct_token_kr

    offset = min(offset, len(rows) - 1)
    full = pa.array(rows, type=pa.list_(pa.int64()))
    sliced = full.slice(offset)
    plain = pa.array(rows[offset:], type=pa.list_(pa.int64()))
    a = distinct_token_kr(sliced, 3)
    b = distinct_token_kr(plain, 3)
    assert [x.tolist() for x in a] == [x.tolist() for x in b]


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(
    st.lists(st.integers(min_value=0, max_value=2**31 - 1),
             min_size=1, max_size=25),
    min_size=2, max_size=10),
    offset=st.integers(min_value=0, max_value=3))
def test_token_ngram_pos_codes_sliced_batch(rows, offset):
    """The POSITIONAL coder must honor Arrow slice offsets too, and its
    (pos, code) stream must agree with a per-row Python reference."""
    import pyarrow as pa

    from pimbloomfilters_spark.functions._windows import token_kr
    from pimbloomfilters_spark.functions.text import _FP_BASE, _FP_MOD

    n = 3
    offset = min(offset, len(rows) - 1)
    full = pa.array(rows, type=pa.list_(pa.int64()))
    sliced = full.slice(offset)
    plain = pa.array(rows[offset:], type=pa.list_(pa.int64()))
    a = token_kr(sliced, n)
    b = token_kr(plain, n)
    assert [x.tolist() for x in a] == [x.tolist() for x in b]
    # reference: every window of every row, 1-based positions
    expect = []
    for ri, r in enumerate(rows[offset:]):
        for p in range(len(r) - n + 1):
            code = 0
            for t in r[p:p + n]:
                code = (code * _FP_BASE + t) % _FP_MOD
            expect.append((ri, p + 1, code))
    got = list(zip(b[2].tolist(), b[1].tolist(), b[0].tolist()))
    assert got == expect


@settings(max_examples=80, deadline=None)
@given(vals=st.lists(st.integers(min_value=-2**63, max_value=2**63 - 1),
                     min_size=0, max_size=300))
def test_exact_int_sum_matches_python(vals):
    """The arbitrary-precision sums must equal Python's exact big-int
    arithmetic for the FULL int64 range — plain sums via wraparound +
    float hint, sums of squares via the 32-bit hi/lo split (a full-range
    square is ~2^126, where a single float hint's error exceeds the 2^64
    recovery bound; xxhash64-valued columns are first-class here)."""
    from pimbloomfilters_spark.operators.profile import _exact_int_sum

    v = np.asarray(vals, dtype=np.int64)
    if v.size == 0:
        return
    assert _exact_int_sum(v) == sum(int(x) for x in vals)
    assert _exact_int_sum(v, squares=True) == sum(int(x)**2 for x in vals)


# -- distinct-first inserts against the every-occurrence loop -----------------
# Bloom, HLL and theta insert each distinct value once; CMS and Count Sketch
# hash each distinct value once and add its count. The oracle below is the
# loop they replaced: every occurrence hashed and inserted, no dedup. Their
# state must stay byte-for-byte the same.

def _masked_bit_length(w):
    """bit_length of each uint64 by six masked halving passes."""
    bl = np.zeros(w.shape, dtype=np.int64)
    v = w.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        big = v >= (np.uint64(1) << np.uint64(shift))
        bl[big] += shift
        v[big] >>= np.uint64(shift)
    return bl + (w > 0)


def _oracle_insert(sk, values):
    from pimbloomfilters_spark.hashing import xxh64_u64
    from pimbloomfilters_spark.sketches.bloom import (bloom_positions,
                                                      scatter_or_bits)

    values = np.asarray(values, dtype=np.int64)
    if sk.kind == "bloom":
        scatter_or_bits(sk._words, bloom_positions(
            values, sk.size2, sk.nb_hash, sk.seed, sk.block_bits))
    elif sk.kind == "hll":
        h = xxh64_u64(values, sk.seed)
        w = (h << np.uint64(sk.p)) >> np.uint64(sk.p)
        np.maximum.at(sk._regs, (h >> np.uint64(64 - sk.p)).astype(np.int64),
                      (64 - sk.p + 1 - _masked_bit_length(w)).astype(np.uint8))
    elif sk.kind == "theta":
        sk._vals = np.unique(np.concatenate(
            [sk._vals, xxh64_u64(values, sk.seed)]))[:sk.k]
    else:
        if sk.kind == "cms":
            idx, step = sk._indexes(values), np.ones((sk.depth, values.size),
                                                     dtype=np.int64)
        else:
            idx, step = sk._indexes_signs(values)
        for d in range(sk.depth):
            np.add.at(sk._table[d], idx[d], step[d])
        sk.total += values.size


_INSERT_KINDS = {
    "bloom": st.fixed_dictionaries({"size2": st.integers(3, 22),
                                    "nb_hash": st.integers(1, 9),
                                    "blocked": st.booleans()}),
    "hll": st.fixed_dictionaries({"p": st.integers(4, 18)}),
    "theta": st.fixed_dictionaries({"k": st.sampled_from([16, 100, 4096])}),
    "cms": st.fixed_dictionaries({"width": st.integers(1, 5000),
                                  "depth": st.integers(1, 6)}),
    "countsketch": st.fixed_dictionaries({"width": st.integers(1, 5000),
                                          "depth": st.sampled_from([1, 3, 5])}),
}


def _values(shape, n, rng):
    if shape == "zipf":  # heavy duplicates, both signs
        return rng.zipf(1.3, n).astype(np.int64) * rng.choice([-1, 1], n)
    if shape == "negative":
        return rng.integers(-(2**63), 0, n, dtype=np.int64)
    if shape == "repeated":
        return np.full(n, int(rng.integers(-(2**63), 2**63 - 1)), np.int64)
    return rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)


@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data(), kind=st.sampled_from(sorted(_INSERT_KINDS)),
       shape=st.sampled_from(["zipf", "negative", "repeated", "uniform"]),
       n=st.sampled_from([0, 1, 2, 100, 5000]),
       chunk=st.sampled_from([None, 1, 7, 64]),
       seed=st.integers(0, 2**31), calls=st.integers(1, 3))
def test_distinct_first_insert_matches_every_occurrence(data, kind, shape, n,
                                                        chunk, seed, calls):
    """Bloom (blocked and not), HLL, theta, CMS and Count Sketch: inserting
    Zipf duplicates, negative values, empty input or one repeated value, in
    one or several calls and over many ``_CHUNK`` slices (``chunk``), gives
    the bytes of inserting every occurrence."""
    from pimbloomfilters_spark.sketches import make_sketch

    cfg = data.draw(_INSERT_KINDS[kind])
    rng = np.random.default_rng(seed)
    got, want = make_sketch(kind, **cfg), make_sketch(kind, **cfg)
    if chunk:
        got._CHUNK = chunk
    for part in np.array_split(_values(shape, n, rng), calls):
        got.insert_bulk(part)
        _oracle_insert(want, part)
    assert got.to_bytes() == want.to_bytes()


# -- distinct_runs: the dense-ranked single-key sort against the two-key lexsort

def _lexsort_runs(codes, row):
    if codes.size == 0:
        return codes, row, row
    order = np.lexsort((codes, row))
    row, codes = row[order], codes[order]
    keep = np.r_[True, (row[1:] != row[:-1]) | (codes[1:] != codes[:-1])]
    row, codes = row[keep], codes[keep]
    starts = np.r_[0, np.flatnonzero(row[1:] != row[:-1]) + 1]
    return codes, starts, row[starts]


def _same_runs(a, b):
    return all(x.dtype == y.dtype and np.array_equal(x, y)
               for x, y in zip(a, b))


@settings(max_examples=80, deadline=None)
@given(rows=st.lists(st.lists(st.sampled_from(
    [0, 1, 2, 65, 2**31 - 2, 2**31 - 3]), max_size=12), max_size=8),
    text=st.lists(st.text(alphabet="ACGTNéÿ", max_size=20),
                  max_size=8),
    n=st.integers(1, 8))
def test_distinct_runs_matches_lexsort(rows, text, n):
    """Every distinct coder (KR n-grams, token shingles, char grams,
    k-mers) gives the runs of the two-key lexsort on its own (codes, row),
    at KR code 2^31-2 and on empty input."""
    from unittest import mock

    import pyarrow as pa

    from pimbloomfilters_spark.functions import _windows as W

    real = W.distinct_runs

    def checked(codes, row):
        out = real(codes, row)
        assert _same_runs(out, _lexsort_runs(codes, row))
        return out

    toks = pa.array(rows, type=pa.list_(pa.int64()))
    strs = pa.array(text, type=pa.string())
    with mock.patch.object(W, "distinct_runs", checked):
        W.distinct_token_kr(toks, min(n, 4))
        W.token_shingles(toks, min(n, 2))
        W.char_grams(strs, n)
        W.kmers(strs, n, canonical=True)
        W.kmers(strs, 31)


def test_distinct_runs_extreme_codes():
    """Codes at both ends of int64 and uint64, KR code 2^31-2, an int32
    row array and a (row, rank) key past 2^31 give the lexsort runs, in
    the inputs' own dtypes; empty input stays empty."""
    from pimbloomfilters_spark.functions._windows import distinct_runs

    ends = {np.int64: [-2**63, 2**63 - 1, 0, 5],
            np.uint64: [2**64 - 1, 2**63, 0, 5]}
    for dt, (a, b, c, d) in ends.items():
        codes = np.array([a, d, b, d, a, c, b], dtype=dt)
        for rdt in (np.int64, np.int32):
            row = np.array([2, 0, 2, 0, 0, 7, 0], dtype=rdt)
            assert _same_runs(distinct_runs(codes, row),
                              _lexsort_runs(codes, row))
    kr = np.array([2**31 - 2, 3, 2**31 - 2, 3], dtype=np.int64)
    row = np.array([0, 0, 4, 4], dtype=np.int64)
    assert _same_runs(distinct_runs(kr, row), _lexsort_runs(kr, row))
    codes = np.arange(70_000, dtype=np.int64) % 40_000  # 40k ranks
    row = np.arange(70_000, dtype=np.int32)[::-1].copy()  # row * 40k > 2^31
    assert _same_runs(distinct_runs(codes, row), _lexsort_runs(codes, row))
    empty = np.empty(0, np.int64)
    assert _same_runs(distinct_runs(empty, empty), (empty, empty, empty))


@st.composite
def _codec_columns(draw):
    """A string or list Arrow column with NULL rows (some spanning values,
    built from buffers), NULL elements, an optional slice, or no rows."""
    import pyarrow as pa

    typ = draw(st.sampled_from([
        pa.list_(pa.int32()), pa.list_(pa.int64()), pa.large_list(pa.int32()),
        pa.large_list(pa.int64()), pa.string(), pa.large_string()]))
    strings = pa.types.is_string(typ) or pa.types.is_large_string(typ)
    elem = (st.text(max_size=5) if strings else st.lists(
        st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)), max_size=5))
    rows = draw(st.lists(st.one_of(st.none(), elem), max_size=10))
    if draw(st.booleans()):  # NULL rows keep the offsets of a filler value
        filler = draw(elem)
        full = pa.array([filler if r is None else r for r in rows], typ)
        valid = pa.py_buffer(np.packbits(np.array(
            [r is not None for r in rows], bool), bitorder="little").tobytes())
        bufs = full.buffers()
        col = (pa.Array.from_buffers(typ, len(rows), [valid, *bufs[1:3]])
               if strings else
               pa.Array.from_buffers(typ, len(rows), [valid, bufs[1]],
                                     children=[full.values]))
    else:
        col = pa.array(rows, typ)
    lo = draw(st.integers(0, len(col)))
    return col.slice(lo, draw(st.integers(0, len(col) - lo)))


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(col=_codec_columns())
def test_arrow_codec_flat_and_rewrap(col):
    """``flat`` matches a to_pylist reference (NULL rows empty, NULL
    elements read 0 and masked, slices honoured) and ``rewrap`` of its
    output with ``like`` gives the column back."""
    from pimbloomfilters_spark._arrow import flat, rewrap

    rows = [[] if r is None else list(r.encode()) if isinstance(r, str)
            else r for r in col.to_pylist()]
    elems = [e for r in rows for e in r]
    values, offsets, valid = flat(col)
    assert offsets.tolist() == np.cumsum([0] + [len(r) for r in rows]).tolist()
    assert values.tolist() == [0 if e is None else e for e in elems]
    assert (None if valid is None else valid.tolist()) == (
        [e is not None for e in elems] if None in elems else None)
    back = rewrap(*flat(col), like=col)
    assert back.type == col.type and back.equals(col)
