"""North-rule sketch families: estimates within published bounds vs exact
answers; merge associativity/commutativity; serialize/restore."""

import numpy as np
import pytest

from pimbloomfilters_spark.sketches import (
    CountMinSketch,
    HyperLogLog,
    KLLSketch,
    make_sketch,
    sketch_from_bytes,
)


# ---------------------------------------------------------------- HLL
@pytest.mark.parametrize("n", [100, 10_000, 1_000_000])
def test_hll_estimate_within_bound(n):
    h = HyperLogLog(p=14)
    h.insert_bulk(np.arange(n, dtype=np.int64))
    est = h.estimate()
    # 1.04/sqrt(m) relative std error; allow 4 sigma
    tol = 4 * h.relative_error()
    assert abs(est - n) <= tol * n, (est, n)


def test_hll_duplicates_dont_count():
    h = HyperLogLog(p=12)
    vals = np.tile(np.arange(1000, dtype=np.int64), 50)
    h.insert_bulk(vals)
    assert abs(h.estimate() - 1000) <= 4 * h.relative_error() * 1000


def test_hll_merge_equals_union():
    a, b = HyperLogLog(p=12), HyperLogLog(p=12)
    a.insert_bulk(np.arange(0, 60_000, dtype=np.int64))
    b.insert_bulk(np.arange(40_000, 100_000, dtype=np.int64))  # overlap
    a.merge(b)
    one = HyperLogLog(p=12)
    one.insert_bulk(np.arange(100_000, dtype=np.int64))
    assert a.payload() == one.payload()  # register-max merge is exact


def test_hll_roundtrip():
    h = HyperLogLog(p=10)
    h.insert_bulk(np.arange(5000, dtype=np.int64))
    h2 = sketch_from_bytes(h.to_bytes())
    assert h2.estimate() == h.estimate()


# ---------------------------------------------------------------- CMS
def test_cms_one_sided_and_bounded():
    rng = np.random.default_rng(42)
    vals = rng.zipf(1.3, size=200_000)
    vals = vals[vals < 100_000].astype(np.int64)
    c = CountMinSketch(eps=1e-3, delta=1e-3)
    c.insert_bulk(vals)
    uniq, true_counts = np.unique(vals, return_counts=True)
    est = c.query_bulk(uniq)
    assert (est >= true_counts).all()  # never under-estimates
    over = est - true_counts
    # eps*N bound with prob 1-delta: allow a few violators out of len(uniq)
    violations = (over > c.eps * c.total).sum()
    assert violations <= max(3, c.delta * len(uniq) * 10)


def test_cms_inner_product_join_size():
    """Sketch inner product estimates sum_k cntA(k)*cntB(k): never under,
    within eps*Na*Nb, symmetric, and geometry/seed-checked."""
    import pytest

    rng = np.random.default_rng(7)
    va = rng.zipf(1.4, size=50_000)
    va = va[va < 10_000].astype(np.int64)
    vb = rng.zipf(1.4, size=60_000)
    vb = vb[vb < 10_000].astype(np.int64)
    a = CountMinSketch(eps=1e-3, delta=1e-3)
    b = CountMinSketch(eps=1e-3, delta=1e-3)
    a.insert_bulk(va)
    b.insert_bulk(vb)
    ka, ca = np.unique(va, return_counts=True)
    kb, cb = np.unique(vb, return_counts=True)
    common, ia, ib = np.intersect1d(ka, kb, return_indices=True)
    exact = int((ca[ia].astype(object) * cb[ib]).sum())
    est = a.inner_product(b)
    assert est >= exact
    assert est <= exact + a.inner_product_bound(b)
    assert est == b.inner_product(a)
    # disjoint small key sets at this width: zero collisions -> exact
    x, y = CountMinSketch(eps=1e-3), CountMinSketch(eps=1e-3)
    x.insert_bulk(np.array([1, 1, 2], dtype=np.int64))
    y.insert_bulk(np.array([1, 2, 2, 3], dtype=np.int64))
    # x: {1:2, 2:1}; y: {1:1, 2:2, 3:1} -> 2*1 + 1*2 = 4
    assert x.inner_product(y) == 4
    with pytest.raises(ValueError):
        x.inner_product(CountMinSketch(eps=1e-2))


def test_cms_merge_equals_concat():
    a, b = CountMinSketch(eps=1e-3, delta=1e-2), CountMinSketch(eps=1e-3, delta=1e-2)
    a.insert_bulk(np.arange(1000, dtype=np.int64))
    b.insert_bulk(np.arange(500, 1500, dtype=np.int64))
    a.merge(b)
    one = CountMinSketch(eps=1e-3, delta=1e-2)
    one.insert_bulk(np.concatenate([np.arange(1000), np.arange(500, 1500)]).astype(np.int64))
    assert a.payload() == one.payload()
    assert a.total == one.total == 2000


def test_cms_roundtrip():
    c = CountMinSketch(eps=1e-3, delta=1e-2)
    c.insert_bulk(np.arange(1000, dtype=np.int64))
    c2 = sketch_from_bytes(c.to_bytes())
    assert c2.query(5) == c.query(5)
    assert c2.total == c.total


# ---------------------------------------------------------------- KLL
@pytest.mark.parametrize("dist", ["uniform", "lognormal", "zipfish"])
def test_kll_quantiles_within_rank_error(dist):
    rng = np.random.default_rng(7)
    n = 200_000
    if dist == "uniform":
        data = rng.integers(0, 10_000, n).astype(np.float64)
    elif dist == "lognormal":
        data = np.clip(rng.lognormal(4.0, 1.0, n), 1, 2048)
    else:
        data = rng.zipf(1.5, n).astype(np.float64)
    k = KLLSketch(k=200)
    # feed in chunks like Arrow batches
    for chunk in np.array_split(data, 37):
        k.insert_bulk(chunk)
    s = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = k.quantile(q)
        # with duplicated values, est covers a rank interval [lo, hi];
        # it must intersect [q*n - eps*n, q*n + eps*n]
        lo = np.searchsorted(s, est, side="left")
        hi = np.searchsorted(s, est, side="right")
        band = k.rank_error() * n + 1
        assert lo - band <= q * n <= hi + band, (q, est, lo, hi)


def test_kll_merge_estimate_stable():
    rng = np.random.default_rng(1)
    data = rng.normal(100, 15, 100_000)
    parts = np.array_split(data, 8)

    def build(chunks):
        k = KLLSketch(k=200)
        for c in chunks:
            k.insert_bulk(c)
        return k

    merged = build(parts[:1])
    for p in parts[1:]:
        merged.merge(build([p]))
    one = build([data])
    s = np.sort(data)
    n = len(data)
    for q in (0.25, 0.5, 0.75):
        for est in (merged.quantile(q), one.quantile(q)):
            lo = np.searchsorted(s, est, side="left")
            hi = np.searchsorted(s, est, side="right")
            band = 2 * merged.rank_error() * n
            assert lo - band <= q * n <= hi + band
    assert merged.n == one.n == len(data)


def test_kll_roundtrip():
    k = KLLSketch(k=128)
    k.insert_bulk(np.arange(50_000, dtype=np.float64))
    k2 = sketch_from_bytes(k.to_bytes())
    assert k2.n == k.n
    assert k2.quantile(0.5) == k.quantile(0.5)


# ---------------------------------------------------------------- factory
def test_factory_mirrors_reference():
    # src/bloom_filter_factory.cpp:19-47 — kind -> concrete sketch
    assert make_sketch("bloom", size2=16, nb_hash=4).kind == "bloom"
    assert make_sketch("hll", p=12).kind == "hll"
    assert make_sketch("cms", eps=1e-3, delta=1e-2).kind == "cms"
    assert make_sketch("kll", k=100).kind == "kll"
    with pytest.raises(ValueError):
        make_sketch("nope")


# ---------------------------------------------------------------- t-digest
@pytest.mark.parametrize("dist", ["uniform", "lognormal"])
def test_tdigest_quantiles_within_envelope(dist):
    from pimbloomfilters_spark.sketches import TDigest

    rng = np.random.default_rng(5)
    n = 200_000
    data = (rng.uniform(0, 1000, n) if dist == "uniform"
            else np.clip(rng.lognormal(4, 1, n), 1, 2048))
    td = TDigest(delta=200)
    for chunk in np.array_split(data, 41):
        td.insert_bulk(chunk)
    s = np.sort(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = td.quantile(q)
        lo = np.searchsorted(s, est, side="left")
        hi = np.searchsorted(s, est, side="right")
        band = td.rank_error(q) * n + 1
        assert lo - band <= q * n <= hi + band, (q, est, lo, hi, band)


def test_tdigest_merge_estimate_stable():
    from pimbloomfilters_spark.sketches import TDigest, sketch_from_bytes

    rng = np.random.default_rng(9)
    data = rng.normal(50, 10, 100_000)
    parts = np.array_split(data, 8)
    merged = None
    for p in parts:
        td = TDigest(delta=200)
        td.insert_bulk(p)
        merged = td if merged is None else merged.merge(td)
    s = np.sort(data)
    n = len(data)
    for q in (0.25, 0.5, 0.75):
        est = merged.quantile(q)
        r = np.searchsorted(s, est)
        assert abs(r - q * n) <= 2 * merged.rank_error(q) * n + 1
    # roundtrip
    td2 = sketch_from_bytes(merged.to_bytes())
    assert td2.n == merged.n
    assert td2.quantile(0.5) == merged.quantile(0.5)


def test_tdigest_centroid_budget():
    from pimbloomfilters_spark.sketches import TDigest

    td = TDigest(delta=100)
    td.insert_bulk(np.arange(500_000, dtype=np.float64))
    td._compress()
    assert td._means.size <= 2 * td.delta


# ---------------------------------------------------------------- set algebra
def test_bloom_set_algebra():
    from pimbloomfilters_spark.sketches import BlockedBloomFilter

    a = BlockedBloomFilter(size2=20, nb_hash=8)
    b = BlockedBloomFilter(size2=20, nb_hash=8)
    a.insert_bulk(np.arange(0, 30_000, dtype=np.int64))
    b.insert_bulk(np.arange(20_000, 50_000, dtype=np.int64))
    u = a.union(b)
    assert u.contains_bulk(np.arange(0, 50_000, dtype=np.int64)).all()
    one = BlockedBloomFilter(size2=20, nb_hash=8)
    one.insert_bulk(np.arange(0, 50_000, dtype=np.int64))
    assert u.payload() == one.payload()
    i = a.intersect(b)
    # no false negatives for the true intersection
    assert i.contains_bulk(np.arange(20_000, 30_000, dtype=np.int64)).all()
    # cardinality estimate within 5% at this fill ratio
    est = a.estimate_cardinality()
    assert abs(est - 30_000) <= 0.05 * 30_000, est


def test_hll_intersection_estimate():
    a, b = HyperLogLog(p=14), HyperLogLog(p=14)
    a.insert_bulk(np.arange(0, 60_000, dtype=np.int64))
    b.insert_bulk(np.arange(40_000, 100_000, dtype=np.int64))
    inter = a.intersection_estimate(b)
    # true intersection 20k; inclusion-exclusion compounds ~3 estimates
    assert abs(inter - 20_000) <= 0.1 * 20_000, inter
    assert abs(a.union(b).estimate() - 100_000) <= 4 * a.relative_error() * 100_000


# ---------------------------------------------------------------- Misra-Gries
def test_mg_guarantees():
    from pimbloomfilters_spark.sketches import MisraGries, sketch_from_bytes

    rng = np.random.default_rng(11)
    vals = rng.zipf(1.3, size=300_000)
    vals = vals[vals < 50_000].astype(np.int64)
    mg = MisraGries(k=128)
    for chunk in np.array_split(vals, 23):
        mg.insert_bulk(chunk)
    uniq, true_counts = np.unique(vals, return_counts=True)
    est = mg.query_bulk(uniq)
    # one-sided UNDER-estimate within n/(k+1)
    assert (est <= true_counts).all()
    assert (true_counts - est <= mg.error_bound() + 1e-9).all()
    # completeness: every item above the threshold is present
    thr = mg.error_bound()
    for t, c in zip(uniq.tolist(), true_counts.tolist()):
        if c > thr:
            assert mg.query(t) > 0, (t, c, thr)
    # roundtrip
    back = sketch_from_bytes(mg.to_bytes())
    assert back.n == mg.n and back.query(int(uniq[0])) == mg.query(int(uniq[0]))


def test_mg_merge_preserves_bound():
    from pimbloomfilters_spark.sketches import MisraGries

    rng = np.random.default_rng(13)
    vals = rng.zipf(1.5, size=200_000)
    vals = vals[vals < 10_000].astype(np.int64)
    parts = np.array_split(vals, 8)
    merged = None
    for p in parts:
        mg = MisraGries(k=128)
        mg.insert_bulk(p)
        merged = mg if merged is None else merged.merge(mg)
    uniq, true_counts = np.unique(vals, return_counts=True)
    est = merged.query_bulk(uniq)
    assert (est <= true_counts).all()
    assert (true_counts - est <= merged.error_bound() + 1e-9).all()
    assert merged.n == len(vals)


# ---------------------------------------------------------------- theta
def test_theta_estimate_and_modes():
    from pimbloomfilters_spark.sketches import ThetaSketch, sketch_from_bytes

    sk = ThetaSketch(k=512)
    sk.insert_bulk(np.arange(300, dtype=np.int64))
    assert sk.estimate() == 300.0 and sk.relative_error() == 0.0  # exact mode
    sk.insert_bulk(np.arange(50_000, dtype=np.int64))  # idempotent + growth
    est = sk.estimate()
    assert abs(est - 50_000) <= 5 * sk.relative_error() * 50_000
    rt = sketch_from_bytes(sk.to_bytes())
    assert rt.payload() == sk.payload() and rt.estimate() == est


def test_theta_merge_equals_single_stream():
    """Union-merge == single-stream build, byte-identical — the property that
    makes the theta sketch partition-parallel with NO merge error."""
    from pimbloomfilters_spark.sketches import ThetaSketch

    rng = np.random.default_rng(7)
    parts = [rng.integers(0, 1 << 40, 20_000).astype(np.int64) for _ in range(4)]
    merged = ThetaSketch(k=1024)
    for p in parts:
        part_sk = ThetaSketch(k=1024)
        part_sk.insert_bulk(p)
        merged.merge(part_sk)
    single = ThetaSketch(k=1024)
    single.insert_bulk(np.concatenate(parts))
    assert merged.payload() == single.payload()


def test_theta_set_ops_bounds():
    from pimbloomfilters_spark.sketches import ThetaSketch

    a_keys = np.arange(0, 60_000, dtype=np.int64)
    b_keys = np.arange(40_000, 110_000, dtype=np.int64)
    sa = ThetaSketch(k=1024); sa.insert_bulk(a_keys)
    sb = ThetaSketch(k=1024); sb.insert_bulk(b_keys)
    u = sa.union(sb)
    assert abs(u.estimate() - 110_000) <= 5 * u.relative_error() * 110_000
    assert abs(sa.intersection_estimate(sb) - 20_000) \
        <= 5 * sa.intersection_sd(sb, 20_000) + 1
    assert abs(sa.difference_estimate(sb) - 40_000) \
        <= 5 * sa.intersection_sd(sb, 40_000) + 1


def test_theta_distributed_build(spark, sf_dir):
    """build_sketch over partitions == numpy single-stream, byte-identical."""
    import functools

    from pimbloomfilters_spark.operators import build_sketch
    from pimbloomfilters_spark.sketches import ThetaSketch, make_sketch

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(8)
    sk, _ = build_sketch(orders, "o_custkey",
                         functools.partial(make_sketch, "theta", k=256))
    keys = np.array([r[0] for r in orders.select("o_custkey").collect()],
                    dtype=np.int64)
    solo = ThetaSketch(k=256)
    solo.insert_bulk(keys)
    assert sk.payload() == solo.payload()
    exact = orders.select("o_custkey").distinct().count()
    assert abs(sk.estimate() - exact) <= 5 * max(sk.relative_error(), 1e-9) * exact + 1


def test_sketches_vs_spark_native_oracles(spark, sf_dir):
    """The docstring contract: Spark's own implementations are ORACLES, not
    the implementation. HLL vs approx_count_distinct, KLL vs
    percentile_approx, Bloom vs df.stat.bloomFilter — each pair must agree
    within the looser of the two published bounds."""
    import functools

    from pyspark.sql import functions as F

    from pimbloomfilters_spark.operators import build_sketch
    from pimbloomfilters_spark.sketches import make_sketch
    from pimbloomfilters_spark.sources.tables import token_table

    tt = token_table(spark, sf_dir).cache()

    # HLL vs Spark HLL++ on token ids
    flat = tt.select(F.explode("tokens").alias("t"))
    exact = flat.select("t").distinct().count()
    ours, _ = build_sketch(flat, "t", functools.partial(make_sketch, "hll", p=14))
    native = flat.agg(F.approx_count_distinct("t", rsd=0.01).alias("d")).first()["d"]
    assert abs(ours.estimate() - exact) <= 5 * ours.relative_error() * exact + 1
    assert abs(ours.estimate() - native) <= (5 * ours.relative_error() + 0.05) * exact + 1

    # KLL vs percentile_approx on n_tok
    kll, _ = build_sketch(tt, "n_tok", functools.partial(make_sketch, "kll", k=200))
    for q in (0.25, 0.5, 0.75):
        native_q = tt.agg(F.percentile_approx("n_tok", q, 10_000).alias("p")).first()["p"]
        n = kll.n
        band = kll.rank_error() * n + 10_000 // 100  # both sketches' slack
        lo = tt.filter(F.col("n_tok") < kll.quantile(q)).count()
        hi = tt.filter(F.col("n_tok") <= native_q).count()
        assert abs(lo - q * n) <= band + n * 0.01, (q, lo, n)
        assert abs(hi - q * n) <= band + n * 0.01, (q, hi, n)

    # Bloom vs Spark's BloomFilterImpl (JVM-side; PySpark has no stat
    # wrapper): agreement on every inserted key — both no-FN
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_keys = orders.select("o_custkey").distinct().count()
    ours_bf, _ = build_sketch(
        orders, "o_custkey", functools.partial(make_sketch, "bloom", size2=22, nb_hash=8))
    native_bf = orders._jdf.stat().bloomFilter("o_custkey", n_keys, 0.01)
    keys = [r[0] for r in orders.select("o_custkey").distinct().collect()]
    import numpy as np

    assert ours_bf.contains_bulk(np.array(keys, dtype=np.int64)).all()
    assert all(native_bf.mightContainLong(int(k)) for k in keys[:500])


# ------------------------------------------------- HLL sparse payloads
def test_hll_sparse_payload_roundtrip_and_merge():
    """Low-fill HLLs serialize sparse ((idx, rho) pairs, KBs instead of the
    16 KB dense register block at p=14); high-fill stays dense; the two forms
    round-trip and merge interchangeably."""
    lo = HyperLogLog(p=14)
    lo.insert_bulk(np.arange(100, dtype=np.int64))
    sparse_blob = lo.to_bytes()
    assert len(sparse_blob) < 1500 < lo.m  # far under dense
    back = sketch_from_bytes(sparse_blob)
    assert np.array_equal(back._regs, lo._regs)

    hi = HyperLogLog(p=14)
    hi.insert_bulk(np.arange(200_000, dtype=np.int64))
    dense_blob = hi.to_bytes()
    assert len(dense_blob) >= hi.m  # dense form kept when fill is high
    back_hi = sketch_from_bytes(dense_blob)
    assert np.array_equal(back_hi._regs, hi._regs)

    # merge sparse into dense and dense into sparse: register-max either way
    a = sketch_from_bytes(sparse_blob).merge(sketch_from_bytes(dense_blob))
    b = sketch_from_bytes(dense_blob).merge(sketch_from_bytes(sparse_blob))
    assert np.array_equal(a._regs, b._regs)
    one = HyperLogLog(p=14)
    one.insert_bulk(np.arange(200_000, dtype=np.int64))  # superset of lo
    assert np.array_equal(a._regs, one._regs)


def test_hll_legacy_dense_payload_still_loads():
    """Pre-round-3 blobs were raw m register bytes with no tag — set_data
    (reference set_data contract) and old serialized sketches must load."""
    h = HyperLogLog(p=10)
    h.insert_bulk(np.arange(5000, dtype=np.int64))
    legacy = h._regs.tobytes()  # the old wire form
    h2 = HyperLogLog(p=10)
    h2.set_data(legacy)
    assert np.array_equal(h2._regs, h._regs)


def test_kll_chunked_ingestion_bounds_level0():
    """insert_bulk feeds level 0 in fixed-size slices: after a multi-chunk
    bulk insert no level holds more than its cap + one chunk, and estimates
    stay within the rank-error envelope."""
    k = KLLSketch(k=200)
    n = 300_000
    k.insert_bulk(np.arange(n, dtype=np.float64))
    assert k.n == n
    for h, lvl in enumerate(k._levels):
        assert lvl.size <= k._cap(h) + k._CHUNK
    # uniform data: quantile(q) ~ q*n
    for q in (0.1, 0.5, 0.9):
        assert abs(k.quantile(q) - q * n) <= k.rank_error() * n * 3


def test_countsketch_unbiased_and_bounded(spark):
    """Count Sketch: estimates within 3*sqrt(F2/width) of exact for heavy
    AND absent keys (two-sided, unlike CMS), merge == bulk build exactly,
    serialize round-trips, and depth must be odd."""
    import collections

    import numpy as np
    import pytest as _pt

    from pimbloomfilters_spark.sketches import make_sketch, sketch_from_bytes

    rng = np.random.default_rng(7)
    vals = rng.zipf(1.3, 100_000).astype(np.int64)
    vals = vals[vals < 10_000]
    sk = make_sketch("countsketch", width=4096, depth=5)
    sk.insert_bulk(vals)
    exact = collections.Counter(vals.tolist())
    f2 = sum(c * c for c in exact.values())
    bound = 3 * (f2 / 4096) ** 0.5
    top = np.array([t for t, _ in exact.most_common(20)], dtype=np.int64)
    est = sk.query_bulk(top)
    assert all(abs(int(e) - exact[int(t)]) <= bound
               for e, t in zip(est, top))
    absent = sk.query_bulk(np.arange(10**9, 10**9 + 50, dtype=np.int64))
    assert np.abs(absent).max() <= bound  # unbiased around 0 for absent keys

    a = make_sketch("countsketch", width=4096, depth=5)
    b = make_sketch("countsketch", width=4096, depth=5)
    a.insert_bulk(vals[: len(vals) // 2]); b.insert_bulk(vals[len(vals) // 2:])
    assert np.array_equal(a.merge(b)._table, sk._table)
    back = sketch_from_bytes(sk.to_bytes())
    assert np.array_equal(back._table, sk._table) and back.total == sk.total
    with _pt.raises(ValueError):
        make_sketch("countsketch", depth=4)


def test_countsketch_through_grouped_and_streaming_builds(spark, sf_dir,
                                                          tmp_path_factory):
    """The new family composes with the generic machinery unchanged: a
    grouped build yields per-group tables byte-equal to solo builds, and
    the streaming fold equals the batch build."""
    import functools

    import numpy as np

    from pimbloomfilters_spark.operators import build_sketch, build_sketch_grouped
    from pimbloomfilters_spark.sketches import make_sketch, sketch_from_bytes
    from pimbloomfilters_spark.sources.tables import tokens_exploded
    from pimbloomfilters_spark.streaming.stream_build import (
        get_stream_sketch, sketch_stream_query)

    from pyspark.sql import functions as F

    cs = functools.partial(make_sketch, "countsketch", width=2048, depth=5)
    tok = tokens_exploded(spark, sf_dir)
    grouped = {r["source"]: r for r in
               build_sketch_grouped(tok, ["source"], "token_id", cs).collect()}
    for src in list(grouped)[:2]:
        solo, _ = build_sketch(tok.filter(F.col("source") == src),
                               "token_id", cs)
        assert sketch_from_bytes(bytes(grouped[src]["sketch"])).payload() \
            == solo.payload()

    data_dir = str(tmp_path_factory.mktemp("cs_in"))
    ckpt = str(tmp_path_factory.mktemp("cs_ckpt"))
    for i in range(3):
        spark.range(i * 1000, (i + 1) * 1000).withColumn(
            "id", (F.col("id") % 50)).coalesce(1) \
            .write.mode("append").parquet(data_dir)
    stream = (spark.readStream.schema("id long")
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    q = sketch_stream_query(stream, "id", cs, "cs_fold", ckpt)
    q.awaitTermination(120)
    batch, _ = build_sketch(spark.read.parquet(data_dir), "id", cs)
    streamed = get_stream_sketch("cs_fold")
    assert np.array_equal(streamed._table, batch._table)
    assert streamed.total == batch.total


def test_countsketch_f2_estimate():
    """AMS F2 off the Count-Sketch table: within 5 relative sd of the exact
    second moment on a zipf stream, and exactly n for n distinct items."""
    import collections

    import numpy as np

    from pimbloomfilters_spark.sketches import make_sketch

    rng = np.random.default_rng(11)
    vals = rng.zipf(1.5, 50_000).astype(np.int64)
    sk = make_sketch("countsketch", width=4096, depth=5)
    sk.insert_bulk(vals)
    exact = sum(c * c for c in collections.Counter(vals.tolist()).values())
    assert abs(sk.f2_estimate() - exact) <= 5 * (2 / 4096) ** 0.5 * exact
    distinct = make_sketch("countsketch", width=4096, depth=5)
    distinct.insert_bulk(np.arange(1000, dtype=np.int64))
    # all-distinct stream: F2 == n exactly in expectation, tight in practice
    assert abs(distinct.f2_estimate() - 1000) <= 5 * (2 / 4096) ** 0.5 * 1000


def test_hll_bit_length_is_exact():
    """The frexp bit length equals int.bit_length at 0, 2^64-1 and around
    every power of two, where a float64 of the whole word would round."""
    from pimbloomfilters_spark.sketches.hll import _bit_length_u64

    vals = {0, 2**64 - 1}
    for k in range(64):
        vals |= {2**k - 1, 2**k, 2**k + 1}
    vals = sorted(v for v in vals if v < 2**64)
    got = _bit_length_u64(np.array(vals, dtype=np.uint64))
    assert got.tolist() == [v.bit_length() for v in vals]
