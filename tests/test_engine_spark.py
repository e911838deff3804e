"""End-to-end Spark build/probe: the flagship slice (SURVEY.md §7 Phase 1)."""

import functools
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from pimbloomfilters_spark.operators import (
    build_sketch,
    probe_array_column,
    probe_key_column,
    salted_repartition,
)
from pimbloomfilters_spark.sketches import BlockedBloomFilter, make_sketch
from pimbloomfilters_spark.sources import generate_token_sequences, token_table

bloom24 = functools.partial(make_sketch, "bloom", size2=24, nb_hash=8)


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = generate_token_sequences(spark, 2_000, num_partitions=8).cache()
    df.count()
    return df


def test_build_probe_no_false_negatives(spark, tokens_df):
    sk, metrics = build_sketch(tokens_df, "tokens", bloom24)
    assert metrics["n_rows"] == 2_000
    probed = probe_array_column(tokens_df, sk, "tokens")
    # zero false negatives: every element of every row's tokens is a member
    bad = probed.filter(F.exists("member", lambda m: ~m)).count()
    assert bad == 0
    # per-row invariant: tokens array passes through unchanged & aligned
    row = probed.select("tokens", "member").first()
    assert len(row["tokens"]) == len(row["member"])


def test_build_matches_single_node(spark, tokens_df):
    """Distributed build == one-shot local build, byte-identical (the merge
    replaces the reference's rank/DPU sharding without changing the filter)."""
    sk, _ = build_sketch(tokens_df, "tokens", bloom24)
    local = bloom24()
    all_tokens = np.concatenate(
        [np.asarray(r["tokens"], dtype=np.int64) for r in tokens_df.collect()]
    )
    local.insert_bulk(all_tokens)
    assert sk.payload() == local.payload()


def test_partitioning_invariance(spark, tokens_df):
    """Permuted/re-partitioned input -> identical sketch bytes (SURVEY §5c)."""
    a, _ = build_sketch(tokens_df.repartition(3), "tokens", bloom24)
    b, _ = build_sketch(tokens_df.repartition(13, "source"), "tokens", bloom24)
    c, _ = build_sketch(salted_repartition(tokens_df, ["source"], buckets=4,
                                           salt_on="doc_id"), "tokens", bloom24)
    assert a.payload() == b.payload() == c.payload()


def test_distributed_merge_path(spark, tokens_df):
    a, _ = build_sketch(tokens_df, "tokens", bloom24)
    b, _ = build_sketch(tokens_df, "tokens", bloom24, distributed_merge=True)
    assert a.payload() == b.payload()


def test_partial_build_one_task_per_slot(spark):
    """An input split finer than the session's task slots still builds one
    partial per slot. Bloom/HLL/CMS bytes equal a one-partition build; KLL,
    whose compaction depends on partial boundaries, keeps its rank-error
    bound of 2.861/k."""
    from pimbloomfilters_spark.operators import build_partials
    from pimbloomfilters_spark.operators.build import task_slots

    n = 50_000
    one = spark.range(0, n, numPartitions=1)
    slots = task_slots(one)
    fine = spark.range(0, n, numPartitions=3 * slots)
    bloom = functools.partial(make_sketch, "bloom", size2=20, nb_hash=8)
    assert build_partials(fine, "id", bloom).count() == slots
    for make in (bloom, functools.partial(make_sketch, "hll", p=12),
                 functools.partial(make_sketch, "cms", eps=1e-3, delta=1e-2)):
        got, m = build_sketch(fine, "id", make)
        want, _ = build_sketch(one, "id", make)
        assert got.to_bytes() == want.to_bytes()
        assert m["n_partitions"] == slots and m["n_rows"] == n
    k = 200
    kll, _ = build_sketch(fine, "id", functools.partial(make_sketch, "kll", k=k))
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        # id v has exactly v smaller values: its normalized rank is v / n
        assert abs(kll.quantile(q) / n - q) <= 2.861 / k, q


def test_warm_worker_rereads_no_zip_directory(spark):
    """A reused Python worker's ``importlib.invalidate_caches()`` -- called
    by pyspark before every task -- reads no zip/jar directory once the
    package is imported there; the stdlib re-reads every zipimporter's
    archive each time. The driver keeps the stdlib method."""
    import zipimport

    import pyarrow as pa

    from pimbloomfilters_spark.operators.build import task_slots

    build_sketch(spark.range(0, 10_000), "id", bloom24)  # warm the workers

    def count_reads(batches):
        import importlib
        import os
        import zipimport

        import pimbloomfilters_spark  # noqa: F401 -- as every package UDF does

        stdlib_read, reads = zipimport._read_directory, []

        def counting_read(archive):
            reads.append(archive)
            return stdlib_read(archive)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [len(reads)]})

    # more tasks than slots: the first run passes through every idle worker
    df = spark.range(0, 1_000, numPartitions=4 * task_slots(spark.range(1)))
    runs = [df.mapInArrow(count_reads, "pid long, reads long").collect()
            for _ in range(2)]
    assert len(runs[1]) == df.rdd.getNumPartitions()
    assert [r.reads for r in runs[1]] == [0] * len(runs[1]), runs
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_build_empty_input_with_partitions(spark):
    """Zero rows over four partitions: every task still emits its (empty)
    partial, so the fold returns an empty sketch instead of raising."""
    bloom = functools.partial(make_sketch, "bloom", size2=16, nb_hash=4)
    df = spark.range(0, 100, numPartitions=4).filter("id < 0")
    sk, metrics = build_sketch(df, "id", bloom)
    assert metrics["n_rows"] == 0 and metrics["n_values"] == 0
    assert sk.to_bytes() == bloom().to_bytes()


def test_grouped_build_null_group_key(spark):
    """A NULL group value is a group of its own, built exactly like a plain
    build over the rows where the group column IS NULL."""
    from pimbloomfilters_spark.operators import build_sketch_grouped

    bloom = functools.partial(make_sketch, "bloom", size2=16, nb_hash=4)
    df = spark.createDataFrame(
        [(None, 1), ("a", 2), (None, 3), ("b", 4), (None, 5), ("a", 6)],
        "g string, v long").repartition(3)
    rows = build_sketch_grouped(df, "g", "v", bloom).collect()
    assert sorted(r["g"] or "" for r in rows) == ["", "a", "b"]
    null_row = next(r for r in rows if r["g"] is None)
    solo, m = build_sketch(df.filter("g IS NULL"), "v", bloom)
    assert bytes(null_row["sketch"]) == solo.to_bytes()
    assert null_row["n_rows"] == m["n_rows"] == 3


def test_ship_sketch_ignores_planted_file(spark):
    """A file already sitting under the sketch's content-hash name (stale or
    planted) is never shipped: ship_sketch always republishes the bytes."""
    import hashlib
    import os

    from pyspark import SparkFiles

    sk = make_sketch("bloom", size2=16, nb_hash=4)
    keys = np.arange(7_000_000, 7_000_500, dtype=np.int64)
    sk.insert_bulk(keys)
    digest = hashlib.blake2b(sk.to_bytes(), digest_size=16).hexdigest()
    with open(os.path.join(SparkFiles.getRootDirectory(),
                           f"pbf_sketch_{digest}.bin"), "wb") as f:
        f.write(b"not a sketch")
    probes = np.r_[keys, np.arange(-300, 0)]
    df = spark.createDataFrame([(int(k),) for k in probes], "k long")
    got = {r["k"]: r["member"] for r in probe_key_column(df, sk, "k").collect()}
    assert [got[int(k)] for k in probes] == sk.contains_bulk(probes).tolist()
    assert all(got[int(k)] for k in keys)


_SHIP_CHILD = """
import glob, os, sys
import numpy as np
from pimbloomfilters_spark.operators.probe import probe_count
from pimbloomfilters_spark.session import get_spark
from pimbloomfilters_spark.sketches import make_sketch

tmp = os.environ["TMPDIR"]
spark = get_spark("ship-cleanup", cpus=1, shuffle_partitions=1)
sk = make_sketch("bloom", size2=16, nb_hash=4)
sk.insert_bulk(np.arange(100, dtype=np.int64))
assert probe_count(spark.range(200), sk, "id")[1] >= 100
shipped = glob.glob(os.path.join(tmp, "**", "pbf_sketch_*.bin"), recursive=True)
assert shipped and not glob.glob(os.path.join(tmp, "pbf_sketch_*")), shipped
if sys.argv[1] == "stop":
    spark.stop()
    assert not glob.glob(os.path.join(tmp, "**", "pbf_sketch_*"),
                         recursive=True)
print("probed")
"""


@pytest.mark.parametrize("end", ["stop", "exit"])
def test_ship_sketch_leaves_no_file_behind(tmp_path, end):
    """A shipped sketch lives in the application's own directory, not at the
    top of the temp dir, and is gone once the session stops or the driver
    exits without stopping it."""
    import glob
    import os
    import subprocess
    import sys

    env = dict(os.environ, TMPDIR=str(tmp_path),
               SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    # capture_output waits for the pipes to close, i.e. for the JVM the
    # child launched to finish its shutdown hooks too
    proc = subprocess.run([sys.executable, "-c", _SHIP_CHILD, end], env=env,
                          capture_output=True, text=True, timeout=300)
    assert "probed" in proc.stdout, proc.stderr[-3000:]
    assert not glob.glob(str(tmp_path / "**" / "pbf_sketch_*"), recursive=True)


def test_probe_key_column_semijoin(spark, sf_dir):
    """Bloom as a runtime semi-join filter: build over orders.o_custkey, probe
    customer.c_custkey; no false negatives vs the exact semi-join."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sk, _ = build_sketch(orders, "o_custkey", bloom24)
    probed = probe_key_column(customer, sk, "c_custkey")
    truth = customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey", "left_semi",
    ).select("c_custkey")
    # every true member must be flagged (no FN)
    missed = truth.join(
        probed.filter(~F.col("member")).select("c_custkey"), "c_custkey", "inner"
    ).count()
    assert missed == 0


def test_hll_over_doc_ids(spark, tokens_df):
    hashed = tokens_df.select(F.xxhash64("doc_id").alias("h"))
    sk, _ = build_sketch(hashed, "h", functools.partial(make_sketch, "hll", p=14))
    est = sk.estimate()
    assert abs(est - 2000) <= 4 * sk.relative_error() * 2000


def test_cms_heavy_hitters(spark, tokens_df):
    sk, _ = build_sketch(
        tokens_df, "tokens",
        functools.partial(make_sketch, "cms", eps=1e-4, delta=1e-3),
    )
    exact = (
        tokens_df.select(F.explode("tokens").alias("t"))
        .groupBy("t").count().orderBy(F.desc("count")).limit(10).collect()
    )
    tops = np.array([r["t"] for r in exact], dtype=np.int64)
    true_counts = np.array([r["count"] for r in exact])
    est = sk.query_bulk(tops)
    assert (est >= true_counts).all()
    assert (est <= true_counts + sk.eps * sk.total).all()


def test_kll_ntok_quantiles(spark, tokens_df):
    sk, _ = build_sketch(
        tokens_df, "n_tok", functools.partial(make_sketch, "kll", k=200)
    )
    exact = sorted(r["n_tok"] for r in tokens_df.select("n_tok").collect())
    n = len(exact)
    for q in (0.25, 0.5, 0.75):
        est = sk.quantile(q)
        lo = np.searchsorted(exact, est, side="left")
        hi = np.searchsorted(exact, est, side="right")
        band = sk.rank_error() * n + 1
        assert lo - band <= q * n <= hi + band


def test_token_table_derivation(spark, sf_dir):
    tt = token_table(spark, sf_dir)
    row = tt.first()
    assert row["n_tok"] == len(row["tokens"])
    assert all(t >= 1 for t in row["tokens"])
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert tt.count() == docs.count()


def test_generator_partitioning_independent(spark):
    a = generate_token_sequences(spark, 500, num_partitions=2)
    b = generate_token_sequences(spark, 500, num_partitions=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_nulls_in_keys_and_arrays(spark):
    """Null rows, null arrays, and null elements must not corrupt builds."""
    df = spark.createDataFrame(
        [(1, [1, 2, None]), (2, None), (3, []), (4, [7])],
        "doc_id long, tokens array<int>",
    )
    sk, metrics = build_sketch(df, "tokens", bloom24)
    assert metrics["n_values"] == 3  # 1,2,7 — the null element is dropped
    local = bloom24()
    local.insert_bulk(np.array([1, 2, 7], dtype=np.int64))
    # null element dropped => only 1,2,7 inserted
    sk2, m2 = build_sketch(
        spark.createDataFrame([(1, [1, 2]), (4, [7])], "doc_id long, tokens array<int>"),
        "tokens", bloom24)
    assert sk.payload() == sk2.payload() == local.payload()

    keys = spark.createDataFrame([(1,), (None,), (3,)], "k long")
    skk, mk = build_sketch(keys, "k", bloom24)
    lk = bloom24(); lk.insert_bulk(np.array([1, 3], dtype=np.int64))
    assert skk.payload() == lk.payload()


def test_register_sql_functions(spark):
    """Sketches usable from plain spark.sql: pbf_member filters exactly
    like probe_key_column (no false negatives, same rows at zero-FP
    geometry); pbf_count matches CMS point estimates; unsupported kinds
    raise."""
    import functools

    import numpy as np
    import pytest as _pt

    from pimbloomfilters_spark.operators import (
        build_sketch, probe_key_column, register_sql_functions)
    from pimbloomfilters_spark.sketches import make_sketch

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    bf, _ = build_sketch(df, "k", functools.partial(
        make_sketch, "bloom", size2=22, nb_hash=8))
    names = register_sql_functions(spark, bf, prefix="t1")
    assert names == ["t1_member"]
    df.createOrReplaceTempView("probe_t")
    sql_rows = {r["k"] for r in spark.sql(
        "SELECT k FROM probe_t WHERE t1_member(k)").collect()}
    api_rows = {r["k"] for r in probe_key_column(df, bf, "k")
                .filter("member").collect()}
    assert sql_rows == api_rows == set(range(5000))
    neg = spark.sql("""SELECT count(*) AS c FROM (
        SELECT explode(sequence(1000000, 1001000)) AS k) WHERE t1_member(k)
    """).collect()[0]["c"]
    assert neg == 0  # zero FP at this geometry/scale

    cms, _ = build_sketch(df.selectExpr("k % 10 AS k"), "k",
                          functools.partial(make_sketch, "cms",
                                            eps=1e-4, delta=1e-3))
    assert register_sql_functions(spark, cms, prefix="t2") == ["t2_count"]
    est = {r["k"]: r["c"] for r in spark.sql(
        "SELECT k, t2_count(k) AS c FROM (SELECT explode(sequence(0, 9)) AS k)"
    ).collect()}
    assert all(est[k] >= 500 for k in range(10))  # CMS never undercounts
    assert abs(np.mean(list(est.values())) - 500) < 5

    kll, _ = build_sketch(df, "k", functools.partial(make_sketch, "kll", k=200))
    with _pt.raises(ValueError):
        register_sql_functions(spark, kll)


def test_profile_table_nulls_and_ndv(spark):
    """One-scan profiler: exact null counts off the Arrow validity mask,
    HLL ndv within its published bound per column, across partitions."""
    from pyspark.sql import functions as F

    from pimbloomfilters_spark.operators.profile import profile_table

    n = 20_000
    df = (spark.range(n).repartition(8)
          .select(
              F.col("id"),
              F.when(F.col("id") % 7 != 0, F.col("id") % 100)
               .alias("mod_sparse"),
              F.when(F.col("id") % 2 == 0, F.concat(F.lit("s"),
                     (F.col("id") % 5000).cast("string"))).alias("s_half")))
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == n and prof["id"]["n_nulls"] == 0
    assert prof["mod_sparse"]["n_nulls"] == len([i for i in range(n) if i % 7 == 0])
    assert prof["s_half"]["n_nulls"] == n // 2
    rse = 1.04 / (1 << 14) ** 0.5
    # even ids mod 5000 (even) hit only the 2500 even residues
    for col, exact in (("id", n), ("mod_sparse", 100), ("s_half", 2500)):
        est = prof[col]["ndv_est"]
        assert abs(est - exact) <= 4 * rse * exact + 3, (col, est, exact)


def test_merge_profiles_equals_full_scan(spark):
    """Incremental profiling: merge(profile(half1), profile(half2)) ==
    profile(full) EXACTLY (counts add; HLL merge is deterministic, so even
    the estimates are bit-equal), and merged profiles merge again."""
    from pyspark.sql import functions as F

    from pimbloomfilters_spark.operators.profile import (
        merge_profiles, profile_table)

    df = spark.range(30_000).select(
        F.col("id"),
        F.when(F.col("id") % 5 != 0, F.col("id") % 777).alias("v"))
    full = {r["column"]: r for r in
            profile_table(df, with_sketch=True).collect()}
    h1 = profile_table(df.filter(F.col("id") < 11_000), with_sketch=True)
    h2 = profile_table(df.filter(F.col("id") >= 11_000), with_sketch=True)
    merged = {r["column"]: r for r in merge_profiles(h1, h2).collect()}
    for c in ("id", "v"):
        assert merged[c]["n_rows"] == full[c]["n_rows"] == 30_000
        assert merged[c]["n_nulls"] == full[c]["n_nulls"]
        assert merged[c]["ndv_est"] == full[c]["ndv_est"]  # bit-equal
        assert bytes(merged[c]["sketch"]) == bytes(full[c]["sketch"])
    again = {r["column"]: r for r in
             merge_profiles(merge_profiles(h1), merge_profiles(h2)).collect()}
    assert bytes(again["v"]["sketch"]) == bytes(full["v"]["sketch"])


def test_sql_functions_null_keys_return_null(spark):
    """SQL scalar-function NULL semantics: pbf_member(NULL)/pbf_count(NULL)
    are NULL, not a task error, and keys beyond 2^53 stay EXACT even when
    the batch contains NULLs (the arrow_udf path; a pandas UDF would see
    float64+NaN and silently round large keys)."""
    import functools

    from pimbloomfilters_spark.operators import build_sketch, register_sql_functions
    from pimbloomfilters_spark.sketches import make_sketch

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    bf, _ = build_sketch(df, "k", functools.partial(
        make_sketch, "bloom", size2=22, nb_hash=8))
    register_sql_functions(spark, bf, prefix="tn")
    cms, _ = build_sketch(df, "k", functools.partial(
        make_sketch, "cms", eps=1e-4, delta=1e-3))
    register_sql_functions(spark, cms, prefix="tc")
    spark.createDataFrame(
        [(0,), (None,), (999,), (None,), (1_000_000,)], "k long"
    ).createOrReplaceTempView("null_probe_t")
    rows = spark.sql(
        "SELECT k, tn_member(k) AS m, tc_count(k) AS c FROM null_probe_t"
    ).collect()
    by_k = {r["k"]: (r["m"], r["c"]) for r in rows}
    assert by_k[0] == (True, 1) and by_k[999] == (True, 1)
    assert by_k[1_000_000][0] is False
    nulls = [r for r in rows if r["k"] is None]
    assert len(nulls) == 2
    assert all(r["m"] is None and r["c"] is None for r in nulls)
    # WHERE clause: NULL is not TRUE -> null-key rows filtered out, no error
    n = spark.sql(
        "SELECT count(*) AS n FROM null_probe_t WHERE tn_member(k)"
    ).collect()[0]["n"]
    assert n == 2
    # exactness beyond 2^53 with NULLs in the same batch: insert one huge
    # odd key; no-false-negatives requires member(exact key) = True, and a
    # float64 round-trip would probe the rounded (different) key instead
    big = 8888888888888888887
    bfd = spark.createDataFrame([(big,)], "k long")
    bf2, _ = build_sketch(bfd, "k", functools.partial(
        make_sketch, "bloom", size2=22, nb_hash=8))
    register_sql_functions(spark, bf2, prefix="tb")
    spark.createDataFrame([(big,), (None,), (-(2**63) + 1,)], "k long") \
        .coalesce(1).createOrReplaceTempView("big_probe_t")
    rows = {r["k"]: r["m"] for r in spark.sql(
        "SELECT k, tb_member(k) AS m FROM big_probe_t").collect()}
    assert rows[big] is True            # exact key found (no FN)
    assert rows[None] is None


def test_profile_table_skips_map_columns(spark):
    """A map column (xxhash64-rejecting type) must not fail the whole
    profile: counts stay exact, ndv_est surfaces as NaN."""
    import math

    from pyspark.sql import functions as F

    from pimbloomfilters_spark.operators.profile import profile_table

    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 4 != 0,
               F.create_map(F.lit("k"), F.col("id") % 10)).alias("m"))
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == 1000 and prof["id"]["n_nulls"] == 0
    assert prof["id"]["ndv_est"] > 900
    assert prof["m"]["n_rows"] == 1000
    assert prof["m"]["n_nulls"] == 250
    assert math.isnan(prof["m"]["ndv_est"])


def test_profile_numeric_stats_exact(spark):
    """min/max/moments: exact integral min/max + arbitrary-precision
    sum/sumsq (closed-form check), exact float min/max, NULLs elsewhere;
    merge of split profiles reproduces the full scan EXACTLY."""
    from pyspark.sql import functions as F

    from pimbloomfilters_spark.operators.profile import (
        merge_profiles, profile_table)

    n = 10_000
    big = 3_000_000_000  # force sums past int64 sumsq comfort: big^2 = 9e18
    df = spark.range(n).select(
        (F.col("id") + big).alias("v"),
        (F.col("id").cast("double") / 8).alias("d"),
        F.concat(F.lit("s"), F.col("id")).alias("s"))
    prof = {r["column"]: r for r in profile_table(df).collect()}
    vs = [i + big for i in range(n)]
    assert prof["v"]["min_long"] == big
    assert prof["v"]["max_long"] == big + n - 1
    assert int(prof["v"]["sum_str"]) == sum(vs)
    assert int(prof["v"]["sumsq_str"]) == sum(x * x for x in vs)  # ~9e22
    assert prof["d"]["min_double"] == 0.0
    assert prof["d"]["max_double"] == (n - 1) / 8
    assert prof["d"]["sum_str"] is None and prof["d"]["min_long"] is None
    assert prof["s"]["min_long"] is None and prof["s"]["min_double"] is None
    h1 = profile_table(df.filter(F.col("v") % 3 == 0), with_sketch=True)
    h2 = profile_table(df.filter(F.col("v") % 3 != 0), with_sketch=True)
    merged = {r["column"]: r for r in merge_profiles(h1, h2).collect()}
    full = {r["column"]: r for r in
            profile_table(df, with_sketch=True).collect()}
    for c in ("v", "d", "s"):
        for f in ("n_rows", "n_nulls", "ndv_est", "min_long", "max_long",
                  "min_double", "max_double", "sum_str", "sumsq_str"):
            assert merged[c][f] == full[c][f], (c, f)


def test_probe_paths_null_and_large_key_safety(spark):
    """probe_keys / probe_count drop NULL keys instead of float64-
    corrupting the batch; probe_array_column masks NULL elements to NULL
    output slots; all paths stay exact for |key| > 2^53."""
    import functools

    from pimbloomfilters_spark.operators import build_sketch
    from pimbloomfilters_spark.operators.probe import (
        probe_array_column, probe_count, probe_keys)
    from pimbloomfilters_spark.sketches import make_sketch

    big = 8888888888888888887  # odd, rounds to a DIFFERENT key in float64
    bf, _ = build_sketch(spark.createDataFrame([(big,), (5,)], "k long"),
                         "k", functools.partial(make_sketch, "bloom",
                                                size2=22, nb_hash=8))
    probe = spark.createDataFrame(
        [(big,), (None,), (5,), (big - 64,)], "k long").coalesce(1)
    rows = {r["k"]: r["member"] for r in probe_keys(probe, bf, "k").collect()}
    assert rows[big] is True and rows[5] is True     # exact keys found
    assert None not in rows and len(rows) == 3       # null key dropped
    n, hits = probe_count(probe, bf, "k")
    assert n == 3 and hits >= 2
    arr_df = spark.createDataFrame(
        [(1, [big, None, 5]), (2, None)], "id long, toks array<long>"
    ).coalesce(1)
    got = {r["id"]: r["member"]
           for r in probe_array_column(arr_df, bf, "toks").collect()}
    assert got[1][0] is True and got[1][1] is None and got[1][2] is True
    assert got[2] == []
    # probe_count coalesces to the task slots: an input split finer than
    # the slots, NULL keys included, counts as it does in one partition
    from pimbloomfilters_spark.operators.build import task_slots

    bf, _ = build_sketch(spark.range(0, 20_000, 2), "id",
                         functools.partial(make_sketch, "bloom", size2=18,
                                           nb_hash=6))
    keys = "IF(id % 7 = 0, NULL, id) AS id"
    one = spark.range(0, 20_000, numPartitions=1).selectExpr(keys)
    fine = spark.range(0, 20_000, numPartitions=3 * task_slots(one)
                       ).selectExpr(keys)
    n, hits = probe_count(fine, bf, "id")
    assert (n, hits) == probe_count(one, bf, "id")
    assert n == 20_000 - len(range(0, 20_000, 7)) and hits >= n // 2


@pytest.mark.parametrize("case", [
    "build", "probe", "remove_token_spans", "vocab_truncate", "apply_bpe",
    "learn_bpe", "token_ngram_codes"])
def test_null_element_rule(spark, case):
    """One NULL-element rule for every pass over an array column
    (``pimbloomfilters_spark/_arrow.py``): builds drop it, probes answer
    NULL at its slot, passes that only move values keep it NULL, and
    coders that need ids raise a ValueError naming it instead of casting
    a NaN."""
    from pimbloomfilters_spark.functions import bpe, dedup

    df = spark.createDataFrame([(1, [1, 2, None, 1, 2]), (2, [3, 4])],
                               "doc_id long, tokens array<long>").coalesce(1)
    bloom = functools.partial(make_sketch, "bloom", size2=16, nb_hash=4)

    def rows(out):
        return [tuple(r) for r in out.orderBy("doc_id").collect()]

    if case == "build":
        assert build_sketch(df, "tokens", bloom)[1]["n_values"] == 6
    elif case == "probe":
        sk, _ = build_sketch(spark.range(1, 5), "id", bloom)
        assert [r[-1] for r in rows(probe_array_column(df, sk, "tokens"))] \
            == [[True, True, None, True, True], [True, True]]
    elif case == "remove_token_spans":
        spans = spark.createDataFrame(
            [(1, 1, 2)], "doc_b long, start_b int, span_len int")
        assert rows(dedup.remove_token_spans(df, spans)) == [
            (1, [None, 1, 2], 3, 2), (2, [3, 4], 2, 0)]
    elif case == "vocab_truncate":
        assert rows(bpe.vocab_truncate(df, 2)) == [
            (1, [1, 2, None, 1, 2]), (2, [0, 0])]
    else:
        run = {"apply_bpe": lambda: bpe.apply_bpe(
                   df, [{"a": 1, "b": 2, "new_id": 10}]).collect(),
               "learn_bpe": lambda: bpe.learn_bpe(df, 1),
               "token_ngram_codes": lambda: dedup.token_ngram_codes(
                   df, 2).collect()}[case]
        with pytest.raises(Exception, match="1 NULL elements"):
            run()



@pytest.mark.parametrize("case", [
    "cosine_topk_bruteforce", "lsh_bucket_ids", "dna_kmers",
    "winnow_fingerprints"])
def test_null_row_id_rule(spark, case):
    """A NULL id next to a pass's payload raises a ValueError naming its
    column and NULL count (``_arrow.row_ids``) instead of coming back as
    -2^63."""
    from pimbloomfilters_spark.functions import kmer, similarity, text

    vecs = spark.createDataFrame([(1, [1.0, 0.0]), (None, [0.0, 1.0])],
                                 "vec_id long, embedding array<double>")
    seqs = spark.createDataFrame([(1, "ACGTAC"), (None, "GGCATT")],
                                 "seq_id long, seq string")
    docs = spark.createDataFrame([(1, "abcdefgh"), (None, "hgfedcba")],
                                 "doc_id long, text string")
    run = {"cosine_topk_bruteforce": lambda: similarity.cosine_topk_bruteforce(
               vecs, vecs.filter("vec_id IS NOT NULL"), k=1),
           "lsh_bucket_ids": lambda: similarity.lsh_bucket_ids(vecs),
           "dna_kmers": lambda: kmer.dna_kmers(seqs, k=3),
           "winnow_fingerprints": lambda: text.winnow_fingerprints(
               docs, window=3, w=2)}[case]
    with pytest.raises(Exception, match=r"_id' holds 1 NULL ids"):
        run().collect()


def test_double_build_values_keep_their_fraction(spark):
    """A KLL over a double column sees the values, not their int64
    truncation (which reads every value in [0, 1) as 0)."""
    df = spark.range(0, 10_000, numPartitions=3).selectExpr(
        "CAST(id AS DOUBLE) / 10000 AS x")
    sk, _ = build_sketch(df, "x", functools.partial(make_sketch, "kll", k=200))
    for q in (0.25, 0.5, 0.75):
        assert abs(sk.quantile(q) - q) <= sk.rank_error() + 1e-4


def test_double_build_values_hash_as_int64(spark):
    """Hash sketches read a double value as its int64 truncation, so a
    Bloom over doubles keeps the bytes it always had."""
    bloom = functools.partial(make_sketch, "bloom", size2=16, nb_hash=4)
    doubles, _ = build_sketch(spark.createDataFrame(
        [(0.25,), (1.5,), (-2.7,)], "x double"), "x", bloom)
    longs, _ = build_sketch(spark.createDataFrame(
        [(0,), (1,), (-2,)], "x long"), "x", bloom)
    assert doubles.to_bytes() == longs.to_bytes()


def test_decimal_build_values_with_null(spark):
    """Spark SQL types ``id / 10000.0`` as a decimal: a KLL over it, with
    one NULL the build drops, sees the fractional values."""
    df = spark.range(0, 10_000, numPartitions=3).selectExpr(
        "IF(id = 5000, NULL, id / 10000.0) AS x")
    assert dict(df.dtypes)["x"].startswith("decimal")
    sk, _ = build_sketch(df, "x", functools.partial(make_sketch, "kll", k=200))
    for q in (0.25, 0.5, 0.75):
        assert abs(sk.quantile(q) - q) <= sk.rank_error() + 1e-4


def test_decimal_build_values_hash_as_int64(spark):
    """A Bloom over decimal(18,0) keys is byte-identical to the Bloom over
    the same keys as int64."""
    bloom = functools.partial(make_sketch, "bloom", size2=16, nb_hash=4)
    decimals, _ = build_sketch(spark.createDataFrame(
        [(Decimal(0),), (Decimal(1),), (Decimal(-2),)], "x decimal(18,0)"),
        "x", bloom)
    longs, _ = build_sketch(spark.createDataFrame(
        [(0,), (1,), (-2,)], "x long"), "x", bloom)
    assert decimals.to_bytes() == longs.to_bytes()


def test_failed_collect_runs_one_job(spark):
    """A job that fails inside ``collect_rows`` fails once: it is not run
    a second time through ``collect()``."""
    from pimbloomfilters_spark.operators.build import collect_rows

    def _fail(batches):
        for _ in batches:
            raise ValueError("collect must fail once")
        yield from ()

    sc = spark.sparkContext
    sc.setJobGroup("collect-once", "failing collect")
    try:
        with pytest.raises(Exception, match="collect must fail once"):
            collect_rows(spark.range(0, 4, numPartitions=1)
                         .mapInArrow(_fail, "id long"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("collect-once")) == 1

def test_probe_array_column_keeps_partitions_rows_and_order(spark):
    """probe_array_column keeps the caller's partitioning: an input split
    3x finer than the slots, NULL rows and NULL elements included, keeps
    its partitions and returns the rows of one partition in the same
    order. probe_count of an empty input is (0, 0)."""
    import functools

    from pimbloomfilters_spark.operators import build_sketch
    from pimbloomfilters_spark.operators.build import task_slots
    from pimbloomfilters_spark.operators.probe import (probe_array_column,
                                                      probe_count)
    from pimbloomfilters_spark.sketches import make_sketch

    bf, _ = build_sketch(spark.range(0, 6_000, 3), "id",
                         functools.partial(make_sketch, "bloom", size2=16,
                                           nb_hash=4))
    toks = ("CASE WHEN id % 11 = 0 THEN NULL "
            "WHEN id % 13 = 0 THEN array(id, NULL) "
            "ELSE sequence(id, id + id % 5) END AS toks")
    one = spark.range(0, 3_000, numPartitions=1).selectExpr("id", toks)
    slots = task_slots(one)
    fine = spark.range(0, 3_000, numPartitions=3 * slots).selectExpr("id", toks)
    probed = probe_array_column(fine, bf, "toks")
    assert probed.rdd.getNumPartitions() == 3 * slots
    got = [tuple(r) for r in probed.collect()]
    assert got == [tuple(r) for r in probe_array_column(one, bf, "toks").collect()]
    assert [r[0] for r in got] == list(range(3_000))
    assert got[11 * 5][2] == [] and got[13][2][1] is None
    assert probe_count(spark.range(0), bf, "id") == (0, 0)
    assert probe_count(spark.createDataFrame([], "id long"), bf, "id") == (0, 0)
