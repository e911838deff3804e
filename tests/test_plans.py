"""Physical-plan quality gates: the plans we ship are the plans we'd want at
100 TB — filters reach the parquet scan, small dims broadcast, builds don't
shuffle more than designed. These assertions pin that down so a regression
(e.g. a lost broadcast hint) fails CI, not a cluster bill."""

import functools

import pytest
from pyspark.sql import functions as F

from pimbloomfilters_spark.operators import build_partials, probe_key_column
from pimbloomfilters_spark.operators.sharded import build_bloom_shards
from pimbloomfilters_spark.sketches import make_sketch
from pimbloomfilters_spark.sources.tables import tokens_exploded


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    # use a table no other test caches: a cached df would satisfy the query
    # via InMemoryTableScan and hide the parquet scan under test
    df = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_nationkey") == 3)
        .select("s_suppkey")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(s_nationkey,3)" in plan.replace("'", "")
    # column pruning: scan must read only the two needed columns
    assert "s_name" not in plan.split("ReadSchema")[1][:200]


def test_vocab_join_broadcasts(spark, sf_dir):
    plan = _plan(tokens_exploded(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "vocab join must broadcast the tiny dim"
    assert "SortMergeJoin" not in plan


def test_probe_adds_no_shuffle(spark, sf_dir):
    """Broadcast probe is a pure projection: zero Exchange operators."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sk = make_sketch("bloom", size2=16, nb_hash=4)
    sk.insert(1)
    plan = _plan(probe_key_column(customer, sk, "c_custkey"))
    assert "Exchange" not in plan


def test_partial_build_adds_no_shuffle(spark, sf_dir):
    """Plain partial build = one mapInArrow over the scan, no Exchange;
    the merge is a collect of KB..MB partials, not a shuffle. An input
    split finer than the task slots is coalesced, never shuffled."""
    from pimbloomfilters_spark.operators.build import task_slots

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fine = spark.range(0, 50_000, numPartitions=3 * task_slots(orders))
    bloom = functools.partial(make_sketch, "bloom", size2=16, nb_hash=4)
    for df, col in ((orders, "o_custkey"), (fine, "id")):
        plan = _plan(build_partials(df, col, bloom))
        assert "Coalesce" in plan
        assert "Exchange" not in plan


def test_sharded_build_single_exchange(spark, sf_dir):
    """Sharded build shuffles the DATA exactly once (hash repartition on the
    shard id); partial bitmaps never shuffle at all."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = build_bloom_shards(orders, "o_custkey", size2=20, nb_hash=4, n_shards=16)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    # the sharded build keeps its own repartition width: no coalesce
    assert "Coalesce" not in plan


def test_scan_prunes_to_build_column(spark, sf_dir):
    """The build must not drag unused columns through the scan."""
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = build_partials(lineitem, "l_partkey",
                        functools.partial(make_sketch, "hll", p=12))
    plan = _plan(df)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_partkey" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_grouped_build_matches_per_group(spark, sf_dir):
    """build_sketch_grouped == one independent build per group, byte-for-byte
    (bloom merge is order-free), with only sketch blobs shuffled."""
    from pimbloomfilters_spark.operators import build_sketch, build_sketch_grouped

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "source", F.xxhash64("text").alias("h")
    )
    bloom = functools.partial(make_sketch, "bloom", size2=20, nb_hash=8)
    grouped = build_sketch_grouped(docs, ["source"], "h", bloom)
    rows = {r["source"]: r for r in grouped.collect()}
    assert len(rows) == docs.select("source").distinct().count()
    from pimbloomfilters_spark.sketches import sketch_from_bytes

    for src in list(rows)[:3]:
        solo, m = build_sketch(docs.filter(F.col("source") == src), "h", bloom)
        got = sketch_from_bytes(bytes(rows[src]["sketch"]))
        assert got.payload() == solo.payload()
        assert rows[src]["n_values"] == m["n_values"]
    # map-side combine: the only exchange sits ABOVE the partial builder
    # (it carries per-(partition, group) sketch blobs, never raw rows) — no
    # shuffle below the last MapInArrow. AQE may print the plan twice.
    plan = _plan(grouped)
    assert "Exchange hashpartitioning(source" in plan
    assert "Exchange" not in plan[plan.rindex("MapInArrow"):]


def test_runtime_filter_join_exact_even_when_filter_saturated(spark, sf_dir):
    """Correctness is independent of filter geometry: an absurdly undersized
    Bloom (size2=6 -> FPR near 1) must still give exactly the plain join —
    false positives die in the join; no-FN keeps every match."""
    from pimbloomfilters_spark.operators import bloom_runtime_filter_join

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_nationkey") == 3).select("c_custkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = bloom_runtime_filter_join(
        orders, customer, "o_custkey", "c_custkey", size2=6, nb_hash=4
    ).groupBy("c_custkey").agg(F.count("*").alias("n"))
    exact = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey").agg(F.count("*").alias("n"))
    )
    assert {(r["c_custkey"], r["n"]) for r in got.collect()} \
        == {(r["c_custkey"], r["n"]) for r in exact.collect()}


def test_runtime_filter_join_plan_shape(spark, sf_dir):
    """The prefilter must run below the join (fact rows dropped before the
    join), and the dim side must broadcast — the 100 TB-relevant shape."""
    from pimbloomfilters_spark.operators import bloom_runtime_filter_join

    customer = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_nationkey") == 3).select("c_custkey")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    joined = bloom_runtime_filter_join(orders, customer, "o_custkey", "c_custkey")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    # the probe UDF (the prefilter) must appear below the join in the tree
    assert plan.index("BroadcastHashJoin") < plan.rindex("ArrowEvalPython")


def test_blocked_pairs_plan_no_collect(spark, sf_dir):
    """cosine_pairs_blocked is fully distributed: cogroup GEMM with exactly
    one hash exchange per side, no driver materialization anywhere."""
    from pimbloomfilters_spark.functions.similarity import cosine_pairs_blocked

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = cosine_pairs_blocked(emb, threshold=0.5, n_blocks=4)
    plan = _plan(df)
    assert "FlatMapCoGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 2  # one per cogroup side


def test_grouped_build_sparse_hll_blob_reduction(spark):
    """Grouped HLL builds at real group counts: sparse payloads shrink the
    partial-blob shuffle >10x vs dense (p=14 dense = 16 KB per (partition,
    group) partial; 2k mostly-empty groups would shuffle tens of MB dense).
    Estimates must still be exact-ish per group."""
    from pimbloomfilters_spark.operators.build import build_partials, build_sketch_grouped

    n_groups = 2000
    df = (spark.range(0, 40_000, numPartitions=8)
          .selectExpr("id % 2000 AS g", "id AS v"))
    hll = functools.partial(make_sketch, "hll", p=14)
    rows = build_sketch_grouped(df, ["g"], "v", hll).collect()
    assert len(rows) == n_groups
    total_blob = sum(len(bytes(r["sketch"])) for r in rows)
    dense_total = n_groups * (1 << 14)
    assert total_blob * 10 < dense_total, (total_blob, dense_total)
    from pimbloomfilters_spark.sketches import sketch_from_bytes

    for r in rows[:5]:
        est = sketch_from_bytes(bytes(r["sketch"])).estimate()
        assert abs(est - 20) <= 3  # 20 distinct values per group


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """Decontamination at 100 TB = one scan of the training corpus + a
    broadcast join against the tiny benchmark fingerprint table — never a
    shuffle of the corpus fingerprints to a sort-merge join."""
    from pimbloomfilters_spark.functions.dedup import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = decontaminate(docs.filter(F.col("doc_id") % 50 != 0),
                       docs.filter(F.col("doc_id") % 50 == 0))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_verify_single_scan_no_gram_aggregation(spark, sf_dir):
    """The near-dup verify must NOT rebuild gram sets with a full-corpus
    explode/collect_set aggregation — gram arrays come out of the same
    mapInArrow pass that computes signatures (one corpus scan total)."""
    from pimbloomfilters_spark.functions.dedup import minhash_near_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    plan = _plan(minhash_near_dup_pairs(docs, threshold=0.7))
    assert "collect_set" not in plan
    # exactly one source scan shape: every consumer reads the cached
    # signature+grams frame (InMemoryTableScan), not a second parquet scan
    assert "ObjectHashAggregate" not in plan


def test_token_repetition_no_shuffle(spark, sf_dir):
    """The repetition filter is per-row array math — its plan must contain
    NO Exchange at all (embarrassingly parallel scan)."""
    from pimbloomfilters_spark.functions.text import token_repetition_stats

    df = spark.createDataFrame([(1, [1, 2, 3])], "doc_id long, tokens array<int>")
    assert "Exchange" not in _plan(token_repetition_stats(df))


def test_pq_topk_single_bounded_exchange(spark, sf_dir):
    """The PQ ADC scan emits per-partition local top-k rows; the ONLY
    exchange in the search plan is the hash partition on query_id for the
    finishing window (partitions x k x queries rows) — never a shuffle of
    codes or vectors, and never a single-partition exchange."""
    from pimbloomfilters_spark.functions.similarity import (
        pq_codebooks, pq_topk)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = pq_codebooks(emb, iters=0)
    plan = _plan(pq_topk(emb, emb.filter("vec_id < 3"), k=3, codebooks=cb))
    assert plan.count("Exchange") == 1
    assert "hashpartitioning(query_id" in plan
    assert "SinglePartition" not in plan


def test_epoch_shuffle_no_single_task_window(spark):
    """The global rank in epoch_shuffle comes from per-bucket windows +
    broadcast offsets — the plan must have NO single-partition exchange
    (a naive row_number() over a global ORDER BY would)."""
    from pimbloomfilters_spark.operators.sampling import epoch_shuffle

    plan = _plan(epoch_shuffle(spark.range(0, 100), "id", n_shards=4))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_bkt" in plan


def test_length_buckets_no_single_task_window(spark):
    """length_buckets gives exact ntile semantics but must never plan
    ntile's SinglePartition exchange — ranks come from per-length windows
    + broadcast offsets."""
    from pyspark.sql import functions as F

    from pimbloomfilters_spark.functions.packing import length_buckets

    df = spark.range(100).select(F.col("id").alias("doc_id"),
                                 (F.col("id") % 11).alias("n_tok"))
    plan = _plan(length_buckets(df, 4))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(n_tok" in plan


def test_segment_repetition_no_shuffle(spark):
    """The duplicate-segment panel is per-row array math — its plan must
    contain NO Exchange at all (embarrassingly parallel scan)."""
    from pimbloomfilters_spark.functions.text import segment_repetition_stats

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    assert "Exchange" not in _plan(segment_repetition_stats(df, width=2))


def test_pack_windows_single_exchange(spark):
    """Sequence packing shuffles ONCE (on the group key for the window);
    the offset/window-id math is codegen expressions above it."""
    from pimbloomfilters_spark.functions.packing import pack_context_windows

    df = spark.createDataFrame([(1, "A", 5)], "doc_id long, source string, n_tok int")
    plan = _plan(pack_context_windows(df, 256))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_and_bm25_broadcast_vocab_tables(spark, sf_dir):
    """The vocabulary-sized document-frequency tables must BROADCAST back
    onto the corpus-sized sides — a shuffle join there would move the
    corpus for a vocab-sized dim."""
    from pimbloomfilters_spark.functions.text import bm25_rank, tfidf_top_terms
    from pimbloomfilters_spark.sources.tables import tokens_exploded

    tok = tokens_exploded(spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(tfidf_top_terms(tok, top=3))
    assert "BroadcastHashJoin" in _plan(bm25_rank(tok, [3, 7, 11]))


def test_asof_join_semantics(spark):
    """As-of: latest right row with ts <= left ts per key; equal timestamps
    match (<= semantics); keys with no prior right row get null; later
    right rows never leak backward."""
    from pimbloomfilters_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "v", 50), (4, "w", 10)],
        "event_id long, user string, ts long")
    right = spark.createDataFrame(
        [(10, "u", 100), (11, "u", 200), (12, "u", 300), (13, "v", 60)],
        "rid long, user string, ts long")
    out = {r["event_id"]: r["asof"]
           for r in asof_join(left, right, on="user").collect()}
    assert out[1]["rid"] == 10   # equal ts matches
    assert out[2]["rid"] == 11   # latest <= 205, not 300
    assert out[3] is None        # v's only right row is later
    assert out[4] is None        # no right rows for w


def test_asof_join_salted_equals_unsalted(spark):
    """salt_bucket_seconds must not change the result: same deterministic
    (tie-free) input through the unsalted per-key plan and several salted
    bucket widths — including widths that leave empty buckets between
    events (carry-in must hop them) and a width of 1 (every event its own
    bucket)."""
    from pimbloomfilters_spark.operators.joins import asof_join

    # tie-free: left ts = 7i+1 (never multiple of 3), right ts = 3j
    left = spark.createDataFrame(
        [(i, f"u{i % 5}", 7 * i + 1) for i in range(200)],
        "event_id long, user string, ts long")
    right = spark.createDataFrame(
        [(1000 + j, f"u{j % 7}", 3 * j) for j in range(150)],
        "rid long, user string, ts long")
    base = {(r["event_id"],
             r["asof"]["rid"] if r["asof"] else None)
            for r in asof_join(left, right, on="user").collect()}
    for b in (1, 16, 100, 10_000):
        got = {(r["event_id"], r["asof"]["rid"] if r["asof"] else None)
               for r in asof_join(left, right, on="user",
                                  salt_bucket_seconds=b).collect()}
        assert got == base, f"salted plan differs at bucket={b}"


def test_asof_join_salted_splits_hot_key(spark):
    """Planted skew: one key carries 90% of the rows. The salted plan's
    per-event windows must partition by (key, bucket) — visible in the
    physical plan — so no single sort task holds the whole hot key, and
    the result still matches the unsalted plan."""
    from pimbloomfilters_spark.operators.joins import asof_join

    hot = [(i, "mega", i * 10) for i in range(900)]
    cold = [(10_000 + i, f"u{i}", i * 10) for i in range(100)]
    left = spark.createDataFrame(hot + cold, "event_id long, user string, ts long")
    right = spark.createDataFrame(
        [(5000 + j, "mega", j * 37) for j in range(200)]
        + [(9000 + j, f"u{j}", 5) for j in range(100)],
        "rid long, user string, ts long")
    out = asof_join(left, right, on="user", salt_bucket_seconds=600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the event-level window partitions on (_k, _b) — the salted shape
    assert any("_k#" in ln and "_b#" in ln for ln in plan.splitlines()
               if "Window" in ln), plan
    got = {(r["event_id"], r["asof"]["rid"] if r["asof"] else None)
           for r in out.collect()}
    base = {(r["event_id"], r["asof"]["rid"] if r["asof"] else None)
            for r in asof_join(left, right, on="user").collect()}
    assert got == base
    # per-task bound: with B=600 the hot key's 9000s span occupies ~15
    # buckets, so the largest (key, bucket) sort group is ~1/15 of the key
    from pyspark.sql import functions as F
    biggest = (left.unionByName(
        right.withColumnRenamed("rid", "event_id"), allowMissingColumns=True)
        .groupBy("user", F.floor(F.col("ts") / 600).alias("b"))
        .count().agg(F.max("count")).collect()[0][0])
    assert biggest < len(hot) / 5


def test_range_join_semantics(spark):
    """Bucketed interval join: inclusive boundaries, multi-bucket-spanning
    intervals matched exactly once, overlapping intervals yield one row
    each, non-contained rows drop."""
    from pimbloomfilters_spark.operators.joins import range_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 7200), (3, "u", 9999), (4, "v", 100)],
        "event_id long, user string, ts long")
    right = spark.createDataFrame(
        [(10, "u", 50, 8000),     # spans 3 buckets at B=3600; holds 1 and 2
         (11, "u", 7000, 7300),   # overlaps 10; holds 2
         (12, "v", 200, 300)],    # after v's event
        "iid long, user string, s long, e long")
    out = range_join(left, right, "ts", "s", "e", on="user",
                     bucket_seconds=3600)
    got = sorted((r["event_id"], r["range"]["iid"]) for r in out.collect())
    assert got == [(1, 10), (2, 10), (2, 11)]
    # boundary inclusivity
    edge = range_join(
        spark.createDataFrame([(9, "u", 8000)], "event_id long, user string, ts long"),
        right, "ts", "s", "e", on="user", bucket_seconds=3600)
    assert [(r["event_id"], r["range"]["iid"]) for r in edge.collect()] == [(9, 10)]


def test_asof_join_tolerance(spark):
    """merge_asof-style tolerance: a match older than left_ts - tolerance
    is nulled, on both the unsalted and salted plans; matches inside the
    window are untouched."""
    from pimbloomfilters_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 500), (3, "v", 100)],
        "event_id long, user string, ts long")
    right = spark.createDataFrame(
        [(10, "u", 90), (11, "u", 200), (12, "v", 5)],
        "rid long, user string, ts long")
    for salt in (None, 60):
        out = {r["event_id"]: r["asof"] for r in asof_join(
            left, right, on="user", tolerance_seconds=50,
            salt_bucket_seconds=salt).collect()}
        assert out[1]["rid"] == 10          # 100-90 <= 50: kept
        assert out[2] is None               # latest is 200; 500-200 > 50
        assert out[3] is None               # 100-5 > 50


def test_bucketed_tables_elide_join_and_agg_shuffle(spark, tmp_path_factory):
    """The write-once-shuffle-never lever: two tables bucketed on the same
    key join with ZERO Exchange (and, bucket-sorted, zero extra Sort on
    the probe side input); a groupBy on the bucket key also runs
    exchange-free. Results equal the plain-parquet plans."""
    from pimbloomfilters_spark.sources import read_bucketed, write_bucketed

    d = tmp_path_factory.mktemp("buckets")
    a = spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    b = spark.range(0, 20_000, 2).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
    write_bucketed(a, "bt_a", "k", 8, sort_col="k", path=str(d / "a"))
    write_bucketed(b, "bt_b", "k", 8, sort_col="k", path=str(d / "b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_bucketed(spark, "bt_a").join(read_bucketed(spark, "bt_b"), "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        assert j.count() == 10_000
        g = read_bucketed(spark, "bt_a").groupBy("k").agg(F.sum("v").alias("s"))
        assert "Exchange" not in _plan(g)
        assert g.count() == 20_000
        # parity with the unbucketed plan
        pj = a.join(b, "k").agg(F.sum(F.col("v") + F.col("w"))).collect()[0][0]
        bj = j.agg(F.sum(F.col("v") + F.col("w"))).collect()[0][0]
        assert pj == bj
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_rank_tails_take_ordered_not_global_window(spark, sf_dir):
    """Fixed-k ranking must compile to TakeOrderedAndProject (per-partition
    top-k + tiny merge) feeding the rank window — never a global
    Window.orderBy over the unbounded candidate table, which moves every
    row to ONE task (for bm25 with a common query token, candidates ~
    corpus). The window must sit ABOVE the TakeOrdered in the tree, i.e.
    it only ever sees k rows."""
    from pimbloomfilters_spark.functions.text import bm25_rank
    from pimbloomfilters_spark.plans.catalog import q_pmi_top_bigrams

    tok = tokens_exploded(spark, sf_dir)
    for df in (bm25_rank(tok, [3, 7, 11], top=5),
               q_pmi_top_bigrams(spark, sf_dir)):
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        # parent prints before child: Window must appear above TakeOrdered
        assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_vocab_table_dense_ids_match_global_window(spark, sf_dir):
    """The scalable range-partition + prefix-offset dense-id assignment must
    equal row_number() over (order by word) exactly (the DuckDB oracle
    contract), and its plan must not contain a partition-less window."""
    from pyspark.sql.window import Window

    from pimbloomfilters_spark.sources.tables import load_table, vocab_table

    got = {(r["word"], r["token_id"]) for r in
           vocab_table(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    ref = (docs.select(F.explode(F.split("text", " ")).alias("word")).distinct()
           .withColumn("token_id",
                       F.row_number().over(Window.orderBy("word")).cast("int")))
    assert got == {(r["word"], r["token_id"]) for r in ref.collect()}
    assert len(got) > 0


def test_exact_substr_global_plan_shape(spark):
    """The corpus-global ExactSubstr path must code the corpus ONCE (one
    MapInArrow subtree — representative + count are window aggregates
    over the code partition, not a groupBy + self-join that re-scans) and
    shuffle exactly twice: once on code, once on doc for the island
    merge. No join operator, no single-partition exchange, no
    unpartitioned window."""
    import re

    from pimbloomfilters_spark.functions.dedup import exact_substr_spans_global

    df = spark.createDataFrame(
        [(1, list(range(40))), (2, list(range(10, 30)))],
        "doc_id long, tokens array<int>")
    plan = _plan(exact_substr_spans_global(df, k=8))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert len(re.findall(r"MapInArrow", plan)) == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_exact_substr_spans_plan_shape(spark):
    """ExactSubstr compiles to exactly 3 hash exchanges — the two code
    self-join sides + ONE (doc_a, doc_b, diag) exchange that both the
    island window and the final span aggregate reuse — with no
    single-partition exchange and no unpartitioned window anywhere."""
    import re

    from pimbloomfilters_spark.functions.dedup import exact_substr_spans

    df = spark.createDataFrame(
        [(1, list(range(40))), (2, list(range(10, 30)))],
        "doc_id long, tokens array<int>")
    plan = _plan(exact_substr_spans(df, k=8))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "windowspecdefinition(doc_a" in plan  # partitioned window


def test_chunk_dedup_plan_shape(spark):
    """chunk_dedup stays entirely JVM-side (no Python eval node) and
    shuffles exactly twice: once on chunk CONTENT for the global
    first-occurrence window, once on the doc id for reassembly. No
    single-partition exchange, no join."""
    import re

    from pimbloomfilters_spark.functions.dedup import chunk_dedup

    df = spark.createDataFrame([(1, "a b c d e f"), (2, "a b c")],
                               "doc_id long, text string")
    plan = _plan(chunk_dedup(df, chunk_words=2))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInArrow" not in plan and "FlatMapGroupsInPandas" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan


def test_driver_contract_lists_catalog_in_registration_order():
    import __spark_entry__ as entry
    from pimbloomfilters_spark.plans import CATALOG

    names = list(entry.queries())
    assert names == list(CATALOG)  # each name once, in registration order
    assert set(entry.oracle_sql()) <= set(names)
    assert callable(entry.entry)
