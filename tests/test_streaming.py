"""Structured Streaming: streamed sketch == batch sketch; windowed HLL."""

import functools

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pimbloomfilters_spark.operators import build_sketch
from pimbloomfilters_spark.sketches import make_sketch
from pimbloomfilters_spark.sources import generate_token_sequences
from pimbloomfilters_spark.sources.synthetic import TOKEN_SCHEMA
from pimbloomfilters_spark.streaming import get_stream_sketch, sketch_stream_query


def test_stream_fold_equals_batch(spark, tmp_path_factory):
    data_dir = str(tmp_path_factory.mktemp("stream_in"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    toks = generate_token_sequences(spark, 800, num_partitions=4)
    toks.write.mode("overwrite").parquet(data_dir)

    batch_df = spark.read.parquet(data_dir)
    bloom = functools.partial(make_sketch, "bloom", size2=20, nb_hash=8)
    expected, _ = build_sketch(batch_df, "tokens", bloom)

    stream_df = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(data_dir)
    )
    q = sketch_stream_query(stream_df, "tokens", bloom, "t_bloom", ckpt)
    q.awaitTermination(120)
    sk = get_stream_sketch("t_bloom")
    assert sk is not None
    assert sk.payload() == expected.payload()


def test_stream_resume_after_restart(spark, tmp_path_factory):
    """Driver restart must not lose the running sketch: offsets are durably
    committed by Structured Streaming, so the sketch is snapshotted per batch
    and reloaded — the resumed stream's final sketch equals a batch build
    over ALL the data, including batches processed before the 'crash'."""
    from pimbloomfilters_spark.streaming import stream_build

    data_dir = str(tmp_path_factory.mktemp("rs_in"))
    ckpt = str(tmp_path_factory.mktemp("rs_ckpt"))
    bloom = functools.partial(make_sketch, "bloom", size2=20, nb_hash=8)

    first = generate_token_sequences(spark, 400, num_partitions=2)
    first.write.mode("append").parquet(data_dir)
    schema = spark.read.parquet(data_dir).schema

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(data_dir)
        )
        q = sketch_stream_query(stream, "tokens", bloom, "t_resume", ckpt)
        q.awaitTermination(120)

    _run()
    # simulate a driver restart: in-memory state gone, checkpoint + snapshots remain
    stream_build._QUERIES.pop("t_resume", None)
    second = generate_token_sequences(spark, 400, num_partitions=2, start_id=400)
    second.write.mode("append").parquet(data_dir)
    _run()

    expected, _ = build_sketch(spark.read.parquet(data_dir), "tokens", bloom)
    got = get_stream_sketch("t_resume")
    assert got is not None and got.payload() == expected.payload()


def test_windowed_distinct_stream(spark, sf_dir, tmp_path_factory):
    from pimbloomfilters_spark.streaming import windowed_distinct_stream

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    data_dir = str(tmp_path_factory.mktemp("ev_in"))
    events.write.mode("overwrite").parquet(data_dir)

    stream = spark.readStream.schema(events.schema).parquet(data_dir)
    out = windowed_distinct_stream(stream, "ts", "user_id", window="1 hour",
                                  watermark="2 hours", hll_p=12)
    q = (
        out.writeStream.format("memory").queryName("win_hll")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        r["window_start"]: r["estimate"]
        for r in spark.sql("select * from win_hll").collect()
    }
    assert got, "no windows emitted"
    exact = {
        r["w"]: r["d"]
        for r in events.select(
            F.window("ts", "1 hour").getField("start").alias("w"), "user_id"
        ).groupBy("w").agg(F.countDistinct("user_id").alias("d")).collect()
    }
    # every exact window estimated within HLL bound (p=12 -> ~1.6% rse, 4 sigma)
    for w, d in exact.items():
        assert w in got
        assert abs(got[w] - d) <= max(4 * 1.04 / (2**12) ** 0.5 * d, 3), (w, got[w], d)


def test_dedup_stream(spark, tmp_path_factory):
    """Streaming bloom dedup: duplicated keys across micro-batches are
    dropped; first occurrences survive (FPR sized to ~0 for the key count)."""
    from pimbloomfilters_spark.streaming.stream_build import dedup_stream_query

    data_dir = str(tmp_path_factory.mktemp("dd_in"))
    out_dir = str(tmp_path_factory.mktemp("dd_out")) + "/result"
    ckpt = str(tmp_path_factory.mktemp("dd_ckpt"))
    # 3 files, each with keys 0..999 plus a disjoint fresh range
    for i in range(3):
        spark.range(0, 1000).union(
            spark.range(10_000 + i * 1000, 10_000 + (i + 1) * 1000)
        ).coalesce(1).write.mode("append").parquet(data_dir)

    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1).parquet(data_dir)
    )
    q = dedup_stream_query(stream, "id", out_dir, ckpt, size2=24)
    q.awaitTermination(180)
    got = spark.read.parquet(out_dir)
    # 1000 shared keys kept exactly once + 3x1000 fresh keys
    assert got.count() == 4000
    assert got.select("id").distinct().count() == 4000


def test_sharded_dedup_stream(spark, tmp_path_factory):
    """Executor-side sharded Bloom dedup: cross-batch duplicates dropped via
    state-store bitmaps (no driver filter, no per-batch re-ship); output ==
    exact first-occurrence key set (FPR ~0 at this sizing); restart resumes
    from the transactional state store."""
    from pimbloomfilters_spark.streaming import sharded_dedup_stream

    data_dir = str(tmp_path_factory.mktemp("sd_in"))
    out_dir = str(tmp_path_factory.mktemp("sd_out")) + "/result"
    ckpt = str(tmp_path_factory.mktemp("sd_ckpt"))
    for i in range(3):
        spark.range(0, 1000).union(
            spark.range(10_000 + i * 1000, 10_000 + (i + 1) * 1000)
        ).coalesce(1).write.mode("append").parquet(data_dir)

    def _run():
        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1).parquet(data_dir)
        )
        q = (
            sharded_dedup_stream(stream, "id", size2=24, n_shards=16)
            .writeStream.format("parquet").option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    _run()
    got = spark.read.parquet(out_dir)
    assert got.count() == 4000
    assert got.select("id").distinct().count() == 4000

    # restart with NEW data containing only already-seen keys + one fresh range
    spark.range(0, 1000).union(spark.range(20_000, 21_000)) \
        .coalesce(1).write.mode("append").parquet(data_dir)
    _run()
    got = spark.read.parquet(out_dir)
    assert got.count() == 5000, "state must survive the restart"
    assert got.select("id").distinct().count() == 5000


def test_windowed_heavy_hitters_stream(spark, tmp_path_factory):
    """Streaming MG heavy hitters: a planted skew (3 hot keys) must surface
    in every window's top list, with under-estimates within n/(k+1)."""
    from pimbloomfilters_spark.streaming import windowed_heavy_hitters_stream

    data_dir = str(tmp_path_factory.mktemp("hh_in"))
    # one hour of events: ids 0..2 hot (100x), 1000 cold ids
    rows = []
    for m in range(60):
        ts = f"2024-01-01 10:{m:02d}:00"
        rows += [(ts, h) for h in (0, 1, 2) for _ in range(20)]
        rows += [(ts, 100 + (m * 97 + j) % 1000) for j in range(30)]
    spark.createDataFrame(rows, "ts string, user_id long") \
        .coalesce(2).write.mode("overwrite").parquet(data_dir)

    stream = spark.readStream.schema("ts string, user_id long").parquet(data_dir)
    out = windowed_heavy_hitters_stream(
        stream, "ts", "user_id", window="30 minutes", watermark="1 hour", k=64
    )
    q = (
        out.writeStream.format("memory").queryName("win_hh")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from win_hh").collect()
    assert got
    by_window: dict = {}
    for r in got:
        by_window.setdefault(r["window_start"], {})[r["item"]] = (
            r["est_count"], r["n_rows"])
    # per window: each hot key appears 20x per minute x 30 min = 600
    for w, items in by_window.items():
        for hot in (0, 1, 2):
            assert hot in items, (w, sorted(items))
            est, n = items[hot]
            assert est <= 600
            assert 600 - est <= n / (64 + 1) + 1e-9


def test_stream_probe_against_static_filter(spark, tmp_path_factory):
    """Ingestion-time membership filtering: a STREAM probed against a
    prebuilt static Bloom filter with the same probe_key_column used in
    batch — the sketch ships once at plan time (addFile), NOT per batch.
    Rows matching an allowlist pass; unseen keys are dropped exactly
    (verified zero FP at this geometry for this key range)."""
    from pimbloomfilters_spark.operators import build_sketch, probe_key_column
    from pimbloomfilters_spark.sketches import make_sketch

    allow = spark.range(0, 5000)  # allowlist: keys 0..4999
    bf, _ = build_sketch(allow, "id",
                         functools.partial(make_sketch, "bloom", size2=24, nb_hash=8))

    data_dir = str(tmp_path_factory.mktemp("sp_in"))
    out_dir = str(tmp_path_factory.mktemp("sp_out")) + "/result"
    ckpt = str(tmp_path_factory.mktemp("sp_ckpt"))
    for i in range(3):  # interleave allowed + disallowed key ranges
        spark.range(i * 2000, i * 2000 + 1000).union(
            spark.range(100_000 + i * 1000, 100_000 + (i + 1) * 1000)
        ).coalesce(1).write.mode("append").parquet(data_dir)

    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1).parquet(data_dir)
    )
    q = (
        probe_key_column(stream, bf, "id").filter(F.col("member")).drop("member")
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["id"] for r in spark.read.parquet(out_dir).collect()}
    expect = set(range(0, 1000)) | set(range(2000, 3000)) | set(range(4000, 5000))
    assert got == expect


def test_sharded_dedup_stream_int32_keys(spark, tmp_path_factory):
    """int32 key columns must route correctly: JVM xxhash64 of an INT hashes
    4 bytes while the numpy bitmap math hashes the 8-byte value — without the
    cast-to-long a key lands in the wrong shard's state (IndexError or
    silently dropped rows). Output == exact first-occurrence set."""
    from pimbloomfilters_spark.streaming import sharded_dedup_stream

    data_dir = str(tmp_path_factory.mktemp("sdi_in"))
    out_dir = str(tmp_path_factory.mktemp("sdi_out")) + "/result"
    ckpt = str(tmp_path_factory.mktemp("sdi_ckpt"))
    for i in range(2):
        (spark.range(0, 2000).union(spark.range(5000 + i * 1000,
                                                5000 + (i + 1) * 1000))
         .select(F.col("id").cast("int").alias("k"))
         .coalesce(1).write.mode("append").parquet(data_dir))
    stream = (spark.readStream.schema("k int")
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    q = (sharded_dedup_stream(stream, "k", size2=24, n_shards=16)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.read.parquet(out_dir)
    assert got.count() == 4000
    assert got.select("k").distinct().count() == 4000
    assert dict(got.dtypes)["k"] == "bigint"  # normalized to long


def test_sharded_dedup_stream_ttl_readmits(spark, tmp_path_factory):
    """Rotating-generation TTL: a key is deduped within the TTL window but
    re-admitted once both generations covering it have been dropped
    (> 2*ttl later). Without TTL the same key stays dropped forever."""
    import time as _time

    from pimbloomfilters_spark.streaming import sharded_dedup_stream

    data_dir = str(tmp_path_factory.mktemp("ttl_in"))
    out_dir = str(tmp_path_factory.mktemp("ttl_out")) + "/result"
    ckpt = str(tmp_path_factory.mktemp("ttl_ckpt"))
    ttl_ms = 12_000  # >> inter-batch latency, so "within TTL" is not racy

    def _count():
        try:
            return spark.read.parquet(out_dir).count()
        except Exception:  # sink not yet created
            return -1

    def _run(expect):
        # a ProcessingTimeTimeout query keeps scheduling timer batches, so it
        # never goes idle (processAllAvailable blocks forever, availableNow
        # never self-terminates) — poll the sink to the expected count with a
        # deadline, then stop. Committed parquet parts are readable mid-run.
        stream = (spark.readStream.schema("id long")
                  .option("maxFilesPerTrigger", 1).parquet(data_dir))
        q = (sharded_dedup_stream(stream, "id", size2=22, n_shards=8,
                                  ttl_ms=ttl_ms)
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(processingTime="1 second").start())
        deadline = _time.time() + 90
        while _time.time() < deadline and _count() != expect:
            _time.sleep(1.0)
        # give a possible over-count a chance to materialize, then settle
        _time.sleep(3.0)
        q.stop()
        q.awaitTermination(60)

    keys = spark.range(0, 500)
    # two identical files -> two micro-batches well inside one TTL window:
    # batch 1 inserts, batch 2 is fully deduped
    keys.coalesce(1).write.mode("append").parquet(data_dir)
    keys.coalesce(1).write.mode("append").parquet(data_dir)
    _run(500)
    got = spark.read.parquet(out_dir)
    assert got.count() == 500, "dup within TTL leaked"

    # past 2*TTL: both generations stale -> keys re-admitted
    _time.sleep(2 * ttl_ms / 1000 + 1.0)
    keys.coalesce(1).write.mode("append").parquet(data_dir)
    _run(1000)
    got = spark.read.parquet(out_dir)
    assert got.count() == 1000, "key not re-admitted after TTL"
    assert got.distinct().count() == 500


def test_windowed_quantiles_stream(spark, tmp_path_factory):
    """Streaming per-window quantiles: a planted distribution (uniform
    0..999 per 30-min window) must report p50/p95 within KLL's rank-error
    band in every window."""
    from pimbloomfilters_spark.streaming import windowed_quantiles_stream

    data_dir = str(tmp_path_factory.mktemp("qt_in"))
    rows = []
    for m in range(60):
        ts = f"2024-01-01 10:{m:02d}:00"
        rows += [(ts, float((m * 97 + j) % 1000)) for j in range(50)]
    spark.createDataFrame(rows, "ts string, v double") \
        .coalesce(2).write.mode("overwrite").parquet(data_dir)

    stream = spark.readStream.schema("ts string, v double").parquet(data_dir)
    out = windowed_quantiles_stream(
        stream, "ts", "v", window="30 minutes", watermark="1 hour", kll_k=200)
    q = (out.writeStream.format("memory").queryName("qt_stream")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    res = spark.sql(
        "select window_start, max(n_rows) n, max_by(p50, n_rows) p50, "
        "max_by(p95, n_rows) p95 from qt_stream group by 1").collect()
    assert len(res) == 2  # two 30-minute windows
    for r in res:
        assert r["n"] == 1500
        # uniform 0..999: p50 ~ 500, p95 ~ 950; KLL k=200 band ~ 1.5% + slack
        assert abs(r["p50"] - 500) <= 60, r
        assert abs(r["p95"] - 950) <= 60, r


def test_dedup_stream_ttl_readmits_across_restart(spark, tmp_path_factory):
    """foreachBatch dedup with rotating-generation TTL: duplicates inside the
    TTL window are dropped — including across a query RESTART (the sidecar
    snapshot restores the previous generation and rotation clock) — and a
    key past 2*ttl is re-admitted."""
    import time as _time

    from pimbloomfilters_spark.streaming.stream_build import dedup_stream_query

    data_dir = str(tmp_path_factory.mktemp("fbt_in"))
    out_dir = str(tmp_path_factory.mktemp("fbt_out")) + "/result"
    ckpt = str(tmp_path_factory.mktemp("fbt_ckpt"))
    ttl_ms = 8_000

    def _run():
        stream = (spark.readStream.schema("id long")
                  .option("maxFilesPerTrigger", 1).parquet(data_dir))
        q = dedup_stream_query(stream, "id", out_dir, ckpt, size2=22,
                               name="fb_ttl_dedup", ttl_ms=ttl_ms)
        q.awaitTermination(120)

    keys = spark.range(0, 500)
    keys.coalesce(1).write.mode("append").parquet(data_dir)
    keys.coalesce(1).write.mode("append").parquet(data_dir)
    _run()
    assert spark.read.parquet(out_dir).count() == 500, "dup within TTL leaked"

    # RESTART within the TTL window: remembered state must survive
    keys.coalesce(1).write.mode("append").parquet(data_dir)
    _run()
    assert spark.read.parquet(out_dir).count() == 500, \
        "restart forgot keys inside TTL"

    # past 2*TTL: both generations stale -> keys re-admitted on restart
    _time.sleep(2 * ttl_ms / 1000 + 1.0)
    keys.coalesce(1).write.mode("append").parquet(data_dir)
    _run()
    got = spark.read.parquet(out_dir)
    assert got.count() == 1000, "key not re-admitted after TTL"
    assert got.distinct().count() == 500


def test_windowed_distinct_stream_sliding(spark, sf_dir, tmp_path_factory):
    """Sliding windows: with window=2h slide=1h every event lands in TWO
    windows, and each window's distinct estimate matches the batch
    computation over the same sliding windows."""
    from pimbloomfilters_spark.streaming import windowed_distinct_stream

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    data_dir = str(tmp_path_factory.mktemp("evs_in"))
    events.write.mode("overwrite").parquet(data_dir)

    stream = spark.readStream.schema(events.schema).parquet(data_dir)
    out = windowed_distinct_stream(stream, "ts", "user_id", window="2 hours",
                                   watermark="4 hours", slide="1 hour",
                                   hll_p=12)
    q = (out.writeStream.format("memory").queryName("win_hll_slide")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {r["window_start"]: r["estimate"]
           for r in spark.sql("select * from win_hll_slide").collect()}
    exact = {
        r["w"]: r["d"]
        for r in events.select(
            F.window("ts", "2 hours", "1 hour").getField("start").alias("w"),
            "user_id",
        ).groupBy("w").agg(F.countDistinct("user_id").alias("d")).collect()
    }
    assert got and set(exact) == set(got)
    # sliding windows must outnumber the tumbling 2h partition of the range
    assert len(exact) >= 2 * ((len(exact) + 1) // 2)
    for w, d in exact.items():
        assert abs(got[w] - d) <= max(4 * 1.04 / (2**12) ** 0.5 * d, 3), \
            (w, got[w], d)


def test_session_stream_matches_batch_sessions(spark, tmp_path_factory):
    """Streaming gap sessionization == batch window sessionization for every
    session the watermark has closed: sessions split at gaps > 30min, event
    counts and boundaries exact."""
    import datetime as dt

    from pyspark.sql import Window

    from pimbloomfilters_spark.streaming import session_stream

    base = dt.datetime(2025, 1, 1, 8, 0, 0)
    rows = []
    for u in range(5):
        t = base + dt.timedelta(minutes=3 * u)
        for s in range(3):            # 3 sessions per user
            for e in range(4):        # 4 events, 10 min apart (no split)
                rows.append((u, t))
                t += dt.timedelta(minutes=10)
            t += dt.timedelta(minutes=50)  # gap > 30min closes the session
    # NULL-user events are one more user: one session of 3 events, grouped
    # under user_id NULL as PARTITION BY groups them in batch
    for e in range(3):
        rows.append((None, base + dt.timedelta(minutes=7 * e)))
    # sentinel far in the future so the watermark passes every real session
    rows.append((999, base + dt.timedelta(days=30)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sentinel = F.col("user_id").eqNullSafe(999)
    data_dir = str(tmp_path_factory.mktemp("sess_in"))
    # two files -> two micro-batches; the watermark advances between them
    df.filter(~sentinel).coalesce(1).write.mode("append").parquet(data_dir)
    df.filter(sentinel).coalesce(1).write.mode("append").parquet(data_dir)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    out = session_stream(stream, "ts", "user_id", gap="30 minutes",
                         watermark="1 minute")
    q = (out.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.sql("select * from sess_out").collect()}

    w = Window.partitionBy("user_id").orderBy("ts")
    batch = (
        df.filter(~sentinel)
        .withColumn("prev", F.lag("ts").over(w))
        .withColumn("new_sess", (F.col("prev").isNull()) | (
            F.col("ts").cast("long") - F.col("prev").cast("long") > 1800))
        .withColumn("sess_id", F.sum(F.col("new_sess").cast("int")).over(w))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"),
             F.count("*").alias("n_events"))
    )
    expect = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
              for r in batch.collect()}
    assert got == expect and len(expect) == 16
    assert (None, base, base + dt.timedelta(minutes=14), 3) in got


def test_session_stream_late_event_extends_start(spark, tmp_path_factory):
    """A within-watermark late event OLDER than the open session's stored
    start must pull session_start backward — the emitted start can never
    post-date the earliest counted event."""
    import datetime as dt

    from pimbloomfilters_spark.streaming import session_stream

    base = dt.datetime(2025, 3, 1, 9, 0, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    data_dir = str(tmp_path_factory.mktemp("sess_late"))
    files = [
        # user 1: late event WITHIN gap of the open session -> joins it.
        # user 2: late event MORE than gap older -> its own earlier
        #         session (the batch gap rule), emitted closed at once.
        [(1, m(10)), (1, m(20)), (2, m(100)), (2, m(110))],
        [(1, m(5)), (2, m(40))],    # batch 2: the late arrivals
        [(999, m(60 * 24 * 30))],   # batch 3: sentinel closes via timeout
    ]
    for batch in files:
        spark.createDataFrame(batch, "user_id long, ts timestamp") \
            .coalesce(1).write.mode("append").parquet(data_dir)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    out = session_stream(stream, "ts", "user_id", gap="30 minutes",
                         watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("sess_late_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {u: sorted((r["session_start"], r["session_end"], r["n_events"])
                     for r in spark.sql(
                         f"select * from sess_late_out where user_id = {u}"
                     ).collect())
           for u in (1, 2)}
    assert got[1] == [(m(5), m(20), 3)]
    assert got[2] == [(m(40), m(40), 1), (m(100), m(110), 2)]


def test_screen_stream_matches_batch(spark, tmp_path_factory):
    """Streaming n-gram benchmark screening == the batch decontaminate
    counts for the same docs, across multiple micro-batches (stateless, so
    parity must be exact row-for-row)."""
    import functools

    from pimbloomfilters_spark.functions.dedup import (
        token_ngram_codes, token_ngram_decontaminate)
    from pimbloomfilters_spark.operators.build import build_sketch
    from pimbloomfilters_spark.sketches import make_sketch
    from pimbloomfilters_spark.streaming import screen_stream

    bench_toks = [(i * 5 + 1) % 89 + 1 for i in range(30)]
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    test_df = spark.createDataFrame(
        [("b0", bench_toks, len(bench_toks), "bench")], schema)
    train_rows = [
        (f"t{i}",
         [300 + (i * 13 + j) % 200 for j in range(25)]
         + (bench_toks[5:5 + 14] if i % 3 == 0 else []),
         0, "train")
        for i in range(40)
    ]
    train_rows = [(d, ts, len(ts), s) for d, ts, _, s in train_rows]
    train_df = spark.createDataFrame(train_rows, schema)
    expect = {r["doc_id"]: (r["n_ngrams"], r["n_matched"], r["contaminated"])
              for r in token_ngram_decontaminate(train_df, test_df, n=13).collect()}

    sk, _ = build_sketch(token_ngram_codes(test_df, 13).select("code"),
                         "code", functools.partial(make_sketch, "bloom",
                                                   size2=24, nb_hash=8))
    data_dir = str(tmp_path_factory.mktemp("screen_in"))
    for lo in (0, 20):  # two files -> two micro-batches
        spark.createDataFrame(train_rows[lo:lo + 20], schema) \
            .coalesce(1).write.mode("append").parquet(data_dir)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    out = screen_stream(stream, sk, n=13)
    q = (out.writeStream.format("memory").queryName("screen_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: (r["n_ngrams"], r["n_matched"], r["contaminated"])
           for r in spark.sql("select * from screen_out").collect()}
    assert got == expect
    assert any(m for _, m, _ in got.values())  # planted overlap was found


def test_stream_interval_join_matches_batch(spark, tmp_path_factory):
    """Watermarked stream-stream attribution join == the batch interval
    join for every pair the watermark has passed, across micro-batches."""
    import datetime as dt

    from pimbloomfilters_spark.streaming import stream_interval_join

    base = dt.datetime(2025, 6, 1, 12, 0, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    l_rows = [(u, 100 + i, m(10 * i + 5)) for u in (1, 2) for i in range(4)]
    r_rows = [(u, 500 + j, m(7 * j)) for u in (1, 2, 3) for j in range(5)]
    far = dt.timedelta(days=30)
    ldir = str(tmp_path_factory.mktemp("sij_l"))
    rdir = str(tmp_path_factory.mktemp("sij_r"))
    lschema = "user_id long, purchase_id long, ts timestamp"
    rschema = "user_id long, view_id long, ts timestamp"
    for lo in (0, 4):
        spark.createDataFrame(l_rows[lo:lo + 4], lschema) \
            .coalesce(1).write.mode("append").parquet(ldir)
    spark.createDataFrame([(99, 999, base + far)], lschema) \
        .coalesce(1).write.mode("append").parquet(ldir)  # advance watermark
    spark.createDataFrame(r_rows, rschema).coalesce(1) \
        .write.mode("append").parquet(rdir)
    spark.createDataFrame([(99, 998, base + far)], rschema) \
        .coalesce(1).write.mode("append").parquet(rdir)

    ls = (spark.readStream.schema(lschema)
          .option("maxFilesPerTrigger", 1).parquet(ldir))
    rs = (spark.readStream.schema(rschema)
          .option("maxFilesPerTrigger", 1).parquet(rdir))
    out = stream_interval_join(ls, rs, on="user_id", left_ts="ts",
                               right_ts="ts", lookback="15 minutes",
                               watermark="1 minute")
    q = (out.writeStream.format("memory").queryName("sij_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["left_row"]["purchase_id"],
            r["right_row"]["view_id"])
           for r in spark.sql("select * from sij_out").collect()
           if r["user_id"] != 99}
    expect = {(u, p, v)
              for (u, p, lt) in l_rows for (u2, v, rt) in r_rows
              if u == u2 and rt <= lt and rt > lt - dt.timedelta(minutes=15)}
    assert got == expect and expect


def test_profile_stream_matches_batch_and_restarts(spark, tmp_path_factory):
    """The running stream profile over all micro-batches equals the batch
    profile of everything (bit-equal ndv: HLL merge is deterministic), and
    a restarted query with no new data replays nothing and keeps it."""
    from pyspark.sql import functions as F

    from pimbloomfilters_spark.operators.profile import profile_table
    from pimbloomfilters_spark.streaming import (
        get_stream_profile, profile_stream_query)

    data_dir = str(tmp_path_factory.mktemp("prof_in"))
    ckpt = str(tmp_path_factory.mktemp("prof_ck"))
    full = spark.range(6_000).select(
        F.col("id"),
        F.when(F.col("id") % 3 != 0, F.col("id") % 250).alias("v"))
    for lo in (0, 2000, 4000):
        full.filter((F.col("id") >= lo) & (F.col("id") < lo + 2000)) \
            .coalesce(1).write.mode("append").parquet(data_dir)

    stream = (spark.readStream.schema("id long, v long")
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    q = profile_stream_query(stream, "prof_q", ckpt)
    q.awaitTermination(120)
    got = get_stream_profile("prof_q")
    expect = {r["column"]: r for r in profile_table(full).collect()}
    for c in ("id", "v"):
        assert got[c]["n_rows"] == expect[c]["n_rows"] == 6_000
        assert got[c]["n_nulls"] == expect[c]["n_nulls"]
        assert got[c]["ndv_est"] == expect[c]["ndv_est"]  # bit-equal
        # numeric stats stream through the incremental fold exactly
        assert got[c]["min"] == expect[c]["min_long"]
        assert got[c]["max"] == expect[c]["max_long"]
        assert str(got[c]["sum"]) == expect[c]["sum_str"]
        assert str(got[c]["sumsq"]) == expect[c]["sumsq_str"]

    # restart: same checkpoint, no new files -> snapshot reloads, nothing
    # re-merges, profile unchanged
    stream2 = (spark.readStream.schema("id long, v long")
               .option("maxFilesPerTrigger", 1).parquet(data_dir))
    q2 = profile_stream_query(stream2, "prof_q", ckpt)
    q2.awaitTermination(120)
    got2 = get_stream_profile("prof_q")
    assert got2 == got


def test_session_stream_late_bridge_merges_earlier_session(spark, tmp_path_factory):
    """A late event > gap older than the open session first forms its own
    earlier session; a LATER within-watermark event that lands between the
    two must BRIDGE them into one session (batch rule). Closed sessions
    therefore stay in state until the watermark passes end + gap — split
    or overlapping emissions would be wrong here."""
    import datetime as dt

    from pyspark.sql import Window

    from pimbloomfilters_spark.streaming import session_stream

    base = dt.datetime(2025, 4, 1, 9, 0, 0)
    m = lambda k: base + dt.timedelta(minutes=k)
    data_dir = str(tmp_path_factory.mktemp("sess_bridge"))
    files = [
        [(1, m(100)), (1, m(110))],       # open session [100, 110]
        [(1, m(40))],                     # late, > gap older -> own session
        [(1, m(65)), (1, m(92))],         # bridges 40 <-> 100 via 65+92
        [(999, m(60 * 24 * 30))],         # sentinel flushes via timeout
    ]
    for batch in files:
        spark.createDataFrame(batch, "user_id long, ts timestamp") \
            .coalesce(1).write.mode("append").parquet(data_dir)

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    out = session_stream(stream, "ts", "user_id", gap="30 minutes",
                         watermark="4 hours")
    q = (out.writeStream.format("memory").queryName("sess_bridge_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted((r["session_start"], r["session_end"], r["n_events"])
                 for r in spark.sql(
                     "select * from sess_bridge_out where user_id = 1"
                 ).collect())
    # batch sessionization over {40, 65, 92, 100, 110}, gap 30:
    # consecutive deltas 25/27/8/10 -> ONE session
    assert got == [(m(40), m(110), 5)]


def test_stream_query_name_kind_guard(spark, tmp_path_factory):
    """Reusing one query name across kinds would cross-contaminate the
    shared replay-skip watermark; it must raise instead."""
    import functools

    import pytest as _pt

    from pimbloomfilters_spark.sketches import make_sketch
    from pimbloomfilters_spark.streaming import (
        profile_stream_query, sketch_stream_query)

    data_dir = str(tmp_path_factory.mktemp("kind_in"))
    ck1 = str(tmp_path_factory.mktemp("kind_ck1"))
    spark.range(10).withColumnRenamed("id", "k").coalesce(1) \
        .write.mode("append").parquet(data_dir)
    stream = spark.readStream.schema("k long").parquet(data_dir)
    q = sketch_stream_query(
        stream, "k", functools.partial(make_sketch, "bloom", size2=20,
                                       nb_hash=4),
        name="kindguard", checkpoint_dir=ck1)
    q.awaitTermination(60)
    with _pt.raises(ValueError, match="already belongs to a sketch"):
        profile_stream_query(
            spark.readStream.schema("k long").parquet(data_dir),
            name="kindguard",
            checkpoint_dir=str(tmp_path_factory.mktemp("kind_ck2")))


def test_profile_blob_roundtrip_and_legacy_refused():
    """v2 snapshots round-trip stats bit-exactly; headerless (pre-v2)
    blobs are REFUSED with an actionable error — sniffing two legacy
    layouts by try-parse could silently load a corrupted profile on a
    length coincidence, and those snapshots only ever lived in tmp
    checkpoints."""
    import struct

    import pytest as _pt

    from pimbloomfilters_spark.sketches import make_sketch
    from pimbloomfilters_spark.streaming.stream_build import (
        _profile_blob, _profile_from_blob)

    sk = make_sketch("hll", p=12)
    import numpy as np
    sk.insert_bulk(np.arange(100, dtype=np.int64))
    prof = {"a": [10, 2, sk, ["i", -5, 9, 40, 1234567890123456789012]],
            "b": [10, 0, None, None]}
    got = _profile_from_blob(_profile_blob(prof))
    assert got["a"][:2] == [10, 2] and got["a"][3] == prof["a"][3]
    assert got["a"][2].to_bytes() == sk.to_bytes()
    assert got["b"] == [10, 0, None, None]
    # a headerless v0-style blob: <q n_cols, then <qqqq records, no stats
    pb = sk.to_bytes()
    legacy = (struct.pack("<q", 1)
              + struct.pack("<qqqq", 1, 7, 3, len(pb)) + b"c" + pb)
    with _pt.raises(ValueError, match="profile_"):
        _profile_from_blob(legacy)


def test_sample_stream_equals_batch_and_restarts(spark, tmp_path_factory):
    """Streamed bottom-k sample == batch uniform_sample over everything
    seen, across micro-batch boundaries AND a driver restart (snapshot
    reload + replay skip)."""
    from pimbloomfilters_spark.operators.sampling import uniform_sample
    from pimbloomfilters_spark.streaming import (
        sample_stream_query, stream_sample_rows)
    from pimbloomfilters_spark.streaming import stream_build

    data_dir = str(tmp_path_factory.mktemp("samp_in"))
    ckpt = str(tmp_path_factory.mktemp("samp_ckpt"))
    first = spark.range(0, 1500).withColumn(
        "src", (F.col("id") % 3).cast("string"))
    first.repartition(3).write.mode("append").parquet(data_dir)
    schema = spark.read.parquet(data_dir).schema

    def _run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(data_dir))
        q = sample_stream_query(stream, "id", 40, "t_sample", ckpt)
        q.awaitTermination(120)

    _run()
    batch1 = uniform_sample(spark.read.parquet(data_dir), 40, "id")
    got1 = stream_sample_rows(spark, "t_sample")
    assert sorted(r["id"] for r in got1.collect()) == \
        sorted(r["id"] for r in batch1.collect())

    # driver restart: wipe in-memory state, append more data, rerun
    stream_build._QUERIES.pop("t_sample", None)
    spark.range(5000, 6500).withColumn(
        "src", (F.col("id") % 3).cast("string")
    ).repartition(3).write.mode("append").parquet(data_dir)
    _run()

    batch2 = uniform_sample(spark.read.parquet(data_dir), 40, "id")
    got2 = stream_sample_rows(spark, "t_sample")
    assert sorted(r["id"] for r in got2.collect()) == \
        sorted(r["id"] for r in batch2.collect())
    # schema passes through (sample rows keep all stream columns)
    assert set(got2.columns) == {"id", "src"}
    with pytest.raises(KeyError):
        stream_sample_rows(spark, "no_such_sample")


def test_windowed_streams_drop_null_keys(spark, tmp_path_factory):
    """NULL keys are no item and no distinct value: heavy hitters never
    report int64-min (pandas reads a nullable long column as float64 and
    NaN casts to -2^63), HLL does not count NULL as one more value, and
    n_rows counts only keyed rows — as the batch build, which drops NULLs.
    For quantiles NULL, NaN, +inf and -inf are no value: they never reach
    the KLL (NaN would sort to the top of its buffers), n_rows counts only
    the finite values, and p50/p95 are those of the finite-only input."""
    from pimbloomfilters_spark.sketches import KLLSketch
    from pimbloomfilters_spark.streaming import (
        windowed_distinct_stream, windowed_heavy_hitters_stream,
        windowed_quantiles_stream)

    data_dir = str(tmp_path_factory.mktemp("null_in"))
    special = (None, float("nan"), float("inf"), float("-inf"))
    rows = [(f"2024-01-01 10:{i % 60:02d}:00", None if i % 3 == 0 else i % 5,
             special[i // 2 % 4] if i % 2 == 0 else float(i * 7 % 101))
            for i in range(300)]
    schema = "ts string, user_id long, v double"
    spark.createDataFrame(rows, schema) \
        .coalesce(1).write.mode("overwrite").parquet(data_dir)
    src = spark.read.parquet(data_dir)
    n_keyed = src.filter("user_id IS NOT NULL").count()
    exact = src.agg(F.countDistinct("user_id")).first()[0]
    assert (n_keyed, exact) == (200, 5)
    finite = np.array([v for *_, v in rows if v is not None
                       and np.isfinite(v)])
    assert finite.size == 150  # < kll_k: the KLL is exact
    kll = KLLSketch(k=200)
    kll.insert_bulk(finite)

    def _drain(out, sink):
        q = (out.writeStream.format("memory").queryName(sink)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(180)
        return spark.sql(f"select * from {sink}").collect()

    stream = spark.readStream.schema(schema)
    hh = _drain(windowed_heavy_hitters_stream(
        stream.parquet(data_dir), "ts", "user_id", window="1 hour",
        watermark="1 hour"), "null_hh")
    assert hh and {r["item"] for r in hh} <= set(range(5)), hh
    assert max(r["n_rows"] for r in hh) == n_keyed

    hll = _drain(windowed_distinct_stream(
        stream.parquet(data_dir), "ts", "user_id", window="1 hour",
        watermark="1 hour", hll_p=12), "null_hll")
    last = max(hll, key=lambda r: r["n_rows"])
    assert last["n_rows"] == n_keyed
    assert abs(last["estimate"] - exact) <= 4 * 1.04 / (2**12) ** 0.5 * exact

    qt = _drain(windowed_quantiles_stream(
        stream.parquet(data_dir), "ts", "v", window="1 hour",
        watermark="1 hour", kll_k=200), "null_qt")
    last = max(qt, key=lambda r: r["n_rows"])
    assert last["n_rows"] == finite.size
    assert (last["p50"], last["p95"]) == (kll.quantile(0.5),
                                          kll.quantile(0.95))


def test_windowed_streams_drop_rows_behind_the_watermark(spark, tmp_path):
    """Out-of-order input across micro-batches: three files whose rows are
    spread over the same three hours, one file per trigger. Once the first
    batch moves the watermark, rows of the next files whose window closed
    behind it are late; they are dropped (no state, no row) and all three
    windowed streams run to the end instead of failing on a timeout set
    below the watermark."""
    from pimbloomfilters_spark.streaming import (
        windowed_distinct_stream, windowed_heavy_hitters_stream,
        windowed_quantiles_stream)

    data_dir = str(tmp_path / "in")
    rng = np.random.default_rng(7)
    schema = "ts string, user_id long, v double"
    for f in range(3):
        secs = rng.integers(0, 3 * 3600, 400)
        rows = [(f"2024-01-01 {10 + s // 3600:02d}:{s // 60 % 60:02d}:"
                 f"{s % 60:02d}", int(rng.integers(0, 20)), float(s % 97))
                for s in secs]
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(data_dir)

    def _drain(out, sink):
        q = (out.writeStream.format("memory").queryName(sink)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(180)
        assert q.exception() is None
        return spark.sql(f"select * from {sink}").collect()

    def _stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(data_dir))

    kw = dict(window="30 minutes", watermark="1 hour")
    hh = _drain(windowed_heavy_hitters_stream(
        _stream(), "ts", "user_id", **kw), "late_hh")
    hll = _drain(windowed_distinct_stream(
        _stream(), "ts", "user_id", **kw), "late_hll")
    qt = _drain(windowed_quantiles_stream(_stream(), "ts", "v", **kw),
                "late_qt")
    for out in (hh, hll, qt):
        assert out
        # a window's count never exceeds its rows over all three files
        assert max(r["n_rows"] for r in out) <= 3 * 400


def test_sharded_dedup_stream_state_is_batch_build(spark, tmp_path):
    """Two micro-batches through sharded_dedup_stream (no TTL) emit exactly
    the distinct non-NULL keys — NULLs dropped, 2^60 and 2^60+1 kept apart
    — and each shard's state-store bitmap is byte-identical to the batch
    sharded build over the same keys."""
    from pimbloomfilters_spark.operators.sharded import build_bloom_shards
    from pimbloomfilters_spark.streaming import sharded_dedup_stream

    big = 1 << 60
    cfg = dict(size2=16, nb_hash=4, n_shards=4)
    batches = [list(range(0, 300)) + [None] * 5 + [big, 7, 7],
               list(range(200, 500)) + [None] * 3 + [big + 1, big]]
    data_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    for keys in batches:
        spark.createDataFrame([(k,) for k in keys], "id long").coalesce(1) \
            .write.mode("append").parquet(data_dir)
    stream = (spark.readStream.schema("id long")
              .option("maxFilesPerTrigger", 1).parquet(data_dir))
    q = (sharded_dedup_stream(stream, "id", **cfg)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = sorted(r["id"] for r in spark.read.parquet(out_dir).collect())
    want = sorted({k for keys in batches for k in keys if k is not None})
    assert got == want and big + 1 in got

    state = {r["key"]["_shard"]: bytes(r["value"]["groupState"]["bitmap"])
             for r in spark.read.format("statestore").load(ckpt).collect()}
    batch = {r["shard"]: bytes(r["sketch"]) for r in build_bloom_shards(
        spark.read.parquet(data_dir), "id", **cfg).collect()}
    assert state == batch and len(state) == 4


_DAMAGE = ("truncate", "flip", "trailing", "empty", "unframed")


@settings(max_examples=60, deadline=None)
@given(older=st.binary(max_size=64), newest=st.binary(max_size=256),
       bid=st.integers(1, 10**9), how=st.sampled_from(_DAMAGE),
       where=st.integers(0, 1 << 16))
def test_snapshot_store_damaged_newest_raises(older, newest, bid, how, where):
    """A short, bit-flipped, over-long, empty or unframed newest snapshot
    raises ValueError naming the file and its batch id; load() never hands
    back the older, intact snapshot instead."""
    import os
    import tempfile

    from pimbloomfilters_spark.streaming._snapshot import SnapshotStore

    with tempfile.TemporaryDirectory() as ckpt:
        store = SnapshotStore(ckpt)
        assert store.load() == (None, -1)
        store.save(bid - 1, older)
        store.save(bid, newest)
        assert store.load() == (newest, bid)
        path = os.path.join(store.dir, f"batch_{bid:012d}.bin")
        with open(path, "rb") as fh:
            raw = fh.read()
        if how == "truncate":
            raw = raw[:where % len(raw)]
        elif how == "flip":
            i = where % (8 * len(raw))
            raw = bytearray(raw)
            raw[i // 8] ^= 1 << (i % 8)
            raw = bytes(raw)
        elif how == "trailing":
            raw += bytes([where & 0xFF]) * (1 + where % 9)
        elif how == "empty":
            raw = b""
        else:
            raw = newest
        with open(path, "wb") as fh:
            fh.write(raw)
        with pytest.raises(ValueError) as err:
            store.load()
        assert path in str(err.value) and f"batch {bid})" in str(err.value)
        assert "delete its whole checkpoint directory" in str(err.value)


def test_snapshot_store_keeps_two_newest(tmp_path):
    from pimbloomfilters_spark.streaming._snapshot import SnapshotStore

    store = SnapshotStore("file:" + str(tmp_path))
    for bid in range(5):
        store.save(bid, b"state %d" % bid)
    assert sorted(p.name for p in (tmp_path / "sketch_state").iterdir()) == \
        ["batch_000000000003.bin", "batch_000000000004.bin"]
    assert store.load() == (b"state 4", 4)


@pytest.mark.parametrize("kind", ["sketch", "dedup", "profile", "sample"])
def test_damaged_snapshot_refuses_every_query_kind(spark, tmp_path, kind):
    """Each foreachBatch query kind loads through the one store: a torn
    newest snapshot stops the query at start, naming file and batch."""
    from pimbloomfilters_spark.streaming import (
        dedup_stream_query, profile_stream_query, sample_stream_query)
    from pimbloomfilters_spark.streaming._snapshot import SnapshotStore

    ckpt = str(tmp_path / "ckpt")
    store = SnapshotStore(ckpt)
    store.save(6, b"x" * 40)
    store.save(7, b"y" * 40)
    path = tmp_path / "ckpt" / "sketch_state" / "batch_000000000007.bin"
    path.write_bytes(path.read_bytes()[:-4])
    (tmp_path / "in").mkdir()
    stream = spark.readStream.schema("id long").parquet(str(tmp_path / "in"))
    name = f"torn_{kind}"
    start = {
        "sketch": lambda: sketch_stream_query(
            stream, "id", functools.partial(make_sketch, "bloom", size2=16,
                                          nb_hash=4),
            name, ckpt),
        "dedup": lambda: dedup_stream_query(
            stream, "id", str(tmp_path / "out"), ckpt, size2=16, name=name),
        "profile": lambda: profile_stream_query(stream, name, ckpt),
        "sample": lambda: sample_stream_query(stream, "id", 5, name, ckpt),
    }[kind]
    with pytest.raises(ValueError, match=r"batch_000000000007\.bin \(batch 7\)"):
        start()


def test_truncated_sparse_bloom_snapshot_fails_restart(spark, tmp_path):
    """A sparse Bloom snapshot cut short by 4 bytes used to load as a
    different filter (one set bit gone: a false negative). The restart must
    refuse it instead of resuming from it or from the older snapshot."""
    data_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    bloom = functools.partial(make_sketch, "bloom", size2=24, nb_hash=4)
    for lo in (0, 50, 100):
        spark.range(lo, lo + 50).coalesce(1).write.mode("append") \
            .parquet(data_dir)

    def _run():
        stream = (spark.readStream.schema("id long")
                  .option("maxFilesPerTrigger", 1).parquet(data_dir))
        sketch_stream_query(stream, "id", bloom, "torn_sparse",
                            ckpt).awaitTermination(120)

    _run()
    sk = get_stream_sketch("torn_sparse")
    assert sk.get_weight() == 600 and sk.payload()[:1] == b"S"  # sparse
    snaps = sorted((tmp_path / "ckpt" / "sketch_state").glob("batch_*.bin"))
    newest = snaps[-1]
    newest.write_bytes(newest.read_bytes()[:-4])
    with pytest.raises(ValueError, match=newest.name):
        _run()


@pytest.mark.parametrize("gate", ["profile_stream_parity",
                                  "session_stream_parity",
                                  "sample_stream_parity", "checkpoint_resume"])
def test_gate_removes_its_temp_dirs(spark, sf_dir, tmp_path, monkeypatch,
                                    gate):
    """The gates that stage input or a checkpoint on disk return rows held
    in memory, so none of their files outlives the call."""
    import os
    import tempfile

    from pimbloomfilters_spark.plans import CATALOG

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert len(CATALOG[gate].fn(spark, sf_dir).toPandas())
    assert os.listdir(tmp_path) == []
