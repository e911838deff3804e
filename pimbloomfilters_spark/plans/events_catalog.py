"""Catalog entries over the events table (timestamps + user activity) and the
sampling operators — all oracle-exact."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import build_sketch_grouped
from ..operators.sampling import (epoch_shuffle, stratified_sample,
                                  uniform_sample, weighted_sample)
from ..sketches import make_sketch
from ..sources.tables import load_table
from .catalog import QuerySpec


def q_events_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour event counts (the batch shape of the streaming windowed
    aggregation in streaming/stream_build.py)."""
    ev = load_table(spark, sf_dir, "events")
    # hour as a canonical string: timestamp dtypes/precisions differ between
    # engines' pandas conversions; strings compare exactly
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        ).agg(F.count("*").alias("n"))
    )


_ORACLE_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


def q_events_user_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users: HLL estimate within bound + exact.
    ALL per-group sketches come from ONE grouped-build job (map-side partial
    per (partition, group), sketch-blob-only shuffle) and the exact counts
    from one countDistinct — two jobs total regardless of group count, vs.
    the old driver loop's 2 jobs per event type."""
    from ..sketches import sketch_from_bytes

    ev = load_table(spark, sf_dir, "events")
    hashed = ev.select("event_type", F.xxhash64(F.col("user_id")).alias("h"))
    sketches = {
        r["event_type"]: sketch_from_bytes(bytes(r["sketch"]))
        for r in build_sketch_grouped(
            hashed, ["event_type"], "h",
            functools.partial(make_sketch, "hll", p=14)).collect()
    }
    rows = []
    for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact")).collect():
        sk = sketches[r["event_type"]]
        ok = (abs(sk.estimate() - r["exact"])
              <= 4 * sk.relative_error() * max(r["exact"], 1))
        rows.append((r["event_type"], r["exact"], bool(ok)))
    return spark.createDataFrame(
        sorted(rows), "event_type string, exact_users bigint, within_bound boolean"
    )


_ORACLE_USER_DISTINCT = """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return uniform_sample(docs, 50, "doc_id").select("doc_id", "source")


_ORACLE_UNIFORM = """
SELECT doc_id, source FROM documents
ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 50
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: global position in md5(seed|doc_id)
    order, round-robin shard, within-shard offset — distributed rank with
    no single-task window (bucket-prefix + exclusive offsets)."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, "doc_id", seed=1, n_shards=8).select(
        "doc_id", "shard", "pos", "pos_in_shard")


_ORACLE_EPOCH = """
WITH h AS (
  SELECT doc_id, md5('1|' || CAST(doc_id AS VARCHAR)) AS hh FROM documents
),
r AS (
  SELECT doc_id, row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos FROM h
)
SELECT doc_id, CAST(pos % 8 AS INT) AS shard, CAST(pos AS BIGINT) AS pos,
       CAST(pos // 8 AS BIGINT) AS pos_in_shard
FROM r
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, 5, "doc_id", "source").select("doc_id", "source")


_ORACLE_STRATIFIED = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
  FROM documents
) WHERE rn <= 5
"""


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min starts a new session): per user, the
    session count and the largest session's event count — the standard
    event-analytics shape, pure window functions, exactly SQL-checkable.
    The window partitions by user_id, so it parallelizes per user (no
    global sort)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_sess = (
        ev.withColumn("new_sess",
                      F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sess_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    per_sess = with_sess.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"))
    return per_sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("n_events"),
    )


_ORACLE_SESSIONS = """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered
),
per_sess AS (
  SELECT user_id, sess_id, CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(n_events) AS BIGINT) AS max_session_events,
       CAST(sum(n_events) AS BIGINT) AS n_events
FROM per_sess GROUP BY user_id
"""


def q_session_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifies the STREAMING sessionizer against the batch SQL
    contract: the events table is replayed as an availableNow file stream
    through ``session_stream`` (per-user GroupState, watermark-final
    emission), a far-future sentinel event advances the watermark past
    every real session, and the closed sessions aggregate to exactly the
    ``user_sessions`` shape — so the oracle IS the batch sessionization
    SQL. The pytest parity suite asserts bit-exact equality per session
    (including multi-batch replays); this gate puts the same contract
    behind a driver row."""
    import tempfile
    import uuid

    from ..streaming import session_stream

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").cast("timestamp").alias("ts"))
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    # the closed sessions land in a memory sink: the input goes once the
    # query has ended
    with tempfile.TemporaryDirectory(prefix="pbf_sessgate_") as base:
        # ONE parallel write of events + the far-future sentinel (user -1):
        # the old shape was two coalesce(1) writes (a single task funnelling
        # the whole table, ~4.6 s of the gate at sf0.1) to force the sentinel
        # into a second micro-batch. That is unnecessary: with everything in
        # one availableNow data batch, the batch's own max event time advances
        # the watermark past every real session, and the trailing no-data
        # micro-batch (event-time timeouts) emits exactly the same closed
        # session set — emission depends only on the final watermark, not on
        # batch boundaries (the operator's documented finality rule).
        sentinel = spark.createDataFrame([(-1,)], "user_id long").select(
            "user_id",
            (F.lit(max_ts).cast("timestamp") +
             F.expr("INTERVAL 30 DAYS")).alias("ts"))
        ev.unionByName(sentinel).write.mode("append").parquet(base)

        stream = (spark.readStream.schema("user_id long, ts timestamp")
                  .parquet(base))
        out = session_stream(stream, "ts", "user_id", gap="30 minutes",
                             watermark="1 minute")
        qname = "sessgate_" + uuid.uuid4().hex[:10]
        q = (out.writeStream.format("memory").queryName(qname)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        q.stop()
    return (spark.table(qname).filter(F.col("user_id") >= 0)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"),
                 F.max("n_events").alias("max_session_events"),
                 F.sum("n_events").alias("n_events")))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted corpus sample: 50 docs drawn without replacement with
    inclusion probability increasing in word count (A-ES exponential race)."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.size(F.split(F.col("text"), " "))
    return weighted_sample(docs, 50, "doc_id", w).select("doc_id", "source")


_ORACLE_WEIGHTED = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
            / 4503599627370496.0)
         / len(string_split(text, ' ')) AS pri
  FROM documents
) ORDER BY pri DESC, doc_id ASC LIMIT 50
"""


def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attribute every purchase to the user's most recent view
    at or before it — the classic attribution query, matched against
    DuckDB's native ASOF LEFT JOIN. Nullable match (first-session
    purchases have no prior view)."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"), "user_id", "ts"))
    out = asof_join(purchases, views, on="user_id")
    return out.select("event_id",
                      F.col("asof").getField("view_id").alias("matched_view_id"))


_ORACLE_ASOF = """
SELECT p.event_id, v.event_id AS matched_view_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def q_asof_purchase_view_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME attribution query through the hot-key-salted plan
    (salt_bucket_seconds): per-event windows partition by (user, time
    bucket), cross-bucket carry-in on per-bucket digests. Must be
    hash-identical to the unsalted gate's oracle — the driver-verified
    proof the salted rewrite is result-equivalent (tie-free here: the
    events table has no duplicate (user, ts) view rows)."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("event_id").alias("view_id"), "user_id", "ts"))
    out = asof_join(purchases, views, on="user_id",
                    salt_bucket_seconds=6 * 3600)
    return out.select("event_id",
                      F.col("asof").getField("view_id").alias("matched_view_id"))


def q_range_join_error_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join: place every error event inside
    its user's session interval — sessions derived with the SAME gap rule
    as the user_sessions gate, the bucketed equi-join doing the
    containment. Sessions partition each user's events, so every error
    lands in exactly one interval; output matched against a plain BETWEEN
    join in SQL."""
    from pyspark.sql import Window

    from ..operators.joins import range_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    with_sess = (
        ev.withColumn("new_sess",
                      F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("sess_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    sessions = with_sess.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    errors = with_sess.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")
    out = range_join(errors, sessions, "ts", "s_start", "s_end",
                     on="user_id", bucket_seconds=3600)
    return out.select(
        "event_id",
        F.unix_micros(F.col("range").getField("s_start"))
         .alias("session_start_us"))


_ORACLE_RANGE_JOIN = """
WITH ordered AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, event_type, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered
),
intervals AS (
  SELECT user_id, sess_id, min(ts) AS s_start, max(ts) AS s_end
  FROM sess GROUP BY 1, 2
)
SELECT e.event_id, epoch_us(i.s_start) AS session_start_us
FROM (SELECT * FROM sess WHERE event_type = 'error') e
JOIN intervals i
  ON e.user_id = i.user_id AND e.ts BETWEEN i.s_start AND i.s_end
"""


EVENTS_CATALOG: dict[str, QuerySpec] = {
    "range_join_error_sessions": QuerySpec(
        q_range_join_error_sessions, _ORACLE_RANGE_JOIN,
        "bucketed interval join: every error placed in its session"),
    "asof_purchase_view": QuerySpec(
        q_asof_purchase_view, _ORACLE_ASOF,
        "as-of join: each purchase attributed to the latest prior view"),
    "asof_purchase_view_salted": QuerySpec(
        q_asof_purchase_view_salted, _ORACLE_ASOF,
        "the same as-of attribution through the hot-key-salted plan — "
        "result-equivalence driver-verified"),
    "user_sessions": QuerySpec(
        q_user_sessions, _ORACLE_SESSIONS,
        "gap-based sessionization: per-user session count + largest session"),
    "session_stream_parity": QuerySpec(
        q_session_stream_parity, _ORACLE_SESSIONS,
        "STREAMING sessionizer replayed over the events table == the "
        "batch sessionization SQL (same oracle as user_sessions)"),
    "weighted_sample": QuerySpec(
        q_weighted_sample, _ORACLE_WEIGHTED,
        "deterministic weight-proportional sample (Efraimidis-Spirakis)"),
    "events_hourly_counts": QuerySpec(q_events_hourly_counts, _ORACLE_HOURLY,
                                      "tumbling-hour event counts"),
    "events_user_distinct": QuerySpec(q_events_user_distinct, _ORACLE_USER_DISTINCT,
                                      "per-type distinct users: HLL within bound"),
    "uniform_sample": QuerySpec(q_uniform_sample, _ORACLE_UNIFORM,
                                "deterministic bottom-k uniform sample"),
    "stratified_sample": QuerySpec(q_stratified_sample, _ORACLE_STRATIFIED,
                                   "deterministic k-per-source stratified sample"),
    "epoch_shuffle": QuerySpec(
        q_epoch_shuffle, _ORACLE_EPOCH,
        "deterministic epoch shuffle: global md5-order position + "
        "round-robin shard via bucket-prefix distributed rank"),
}
