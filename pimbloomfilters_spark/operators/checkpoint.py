"""Checkpointed, resumable sketch builds with per-partition lineage+metrics.

North-rule requirement (SURVEY.md §2.3): at 10^12 rows a build is hours long;
losing the driver must not lose the work. The reference has no such facility
(its state is device-resident and rebuilt from scratch); this is new
engineering on top of the same build->merge algebra, enabled precisely
*because* partials are mergeable.

Design:
- the input is bucketed deterministically: ``bucket = pmod(xxhash64(key_col),
  n_buckets)`` — a pure function of the data, so a resumed run sees the exact
  same bucket contents regardless of cluster size or input partitioning;
- each bucket's partial sketch is appended to a Parquet checkpoint table
  ``(build_id, bucket, sketch_kind, sketch, n_rows, n_values, build_ms)`` —
  the lineage/metrics table (FIXTURES.md §5);
- resume = read the checkpoint, skip completed buckets (anti-join), build the
  missing ones, merge everything. Merge associativity guarantees the resumed
  result equals the uninterrupted one (tested byte-identically for
  bloom/hll/cms).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField

from ..sketches import Sketch
from .build import collect_rows, fold_partials, keyed_partials

CHECKPOINT_SCHEMA = (
    "build_id string, bucket int, sketch_kind string, sketch binary, "
    "n_rows long, n_values long, build_ms double"
)


def completed_buckets(spark: SparkSession, checkpoint_dir: str,
                      build_id: str) -> set[int]:
    try:
        cp = spark.read.parquet(checkpoint_dir)
    except Exception:
        return set()
    return {
        r["bucket"]
        for r in cp.filter(F.col("build_id") == build_id).select("bucket").distinct().collect()
    }


def build_with_checkpoint(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    key_col: str,
    make: Callable[[], Sketch],
    build_id: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    fail_after_bucket: int | None = None,
) -> tuple[Sketch, dict]:
    """Build (or resume) a sketch with bucket-level checkpointing.

    ``fail_after_bucket`` is a test hook: persist only buckets < that id,
    then raise — simulating a mid-build crash.
    """
    done = completed_buckets(spark, checkpoint_dir, build_id)
    todo = df.withColumn(
        "_bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int"))
    if done:  # build only the buckets no earlier run persisted
        todo = todo.filter(~F.col("_bucket").isin(sorted(done)))

    def _split(batch: pa.RecordBatch):
        buckets = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
        return buckets, batch.column(0), lambda i: (int(buckets[i]),)

    # one partial per bucket: buckets are a pure function of key_col, so
    # partials are reproducible across runs and cluster sizes
    partials = keyed_partials(
        todo.repartition(n_buckets, "_bucket").select(col, "_bucket"),
        lambda _key: make(), _split, [StructField("bucket", IntegerType())],
    ).select(F.lit(build_id).alias("build_id"), "bucket",
             F.lit(make().kind).alias("sketch_kind"),
             "sketch", "n_rows", "n_values", "build_ms")
    if fail_after_bucket is not None:
        partials = partials.filter(F.col("bucket") < fail_after_bucket)
    partials.write.mode("append").parquet(checkpoint_dir)
    if fail_after_bucket is not None:
        raise RuntimeError(f"injected failure after bucket {fail_after_bucket}")

    cp = spark.read.parquet(checkpoint_dir).filter(F.col("build_id") == build_id)
    first: dict = {}
    for r in collect_rows(cp):
        first.setdefault(r["bucket"], r)  # idempotent re-append safety
    if not first:
        raise ValueError(f"no checkpointed partials for build {build_id!r}")
    sk, metrics = fold_partials(first.values(), "bucket")
    metrics["n_buckets"] = metrics.pop("n_partitions")
    return sk, metrics
