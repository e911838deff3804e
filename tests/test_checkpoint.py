"""Checkpoint/resume: interrupted build + resume == uninterrupted build
(byte-identical for bloom), with lineage/metrics rows per bucket."""

import functools

import pytest
from pyspark.sql import functions as F

from pimbloomfilters_spark.operators import build_sketch
from pimbloomfilters_spark.operators.checkpoint import (
    build_with_checkpoint,
    completed_buckets,
)
from pimbloomfilters_spark.sketches import make_sketch
from pimbloomfilters_spark.sources import generate_token_sequences

bloom = functools.partial(make_sketch, "bloom", size2=20, nb_hash=8)


@pytest.fixture(scope="module")
def tokens_df(spark):
    df = generate_token_sequences(spark, 1_000, num_partitions=4).cache()
    df.count()
    return df


def test_crash_resume_equals_oneshot(spark, tokens_df, tmp_path_factory):
    cp = str(tmp_path_factory.mktemp("ckpt") / "sketches")
    # one-shot (no checkpoint) reference
    oneshot, _ = build_sketch(tokens_df, "tokens", bloom)

    # crash after 5 of 16 buckets persisted
    with pytest.raises(RuntimeError, match="injected failure"):
        build_with_checkpoint(
            spark, tokens_df, "tokens", "doc_id", bloom,
            build_id="b1", checkpoint_dir=cp, n_buckets=16, fail_after_bucket=5,
        )
    done = completed_buckets(spark, cp, "b1")
    assert 0 < len(done) <= 5

    # resume: builds only the missing buckets, merges all
    sk, metrics = build_with_checkpoint(
        spark, tokens_df, "tokens", "doc_id", bloom,
        build_id="b1", checkpoint_dir=cp, n_buckets=16,
    )
    assert sk.payload() == oneshot.payload()
    assert metrics["n_buckets"] == 16
    assert metrics["n_rows"] == 1_000

    # lineage table shape (FIXTURES.md §5)
    lineage = spark.read.parquet(cp)
    assert set(lineage.columns) == {
        "build_id", "bucket", "sketch_kind", "sketch",
        "n_rows", "n_values", "build_ms",
    }
    assert lineage.filter(F.col("build_id") == "b1").count() == 16


def test_rerun_is_idempotent(spark, tokens_df, tmp_path_factory):
    cp = str(tmp_path_factory.mktemp("ckpt2") / "sketches")
    a, _ = build_with_checkpoint(
        spark, tokens_df, "tokens", "doc_id", bloom,
        build_id="b2", checkpoint_dir=cp, n_buckets=8,
    )
    # re-running a completed build only re-reads the checkpoint
    b, m = build_with_checkpoint(
        spark, tokens_df, "tokens", "doc_id", bloom,
        build_id="b2", checkpoint_dir=cp, n_buckets=8,
    )
    assert a.payload() == b.payload()
    assert m["n_buckets"] == 8


def test_hll_checkpoint_matches(spark, tokens_df, tmp_path_factory):
    cp = str(tmp_path_factory.mktemp("ckpt3") / "sketches")
    hll = functools.partial(make_sketch, "hll", p=12)
    one, _ = build_sketch(
        tokens_df.select(F.xxhash64("doc_id").alias("h")), "h", hll
    )
    sk, _ = build_with_checkpoint(
        spark, tokens_df.select(F.xxhash64("doc_id").alias("h")),
        "h", "h", hll, build_id="b3", checkpoint_dir=cp, n_buckets=8,
    )
    assert sk.payload() == one.payload()


def test_checkpoint_runs_one_task_per_bucket_partition(spark, tokens_df,
                                                       tmp_path_factory):
    """The checkpoint build keeps its repartition(n_buckets) width even when
    n_buckets exceeds the task slots, so a task holds about one bucket's
    sketch instead of n_buckets/slots of them."""
    from pimbloomfilters_spark.operators.build import task_slots

    cp = str(tmp_path_factory.mktemp("ckpt4") / "sketches")
    n_buckets = 4 * task_slots(tokens_df)
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-width", "checkpoint build width")
    try:
        build_with_checkpoint(
            spark, tokens_df, "tokens", "doc_id", bloom,
            build_id="b4", checkpoint_dir=cp, n_buckets=n_buckets)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    widths = {st.getStageInfo(s).numTasks
              for j in st.getJobIdsForGroup("checkpoint-width")
              for s in st.getJobInfo(j).stageIds
              if st.getStageInfo(s) is not None}
    assert n_buckets in widths
