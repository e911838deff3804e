"""SparkSession helper with scale-oriented defaults.

Tests/bench run on local[N] (single JVM), but every setting here is what we'd
ship to a 1000-executor cluster: AQE on (runtime re-plan + skew-join
handling), Arrow transfer for all pandas UDFs, bounded Arrow batch size (the
Spark analogue of the reference's 2^11-item DPU buckets,
``src/pim_bloom_filter_common.h:8`` — it bounds per-batch UDF memory the same
way the bucket cap bounds DPU MRAM).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Driver heap default: min(32g, half of physical RAM). A heap larger
    than the machine never feels GC pressure, so an over-full heap ends as a
    kernel OOM kill of the JVM instead of a Java ``OutOfMemoryError``."""
    if total_bytes is None:
        total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mib = min(32 << 10, total_bytes // 2 >> 20)
    return f"{mib >> 10}g" if mib % 1024 == 0 else f"{mib}m"


def get_spark(app_name: str = "pimbloomfilters-spark", cpus: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # Make this package importable in executor Python workers regardless of
    # the caller's cwd (local mode inherits the driver env; on a real cluster
    # you'd ship it with spark-submit --py-files instead).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "65536"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                      default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
