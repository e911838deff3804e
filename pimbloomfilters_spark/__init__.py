"""pimbloomfilters_spark — a brand-new PySpark-native distributed sketch library.

Re-expresses the query semantics of BioPIM/PimBloomFilters (a C++ UPMEM-PIM
blocked Bloom filter library) as mergeable, partition-parallel sketches built
with vectorized pandas/Arrow UDFs on top of the public PySpark DataFrame API:

- ``sketches``   — pure-numpy sketch cores: blocked Bloom, HyperLogLog,
                   count-min, KLL quantiles. build → merge → query → (de)serialize.
- ``operators``  — Spark-side build (one mapInArrow keyed-partial kernel +
                   one associative fold), probe (addFile-shipped sketch +
                   arrow_udf), checkpoint/resume, salting.
- ``sources``    — testdata loaders, deterministic token-table derivation and
                   synthetic generator (seeded; no wall clock).
- ``functions``  — training-data pipeline ops: dedup (exact/minhash/simhash/
                   ngram-jaccard/embedding), similarity search, text analysis,
                   multimodal column plumbing.
- ``streaming``  — Structured Streaming sketch maintenance.
- ``plans``      — the named query catalog exposed through __spark_entry__.
- ``_zipdirs``   — installed only inside a Spark Python worker: the per-task
                   ``importlib.invalidate_caches()`` re-reads a zip/jar
                   directory only when that archive changed (CPython < 3.12).

Everything here derives from public knowledge only: the Apache Spark API, the
reference repo's observable behavior, and published sketch papers.
"""

import sys

__version__ = "0.1.0"


def _in_spark_worker() -> bool:
    # look pyspark up, never import it: ``sketches`` stays usable without Spark
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


if _in_spark_worker():
    from . import _zipdirs

    _zipdirs.install()
