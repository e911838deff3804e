"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query at sf0.001: blocked-Bloom bulk membership
                 probe over the derived token table (the reference's
                 insert_bulk + contains_bulk path, SURVEY.md §3.1-3.2).
queries()      — named operators from SURVEY.md §2 / plans/catalog.py, in
                 CATALOG registration order.
oracle_sql()   — DuckDB-equivalent SQL per query (exact-checkable designs;
                 see pimbloomfilters_spark/plans/catalog.py docstring).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# executor python workers need the package importable too (local mode
# inherits the driver env; clusters would use spark-submit --py-files)
_pp = os.environ.get("PYTHONPATH", "")
if _REPO not in _pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = f"{_REPO}{os.pathsep}{_pp}" if _pp else _REPO

_SHIPPED: set[str] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package to executors via addPyFile — works even when the
    caller's JVM started before our PYTHONPATH export existed (the env-var
    route only helps workers spawned with our environment)."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    import shutil
    import tempfile

    zip_base = os.path.join(tempfile.gettempdir(),
                            f"pbf_pkg_{os.getpid()}_{sc.applicationId}")
    if not os.path.exists(zip_base + ".zip"):
        shutil.make_archive(zip_base, "zip", root_dir=_REPO,
                            base_dir="pimbloomfilters_spark")
    sc.addPyFile(zip_base + ".zip")
    _SHIPPED.add(sc.applicationId)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pimbloomfilters_spark.plans import CATALOG

    _ensure_shipped(spark)
    return CATALOG["bloom_probe_tokens"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pimbloomfilters_spark.plans import queries as _queries

    return {
        name: (lambda s, d, _fn=fn: (_ensure_shipped(s), _fn(s, d))[1])
        for name, fn in _queries().items()
    }


def oracle_sql() -> dict[str, str]:
    from pimbloomfilters_spark.plans import oracle_sql as _oracle_sql

    return _oracle_sql()
