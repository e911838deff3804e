"""Local replica of the driver's correctness gate: run every catalog query on
Spark AND its DuckDB oracle at sf0.01; compare row count, column names, and an
order-insensitive value hash (``pimbloomfilters_spark.plans.oracle``).

Usage: python tools/check_oracles.py [sf_dir] [name_substr ...]
Extra args restrict the run to catalog entries whose name contains any of the
given substrings (fast iteration on one query family).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pimbloomfilters_spark.plans import CATALOG  # noqa: E402
from pimbloomfilters_spark.plans.oracle import oracle_db, run_gate  # noqa: E402
from pimbloomfilters_spark.session import get_spark  # noqa: E402
from pimbloomfilters_spark.sources.tables import unpersist_tokens  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("check-oracles")  # local[SPARK_GRAFT_CPUS], else every core
    con = oracle_db(sf_dir)
    only = sys.argv[2:]
    failures = 0
    for name in CATALOG:
        if only and not any(s in name for s in only):
            continue
        result = run_gate(spark, con, name, sf_dir)
        print(result.report())
        failures += not result.ok
    released = unpersist_tokens(spark)
    assert unpersist_tokens(spark) == 0  # idempotent; nothing left persisted
    spark.stop()
    print(f"FAILURES: {failures}  (token caches released: {released})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
