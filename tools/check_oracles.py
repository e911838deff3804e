"""Local replica of the driver's correctness gate: run every catalog query on
Spark AND its DuckDB oracle at sf0.01; compare row count, column names, and an
order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [name_substr ...]
Extra args restrict the run to catalog entries whose name contains any of the
given substrings (fast iteration on one query family).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pimbloomfilters_spark.plans import CATALOG  # noqa: E402
from pimbloomfilters_spark.session import get_spark  # noqa: E402
from pimbloomfilters_spark.sources.tables import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].map(lambda v: f"{v:.9g}")
        elif str(df[c].dtype) == "bool" or str(df[c].dtype).startswith("boolean"):
            df[c] = df[c].map(lambda v: str(bool(v)))
        else:
            df[c] = df[c].astype("Int64").astype(str)
    rows = sorted(df.itertuples(index=False, name=None))
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return len(rows), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("check-oracles")  # local[SPARK_GRAFT_CPUS], else every core
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    only = sys.argv[2:]
    failures = 0
    for name, spec in CATALOG.items():
        if only and not any(s in name for s in only):
            continue
        t0 = time.perf_counter()
        sdf = spec.fn(spark, sf_dir).toPandas()
        t_spark = time.perf_counter() - t0
        if spec.oracle is None:
            print(f"{name:28s} rows={len(sdf):7d}  (rows-only; no oracle)  "
                  f"spark={t_spark:.1f}s")
            if len(sdf) == 0:
                print(f"  !! {name}: zero rows")
                failures += 1
            continue
        odf = con.sql(spec.oracle).df()
        sn, sc, sh = canon(sdf)
        on, oc, oh = canon(odf)
        ok = (sn == on) and (sc == oc) and (sh == oh)
        print(f"{name:28s} rows={sn:7d}/{on:<7d} cols={'OK' if sc == oc else 'MISMATCH'} "
              f"hash={'OK' if sh == oh else 'MISMATCH'} spark={t_spark:.1f}s")
        if not ok:
            failures += 1
            if sc != oc:
                print(f"  spark cols: {sc}\n  oracle cols: {oc}")
            if sn != on or sh != oh:
                print("  spark head:\n", sdf.head(5).to_string())
                print("  oracle head:\n", odf.head(5).to_string())
    from pimbloomfilters_spark.sources.tables import unpersist_tokens

    released = unpersist_tokens(spark)
    assert unpersist_tokens(spark) == 0  # idempotent; nothing left persisted
    spark.stop()
    print(f"FAILURES: {failures}  (token caches released: {released})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
