"""Run a catalog query on Spark AND its DuckDB oracle and compare row
count, column names and an order-insensitive value hash — the correctness
gate behind ``tests/test_oracles.py`` and ``tools/check_oracles.py``.
A gate without an oracle (rows-only) passes when it returns any row."""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from ..sources.tables import TABLES
from .catalog import CATALOG


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """(rows, sorted column names, md5 of the sorted rows) with floats at 9
    significant digits, so equal results hash equal on both engines."""
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


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per testdata table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


@dataclass
class GateResult:
    name: str
    spark_df: pd.DataFrame
    oracle_df: pd.DataFrame | None  # None: rows-only gate
    spark_s: float

    def __post_init__(self):
        if self.oracle_df is not None:
            self.spark = canon(self.spark_df)
            self.oracle = canon(self.oracle_df)

    @property
    def ok(self) -> bool:
        if self.oracle_df is None:
            return len(self.spark_df) > 0
        return self.spark == self.oracle

    def report(self) -> str:
        """One summary line; on a mismatch, the differing parts follow."""
        if self.oracle_df is None:
            line = (f"{self.name:28s} rows={len(self.spark_df):7d}  "
                    f"(rows-only; no oracle)  spark={self.spark_s:.1f}s")
            return line if self.ok else line + f"\n  !! {self.name}: zero rows"
        (sn, sc, sh), (on, oc, oh) = self.spark, self.oracle
        line = (f"{self.name:28s} rows={sn:7d}/{on:<7d} "
                f"cols={'OK' if sc == oc else 'MISMATCH'} "
                f"hash={'OK' if sh == oh else 'MISMATCH'} "
                f"spark={self.spark_s:.1f}s")
        if sc != oc:
            line += f"\n  spark cols: {sc}\n  oracle cols: {oc}"
        if sn != on or sh != oh:
            line += ("\n  spark head:\n" + self.spark_df.head(5).to_string()
                     + "\n  oracle head:\n" + self.oracle_df.head(5).to_string())
        return line


def run_gate(spark: SparkSession, con: duckdb.DuckDBPyConnection, name: str,
             sf_dir: str) -> GateResult:
    """Run catalog gate ``name`` on Spark and (if it has one) its oracle on
    ``con`` (see ``oracle_db``)."""
    spec = CATALOG[name]
    t0 = time.perf_counter()
    sdf = spec.fn(spark, sf_dir).toPandas()
    spark_s = time.perf_counter() - t0
    odf = None if spec.oracle is None else con.sql(spec.oracle).df()
    return GateResult(name, sdf, odf, spark_s)
