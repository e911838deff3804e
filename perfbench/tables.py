"""Seeded input tables for the catalog gates, and the result canon that
compares a gate's output with its DuckDB oracle.

The tables have the schemas the catalog reads (`customer`, `orders`,
`events`, `documents`) at about the 0.01 scale factor, drawn from one
`numpy.random.Generator` per seed. A third of the customers never order,
and one document in twenty is a near-duplicate of an earlier one.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS, _LANG_P = ["en", "zh", "es", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def make_tables(seed: int, n_customer: int = 1500, n_orders: int = 15000,
                n_events: int = 10000, n_users: int = 150,
                n_docs: int = 500) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % (1 << 32))
    ck = np.arange(n_customer, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customer), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_customer),
    })
    buyers = ck[ck % 3 != 0]
    day0 = np.datetime64("1995-01-01", "D").astype(np.int64)
    days = rng.integers(day0, np.datetime64("2001-08-02", "D").astype(np.int64),
                        n_orders)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.choice(buyers, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(days * 86_400_000_000),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    step = 30 * 86_400_000_000 // n_events
    ts = t0 + np.arange(n_events, dtype=np.int64) * step + rng.integers(0, step, n_events)
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {"customer": customer, "orders": orders, "events": events,
            "documents": documents}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """(rows, sorted columns, order-insensitive value hash), with the
    formatting rules of the repository's oracle checker."""
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        dtype = str(df[c].dtype)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif dtype.startswith("float"):
            df[c] = df[c].map(lambda v: f"{v:.9g}")
        elif dtype == "bool" or dtype.startswith("boolean"):
            df[c] = df[c].map(lambda v: str(bool(v)))
        else:
            df[c] = df[c].astype("Int64").astype(str)
    rows = sorted(df.itertuples(index=False, name=None))
    return len(rows), cols, hashlib.md5(repr(rows).encode()).hexdigest()
