"""Distributed sketch build: one keyed-partial kernel, one fold.

This is the Spark re-expression of the reference's flagship path,
``PimBloomFilter::insert_bulk`` (``src/pim_bloom_filter.cpp:100-212``):

  reference                                  | here
  -------------------------------------------+--------------------------------
  host worker threads slice the input        | Spark partitions of the DataFrame
  hash dispatch item -> (rank, DPU)          | a per-batch ``split`` into int64
    (``src/pim_bloom_filter.cpp:29-43``)     | codes; one sketch per code run
  2^11-item DPU buckets, async launches      | Arrow batches inside mapInArrow
  16 tasklet sub-filters + mutexes           | one numpy sketch per (task, key),
    (``src/dpu/bloom_filters_dpu.cpp:100``)  | single writer, no locks
  gather + deterministic-order serialize     | partials sorted by a key column,
    (``src/pim_bloom_filter.cpp:379-396``)   | then OR/add/max-merged

Kernel -> fold. ``keyed_partials`` is the one mapInArrow build: a caller's
``split`` maps each Arrow batch to int64 codes and a payload, the kernel
sorts by code once and inserts each run of equal codes into that key's
sketch, then emits one partial row per (task, key).

Tasks <= slots. The reference's sub-filter count is fixed by hardware (16
tasklets per DPU), not by how the host threads slice the input. Where the
input partitioning is the caller's (the plain and grouped builds here,
``probe_count``), it is coalesced to ``task_slots(df)`` partitions before
the kernel, so one Python task per core slot runs it and at most that many
partials per key come out. Each PySpark Python task pays a fixed start-up
cost before the UDF runs. Its largest part, the re-read of every zip/jar
path importer's directory in the worker's ``importlib.invalidate_caches()``,
is paid once per worker process, not once per task (``_zipdirs``,
CPython < 3.12). One task per slot still saves task scheduling, Arrow
hand-offs and partials to collect and fold. ``coalesce`` never adds an
Exchange and never raises the partition count. The checkpoint and
sharded builds choose their own width with a ``repartition`` and are not
coalesced: that width bounds how many sketches one task holds.

The builders differ only in their split: plain (``build_partials``: no
split, one key, no sort), grouped (dictionary codes of the group columns),
checkpoint (the hash bucket, ``operators/checkpoint.py``) and sharded (bit
position // shard size into a shard-window bitmap,
``operators/sharded.py``).
``fold_partials`` is the one merge: partial rows in ascending key order.
It backs ``merge_partial_rows``, the grouped per-group merge, the
checkpoint fold and the ``treeReduce`` combine; disjoint shards are
gathered by ``assemble_bloom`` instead.

``build_ms`` is the time a task spent on one key's partial: flattening its
runs, inserting them and serializing the sketch. Waiting for input batches
and the per-batch split and sort are left out, so the sum over partials is
the build's insert work.
"""

from __future__ import annotations

import time
from typing import Callable, Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type
from pyspark.sql.types import StructField

from .._arrow import keys
from ..sketches import Sketch, sketch_from_bytes


def task_slots(df: DataFrame) -> int:
    """How many tasks ``df``'s session runs at once: its default
    parallelism, the total executor cores of a local or static cluster.
    Under dynamic allocation Spark reports max(registered cores, 2), which
    may be 2 before executors register; set ``spark.default.parallelism``
    there, since it is what this returns when set."""
    return df.sparkSession.sparkContext.defaultParallelism


def keyed_partials(df: DataFrame, make: Callable, split=None,
                   key_fields: Iterable[StructField] = ()) -> DataFrame:
    """One partial row per (task, key): DataFrame[partition_id int,
    *key_fields, sketch binary, n_rows long, n_values long, build_ms double].

    ``split(batch) -> (codes, payload, key_of)``: ``codes`` holds one int64
    per payload row, ``payload`` is an Arrow column (a row is one value or
    one list of values) or a numpy array (a row is one value), and
    ``key_of(i)`` is the key tuple of payload row ``i``. Each run of equal
    codes is inserted into ``make(key)``, a fresh sketch for that key.
    Without ``split`` the first column of every batch goes whole into the
    sketch of the key ``()``: no sort, and every task emits its partial,
    even an empty one. One task runs per partition of ``df``; callers
    choose that width.
    """
    arrow_schema = pa.schema([
        ("partition_id", pa.int32()),
        *((f.name, to_arrow_type(f.dataType)) for f in key_fields),
        ("sketch", pa.binary()), ("n_rows", pa.int64()),
        ("n_values", pa.int64()), ("build_ms", pa.float64()),
    ])

    def _runs(batch: pa.RecordBatch):
        if split is None:
            yield (), batch.column(0)
            return
        codes, payload, key_of = split(batch)
        if not len(codes):
            return
        order = np.argsort(codes, kind="stable")
        bounds = np.r_[0, np.flatnonzero(np.diff(codes[order])) + 1, len(order)]
        if isinstance(payload, np.ndarray):
            payload = payload[order]
        else:
            payload = payload.take(pa.array(order))
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            yield key_of(int(order[lo])), payload[lo:hi]

    def _partials(batches: Iterable[pa.RecordBatch]) -> Iterable[pa.RecordBatch]:
        # key -> [sketch, n_rows, n_values, build_ms]
        parts: dict = {} if split else {(): [make(()), 0, 0, 0.0]}
        for b in batches:
            for key, rows in _runs(b):
                t0 = time.perf_counter()
                part = parts.get(key)
                if part is None:
                    part = parts[key] = [make(key), 0, 0, 0.0]
                values = rows if isinstance(rows, np.ndarray) else keys(rows)
                part[0].insert_bulk(values)
                part[1] += len(rows)
                part[2] += len(values)
                part[3] += (time.perf_counter() - t0) * 1000.0
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        out = []
        for key, (sk, n_rows, n_values, ms) in parts.items():
            t0 = time.perf_counter()
            blob = sk.to_bytes()
            ms += (time.perf_counter() - t0) * 1000.0
            out.append((pid, *key, blob, n_rows, n_values, ms))
        if out:
            yield pa.record_batch(list(zip(*out)), schema=arrow_schema)

    return df.mapInArrow(_partials, from_arrow_schema(arrow_schema))


def build_partials(df: DataFrame, col: str, make: Callable[[], Sketch]) -> DataFrame:
    """One sketch partial per task, at most ``task_slots(df)`` of them:
    DataFrame[partition_id int, sketch binary, n_rows long, n_values long,
    build_ms double].

    ``make`` must be a picklable zero-arg factory (e.g.
    ``functools.partial(make_sketch, "bloom", size2=24, nb_hash=8)``).
    Runs as mapInArrow: values flow JVM->numpy with no pandas materialization.
    """
    return keyed_partials(df.select(col).coalesce(task_slots(df)),
                          lambda _key: make())


def collect_rows(df: DataFrame) -> list:
    """Collect small-row DataFrames (sketch partials / shard bitmaps) through
    the ARROW path instead of py4j row pickling. A dense bloom/counting
    partial is MBs of binary per row; ``DataFrame.collect()`` moves those
    bytes through per-row JVM->Python pickling, which measured ~2-5x slower
    than the Arrow stream at 64 x 2 MiB partials (guide §6: Arrow for driver
    transfers). Returns dict-like rows (plain dicts), which is all the merge
    folds access. Falls back to ``collect()`` only where ``DataFrame.toArrow``
    does not exist (pyspark < 4.0): a job that fails must fail once, not
    run again."""
    if not hasattr(df, "toArrow"):
        return df.collect()
    return df.toArrow().to_pylist()


def fold_partials(rows, key: str) -> tuple[Sketch, dict]:
    """Merge partial rows in ascending ``key`` order, mirroring the
    reference's sequential gather (``src/pim_bloom_filter.cpp:388-394``).
    Returns (sketch, metrics)."""
    rows = sorted(rows, key=lambda r: r[key])
    if not rows:
        raise ValueError("no partials to merge (empty input DataFrame?)")
    sk = sketch_from_bytes(bytes(rows[0]["sketch"]))
    for r in rows[1:]:
        sk.merge(sketch_from_bytes(bytes(r["sketch"])))
    metrics = {
        "n_partitions": len(rows),
        "n_rows": int(sum(r["n_rows"] for r in rows)),
        "n_values": int(sum(r["n_values"] for r in rows)),
        "build_ms_max": float(max(r["build_ms"] for r in rows)),
        "build_ms_sum": float(sum(r["build_ms"] for r in rows)),
    }
    return sk, metrics


def merge_partial_rows(rows) -> tuple[Sketch, dict]:
    """Driver-side fold of collected ``build_partials`` rows, in
    partition_id order. Returns (sketch, metrics)."""
    return fold_partials(rows, "partition_id")


def build_sketch_grouped(df: DataFrame, group_cols, col: str,
                         make: Callable[[], Sketch]) -> DataFrame:
    """One sketch PER GROUP in one pass: DataFrame[*group_cols, sketch
    binary, n_rows long, n_values long].

    The reference is strictly one-filter-per-call; every real use ("distinct
    users per event_type", "a filter per source") needs N sketches from ONE
    job, not a driver loop launching jobs per group. Shape = map-side
    combine: each task builds a partial per (task, group) — so the
    shuffle moves only small sketch blobs, never raw rows — and a relational
    groupBy merges the partials per group. The input is coalesced to
    ``task_slots(df)`` partitions, so a task holds the partials of every
    group its share of the input touches. Works for any registered sketch
    kind (merge is associative+commutative); group count is unbounded
    (output is a DataFrame, nothing driver-side). A NULL group value is a
    group of its own."""
    import pyarrow.compute as pc

    if isinstance(group_cols, str):
        group_cols = [group_cols]

    def _split(batch: pa.RecordBatch):
        # dictionary-encode each group column and mix the codes into one
        # int64 per row; NULL gets its own code
        gcols = batch.columns[:-1]
        codes = np.zeros(batch.num_rows, dtype=np.int64)
        for c in gcols:
            d = pc.dictionary_encode(c)
            idx = pc.fill_null(d.indices, -1).to_numpy(
                zero_copy_only=False).astype(np.int64)
            codes = codes * (len(d.dictionary) + 1) + (idx + 1)
        return (codes, batch.columns[-1],
                lambda i: tuple(c[i].as_py() for c in gcols))

    partials = keyed_partials(
        df.select(*group_cols, col).coalesce(task_slots(df)),
        lambda _key: make(), _split, [df.schema[c] for c in group_cols])

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        sk, m = fold_partials(pdf.to_dict("records"), "partition_id")
        res = pdf.iloc[[0]][list(group_cols)].copy()
        res["sketch"] = [sk.to_bytes()]
        res["n_rows"] = m["n_rows"]
        res["n_values"] = m["n_values"]
        return res

    out_schema = partials.drop("partition_id", "build_ms").schema
    return partials.groupBy(*group_cols).applyInPandas(_merge, out_schema)


def build_sketch(
    df: DataFrame,
    col: str,
    make: Callable[[], Sketch],
    distributed_merge: bool = False,
    tree_depth: int = 2,
) -> tuple[Sketch, dict]:
    """Build one logical sketch over ``df[col]`` (scalar numeric or array<int>).

    There is one partial per task and at most ``task_slots(df)`` tasks.
    distributed_merge=False: collect the partials + driver fold.
    distributed_merge=True: RDD treeReduce — merge work stays on executors;
    it only pays when slots x sketch bytes is too large to collect and
    fold on the driver (many executor cores, a large dense sketch).
    """
    partials = build_partials(df, col, make)
    if not distributed_merge:
        return merge_partial_rows(collect_rows(partials))

    def _combine(a: dict, b: dict) -> dict:
        # the combined row keeps the smaller partition_id, so every level of
        # the tree folds in partition order
        sk, m = fold_partials([a, b], "partition_id")
        return {"partition_id": min(a["partition_id"], b["partition_id"]),
                "sketch": sk.to_bytes(), "n_rows": m["n_rows"],
                "n_values": m["n_values"], "build_ms": m["build_ms_sum"]}

    top = partials.rdd.map(lambda r: r.asDict()).treeReduce(_combine, depth=tree_depth)
    return sketch_from_bytes(bytes(top["sketch"])), {
        "n_rows": int(top["n_rows"]), "n_values": int(top["n_values"]),
    }
