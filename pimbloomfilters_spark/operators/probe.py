"""Bulk membership probe: shipped sketch + vectorized Arrow UDFs.

Re-expresses ``PimBloomFilter::contains_bulk`` (``src/pim_bloom_filter.cpp:
214-349``). The reference ships original indexes with every bucket and
scatters results back to input order (``:296-306,448-473``); in Spark, a
projection preserves row identity, so order-alignment is free — the returned
boolean (or array<boolean>) column is row-aligned with the probed column by
construction (tested per the reference's order tests,
``tests/unit_test1.cpp:98-106``).

Sketch distribution: ``sc.addFile`` + per-worker file read, NOT a Python
``sc.broadcast``. PySpark materializes ``Broadcast.value`` by streaming the
pickled blob from the JVM to every worker process through a local socket —
measured ~6 s per worker for a 16 MB filter (32 workers => the probe job was
broadcast-bound). An added file is fetched once per executor, hits the OS
page cache for every worker on the node, and deserializes in milliseconds;
on a real cluster it is distributed exactly like ``--files``. Workers cache
the deserialized sketch keyed by a driver-assigned token.

Python tasks: ``probe_count`` coalesces its input to ``task_slots(df)``
partitions, one Python task per core slot, and sums those few partial rows
on the driver, in one stage with no exchange. The row-aligned probes
(``probe_key_column``, ``probe_keys``, ``probe_array_column``) return the
caller's rows and keep the caller's partitioning, so they cap neither the
upstream stage's parallelism nor the narrow work after them.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .. import _arrow
from ..sketches import Sketch, sketch_from_bytes
from .build import collect_rows, task_slots

_WORKER_CACHE: dict[str, Sketch] = {}
# (applicationId, name) pairs already registered via addFile — a sketch is
# CONTENT-addressed (name = blake2b of its bytes), so probing the same
# filter twice ships nothing and hits the per-worker deserialized cache.
# Before this, every probe call re-shipped and every worker re-read +
# re-deserialized the full filter (16 MiB x 32 workers per call at the
# bench geometry) even when the filter had not changed.
_SHIPPED: set[tuple[str, str]] = set()


def ship_sketch(spark, sketch: Sketch) -> str:
    """Register the sketch bytes with ``sc.addFile`` under a content-hash
    name; returns the basename workers resolve via SparkFiles. Mutating a
    sketch changes its bytes, hence its name — stale reuse is impossible.

    The file is published in the driver's SparkFiles root directory: it
    belongs to this application, and Spark deletes it when the session
    stops or the driver exits, so no shipped sketch outlives its session.
    The driver's own ``addFile`` fetch then finds the file in place."""
    from pyspark import SparkFiles

    raw = sketch.to_bytes()
    name = f"pbf_sketch_{hashlib.blake2b(raw, digest_size=16).hexdigest()}.bin"
    key = (spark.sparkContext.applicationId, name)
    if key in _SHIPPED:
        return name
    path = os.path.join(SparkFiles.getRootDirectory(), name)
    # always publish, never trust a file already under this predictable
    # name: it may be stale or planted. Atomic publish: another process
    # writing the same content races benignly; a partial write is never
    # visible under the final name
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(raw)
    os.replace(tmp, path)
    spark.sparkContext.addFile(path)
    _SHIPPED.add(key)
    return name


def load_shipped_sketch(name: str) -> Sketch:
    """Worker-side: read + deserialize once per worker process."""
    sk = _WORKER_CACHE.get(name)
    if sk is None:
        from pyspark import SparkFiles

        if len(_WORKER_CACHE) > 8:
            _WORKER_CACHE.clear()
        with open(SparkFiles.get(name), "rb") as f:
            raw = f.read()
        sk = _WORKER_CACHE[name] = sketch_from_bytes(raw)
    return sk


def _scalar_arrow_udf(fn, ret_ddl: str):
    """Decorate ``fn(pa.Array) -> pa.Array`` as an arrow_udf. The module's
    ``from __future__ import annotations`` stringifies type hints, which
    breaks arrow_udf's signature inference — set the real objects
    explicitly."""
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    fn.__annotations__ = {"keys": pa.Array, "return": pa.Array}
    return arrow_udf(fn, ret_ddl)


def _row_aligned(col, fn):
    """``fn`` over the int64 values of a scalar or list Arrow column,
    answered row-aligned: a NULL key answers NULL. Zero pandas: a nullable
    long column reaches a pandas UDF as float64+NaN (rounding |key| >
    2^53); the raw Arrow array keeps keys exact at any magnitude."""
    values, offsets, valid = _arrow.flat(col)
    out = np.asarray(fn(np.asarray(values, dtype=np.int64)))
    return _arrow.rewrap(out, offsets, valid)


def probe_key_column(df: DataFrame, sketch: Sketch, key_col: str,
                     out_col: str = "member") -> DataFrame:
    """Boolean membership per row for a scalar int64 key column (NULL key
    -> NULL, exact at any key magnitude — arrow_udf, no pandas)."""
    name = ship_sketch(df.sparkSession, sketch)

    def _probe(keys):
        return _row_aligned(keys, load_shipped_sketch(name).contains_bulk)

    return df.withColumn(out_col,
                         _scalar_arrow_udf(_probe, "boolean")(F.col(key_col)))


def probe_array_column(df: DataFrame, sketch: Sketch, tokens_col: str,
                       out_col: str = "member") -> DataFrame:
    """array<boolean> membership, element-aligned with the token array —
    the row-aligned bulk-probe contract of ``src/bloom_filter.hpp:55-58``:
    one contains_bulk over the whole Arrow batch. A NULL row answers an
    empty list."""
    name = ship_sketch(df.sparkSession, sketch)

    def _probe(keys):
        return _row_aligned(keys, load_shipped_sketch(name).contains_bulk)

    return df.withColumn(
        out_col, _scalar_arrow_udf(_probe, "array<boolean>")(F.col(tokens_col)))


def probe_keys(df: DataFrame, sketch: Sketch, key_col: str,
               out_col: str = "member") -> DataFrame:
    """(key, member) via mapInArrow — the fast path when no other columns
    need to ride along (no pandas materialization on either side). NULL
    keys are dropped (they have no membership; converting a nullable
    batch through float64 would instead silently corrupt every key in
    it)."""
    import pyarrow as pa

    name = ship_sketch(df.sparkSession, sketch)

    def _probe(batches):
        sk = load_shipped_sketch(name)
        for b in batches:
            vals = _arrow.keys(b.column(0))
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals.astype(np.int64, copy=False)),
                 pa.array(sk.contains_bulk(vals))],
                names=[key_col, out_col],
            )

    return df.select(key_col).mapInArrow(_probe, f"{key_col} long, {out_col} boolean")


def probe_count(df: DataFrame, sketch: Sketch, key_col: str) -> tuple[int, int]:
    """(n_probed, n_member): membership aggregated inside the UDF so per-row
    booleans never cross the Python/JVM boundary — use for counts/FPR at
    scale (reference analogue: the DPU packs lookup results 64/word before
    transfer, ``src/dpu/bloom_filters_dpu.cpp:224-246``; here we go further
    and ship only the partial sums). The input is coalesced to
    ``task_slots(df)`` partitions, so one Python task per core slot sums
    its share, and the driver adds up those few rows: one stage, no
    exchange. The row-aligned probes above keep the caller's partitioning
    instead, since they return the caller's rows."""
    import pyarrow as pa

    name = ship_sketch(df.sparkSession, sketch)

    def _count(batches):
        sk = load_shipped_sketch(name)
        n = hits = 0
        for b in batches:
            vals = _arrow.keys(b.column(0))  # NULL keys are not probes
            n += vals.size
            hits += int(sk.contains_bulk(vals).sum())
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], type=pa.int64()), pa.array([hits], type=pa.int64())],
            names=["n", "hits"],
        )

    rows = collect_rows(df.select(key_col).coalesce(task_slots(df))
                        .mapInArrow(_count, "n long, hits long"))
    return sum(r["n"] for r in rows), sum(r["hits"] for r in rows)


def register_sql_functions(spark, sketch: Sketch,
                           prefix: str = "pbf") -> list[str]:
    """Expose a sketch to PLAIN ``spark.sql`` queries as scalar functions —
    the SQL face of the probe operators, for users who write SQL rather
    than DataFrame code:

    - membership kinds (bloom/countingbloom): ``<prefix>_member(key)`` ->
      boolean (contains_bulk per Arrow batch);
    - frequency kinds (cms/countsketch): ``<prefix>_count(key)`` -> long
      point estimate (query_bulk).

    The sketch ships ONCE via addFile (the fast path `ship_sketch`
    documents); each registered function probes the worker-cached copy, so
    `SELECT * FROM t WHERE pbf_member(k)` scans with zero shuffle exactly
    like ``probe_key_column``. Returns the registered names. Registration
    is session-scoped and a second call with the same prefix rebinds to
    the new sketch.

    NULL keys follow SQL scalar-function semantics: ``pbf_member(NULL)``
    and ``pbf_count(NULL)`` are NULL. The functions are ARROW UDFs, not
    pandas UDFs: a nullable long column reaches a pandas UDF as
    float64+NaN, which both crashes on the NaN and silently rounds every
    |key| > 2^53 — an arrow_udf receives the raw int64 Arrow array with
    its validity mask, so keys stay exact at any magnitude and the null
    mask transfers straight to the output."""
    name = ship_sketch(spark, sketch)
    registered = []
    if hasattr(sketch, "contains_bulk"):

        def _member(keys):
            sk = load_shipped_sketch(name)
            return _row_aligned(keys, sk.contains_bulk)

        spark.udf.register(f"{prefix}_member",
                           _scalar_arrow_udf(_member, "boolean"))
        registered.append(f"{prefix}_member")
    if hasattr(sketch, "query_bulk"):

        def _count(keys):
            sk = load_shipped_sketch(name)
            return _row_aligned(
                keys, lambda v: np.asarray(sk.query_bulk(v), dtype=np.int64))

        spark.udf.register(f"{prefix}_count",
                           _scalar_arrow_udf(_count, "long"))
        registered.append(f"{prefix}_count")
    if not registered:
        raise ValueError(
            f"sketch kind {sketch.kind!r} exposes neither contains_bulk "
            "nor query_bulk; nothing to register")
    return registered
