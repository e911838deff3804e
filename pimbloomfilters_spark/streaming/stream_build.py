"""Structured Streaming sketch maintenance.

The reference is strictly batch (SURVEY.md §2.4: no streaming state); these
operators extend the same mergeable-sketch algebra to unbounded input — the
property that makes a sketch *streamable* is exactly the one that makes it
partition-parallel: associative, commutative merge.

Shapes:

1. ``sketch_stream_query`` / ``dedup_stream_query`` / ``profile_stream_query``
   / ``sample_stream_query`` — foreachBatch through one runner
   (``_fold_query``): every micro-batch is folded into a driver-held state
   (a sketch, a dedup filter pair, a profile, a bottom-k sample) that is
   snapshotted durably per batch next to the checkpoint and reloaded on
   start (driver restarts lossless; replayed batches already in the
   snapshot are skipped — exactly-once for every kind).

2. ``sharded_dedup_stream`` — the filter lives EXECUTOR-side as per-shard
   GroupState in the state store (nothing re-ships per batch, restart-safe
   transactionally with the offsets, memory scales out with n_shards). Its
   shards are probed and written with the batch Bloom kernels, and its TTL
   is the one rotation rule (``_ttl_rotation``) ``dedup_stream_query``
   applies too.

3. ``windowed_distinct_stream`` / ``windowed_heavy_hitters_stream`` /
   ``windowed_quantiles_stream`` — one runner (``_window_stream``): per
   event-time window (tumbling or sliding) an HLL / Misra–Gries / KLL of
   the non-NULL values is GroupState of applyInPandasWithState;
   EventTimeTimeout evicts window state once the watermark passes, and rows
   of a window already behind the watermark are dropped as late.

4. ``session_stream`` — gap-based sessionization as per-user GroupState:
   closed sessions emit on in-batch gaps or via EventTimeTimeout when the
   user goes idle; state is one row per active user.
"""

from __future__ import annotations

import copy
import functools
import io
import struct
import threading
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.build import build_sketch
from ..sketches import Sketch, sketch_from_bytes
from ._snapshot import SnapshotStore

# -- foreachBatch fold queries ------------------------------------------------
# sketch_stream_query, dedup_stream_query, profile_stream_query and
# sample_stream_query differ only in their fold and their payload codec;
# ``_fold_query`` does the rest once. It loads the newest snapshot on start,
# skips replayed batches (``batch_id <=`` the snapshot's, which makes CMS/KLL
# replays exactly-once as well) and empty ones, folds each new batch, saves
# its snapshot and publishes the new state here.
#
# query name -> (kind, state). foreachBatch runs on a streaming thread while
# get_stream_* is polled from the driver thread: a fold never mutates a
# published state, and the entry is replaced whole under the lock, so a
# reader never sees a half-applied batch. The kind is the claim: a name
# reused across kinds would hand one query's snapshot state to another.
_QUERIES: dict[str, tuple[str, object]] = {}
_LOCK = threading.Lock()


def _published(name: str, kind: str):
    with _LOCK:
        entry = _QUERIES.get(name)
    return entry[1] if entry is not None and entry[0] == kind else None


def _fold_query(stream_df: DataFrame, name: str, kind: str,
                checkpoint_dir: str, fold: Callable, encode: Callable,
                decode: Callable, trigger_available_now: bool):
    """Start the foreachBatch query ``name``: ``fold(state, batch_df)``
    returns the next state (state is None before the first batch) without
    mutating its argument; ``encode``/``decode`` are the kind's payload
    codec."""
    store = SnapshotStore(checkpoint_dir)
    with _LOCK:
        prev = _QUERIES.get(name)
        if prev is not None and prev[0] != kind:
            raise ValueError(
                f"stream query name {name!r} already belongs to a {prev[0]} "
                f"query in this session; use a distinct name per query kind")
        payload, done = store.load()
        state = None if payload is None else decode(payload)
        _QUERIES[name] = (kind, state)

    def _step(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal state, done
        if batch_id <= done or batch_df.isEmpty():
            return  # a replay the loaded snapshot already holds, or nothing
        new = fold(state, batch_df)
        store.save(batch_id, encode(new))
        state, done = new, batch_id
        with _LOCK:
            _QUERIES[name] = (kind, new)

    writer = (
        stream_df.writeStream.foreachBatch(_step)
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _merged(cur: Sketch | None, partial: Sketch) -> Sketch:
    """cur ∪ partial without touching the published ``cur``."""
    return partial if cur is None else copy.deepcopy(cur).merge(partial)


def get_stream_sketch(name: str) -> Sketch | None:
    return _published(name, "sketch")


def sketch_stream_query(
    stream_df: DataFrame,
    col: str,
    make: Callable[[], Sketch],
    name: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Start a streaming query that folds every micro-batch into a running
    sketch (readable via ``get_stream_sketch(name)``). The running sketch is
    snapshotted per batch next to the checkpoint and reloaded on start, so a
    driver restart resumes with all prior keys; replayed batches already in
    the snapshot are skipped (exactly-once for every sketch kind)."""
    return _fold_query(
        stream_df, name, "sketch", checkpoint_dir,
        lambda cur, batch_df: _merged(cur, build_sketch(batch_df, col,
                                                        make)[0]),
        lambda sk: sk.to_bytes(), sketch_from_bytes, trigger_available_now)


# dedup payload: gen_start_ms, len(seen blob), seen blob, prev blob; an
# absent generation is an empty blob
_DEDUP_HEAD = struct.Struct("<qQ")


def _dedup_blob(state) -> bytes:
    seen, prev, gen_start = state
    sb = seen.to_bytes() if seen is not None else b""
    pb = prev.to_bytes() if prev is not None else b""
    return _DEDUP_HEAD.pack(gen_start, len(sb)) + sb + pb


def _dedup_from_blob(raw: bytes):
    gen_start, n = _DEDUP_HEAD.unpack_from(raw)
    sb, pb = raw[_DEDUP_HEAD.size:_DEDUP_HEAD.size + n], \
        raw[_DEDUP_HEAD.size + n:]
    return (sketch_from_bytes(sb) if sb else None,
            sketch_from_bytes(pb) if pb else None, gen_start)


def _ttl_rotation(gen_start: int, now: int, ttl_ms: int) -> tuple[str, int]:
    """The rotating-generation TTL rule of both dedup streams: the step for
    the (current, previous) filter pair at time ``now``, and the new
    generation start. Bits cannot be deleted, so a filter forgets by
    generations: inserts go to the current one, membership checks both.
    No clock yet (``gen_start == 0``): "keep", starting it at ``now``;
    ``ttl_ms`` old: "rotate" (current becomes previous, the old previous is
    dropped); ``2*ttl_ms`` old: "drop" both.

    Bound: a key is never re-admitted sooner than ``ttl_ms`` after its
    insert (its generation rotates only once ``ttl_ms`` old, and the next
    one must be ``ttl_ms`` old before the pair drops it). How much longer
    it is remembered depends on when batches or timers next apply the
    rule."""
    if not gen_start:
        return "keep", now
    age = now - gen_start
    if age < ttl_ms:
        return "keep", gen_start
    return ("rotate" if age < 2 * ttl_ms else "drop"), now


def dedup_stream_query(
    stream_df: DataFrame,
    key_col: str,
    out_path: str,
    checkpoint_dir: str,
    size2: int = 26,
    nb_hash: int = 8,
    name: str = "bloom_dedup",
    ttl_ms: int | None = None,
):
    """Streaming drop-already-seen filter: every micro-batch is probed against
    a running Bloom filter of all keys seen so far; unseen rows are appended
    to ``out_path`` and their keys inserted. First occurrences always pass
    (no false negatives => nothing is wrongly treated as seen... the
    guarantee is the reverse of exact dedup's: a false POSITIVE drops a
    first occurrence with probability = FPR, the standard approximate-dedup
    trade — size the filter for the expected key cardinality).

    The dedup state is snapshotted per batch and reloaded on restart (see
    ``_fold_query``), so resumed streams keep deduping against everything
    already emitted. A batch replayed after its parquet write but before the
    offset commit can still duplicate output rows — standard foreachBatch
    at-least-once for the sink side.

    ``ttl_ms`` bounds memory on an unbounded key universe by rotating
    generations on the wall clock (``_ttl_rotation``, the rule
    ``sharded_dedup_stream`` uses too): a key is never re-admitted sooner
    than ttl_ms after its insert. Each generation is a COMPLETE filter for
    the keys first seen in it, so membership is the OR of two independent
    probes — no bits-split-across-generations hazard. The state
    ``(seen, prev, gen_start_ms)`` is ONE snapshot file per batch, so a
    restart restores the previous generation and the rotation clock
    together with the filter they belong to."""
    import time

    from ..operators.probe import probe_key_column
    from ..sketches import make_sketch

    factory = functools.partial(make_sketch, "bloom", size2=size2, nb_hash=nb_hash)

    def _fold(state, batch_df: DataFrame):
        seen, prev, gen_start = state or (None, None, 0)
        if ttl_ms is not None:
            step, gen_start = _ttl_rotation(gen_start, int(time.time() * 1000),
                                            ttl_ms)
            if step != "keep":
                seen, prev = None, seen if step == "rotate" else None
        fresh = batch_df
        for gen in (seen, prev):
            if gen is not None:
                fresh = probe_key_column(fresh, gen, key_col).filter(
                    ~F.col("member")
                ).drop("member")
        # exact within-batch dedup (the filter only learns keys after the
        # whole batch); cross-batch dedup is the Bloom's job
        fresh = fresh.dropDuplicates([key_col]).persist()
        if not fresh.isEmpty():
            fresh.write.mode("append").parquet(out_path)
            seen = _merged(seen, build_sketch(fresh, key_col, factory)[0])
        fresh.unpersist()
        return seen, prev, gen_start

    return _fold_query(stream_df, name, "dedup", checkpoint_dir, _fold,
                       _dedup_blob, _dedup_from_blob, True)


def sharded_dedup_stream(
    stream_df: DataFrame,
    key_col: str,
    size2: int = 26,
    nb_hash: int = 8,
    n_shards: int = 32,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming drop-already-seen filter with the Bloom state held
    EXECUTOR-SIDE: the logical filter is split into ``n_shards`` disjoint
    bit-ranges (the sharded-build layout — a key's block, hence all its k
    bits, lives in exactly one shard), each shard's bitmap is GroupState in
    the Structured Streaming state store, and every micro-batch routes keys
    to their shard with the same JVM-side hash used by the batch operators.
    Keys are cast to long BEFORE routing (JVM xxhash64 of an int32 column
    hashes 4 bytes; the numpy path hashes the 8-byte value — an uncast int
    key would land in the wrong shard's state, see probe_bloom_distributed);
    the emitted key column is therefore always long. NULL keys are dropped
    before routing: they are no key, and the batch build drops them too.
    A shard's bitmap is probed and written with the batch kernels
    (``bloom_probe``, ``scatter_or_bits``), so with no TTL it is
    byte-identical to ``build_bloom_shards`` over the same keys.

    vs ``dedup_stream_query`` (foreachBatch + driver-held filter): nothing is
    re-shipped per batch (the foreachBatch path addFile's a fresh filter
    snapshot every micro-batch — O(batches x m/8) transfers), state survives
    driver restarts transactionally with the offsets (no side snapshots), and
    memory scales out: each executor holds only its shards' m/n_shards bits.
    Emits first occurrences (append mode); false positives drop a first
    occurrence with p = FPR, the standard approximate-dedup trade.

    ``ttl_ms=None``: dedup state never expires (NoTimeout) — right for
    bounded key domains. ``ttl_ms=N``: ROTATING-GENERATION expiry by
    ``_ttl_rotation`` (the rule ``dedup_stream_query`` uses too) on the
    processing-time clock, per shard: inserts go to the current generation,
    membership checks current OR previous, and a key is never re-admitted
    sooner than ttl_ms after its insert; a shard idle for 2*ttl_ms drops its
    whole state via ProcessingTimeTimeout. State per shard doubles (two
    bitmaps) but stays bounded forever. Note: processing-time timers keep
    scheduling batches, so a TTL'd query under
    ``trigger(availableNow=True)`` does not self-terminate — run it with a
    processing-time trigger (it's for long-lived streams), or drain with
    ``processAllAvailable()`` + ``stop()`` in tests."""
    import math as _math

    from ..hashing import DEFAULT_SEED
    from ..operators.sharded import _shard_expr
    from ..sketches.bloom import (BLOCK_BITS, bloom_positions, bloom_probe,
                                  scatter_or_bits, word_bits)

    if n_shards & (n_shards - 1):
        raise ValueError("n_shards must be a power of two")
    if ttl_ms is not None and ttl_ms <= 0:
        raise ValueError("ttl_ms must be positive (or None for no expiry)")
    shard_bits = int(_math.log2(n_shards))
    shard_size_bits = (1 << size2) // n_shards
    n_words = shard_size_bits // 64
    out_schema = StructType([StructField(key_col, LongType())])
    # ttl_ms=None keeps the original 2-field state schema so pre-TTL
    # checkpoints restart cleanly (Spark rejects a state-schema change on
    # resume); the TTL variant is a NEW query shape with its own schema:
    # current generation, previous generation, rotation clock
    state_schema = "bitmap binary, n_seen long" if ttl_ms is None else \
        "bitmap binary, bitmap_prev binary, gen_start_ms long, n_seen long"

    def _probe(vals: np.ndarray, words: np.ndarray, base: int) -> np.ndarray:
        return bloom_probe(vals, size2, nb_hash, DEFAULT_SEED, BLOCK_BITS,
                           word_bits(words, base))

    def _update(key, pdfs, state: GroupState):
        if state.hasTimedOut:  # idle shard past 2*TTL: drop everything
            state.remove()
            return
        (shard,) = key
        blob, blob_prev, gen_start, n_seen = (
            (b"", b"", 0, 0) if not state.exists
            else (state.get[0], b"", 0, state.get[1]) if ttl_ms is None
            else state.get)
        words = np.frombuffer(bytes(blob), dtype=np.uint64).copy() if blob \
            else np.zeros(n_words, dtype=np.uint64)
        prev = np.frombuffer(bytes(blob_prev), dtype=np.uint64) \
            if blob_prev else None
        if ttl_ms is not None:
            step, gen_start = _ttl_rotation(
                gen_start, state.getCurrentProcessingTimeMs(), ttl_ms)
            if step != "keep":
                prev = words if step == "rotate" else None
                words = np.zeros(n_words, dtype=np.uint64)
        base = shard * shard_size_bits
        out = []
        for pdf in pdfs:
            vals = pd.unique(pdf[key_col].to_numpy())  # in-batch exact dedup
            # each generation is probed on its own: a key is seen iff all k
            # bits are set in ONE generation (bits split across generations
            # would drop first occurrences far above p = FPR)
            seen = _probe(vals, words, base)
            if prev is not None:
                unseen = np.flatnonzero(~seen)
                seen[unseen] = _probe(vals[unseen], prev, base)
            fresh = vals[~seen]
            if fresh.size:
                scatter_or_bits(words, bloom_positions(
                    fresh, size2, nb_hash, DEFAULT_SEED, BLOCK_BITS),
                    pos_offset=base)
                n_seen += int(fresh.size)
                out.append(fresh)
        if ttl_ms is None:
            state.update((words.tobytes(), int(n_seen)))
        else:
            state.update((
                words.tobytes(),
                prev.tobytes() if prev is not None else b"",
                int(gen_start), int(n_seen),
            ))
            state.setTimeoutDuration(2 * ttl_ms)
        if out:
            yield pd.DataFrame({key_col: np.concatenate(out)})

    keyed = (stream_df.select(F.col(key_col).cast("long").alias(key_col))
             .filter(F.col(key_col).isNotNull())
             .withColumn("_shard",
                         _shard_expr(key_col, shard_bits).cast("int")))
    return keyed.groupBy("_shard").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                     if ttl_ms is not None else GroupStateTimeout.NoTimeout),
    )


_UNIT_MS = {"millisecond": 1, "second": 1_000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000}


def _duration_ms(s: str) -> int:
    """Parse Spark interval strings like '1 minute' / '30 seconds'."""
    n, unit = s.strip().split()
    return int(n) * _UNIT_MS[unit.rstrip("s")]


# -- event-time window streams ------------------------------------------------
# windowed_distinct_stream, windowed_heavy_hitters_stream and
# windowed_quantiles_stream differ only in their sketch, the value they
# insert and the row they emit; ``_window_stream`` does the rest once.


def _window_stream(stream_df: DataFrame, ts_col: str, value, window: str,
                   watermark: str, slide: str | None,
                   make: Callable[[], Sketch], field: str, out_schema: str,
                   emit: Callable) -> DataFrame:
    """Fold ``value`` (a column expression; NULL = no value) per event-time
    window (tumbling, or sliding by ``slide``) into the sketch ``make()``,
    held as GroupState ``(<field> binary, n_rows long)``. Each update emits
    ``emit(window_start, sketch, n_rows)``, a dict of output columns (update
    mode: the window's current estimate). Window state is evicted via
    EventTimeTimeout once the watermark passes window_end + watermark, so
    the state store stays bounded on a long-running stream. Late rows are
    dropped: Spark drops rows behind the previous batch's watermark, and
    rows of a window whose window_end + watermark the current watermark
    has reached are dropped here (no state, no row)."""
    window_ms = _duration_ms(window)
    watermark_ms = _duration_ms(watermark)
    with_window = (
        stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        # NULL values still advance the watermark above but are no value:
        # the batch build drops them too, and pandas would read a nullable
        # long column as float64 (NaN -> int64 min, keys > 2^53 rounded)
        .withColumn("_v", value)
        .filter(F.col("_v").isNotNull())
        .withColumn("_w", F.window(F.col(ts_col), window, slide or window)
                    .getField("start"))
        # the watermarked ts column must survive the projection or the
        # analyzer rejects EventTimeTimeout ("no watermark")
        .select("_w", "_v", ts_col)
    )

    def _update(key, pdfs, state: GroupState):
        (wstart,) = key
        end_ms = int(pd.Timestamp(wstart).value // 1_000_000) + window_ms
        # evict on timeout. Spark filters late rows with the previous
        # batch's watermark, so rows of a window already behind the current
        # one still arrive here: drop them (no state, no row); their timeout
        # could not be set below the watermark anyway
        if (state.hasTimedOut
                or end_ms + watermark_ms <= state.getCurrentWatermarkMs()):
            state.remove()
            return
        if state.exists:
            blob, n = state.get
            sk = sketch_from_bytes(bytes(blob))
        else:
            sk, n = make(), 0
        for pdf in pdfs:
            vals = pdf["_v"].to_numpy()
            sk.insert_bulk(vals)
            n += len(vals)
        state.update((sk.to_bytes(), n))
        state.setTimeoutTimestamp(end_ms + watermark_ms)
        yield pd.DataFrame(emit(wstart, sk, n))

    return with_window.groupBy("_w").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=f"{field} binary, n_rows long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_WINDOW_OUT = "window_start timestamp, estimate long, n_rows long"


def windowed_distinct_stream(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    slide: str | None = None,
    hll_p: int = 12,
) -> DataFrame:
    """Per-event-time-window streaming distinct-count (HLL) via
    applyInPandasWithState. Rows of a window whose window_end + watermark
    the watermark has reached are late and dropped (no state, no row);
    window state IS evicted via EventTimeTimeout once the watermark passes
    window_end + watermark, so the state store stays bounded on a
    long-running stream. NULL keys are no distinct value."""
    from ..sketches import HyperLogLog

    key = F.col(key_col)
    # xxhash64 would hash NULL as one more value: keep it NULL
    value = F.when(key.isNotNull(), F.xxhash64(key.cast("string")))
    return _window_stream(
        stream_df, ts_col, value, window, watermark, slide,
        functools.partial(HyperLogLog, p=hll_p), "hll", _WINDOW_OUT,
        lambda wstart, hll, n: {"window_start": [wstart],
                                "estimate": [int(round(hll.estimate()))],
                                "n_rows": [n]})


_HH_OUT = "window_start timestamp, item long, est_count long, n_rows long"


def windowed_heavy_hitters_stream(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    slide: str | None = None,
    k: int = 256,
    top: int = 10,
) -> DataFrame:
    """Per-event-time-window streaming heavy hitters via a Misra–Gries
    summary held as GroupState: each update emits the window's current top
    items with their (one-sided under-) estimates; any item whose true count
    exceeds n/(k+1) is guaranteed present. State is evicted once the
    watermark passes window_end + watermark (EventTimeTimeout) and late
    rows are dropped, same discipline as ``windowed_distinct_stream``. NULL
    keys are no item."""
    from ..sketches import MisraGries

    def _emit(wstart, mg, n):
        hh = mg.heavy_hitters()[:top]
        return {"window_start": [wstart] * len(hh),
                "item": [item for item, _ in hh],
                "est_count": [est for _, est in hh],
                "n_rows": [n] * len(hh)}

    return _window_stream(
        stream_df, ts_col, F.col(key_col).cast("long"), window, watermark,
        slide, functools.partial(MisraGries, k=k), "mg", _HH_OUT, _emit)


_QT_OUT = "window_start timestamp, p50 double, p95 double, n_rows long"


def windowed_quantiles_stream(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    slide: str | None = None,
    kll_k: int = 200,
) -> DataFrame:
    """Per-event-time-window streaming quantiles (p50/p95) via a KLL sketch
    held as GroupState — completes the streaming trio next to distinct (HLL)
    and heavy hitters (Misra–Gries). Window state is evicted once the
    watermark passes window_end + watermark (EventTimeTimeout), so the state
    store stays bounded, and late rows are dropped as in
    ``windowed_distinct_stream``; each update re-emits the window's current
    estimates (update mode). Estimates carry KLL's O(1/k) normalized rank error. NULL,
    NaN and ±inf values are no value and are not counted in n_rows."""
    from ..sketches import KLLSketch

    v = F.col(value_col).cast("double")
    # NaN and ±inf would sort to the ends of the KLL buffers, permanently
    # poisoning the window's extreme quantiles: make them NULL (Spark orders
    # NaN above +inf, so the test is false for all three)
    value = F.when(F.abs(v) < float("inf"), v)
    return _window_stream(
        stream_df, ts_col, value, window, watermark, slide,
        functools.partial(KLLSketch, k=kll_k), "kll", _QT_OUT,
        lambda wstart, kll, n: {"window_start": [wstart],
                                "p50": [kll.quantile(0.5)],
                                "p95": [kll.quantile(0.95)],
                                "n_rows": [n]})


_SESS_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", LongType()),
])
_SESS_STATE = StructType([
    # ALL sessions not yet watermark-final (closed-but-bridgeable + open),
    # parallel arrays ordered by start: a session is only emitted once the
    # watermark passes its end + gap, i.e. once no admissible event can
    # ever bridge/extend it
    StructField("starts", ArrayType(LongType())),
    StructField("lasts", ArrayType(LongType())),
    StructField("ns", ArrayType(LongType())),
])


def session_stream(
    stream_df: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-based sessionization — the stateful twin of the batch
    ``user_sessions`` query: per user, consecutive events closer than
    ``gap`` belong to one session; a CLOSED session is emitted as
    (user_id, session_start, session_end, n_events).

    Mechanics: one GroupState row per user holds EVERY session that is not
    yet watermark-final — the open session plus any closed session whose
    end a still-admissible (within-watermark) late event could yet bridge.
    Each invocation re-sessionizes the stored sessions (as atoms — their
    internal gaps are <= gap by construction) together with the batch's
    events in time order, which is exactly the batch gap rule; a session
    is emitted only once the watermark passes its end + gap, at which
    point NO event Spark would still accept can extend or bridge it (an
    extending event t satisfies t <= end + gap < watermark, so it would be
    dropped upstream). Emission therefore never needs retraction and the
    output matches batch sessionization exactly, including the
    late-event-bridges-an-earlier-closed-session case. EventTimeTimeout
    flushes ripe sessions when a user simply stops. State per user is
    bounded by watermark-delay / gap sessions (one open session plus the
    few closed ones still inside the lateness horizon)."""
    gap_ms = _duration_ms(gap)

    src = (
        stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .withColumn("_u", F.col(user_col).cast("long"))
        .select("_u", F.col(ts_col).alias("_ts"))
    )

    def _update(key, pdfs, state: GroupState):
        (user,) = key
        wm = state.getCurrentWatermarkMs()
        if state.exists:
            st_s, st_e, st_c = state.get
            s = np.asarray(st_s, dtype=np.int64)
            e = np.asarray(st_e, dtype=np.int64)
            c = np.asarray(st_c, dtype=np.int64)
        else:
            s = e = c = np.empty(0, dtype=np.int64)
        if not state.hasTimedOut:
            ts = np.concatenate([
                pdf["_ts"].to_numpy(dtype="datetime64[ms]").astype(np.int64)
                for pdf in pdfs
            ])
            s = np.concatenate([s, ts])
            e = np.concatenate([e, ts])
            c = np.concatenate([c, np.ones(ts.size, dtype=np.int64)])
        if s.size == 0:
            state.remove()
            return
        # Sessionize stored sessions (atoms — internal gaps <= gap by
        # construction) and new events together in time order == the batch
        # gap rule. A within-watermark late event older than a stored
        # session joins it only when within `gap`; further away it forms
        # its own earlier session, which stays in STATE (not emitted) so a
        # later admissible event can still bridge it.
        # Vectorized gaps-and-islands (the old Python tuple sort + merge
        # loop dominated addBatch at 10^5 events/batch): sort intervals by
        # start; an interval opens a new session iff its start exceeds the
        # running max end of everything before it by more than gap (tie
        # order on equal starts cannot change the grouping: a same-start
        # interval always lands in the open session).
        order = np.argsort(s, kind="stable")
        s, e, c = s[order], e[order], c[order]
        cme = np.maximum.accumulate(e)  # running max end, inclusive
        new_sess = np.empty(s.size, dtype=bool)
        new_sess[0] = True
        np.greater(s[1:] - cme[:-1], gap_ms, out=new_sess[1:])
        heads = np.flatnonzero(new_sess)          # first index per session
        tails = np.r_[heads[1:] - 1, s.size - 1]  # last index per session
        m_s = s[heads]
        m_e = cme[tails]
        m_c = np.add.reduceat(c, heads)
        # ripe = untouchable by any future admissible event: an event t
        # extending/bridging [s, e] needs t <= e + gap, and Spark drops
        # t < watermark — so e + gap < wm means finality
        is_ripe = m_e + gap_ms < wm
        if is_ripe.all():
            state.remove()
        else:
            k_s, k_e, k_c = m_s[~is_ripe], m_e[~is_ripe], m_c[~is_ripe]
            state.update((k_s.tolist(), k_e.tolist(), k_c.tolist()))
            state.setTimeoutTimestamp(max(int(k_e.min()) + gap_ms, wm + 1))
        if is_ripe.any():
            yield pd.DataFrame({
                # a NULL user is one NULL group, as in the batch PARTITION BY
                "user_id": pd.array([user] * int(is_ripe.sum()),
                                    dtype="Int64"),
                "session_start": pd.to_datetime(m_s[is_ripe], unit="ms"),
                "session_end": pd.to_datetime(m_e[is_ripe], unit="ms"),
                "n_events": m_c[is_ripe]})

    return src.groupBy("_u").applyInPandasWithState(
        _update,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def screen_stream(stream_df, sketch, n: int = 13,
                  tokens_col: str = "tokens", id_col: str = "doc_id"):
    """Streaming benchmark screening: probe each arriving pre-tokenized
    document's distinct token n-gram codes against a PRE-BUILT filter
    (built once from the benchmark with ``build_sketch`` over
    ``token_ngram_codes``) — the reference's contains_bulk flow on a
    stream. Stateless (each doc's verdict depends only on its own row +
    the static filter), so it runs in append mode with no state store, no
    watermark, and no per-key shuffle; one output row per doc with >= n
    tokens: (doc_id, n_ngrams, n_matched, contaminated). This is the
    online admission check of a training-data pipeline: screen incoming
    crawl shards against held-out benchmarks before they enter the
    corpus."""
    from ..functions.dedup import screen_token_ngrams

    return screen_token_ngrams(stream_df, sketch, n, tokens_col, id_col)


def stream_interval_join(left_stream: DataFrame, right_stream: DataFrame,
                         on: str, left_ts: str, right_ts: str,
                         lookback: str = "1 hour",
                         watermark: str = "10 minutes") -> DataFrame:
    """STREAM-STREAM attribution-candidate join: every left event paired
    with all right events of the same key inside its lookback window
    (left_ts - lookback < right_ts <= left_ts) — the streaming prefix of
    an as-of join (pick-the-latest is a per-left-row aggregation a
    downstream batch step or foreachBatch applies; a pure append stream
    cannot emit "the latest so far" without retracting it later, so the
    candidate set IS the correct streaming contract).

    Uses Spark's native watermarked stream-stream inner join: BOTH sides
    carry the event-time watermark and the join condition bounds
    right_ts relative to left_ts, which is exactly what lets Spark evict
    buffered rows older than watermark + lookback — state stays bounded
    by (rate x (lookback + watermark)), the canonical pattern. Output
    columns: (key, left/right event-time columns aliased apart, and each
    side's payload struct)."""
    lcols = [c for c in left_stream.columns if c not in (on, left_ts)]
    rcols = [c for c in right_stream.columns if c not in (on, right_ts)]
    l = (left_stream
         .withColumn(left_ts, F.col(left_ts).cast("timestamp"))
         .withWatermark(left_ts, watermark)
         .select(F.col(on).alias("_k"), F.col(left_ts).alias("_lts"),
                 F.struct(*lcols).alias("left_row")))
    r = (right_stream
         .withColumn(right_ts, F.col(right_ts).cast("timestamp"))
         .withWatermark(right_ts, watermark)
         .select(F.col(on).alias("_rk"), F.col(right_ts).alias("_rts"),
                 F.struct(*rcols).alias("right_row")))
    cond = ((F.col("_k") == F.col("_rk"))
            & (F.col("_rts") <= F.col("_lts"))
            & (F.col("_rts") > F.col("_lts") - F.expr(f"INTERVAL {lookback}")))
    return (l.join(r, cond)
            .select(F.col("_k").alias(on), F.col("_lts").alias("left_ts"),
                    F.col("_rts").alias("right_ts"), "left_row", "right_row"))


# -- streaming table profiles -------------------------------------------------
# The one-scan profiler's mergeable form (operators/profile.py
# ``with_sketch=True``) applied to unbounded input: per micro-batch, profile
# the batch and merge counts + per-column HLLs into a running profile — the
# data-quality monitor of an ingest stream (null-rate spikes, cardinality
# drift). State: {column: [n_rows, n_nulls, hll, stats]}.


def get_stream_profile(name: str) -> dict | None:
    """{column: {"n_rows", "n_nulls", "ndv_est"[, numeric stats]}} of the
    running profile — a consistent snapshot (never reflects a
    partially-folded batch). Numeric columns additionally carry
    "min"/"max" and, for integral ones, exact "sum"/"sumsq" ints."""
    prof = _published(name, "profile")
    if prof is None:
        return None
    out = {}
    for c, v in prof.items():
        d = {"n_rows": v[0], "n_nulls": v[1],
             # NaN for not-estimable (map-typed) columns, matching the
             # batch profiler's surface exactly
             "ndv_est": float(v[2].estimate()) if v[2] is not None
             else float("nan")}
        st = v[3] if len(v) > 3 else None
        if st is not None:
            d["min"], d["max"] = st[1], st[2]
            if st[0] == "i":
                d["sum"], d["sumsq"] = st[3], st[4]
        out[c] = d
    return out


_PROFILE_BLOB_V2 = -2  # magic: v2 snapshots carry a per-column stats field


def _profile_blob(prof: dict) -> bytes:
    import json

    out = [struct.pack("<qq", _PROFILE_BLOB_V2, len(prof))]
    for c, (n, nn, sk, st) in prof.items():
        cb = c.encode()
        pb = sk.to_bytes() if sk is not None else b""
        sb = json.dumps(st).encode() if st is not None else b""
        out.append(struct.pack("<qqqqq", len(cb), n, nn, len(pb), len(sb)))
        out.append(cb)
        out.append(pb)
        out.append(sb)
    return b"".join(out)


def _profile_from_blob(raw: bytes) -> dict:
    import json

    (head,) = struct.unpack_from("<q", raw, 0)
    if head != _PROFILE_BLOB_V2:
        # Headerless (pre-v2) snapshots are refused outright rather than
        # sniffed: two headerless layouts once existed and disambiguating by
        # try-parsing could, on a length coincidence, silently load a
        # corrupted profile. Deleting only the snapshot files is no way out:
        # Spark never replays the batches its checkpoint has committed, so
        # the profile would restart short of them. Only a fresh checkpoint
        # rebuilds it from the source.
        raise ValueError(
            "unrecognized profile snapshot format (pre-v2 headerless "
            "profile_*.bin blob or corrupt payload): stop the query and "
            "delete its whole checkpoint directory, then restart it to "
            "rebuild the profile from the source")
    (n_cols,) = struct.unpack_from("<q", raw, 8)
    prof, off = {}, 16
    for _ in range(n_cols):
        lc, n, nn, lp, ls = struct.unpack_from("<qqqqq", raw, off)
        off += 40
        if not (0 < lc <= 4096) or lp < 0 or ls < 0 \
                or off + lc + lp + ls > len(raw):
            raise ValueError("implausible profile record")
        c = raw[off:off + lc].decode(); off += lc
        sk = sketch_from_bytes(raw[off:off + lp]) if lp else None
        off += lp
        st = json.loads(raw[off:off + ls].decode()) if ls else None
        off += ls
        prof[c] = [n, nn, sk, st]
    if off != len(raw):
        raise ValueError("trailing bytes in profile snapshot")
    return prof


def stream_profile_rows(spark, name: str) -> DataFrame:
    """The running stream profile as a DataFrame in the exact
    ``profile_table`` schema (column, n_rows, n_nulls, ndv_est, min_long,
    max_long, min_double, max_double, sum_str, sumsq_str) — the rows a
    batch profile over everything folded so far would produce (counts
    add, HLL merges are deterministic, min/max and exact integer sums
    merge bit-exactly). Raises KeyError for an unknown profile name."""
    from ..operators.profile import _PROFILE_SCHEMA, _agg_to_rows

    prof = _published(name, "profile")
    if prof is None:
        raise KeyError(f"no stream profile named {name!r}")
    rows = _agg_to_rows({c: tuple(v) for c, v in prof.items()}, False)
    return spark.createDataFrame(rows, _PROFILE_SCHEMA)


def profile_stream_query(
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    columns: list[str] | None = None,
    hll_p: int = 14,
    trigger_available_now: bool = True,
):
    """Maintain a running mergeable table profile over a stream (readable
    via ``get_stream_profile(name)``): every micro-batch is profiled with
    the one-scan profiler and folded in — counts add, HLLs merge, so the
    running profile equals a batch ``profile_table`` over everything seen.
    Snapshot-per-batch next to the checkpoint; a driver restart reloads the
    newest snapshot and skips replayed batches (exactly-once)."""
    from ..operators.profile import merge_stats, profile_agg

    def _fold(prof, batch_df: DataFrame) -> dict:
        # profile_agg returns the driver accumulator dict directly — no
        # DataFrame round trip, no extra sketch (de)serialization on the
        # per-batch hot path
        batch_agg = profile_agg(batch_df, columns=columns, hll_p=hll_p)
        out = {c: list(v) for c, v in (prof or {}).items()}
        for c, (n, nn, sk, st) in batch_agg.items():
            slot = out.setdefault(c, [0, 0, None, None])
            slot[0] += n
            slot[1] += nn
            if sk is not None:
                slot[2] = _merged(slot[2], sk)
            slot[3] = merge_stats(slot[3], st)
        return out

    return _fold_query(stream_df, name, "profile", checkpoint_dir, _fold,
                       _profile_blob, _profile_from_blob,
                       trigger_available_now)


# -- streaming deterministic uniform sample -----------------------------------
# Bottom-k by md5(key) priority is a MERGEABLE sample: bottom-k of a union
# equals bottom-k of the per-part bottom-ks, so the held sample after any
# micro-batch sequence is byte-identical to the batch ``uniform_sample``
# over everything seen — regardless of batch boundaries, arrival order, or
# restarts. State is k rows (an Arrow table, snapshotted as Arrow IPC).


def get_stream_sample(name: str):
    """The running bottom-k sample as a pyarrow Table (priority column
    ``_pri`` first, then the stream's columns), or None."""
    return _published(name, "sample")


def stream_sample_rows(spark, name: str) -> DataFrame:
    """The running sample as a DataFrame in the stream's schema (the rows
    batch ``uniform_sample(k)`` over everything folded so far would
    return). Raises KeyError for an unknown sample name."""
    t = _published(name, "sample")
    if t is None:
        raise KeyError(f"no stream sample named {name!r}")
    return spark.createDataFrame(t.to_pandas().drop(columns=["_pri"]))


def _sample_blob(t) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return sink.getvalue()


def _sample_from_blob(raw: bytes):
    return pa.ipc.open_stream(raw).read_all()


def sample_stream_query(
    stream_df: DataFrame,
    key_col: str,
    k: int,
    name: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Maintain a deterministic k-row uniform sample over a stream
    (readable via ``stream_sample_rows``): each micro-batch contributes
    its own bottom-k by md5(key) — a TakeOrderedAndProject, never a
    batch-wide sort — and the driver keeps the k smallest priorities of
    the union. Equal input => equal sample as the batch
    ``operators.sampling.uniform_sample``, which is what the parity gate
    asserts. Snapshot-per-batch next to the checkpoint (Arrow IPC, k
    rows); restarts reload the newest snapshot and skip replayed batches
    (exactly-once)."""

    def _fold(cur, batch_df: DataFrame):
        part = (batch_df
                .withColumn("_pri", F.md5(F.col(key_col).cast("string")))
                .select("_pri", *batch_df.columns)
                .orderBy("_pri").limit(k))
        merged = pa.Table.from_pandas(part.toPandas(), preserve_index=False)
        if cur is not None:
            merged = pa.concat_tables([cur, merged], promote_options="none")
        order = pc.sort_indices(merged, sort_keys=[("_pri", "ascending")])
        return merged.take(order[:k])

    return _fold_query(stream_df, name, "sample", checkpoint_dir, _fold,
                       _sample_blob, _sample_from_blob,
                       trigger_available_now)
