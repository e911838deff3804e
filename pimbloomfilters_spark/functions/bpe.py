"""Distributed BPE (byte-pair-encoding) merge learning over pre-tokenized
corpora — the tokenizer-training stage of an LLM data pipeline (Sennrich et
al. 2016, "Neural Machine Translation of Rare Words with Subword Units").

Spark-first shape, per merge step:

1. **Pair counting**: ONE ``mapInArrow`` scan emits per-batch
   locally-aggregated (pair_code, count) rows — adjacent token pairs are
   packed into one int64 (``a * 2^32 + b``) and combined with ``np.unique``
   BEFORE the shuffle, so the exchange carries (distinct pairs per batch)
   rows, never (total tokens).
2. **Argmax**: ``orderBy(count desc, code asc).limit(1)`` — a
   TakeOrderedAndProject (per-partition top-1 + tiny merge), never a global
   sort; the (count, code) tie-break makes training fully deterministic.
3. **Merge application**: one vectorized Arrow pass rewrites every
   sequence (leftmost-first greedy, the BPE contract — overlapping matches
   of an ``a == b`` pair keep alternate positions per run). Token arrays
   are NEVER shuffled; only pair-count rows move.

Lineage is cut with an eager ``localCheckpoint`` every ``checkpoint_every``
merges (the ``near_dup_clusters`` recipe); between checkpoints the merge
closure applies the pending tail of merges inside the same scan.

100-TB notes: each merge costs one corpus scan + one pair-count shuffle —
inherent to exact sequential BPE (merge i+1's counts depend on merge i
having been applied). Practical large-scale trainings either (a) learn the
table on a uniform SAMPLE (pass ``df.sample(...)``; applying the table with
``apply_bpe`` stays full-corpus and is one scan total), or (b) accept small
deviations from strict greedy order and raise ``batch_merges`` to take the
top-m pairwise-symbol-disjoint pairs per round, dividing the number of
scans by m (disjointness guarantees applying one cannot create or destroy
occurrences of another; the deviation — rank drift against unbatched
greedy — is documented, not silent).

No reference analogue (the reference has no corpus operators; SURVEY §2.4).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .._arrow import flat, ids, rewrap

_PAIR_SHIFT = np.int64(1) << np.int64(32)
_MAX_ID = (1 << 31) - 1  # pair packing headroom: ids must fit 31 bits


def _check_ids(next_id: int) -> None:
    if next_id > _MAX_ID:
        raise ValueError(
            f"BPE symbol id {next_id} exceeds the 31-bit pair-packing "
            f"range ({_MAX_ID}); re-pack with a wider code first")


def _inner_pairs(offs: np.ndarray, size: int) -> np.ndarray:
    """Mask of the flat positions j whose pair (j, j + 1) lies inside one
    row: every row's last position is cleared (an empty row repeats an
    earlier row's last position, or -1, which is the last one)."""
    inner = np.ones(size, dtype=bool)
    inner[offs[1:] - 1] = False
    return inner


def _apply_merges_np(vals: np.ndarray, offs: np.ndarray,
                     merges: list[tuple[int, int, int]]):
    """Apply (a, b, new_id) merges IN ORDER to the flattened sequences
    (row boundaries ``offs``), leftmost-first greedy within each row.
    Returns (values, offsets) after all merges."""
    for a, b, new_id in merges:
        if vals.size < 2:
            break
        match = _inner_pairs(offs, vals.size)
        match[:-1] &= (vals[:-1] == a) & (vals[1:] == b)
        if a == b:
            # overlapping matches (runs of consecutive starts) keep
            # alternate positions, leftmost first: aaa -> (aa), a
            idx = np.flatnonzero(match)
            if idx.size:
                starts = np.empty(idx.size, dtype=bool)
                starts[0] = True
                np.not_equal(np.diff(idx), 1, out=starts[1:])
                run_first = idx[np.maximum.accumulate(
                    np.where(starts, np.arange(idx.size), 0))]
                drop = ((idx - run_first) % 2) == 1
                match[idx[drop]] = False
        idx = np.flatnonzero(match)
        if not idx.size:
            continue
        out = vals.copy()
        out[idx] = new_id
        keep = np.ones(vals.size, dtype=bool)
        keep[idx + 1] = False
        vals = out[keep]
        # each boundary moves left by the dropped positions before it
        offs = offs - np.searchsorted(idx + 1, offs)
    return vals, offs


def pair_counts(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """(code, cnt): corpus-wide adjacent-pair counts, pairs packed as
    ``a * 2^32 + b``. One Arrow scan with per-batch np.unique combining,
    then one aggregate on the packed code."""

    def _counts(batches):
        for b in batches:
            vals, offs = ids(b.column(0))
            if vals.size < 2:
                continue
            if vals.min() < 0 or vals.max() > _MAX_ID:
                raise ValueError(
                    "token ids must be in [0, 2^31) for int64 pair "
                    f"packing; batch has [{vals.min()}, {vals.max()}] — "
                    "re-map ids (e.g. dense vocab ids) before BPE")
            codes = vals[:-1] * _PAIR_SHIFT + vals[1:]
            inner = _inner_pairs(offs, vals.size)[:-1]
            uniq, cnt = np.unique(codes[inner], return_counts=True)
            if uniq.size:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(uniq), pa.array(cnt.astype(np.int64))],
                    names=["code", "cnt"])

    return (df.select(tokens_col).mapInArrow(_counts, "code long, cnt long")
            .groupBy("code").agg(F.sum("cnt").alias("cnt")))


def _disjoint_head(rows, m: int) -> list[tuple[int, int, int]]:
    """Greedy top-m pairwise-SYMBOL-disjoint pairs from (code, cnt) rows
    already sorted by (cnt desc, code asc). Disjointness (no shared
    symbol between any two chosen pairs, including within one pair, i.e.
    a == b pairs always travel alone after the first pick conflicts)
    guarantees batch application == sequential application."""
    chosen: list[tuple[int, int, int]] = []
    used: set[int] = set()
    for r in rows:
        code, cnt = int(r["code"]), int(r["cnt"])
        a, b = code >> 32, code & 0xFFFFFFFF
        if a in used or b in used:
            continue
        chosen.append((a, b, cnt))
        used.update((a, b))
        if len(chosen) >= m:
            break
    return chosen


def learn_bpe(df: DataFrame, n_merges: int, tokens_col: str = "tokens",
              min_count: int = 2, start_id: int | None = None,
              batch_merges: int = 1,
              checkpoint_every: int = 8) -> list[dict]:
    """Learn up to ``n_merges`` BPE merges from the corpus; returns the
    merge table as dicts ``{"merge_idx", "a", "b", "new_id", "cnt"}`` in
    learning order. ``start_id`` defaults to max(token) + 1. Stops early
    when the best remaining pair occurs < ``min_count`` times.

    ``batch_merges=1`` (default) is exact sequential BPE;
    ``batch_merges=m > 1`` takes up to m symbol-disjoint pairs per corpus
    scan (see module docstring for the rank-drift trade)."""
    if n_merges < 0 or batch_merges < 1:
        raise ValueError("n_merges must be >= 0 and batch_merges >= 1")
    if start_id is not None:
        if start_id < 0:
            raise ValueError("start_id must be >= 0")
        _check_ids(start_id + max(n_merges - 1, 0))
    work = df.select(tokens_col)
    if start_id is None:
        mx = work.agg(F.max(F.array_max(tokens_col))).collect()[0][0]
        start_id = int(mx) + 1 if mx is not None else 0
    next_id = start_id
    merges: list[dict] = []
    pending: list[tuple[int, int, int]] = []  # (a, b, new_id) since ckpt
    base = work
    prev_ckpt = None
    while len(merges) < n_merges:
        head = (pair_counts(work, tokens_col)
                .filter(F.col("cnt") >= min_count)
                .orderBy(F.desc("cnt"), F.asc("code"))
                # over-fetch so the disjoint filter has candidates
                .limit(max(batch_merges * 4, 8)).collect())
        take = min(batch_merges, n_merges - len(merges))
        picked = _disjoint_head(head, take)
        if not picked:
            break
        for a, b, cnt in picked:
            _check_ids(next_id)
            merges.append({"merge_idx": len(merges), "a": a, "b": b,
                           "new_id": next_id, "cnt": cnt})
            pending.append((a, b, next_id))
            next_id += 1
        tail = list(pending)
        id_hint = tokens_col  # rebuilt below; keep closure free of DF refs

        def _apply(batches, _tail=tail):
            for bt in batches:
                vals, offs = _apply_merges_np(*ids(bt.column(0)), _tail)
                yield pa.RecordBatch.from_arrays(
                    [rewrap(vals, offs, like=bt.column(0))], names=[id_hint])

        work = base.mapInArrow(_apply, f"{tokens_col} array<long>")
        if len(pending) >= checkpoint_every:
            new_ckpt = work.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                prev_ckpt.unpersist()
            base, work, prev_ckpt = new_ckpt, new_ckpt, new_ckpt
            pending = []
    if prev_ckpt is not None:
        prev_ckpt.unpersist()
    return merges


def apply_bpe(df: DataFrame, merges: list[dict],
              tokens_col: str = "tokens") -> DataFrame:
    """Re-encode every sequence with a learned merge table — ONE Arrow
    scan applying all merges in learning order (the full-corpus half of
    the sample-then-apply recipe). Non-token columns pass through."""
    tail = [(int(m["a"]), int(m["b"]), int(m["new_id"])) for m in merges]
    cols = df.columns
    ti = cols.index(tokens_col)
    schema = ", ".join(
        f"{c} {t}" if c != tokens_col else f"{c} array<long>"
        for c, t in df.dtypes)

    def _apply(batches):
        for bt in batches:
            vals, offs = _apply_merges_np(*ids(bt.column(ti)), tail)
            arrays = [bt.column(i) if i != ti else
                      rewrap(vals, offs, like=bt.column(ti))
                      for i in range(len(cols))]
            yield pa.RecordBatch.from_arrays(arrays, names=cols)

    return df.mapInArrow(_apply, schema)


def vocab_truncate(df: DataFrame, top_v: int, unk_id: int = 0,
                   tokens_col: str = "tokens") -> DataFrame:
    """Vocabulary capping with OOV remap — the tokenizer-side sibling of
    BPE application: keep the ``top_v`` most frequent token ids (ties
    broken by smaller id, fully deterministic) and rewrite every other
    occurrence to ``unk_id``. The standard closed-vocabulary stage of an
    LLM data pipeline (cap the embedding table, map the tail to UNK).
    Non-token columns pass through.

    Spark-first shape: frequency counting is explode + partial-aggregated
    groupBy (the exchange carries distinct-tokens-per-partition rows, not
    the corpus); the top-V cut is ``orderBy(...).limit(top_v)`` — a
    TakeOrderedAndProject, never a global sort; the keep set (bounded by
    ``top_v`` int64s) ships inside the remap closure and the rewrite is
    ONE zero-exchange ``mapInArrow`` pass (``np.searchsorted`` membership
    over the flattened Arrow values — no per-row Python, no join against
    the corpus). NULL rows and NULL elements stay NULL. For a top_v so
    large the keep array strains task serialization (~10^8+), ship it via
    ``SparkContext.addFile`` + mmap instead — the ``ship_sketch`` recipe in
    ``operators/probe.py``."""
    if top_v < 1:
        raise ValueError("top_v must be >= 1")
    freq = (df.select(F.explode(tokens_col).alias("_t")).dropna()
            .groupBy("_t").agg(F.count("*").alias("_c"))
            .orderBy(F.desc("_c"), F.asc("_t")).limit(top_v))
    keep = np.sort(np.array([r["_t"] for r in freq.collect()],
                            dtype=np.int64))
    unk = np.int64(unk_id)
    cols = df.columns
    ti = cols.index(tokens_col)
    schema = ", ".join(
        f"{c} {t}" if c != tokens_col else f"{c} array<long>"
        for c, t in df.dtypes)

    def _remap(batches):
        for bt in batches:
            col = bt.column(ti)
            vals, offs, valid = flat(col)
            vals = np.asarray(vals, dtype=np.int64)
            if vals.size and keep.size:
                idx = np.minimum(np.searchsorted(keep, vals),
                                 keep.size - 1)
                vals = np.where(keep[idx] == vals, vals, unk)
            elif vals.size:
                vals = np.full_like(vals, unk)
            arrays = [bt.column(i) if i != ti else
                      rewrap(vals, offs, valid, like=col)
                      for i in range(len(cols))]
            yield pa.RecordBatch.from_arrays(arrays, names=cols)

    return df.mapInArrow(_remap, schema)


def decode_tokens(tokens: list[int], merges: list[dict]) -> list[int]:
    """Driver-side inverse of ``apply_bpe`` for ONE sequence: recursively
    expand merged symbols back to the base alphabet (testing/debug aid —
    proves the encoding is lossless)."""
    expand = {int(m["new_id"]): (int(m["a"]), int(m["b"])) for m in merges}

    def _exp(t: int) -> list[int]:
        if t not in expand:
            return [t]
        a, b = expand[t]
        return _exp(a) + _exp(b)

    out: list[int] = []
    for t in tokens:
        out.extend(_exp(t))
    return out
