"""Deduplication operators for training-data pipelines.

Five families, each the standard published technique re-expressed Spark-first:

- exact          : groupBy content hash, keep min doc_id (pure relational)
- n-gram Jaccard : exact set similarity via shingle join (relational; the
                   small-scale oracle for the approximate families)
- MinHash + LSH  : signatures in one vectorized pass, banding relational,
                   candidates exact-verified — output equals exact pairs
                   above threshold whenever LSH recall is 1 (gated at sf0.01)
- SimHash        : 64-bit sign-sum sketch, Hamming-band candidates
- embedding cosine: near-dup pairs above a cosine threshold — EXACT via the
                   distributed block-pair GEMM (similarity.py), or bucketed
                   multi-table LSH for the high-threshold regime

Scale notes: the shingle join explodes |doc|x|grams| — at 100 TB you run
MinHash banding FIRST (cost ~ O(corpus) + O(bucket^2) within tiny buckets)
and the exact verify only on candidates, which is precisely the composition
implemented by ``minhash_near_dup_pairs``.

Every window pass here (char grams for MinHash/SimHash, token shingles,
token n-gram KR codes for ExactSubstr and decontamination) codes its
windows with the one window coder in ``_windows.py``, which reads string
and list columns straight from their Arrow buffers.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .._arrow import flat, rewrap
from ..hashing import splitmix64, xxh64_u64
from ._windows import char_grams, distinct_token_kr, token_kr, token_shingles

_GAMMA = np.uint64(0x9E3779B97F4A7C15)  # splitmix64 stream increment


def _check_gram_n(n: int) -> None:
    """Driver-side guard: packing supports n <= 8 bytes. Raising here gives
    an immediate ValueError at plan-build time instead of a wrapped Spark
    task failure after cluster resources were spent."""
    if not (1 <= n <= 8):
        raise ValueError(f"char n-gram width must be 1..8 bytes, got {n}")


# --------------------------------------------------------------- exact
def dedup_exact(df: DataFrame, text_col: str = "text",
                by_hash: bool = False) -> DataFrame:
    """(doc_id, group_size): one kept representative (min doc_id) per exact
    content group. Groups by a content hash, NOT the content itself, so the
    shuffle moves fixed-size keys instead of whole documents — at corpus
    scale that is the difference between shuffling hashes and shuffling the
    corpus.

    ``by_hash=False`` (default): md5 — a 32-hex-char key; collision odds
    ~n^2/2^128, negligible at any scale.
    ``by_hash=True``: the documented 100-TB guidance made real — xxhash64,
    an 8-BYTE LongType shuffle key (4x narrower than md5-hex), the cheapest
    possible exact-dedup exchange. Collision odds rise to ~n^2/2^65: ~2.7e-6
    at 10^7 docs, ~0.027 at 10^9 — a collision merges two distinct groups
    (drops one representative). Acceptable for training-data dedup; use the
    md5 default when a dropped doc matters. The oracle gate groups by raw
    text and stays hash-equal, which would catch a collision at gated
    scale."""
    key = (F.xxhash64(F.col(text_col)) if by_hash
           else F.md5(F.col(text_col)))
    return (
        df.groupBy(key.alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("group_size"))
        .select("doc_id", "group_size")
    )


def chunk_dedup(df: DataFrame, chunk_words: int = 25,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Corpus-global CHUNK-level exact dedup (the repeated-paragraph
    removal stage of MassiveText-style curation, Rae et al. 2021 §A1.2):
    split each document into fixed ``chunk_words``-word chunks (the
    paragraph proxy for corpora without structural separators; pass the
    real separator split upstream when one exists), keep only the FIRST
    corpus-wide occurrence of every distinct chunk — ordered by
    (``id_col``, chunk index), the same keep-first rule as
    ``exact_substr_spans_global`` — and reassemble each document from
    its surviving chunks in order. No reference analogue (the reference
    has no corpus ops; tests/tests_utils.hpp:13-20 generates items in
    RAM).

    Output: (id, text = reassembled survivors [NULL when every chunk of
    the doc was seen earlier], n_chunks, n_kept).

    Scale shape: everything is JVM whole-stage codegen — split /
    slice / array_join, no Python. Two exchanges: one hash-partition by
    chunk CONTENT for the global first-occurrence window (distinct-chunk
    cardinality keys; duplicated chunks co-locate, which is exactly the
    skew that matters and is bounded per-chunk by its duplicate count),
    one by ``id_col`` for the ordered reassembly. Documents and chunks
    never fan out beyond n_words/chunk_words rows per doc."""
    if chunk_words < 1:
        raise ValueError("chunk_words must be >= 1")
    from pyspark.sql import Window

    ws = F.split(F.col(text_col), " ")
    nc = F.ceil(F.size(ws) / F.lit(float(chunk_words))).cast("long")
    base = df.select(F.col(id_col), ws.alias("_ws"), nc.alias("_nc"))
    chunks = base.select(
        id_col,
        F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("ci", "_g"),
        F.array_join(
            F.slice("_ws", F.col("_g").cast("int") * chunk_words + 1,
                    chunk_words), " ").alias("chunk"),
    ).drop("_g")
    w = Window.partitionBy("chunk").orderBy(id_col, "ci")
    kept = chunks.withColumn("_rn", F.row_number().over(w))
    first = F.when(F.col("_rn") == 1, F.struct("ci", "chunk"))
    return (
        kept.groupBy(id_col)
        .agg(F.count("*").alias("n_chunks"),
             F.sum((F.col("_rn") == 1).cast("long")).alias("n_kept"),
             F.array_sort(F.collect_list(first)).alias("_kc"))
        .select(
            id_col,
            F.when(F.col("n_kept") > 0,
                   F.array_join(F.transform("_kc", lambda s: s["chunk"]),
                                " ")).alias(text_col),
            "n_chunks", "n_kept")
    )


# --------------------------------------------------------- char n-grams
def char_ngrams(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, gram) distinct char n-grams — expressed as a JVM-side
    sequence/transform (no UDF)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text_col) - n + 1, F.lit(0))),
        lambda i: F.col(text_col).substr(i, F.lit(n)),
    )
    return (
        df.select("doc_id", F.explode(grams).alias("gram"))
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard over distinct char n-grams for every pair sharing >= 1
    gram: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold."""
    grams = char_ngrams(df, text_col, n).cache()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    b = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sz_a), "doc_a").join(F.broadcast(sz_b), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------- MinHash
def _minhash_signatures(df: DataFrame, id_col: str, col_name: str, coder,
                        num_hashes: int, seed: int,
                        with_grams: bool) -> DataFrame:
    """(doc_id, sig[, grams]) over ``df``'s (``id_col``, ``col_name``): the
    one mapInArrow body of every MinHash signature pass (char grams, token
    shingles, k-mers). ``coder(column)`` gives each row's distinct codes as
    runs, ``(codes, starts, rows)``. The j-th hash of code g is
    ``splitmix64(xxh64(g, seed) + j*gamma)`` (splitmix64 parallel streams:
    one base xxh64 pass + one cheap mix per stream); the per-row minimum of
    each stream is one ``np.minimum.reduceat`` over the runs. Rows without
    a code get the all-MAX signature (empty set)."""

    def _sig(batches):
        for b in batches:
            col = b.column(1)
            rows = len(col)
            packed, starts, doc_idx = coder(col)
            sig = np.full((rows, num_hashes), np.iinfo(np.int64).max,
                          dtype=np.int64)
            if packed.size:
                h0 = xxh64_u64(packed, seed)
                with np.errstate(over="ignore"):
                    for j in range(num_hashes):
                        hj = splitmix64(h0 + _GAMMA * np.uint64(j))
                        sig[doc_idx, j] = np.minimum.reduceat(
                            hj, starts).view(np.int64)
            cols = [b.column(0),
                    rewrap(sig.ravel(), np.arange(rows + 1) * num_hashes)]
            names = ["doc_id", "sig"]
            if with_grams:
                # per-row code counts -> list offsets (rows w/o codes: empty)
                cnt = np.zeros(rows, dtype=np.int64)
                if packed.size:
                    cnt[doc_idx] = np.diff(np.r_[starts, packed.size])
                cols.append(rewrap(packed.view(np.int64),
                                   np.r_[0, np.cumsum(cnt)]))
                names.append("grams")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    schema = f"doc_id {dict(df.dtypes)[id_col]}, sig array<long>"
    if with_grams:
        schema += ", grams array<long>"
    return df.select(id_col, col_name).mapInArrow(_sig, schema)


def minhash_signatures(df: DataFrame, text_col: str = "text", n: int = 3,
                       num_hashes: int = 64, seed: int = 7,
                       with_grams: bool = False) -> DataFrame:
    """(doc_id, sig array<long>): MinHash over distinct char n-grams.

    Fully batch-vectorized (no per-doc Python loop): distinct grams for the
    whole batch come from one flat pass over the Arrow string buffers
    (``_windows.char_grams``), signatures from ``_minhash_signatures``.
    Docs shorter than n get the all-MAX signature (no grams -> empty set).

    ``with_grams=True`` additionally emits each doc's distinct packed grams
    as a sorted ``grams array<long>`` column — the SAME scan that computes
    signatures, so a downstream exact-Jaccard verify needs NO second pass
    over the corpus (packing is a bijection for n <= 8, so intersection /
    union sizes over packed grams equal those over gram strings exactly)."""
    _check_gram_n(n)
    return _minhash_signatures(df, "doc_id", text_col,
                               lambda col: char_grams(col, n), num_hashes,
                               seed, with_grams)


def minhash_signatures_tokens(df: DataFrame, tokens_col: str = "tokens",
                              shingle: int = 2, num_hashes: int = 64,
                              seed: int = 7,
                              with_grams: bool = False) -> DataFrame:
    """(doc_id, sig array<long>): MinHash over distinct token-id SHINGLES of
    a pre-tokenized ``tokens array<int>`` column — the dedup pass that runs
    directly on the north-rule input table without re-reading text. Same
    hashing/banding machinery as the char-gram path; grams are packed
    ``a*2^32 + b`` shingle codes (bijection for shingle <= 2), flattened
    zero-copy off the Arrow list buffers. ``with_grams=True`` emits the
    sorted distinct shingle codes so the exact-Jaccard verify needs no
    second corpus scan."""
    if not (1 <= shingle <= 2):  # fail at plan-build time, not mid-job
        raise ValueError(
            f"token shingle width must be 1 or 2 (base-2^32 packing), got {shingle}")
    return _minhash_signatures(df, "doc_id", tokens_col,
                               lambda col: token_shingles(col, shingle),
                               num_hashes, seed, with_grams)


def minhash_lsh_candidates(sig_df: DataFrame, bands: int = 16) -> DataFrame:
    """(doc_a, doc_b) candidate pairs sharing >= 1 LSH band bucket. Banding is
    pure relational: explode band slices, hash each slice, self-join buckets."""
    banded = sig_df.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(
                    F.slice(
                        F.col("sig"),
                        i * (F.size("sig") / bands).cast("int") + 1,
                        (F.size("sig") / bands).cast("int"),
                    ).cast("string")
                ),
            )
        ).alias("band", "bucket"),
    )
    l = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    r = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        l.join(r, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    )


def minhash_near_dup_pairs(df: DataFrame, text_col: str = "text", n: int = 3,
                           threshold: float = 0.7, num_hashes: int = 64,
                           bands: int = 32) -> DataFrame:
    """LSH candidates -> candidate-restricted exact Jaccard verify >= t.

    Banding r = num_hashes/bands = 2 rows/band: P[candidate | j >= 0.7]
    = 1-(1-0.49)^32 ~ 1-2e-10 per true pair, and the signature prefilter
    below adds ~1e-7 more (see its comment) — so the output equals the exact
    pair set at this threshold up to a per-pair miss probability ~1e-7, NOT
    a hard recall-1 guarantee (gated hash-equal against the exact oracle at
    sf0.01, where the expected miss count is ~0). The verify touches only
    candidate pairs — at corpus scale that is the whole point: O(corpus)
    signatures + O(bucket^2) candidates, never all pairs.

    ONE corpus scan total: the signature pass also emits each doc's distinct
    packed-gram array (``with_grams=True``), so the exact verify is a join of
    the candidate pairs against those arrays — no second scan, no full-corpus
    explode/distinct/collect_set shuffle. Candidates are tiny relative to the
    corpus, so AQE broadcasts them and the gram arrays never move; packing is
    a bijection for n <= 8, hence ``F.array_intersect`` over packed grams
    (hash-set O(|a|+|b|) inside codegen) counts string-gram intersections
    exactly."""
    sigs = minhash_signatures(df, text_col, n, num_hashes,
                              with_grams=True).cache()
    return _near_dup_from_sigs(sigs, threshold, bands)


def token_minhash_near_dup_pairs(df: DataFrame, tokens_col: str = "tokens",
                                 shingle: int = 2, threshold: float = 0.7,
                                 num_hashes: int = 64,
                                 bands: int = 32) -> DataFrame:
    """Near-dup pairs by exact Jaccard over distinct token-id shingles —
    ``minhash_near_dup_pairs`` for the pre-tokenized north-rule table
    (w-shingling, Broder 1997, over token ids instead of chars). Same
    LSH-candidates -> prefilter -> candidate-only exact verify composition,
    same one-scan property, same ~1e-7 per-pair miss probability at t=0.7."""
    sigs = minhash_signatures_tokens(df, tokens_col, shingle, num_hashes,
                                     with_grams=True).cache()
    return _near_dup_from_sigs(sigs, threshold, bands)


def _near_dup_from_sigs(sigs: DataFrame, threshold: float,
                        bands: int) -> DataFrame:
    """Shared tail of the two MinHash near-dup paths: banding candidates,
    signature-agreement prefilter, exact Jaccard verify over the packed-gram
    arrays the SAME scan emitted. ``sigs`` must carry (doc_id, sig, grams)."""
    cands = minhash_lsh_candidates(sigs.select("doc_id", "sig"), bands)
    # signature prefilter: estimated jaccard = fraction of agreeing minhash
    # slots; drop candidates estimated far below threshold before the exact
    # verify. Cut at t - 0.3: a TRUE pair (j >= 0.7) estimates below 0.4
    # w.p. P[Bin(64, .7) <= 25] ~ 6e-8 (vs ~2e-4 at a t-0.2 margin) — this,
    # not banding (~2e-10), dominates the per-pair miss budget quoted above.
    # On a degenerate high-similarity corpus (where banding passes ~all
    # pairs) the prefilter still removes most of the verify join. Exactness
    # is re-checked by the oracle gate at every sf.
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b),
                        lambda x: x))
        / F.size("sig_a")
    )
    # no broadcast hint: sigs scale with the corpus; AQE broadcasts when small
    cands = (
        cands.join(sa, "doc_a").join(sb, "doc_b")
        .filter(est >= threshold - 0.3)
        .select("doc_a", "doc_b")
    )
    ga = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("grams").alias("grams_a"))
    gb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    return (
        cands.join(ga, "doc_a").join(gb, "doc_b")
        .withColumn("inter", inter)
        # try_divide: two gramless docs (empty arrays) band together and
        # reach the verify with union size 0 -> null jaccard -> filtered
        .withColumn("jaccard", F.try_divide(
            F.col("inter"),
            F.size("grams_a") + F.size("grams_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------- SimHash
def simhash_signatures(df: DataFrame, text_col: str = "text", n: int = 3,
                       seed: int = 11) -> DataFrame:
    """(doc_id, simhash long): 64-bit sign-sum of gram hash bits.

    Batch-vectorized like ``minhash_signatures``: one distinct-gram pass for
    the whole batch, one xxh64 pass, then per-bit votes for every doc at once
    via ``np.add.reduceat`` over the (grams x 64) bit matrix. Docs shorter
    than n get simhash 0 (empty gram set)."""
    _check_gram_n(n)

    def _sim(batches):
        bitcols = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for b in batches:
            ids = b.column(0)
            out = np.zeros(len(ids), dtype=np.int64)
            packed, starts, doc_idx = char_grams(b.column(1), n)
            if packed.size:
                h = xxh64_u64(packed, seed)
                # int32 vote counters: a doc may legitimately carry up to
                # 2^31 distinct grams (the reduceat is not the hot path —
                # int16 would silently overflow past 2^15 grams/doc);
                # bit j of a doc is set iff > half its grams set it
                bits = ((h[:, None] & bitcols[None, :]) != 0).astype(np.int32)
                counts = np.add.reduceat(bits, starts, axis=0)  # (docs, 64)
                sizes = np.diff(np.r_[starts, packed.size])[:, None]
                out[doc_idx] = ((counts.astype(np.int64) * 2 > sizes)
                                * bitcols[None, :]).sum(axis=1).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out)], names=["doc_id", "simhash"]
            )

    id_type = dict(df.dtypes)["doc_id"]
    return df.select("doc_id", text_col).mapInArrow(
        _sim, f"doc_id {id_type}, simhash long"
    )


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           max_hamming: int = 3, n: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within Hamming distance via 4x16-bit
    band blocking (any pair with distance <= 3 shares at least one exact
    16-bit band — pigeonhole), then exact popcount verify."""
    sigs = simhash_signatures(df, text_col, n).cache()
    banded = sigs.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), i * 16)
                 .bitwiseAND(F.lit(0xFFFF))
                for i in range(4)
            ])
        ).alias("band", "bucket"),
    )
    l = banded.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
                      "band", "bucket")
    r = banded.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
                      "band", "bucket")
    pairs = (
        l.join(r, ["band", "bucket"]).filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("doc_a", "doc_b", "hamming")


# ------------------------------------------------- near-dup clustering
def near_dup_clusters(ids: DataFrame, pairs: DataFrame,
                      id_col: str = "doc_id", max_iters: int = 50) -> DataFrame:
    """(doc_id, cluster_id): connected components over near-dup pairs —
    the transitive closure step real dedup needs (pairs (a,b),(b,c) are ONE
    duplicate group; keep one representative per component, not per pair).

    Iterative min-label propagation: every doc starts labeled with itself;
    each round every doc takes the minimum label among itself and its
    neighbors; fixpoint in O(component diameter) rounds (near-dup components
    are shallow). Each round is two shuffles (join + groupBy-min) and the
    loop checks a single changed-count on the driver — the standard
    large-graph CC shape (label propagation, not driver-side union-find).
    cluster_id = the component's minimum doc id."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(pairs.select(F.col("doc_b").alias("src"),
                               F.col("doc_a").alias("dst")))
        .distinct().cache()
    )
    labels = ids.select(F.col(id_col).alias("node"),
                        F.col(id_col).alias("label")).cache()
    # Convergence check: labels are monotonically non-increasing (each
    # round takes min over a set containing the node's own label), so the
    # label SUM strictly decreases until the fixpoint — equal sum == no
    # change. One aggregate over the cached frame per round, replacing the
    # old-vs-new join+count (a whole extra shuffle per round). decimal(38)
    # keeps the sum exact at any scale (10^12 rows x 64-bit ids overflows
    # a long).
    _sum = lambda df: df.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    prev_sum = _sum(labels)
    for it in range(max_iters):
        msgs = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        new_labels = (
            labels.unionAll(msgs)
            .groupBy("node").agg(F.min("label").alias("label"))
        )
        # deep components (long duplicate chains) grow a plan per round;
        # truncate lineage so optimizer/scheduler cost stays O(1) per
        # round — but only past round 5: shallow components (the common
        # near-dup case) converge before the plan is deep enough for the
        # checkpoint's materialization to pay for itself
        if it >= 5 and (it + 1) % 4 == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        new_labels = new_labels.cache()
        cur_sum = _sum(new_labels)
        labels.unpersist()
        labels = new_labels
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(F.col("node").alias(id_col),
                         F.col("label").alias("cluster_id"))
def decontaminate(train: DataFrame, test: DataFrame, text_col: str = "text",
                  window: int = 16, w: int = 8,
                  min_shared: int = 1) -> DataFrame:
    """Benchmark decontamination: (train_doc_id, test_doc_id, n_shared,
    est_overlap_chars) for every training doc sharing >= ``min_shared``
    winnowing fingerprints with a test/benchmark doc — the standard
    train/eval overlap check an LLM data pipeline runs before training.

    ``est_overlap_chars`` inverts winnowing's expected density (~2/(w+1)
    fingerprints per hash position): a single contiguous shared span of S
    chars yields ~2*(S - window - w + 2)/(w+1) + 1 shared fingerprints, so
    S_est = (n_shared - 1)*(w+1)/2 + window + w - 1 (integer math, exact in
    SQL). It is a single-span heuristic — multiple disjoint quotes
    under-estimate their total — useful for ranking hits by severity, not a
    guarantee; the guarantee remains "any shared span >= window + w - 1
    chars is flagged".

    Winnowing's guarantee (Schleimer-Wilkerson-Aiken 2003) makes this sound
    for verbatim contamination: ANY shared byte span of length >=
    window + w - 1 (default 23 bytes) yields a shared fingerprint, so a
    training doc quoting that much of a benchmark item is always flagged;
    n_shared grows with the quoted span length, so thresholding on it trades
    sensitivity against chance 23-byte collisions.

    100 TB shape: the benchmark side is tiny (thousands of docs), so its
    fingerprint table is broadcast — the training corpus is ONE scan (the
    batch-vectorized winnow pass) followed by a broadcast hash join; only
    matching (train, test, fingerprint) rows reach the aggregation shuffle.
    Cost is linear in the corpus, never pairwise."""
    from .text import winnow_fingerprints

    ftr = winnow_fingerprints(train, text_col, window, w).withColumnRenamed(
        "doc_id", "train_doc_id")
    fte = winnow_fingerprints(test, text_col, window, w).withColumnRenamed(
        "doc_id", "test_doc_id")
    return (
        ftr.join(F.broadcast(fte), "fingerprint")
        .groupBy("train_doc_id", "test_doc_id")
        .agg(F.count("*").alias("n_shared"))  # fingerprints are distinct/doc
        .filter(F.col("n_shared") >= min_shared)
        .withColumn("est_overlap_chars", F.expr(
            f"((n_shared - 1) * {w + 1}) div 2 + {window + w - 1}"))
    )


def embedding_near_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                             id_col: str = "vec_id", threshold: float = 0.95,
                             n_blocks: int = 8) -> DataFrame:
    """(id_a, id_b, cos) pairs with cosine >= threshold — EXACT via the
    distributed block-pair GEMM (no driver materialization; see
    similarity.cosine_pairs_blocked). Use this when the threshold is low or
    recall must be exactly 1; use ``embedding_near_dup_lsh`` for the
    high-threshold near-dup regime where bucketing skips most of the O(n^2)
    work."""
    from .similarity import cosine_pairs_blocked

    return cosine_pairs_blocked(df, vec_col, id_col, threshold, n_blocks)


def embedding_near_dup_lsh(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id", threshold: float = 0.9,
                           bits: int = 10, seed: int = 5,
                           tables: int = 6) -> DataFrame:
    """(id_a, id_b, cos): high-threshold embedding near-dups via hyperplane
    LSH — the 100 TB path for "find my near-duplicate embeddings".

    ``tables`` independent hyperplane codes (OR-amplification): a pair is a
    candidate if it shares the FULL code in any table; candidates are then
    exact-verified with a JVM-side dot product. Per-bit agreement is
    1 - acos(cos)/pi: at cos 0.9 that is ~0.856, so one 10-bit table catches
    a true pair w.p. ~0.21 and 6 tables ~0.76; at cos 0.98 (true near-dups)
    6 tables reach ~0.97. Raise ``tables``/lower ``bits`` for recall, the
    reverse for cost (candidates/table ~ n^2/2^bits on random data).
    Exactness is NOT guaranteed (that is ``embedding_near_dup_pairs``);
    recall on planted duplicates is pinned by tests/test_functions.py."""
    from .similarity import _cosine, lsh_bucket_ids

    cands = None
    for t in range(tables):
        b = lsh_bucket_ids(df, vec_col, id_col, bits, seed + 7919 * t)
        l = b.select(F.col(id_col).alias("doc_a"), "bucket")
        r = b.select(F.col(id_col).alias("doc_b"), "bucket")
        c = (l.join(r, "bucket").filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b"))
        cands = c if cands is None else cands.unionAll(c)
    cands = cands.distinct()
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    va = vecs.select(F.col("_id").alias("doc_a"), F.col("_v").alias("_va"))
    vb = vecs.select(F.col("_id").alias("doc_b"), F.col("_v").alias("_vb"))
    return (
        cands.join(va, "doc_a").join(vb, "doc_b")
        .withColumn("cos", _cosine("_va", "_vb"))
        .filter(F.col("cos") >= threshold)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "cos")
    )


def semantic_dedup(df: DataFrame, threshold: float = 0.7,
                   n_clusters: int = 16, iters: int = 5,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   centroids=None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + within-cluster cosine
    threshold. Returns (id_col, cluster, keep): a vector is dropped iff
    some LOWER-id vector in its cluster has cosine >= ``threshold`` with
    it (keep-first — deterministic, and the paper's "keep one per
    duplicate group" policy with the group anchored at its smallest id).

    Scale shape: one quantizer training pass (``ivf_centroids``
    spherical k-means, or pass ``centroids`` to reuse a trained one —
    the train-once pattern), ONE assignment scan (centroid matrix rides
    the closure, argmax over a normalized float64 GEMM; ties take the
    smallest cluster id), then a self-join keyed on cluster — pairwise
    work is within-cluster only, the published algorithm's cost
    sum(c_i^2). At 100 TB, scale ``n_clusters`` ~ n/target_cluster_size
    so per-cluster pair counts stay constant; the join key then has high
    cardinality and the exchange is balanced. ``iters=0`` keeps the
    deterministic init (the ``n_clusters`` smallest-id vectors) with no
    Lloyd refinement — fully reproducible cross-engine, used by the
    oracle gate. No corpus-wide all-pairs anywhere.

    Reference analogue: none (SURVEY §2.4 — the reference has no corpus
    operators); this extends the LLM-pipeline dedup family
    (``minhash_near_dup_pairs``, ``embedding_near_dup_lsh``)."""
    from .similarity import _cosine, _normalize, _with_cell, ivf_centroids

    if centroids is None:
        centroids = ivf_centroids(df, vec_col, id_col, n_clusters, iters)
    c = _normalize(np.asarray(centroids, dtype=np.float64))
    assigned = _with_cell(df, c, vec_col, id_col).toDF("_id", "_v", "cluster")
    va = assigned.toDF("id_a", "_va", "cluster")
    vb = assigned.toDF("id_b", "_vb", "cluster")
    drops = (
        va.join(vb, "cluster").filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _cosine("_va", "_vb"))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("_id")).distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        assigned.join(drops, "_id", "left")
        .select(F.col("_id").alias(id_col), "cluster",
                F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"))
    )


# ------------------------------------------- token n-gram decontamination
def token_ngram_pos_codes(df: DataFrame, n: int = 13,
                          tokens_col: str = "tokens",
                          id_col: str = "doc_id") -> DataFrame:
    """(id, pos, code): every token n-gram KR code with its 1-based start
    position — the positional occurrence stream span chaining consumes.
    One Arrow scan, no shuffle, no per-row Python."""
    id_type = dict(df.dtypes)[id_col]

    def _codes(batches):
        for b in batches:
            codes, pos, doc_rows = token_kr(b.column(1), n)
            if codes.size == 0:
                continue
            ids = b.column(0).take(pa.array(doc_rows))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(pos.astype(np.int32)), pa.array(codes)],
                names=[id_col, "pos", "code"])

    return df.select(id_col, tokens_col).mapInArrow(
        _codes, f"{id_col} {id_type}, pos int, code long")


def exact_substr_spans(df: DataFrame, k: int = 13,
                       min_span: int | None = None,
                       tokens_col: str = "tokens",
                       id_col: str = "doc_id",
                       max_df: int | None = None,
                       warn_uncapped: bool = True) -> DataFrame:
    """(doc_a, doc_b, start_a, start_b, span_len): maximal token spans of
    length >= ``min_span`` (default ``k``) shared verbatim by a pair of
    documents — cross-document substring-level exact dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    the ExactSubstr family): the dedup layer between doc-level exact
    (``dedup_exact``) and n-gram decontamination, catching boilerplate /
    licenses / templates repeated across otherwise-distinct documents.
    No reference analogue (the reference has no I/O or corpus ops;
    tests/tests_utils.hpp:13-20 generates items in RAM).

    Method: a shared span of length L contains L-k+1 shared k-grams at
    consecutive positions on one DIAGONAL (pos_a - pos_b constant), so
    (1) code every k-gram occurrence positionally (one Arrow scan, zero
    exchanges), (2) self-join on the 8-byte code (one shuffle of
    (id, pos, code) rows — never token arrays), (3) chain anchors into
    maximal runs per (doc_a, doc_b, diagonal) with the gaps-and-islands
    trick (pos_a - row_number, a window over fine-grained pair keys —
    never global). span_len = run_len + k - 1. KR code collisions are
    symmetric (both engines code identically), so results are exactly
    oracle-checkable; a collision-free guarantee at 100 TB would swap in
    the 64-bit coder at the cost of SQL-oracle exactness.

    Scale shape: output and intermediate sizes are anchor-match-bounded.
    A k-gram occurring in f documents contributes O(f^2) anchor pairs —
    the inherent cost of PAIRWISE span reporting. For corpus-scale
    boilerplate REMOVAL (where one span repeats in 10^5 docs), cap with
    ``max_df``: codes seen in more than ``max_df`` documents are dropped,
    which truncates reporting of ultra-hot spans (document the recall
    trade) while keeping every span whose grams stay under the cap; or
    screen hot spans first with ``token_ngram_decontaminate`` against a
    mined boilerplate set and run this pass on the remainder. An
    uncapped call warns; ``warn_uncapped=False`` silences it for
    intentional bounded-corpus pairwise analysis (the catalog gates,
    which oracle the uncapped semantics on small corpora, pass it)."""
    from pyspark.sql import Window

    min_span = k if min_span is None else min_span
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    if max_df is None and warn_uncapped:
        import warnings
        warnings.warn(
            "exact_substr_spans without max_df reports PAIRWISE spans at "
            "O(f^2) anchor cost per k-gram repeated in f documents — one "
            "licence header in 1e5 docs is 1e10 join rows. For corpus-scale "
            "boilerplate REMOVAL use exact_substr_spans_global (O(f) "
            "anchors); for targeted pair analysis pass max_df to cap hot "
            "grams.", stacklevel=2)
    occ = token_ngram_pos_codes(df, k, tokens_col, id_col)
    if max_df is not None:
        keep = (occ.groupBy("code")
                .agg(F.countDistinct(id_col).alias("_df"))
                .filter(F.col("_df") <= max_df).select("code"))
        occ = occ.join(keep, "code", "left_semi")
    a = occ.select(F.col(id_col).alias("doc_a"),
                   F.col("pos").alias("pos_a"), "code")
    b = occ.select(F.col(id_col).alias("doc_b"),
                   F.col("pos").alias("pos_b"), "code")
    m = a.join(b, "code").filter(F.col("doc_a") < F.col("doc_b")).drop("code")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (m.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
            .withColumn("_isl", F.col("pos_a") - F.row_number().over(w)))
    return (runs.groupBy("doc_a", "doc_b", "diag", "_isl")
            .agg(F.min("pos_a").alias("_sa"), F.min("pos_b").alias("_sb"),
                 F.count("*").alias("_n"))
            .withColumn("span_len", (F.col("_n") + F.lit(k - 1)).cast("int"))
            .filter(F.col("span_len") >= min_span)
            .select("doc_a", "doc_b",
                    F.col("_sa").cast("int").alias("start_a"),
                    F.col("_sb").cast("int").alias("start_b"), "span_len"))


def _global_dup_positions(df: DataFrame, k: int,
                          tokens_col: str, id_col: str) -> DataFrame:
    """(id, pos) of every k-gram occurrence whose KR code was already seen
    at a strictly earlier (doc, pos) — the cluster-per-code core of
    corpus-global ExactSubstr. Per code ONE aggregate picks the
    lowest-(doc, pos) representative; every other occurrence of that code
    is a duplicate. A code repeated in f documents costs O(f) rows here
    (vs O(f^2) anchor pairs in the pairwise formulation).

    Ordering of (doc, pos) uses the natural ordering of ``id_col``'s type
    — cast string ids to long first if numeric order is intended.

    Shape: the representative is one window aggregate over the code
    partition (``_flag_first``), so the occurrence stream is coded ONCE
    (one corpus scan) and shuffled ONCE (on code). An occurrence that is
    not its code's first implies an earlier one, so no count is needed."""
    occ = token_ngram_pos_codes(df, k, tokens_col, id_col)
    return _flag_first(occ, id_col).filter(~F.col("_first")).select(
        id_col, "pos")


def _flag_first(occ: DataFrame, id_col: str) -> DataFrame:
    """``occ`` (id, pos, code, ...) plus ``_first``: whether the row is its
    code's lowest-(id, pos) occurrence. ONE window aggregate over the code
    partition, no groupBy + self-join re-scan; WindowExec buffers one code
    group at a time, so a code in f documents is an f-row buffer."""
    from pyspark.sql import Window

    me = F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
    rep = F.min(me).over(Window.partitionBy("code"))
    return occ.withColumn("_rep", rep).withColumn(
        "_first", (F.col(id_col) == F.col("_rep.d"))
        & (F.col("pos") == F.col("_rep.p")))


def dedup_against(df_new: DataFrame, df_old: DataFrame,
                  text_col: str = "text", size2: int = 24,
                  nb_hash: int = 8) -> DataFrame:
    """Incremental-ingest dedup: the rows of ``df_new`` whose ``text_col``
    content does NOT already appear in ``df_old`` — the production pattern
    for growing a corpus shard-by-shard (dedup the new crawl against the
    existing corpus WITHOUT re-scanning or re-shuffling the old corpus's
    text). Within-batch duplicates are not touched (compose with
    ``dedup_exact`` for that).

    Scale shape — the ANTI-join complement of
    ``operators.joins.bloom_runtime_filter_join``: a Bloom filter of the
    old corpus's xxhash64 content hashes (KB-MB, built once per ingest,
    mergeable partials — duplicates are free to a Bloom build, so the old
    side is never distinct-shuffled) screens the new batch in a stateless
    map. The no-false-negative guarantee makes bloom-NEGATIVE rows
    PROVABLY new — they pass with ZERO join work, and at ingest most rows
    are new, so only the bloom-positive sliver reaches the verify stage.
    The verify is hash-keyed with text confirmation INSIDE equal-hash
    pairs: the old side is first semi-joined down to the sliver's hash
    set on the 8-byte key (so the only old text that ever moves belongs
    to hash-colliding candidates — true duplicates plus a ~2^-64-rate
    accident), then the anti-join condition is (hash equal AND text
    equal), so a 64-bit collision between DIFFERENT texts cannot drop a
    genuinely-new row. Output is EXACT at any filter geometry/FPR;
    geometry only moves the prune rate. Reference analogue: the
    contains->insert screening loop of the reference's membership use
    (src/bloom_filter.hpp:40-76), lifted to corpus ingest."""
    import functools

    from ..operators import build_sketch
    from ..operators.probe import probe_key_column
    from ..sketches import make_sketch

    old_h = df_old.select(F.xxhash64(text_col).alias("_h"))
    bf, _ = build_sketch(
        old_h, "_h",
        functools.partial(make_sketch, "bloom", size2=size2, nb_hash=nb_hash))
    flagged = probe_key_column(
        df_new.withColumn("_h", F.xxhash64(text_col)), bf, "_h")
    fresh = flagged.filter(~F.col("member"))
    positives = flagged.filter(F.col("member"))
    old_keyed = df_old.select(F.xxhash64(text_col).alias("_oh"),
                              F.col(text_col).alias("_t"))
    colliding = old_keyed.join(
        positives.select(F.col("_h").alias("_oh")).distinct(),
        "_oh", "left_semi")
    survivors = positives.join(
        colliding,
        (F.col("_h") == F.col("_oh")) & (F.col(text_col) == F.col("_t")),
        "left_anti")
    return fresh.unionByName(survivors).drop("_h", "member")


def ngram_novelty(df: DataFrame, k: int = 13,
                  tokens_col: str = "tokens",
                  id_col: str = "doc_id") -> DataFrame:
    """(id, n_windows, n_novel, novelty_frac): per-document n-gram NOVELTY
    — the fraction of a document's k-gram occurrences whose code was never
    seen at an earlier (doc, pos) in corpus order. The duplication-analysis
    complement of ExactSubstr removal (Lee et al. 2022 use exactly this
    per-doc novel-fraction lens to quantify train-set memorization
    pressure): a boilerplate-heavy or near-duplicate document scores low,
    fresh content scores 1.0. Documents with fewer than ``k`` tokens have
    no window and are absent from the output.

    Scale shape: shares ``token_ngram_pos_codes``'s one-Arrow-scan
    occurrence stream and the cluster-per-code discipline of
    ``exact_substr_spans_global`` — the first-occurrence representative is
    ONE window aggregate over the code partition (a code in f docs is an
    f-row buffer, linear; O(f), never pairwise), then one groupBy on the
    doc id. Counts are exact integers; the fraction is ONE int division —
    bit-identical cross-engine. Reference analogue: none (SURVEY §2.4 —
    the reference has no corpus ops)."""
    occ = token_ngram_pos_codes(df, k, tokens_col, id_col)
    return (
        _flag_first(occ, id_col).groupBy(id_col)
        .agg(F.count("*").alias("n_windows"),
             F.sum(F.col("_first").cast("long")).alias("n_novel"))
        .withColumn("novelty_frac", F.col("n_novel") / F.col("n_windows"))
    )


def exact_substr_spans_global(df: DataFrame, k: int = 13,
                              min_span: int | None = None,
                              tokens_col: str = "tokens",
                              id_col: str = "doc_id") -> DataFrame:
    """(doc_id, start, span_len): maximal token intervals covered by
    k-grams whose code occurred EARLIER in the corpus — the corpus-global
    removal form of ExactSubstr dedup (Lee et al. 2022 §4: remove every
    later occurrence of any duplicated >= k-token run, keeping the first).
    This is the scale path for corpus boilerplate: a licence header
    repeated in f = 1e5 documents costs O(f) duplicate-occurrence rows
    (one aggregate per code picks the first-(doc, pos) representative),
    never the O(f^2) anchor pairs of the pairwise ``exact_substr_spans``.
    No reference analogue (the reference has no corpus ops;
    tests/tests_utils.hpp:13-20 generates items in RAM).

    Method: (1) positional KR codes, one Arrow scan, zero exchanges;
    (2) per-code aggregate -> (representative, count), join back, keep
    non-representative occurrences of duplicated codes (one shuffle on
    code, reused by the join); (3) per-document interval merge: marked
    position p covers tokens [p, p+k-1]; consecutive marks with gap <= k
    overlap or touch, so islands break where pos - lag(pos) > k, and each
    island is exactly the union of its gram intervals — every removed
    token is covered by some duplicated k-gram. span_len = max(pos) -
    min(pos) + k. Feed the output directly to ``remove_token_spans``
    (span_id_col=id_col, start_col="start").

    ``min_span`` (default ``k``) drops merged intervals shorter than the
    threshold — note it applies to the MERGED interval, so two nearby
    short duplicated runs can survive a threshold neither meets alone.

    KR collisions are symmetric (both engines code identically), so the
    result is exactly SQL-oracle-checkable; a 100-TB deployment wanting
    collision-free removal swaps in the 64-bit coder at the cost of
    oracle exactness."""
    from pyspark.sql import Window

    min_span = k if min_span is None else min_span
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    dup = _global_dup_positions(df, k, tokens_col, id_col)
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = (dup.withColumn(
               "_brk",
               F.when(F.col("pos") - F.lag("pos").over(w) > k, 1)
               .otherwise(0))
           .withColumn("_g", F.sum("_brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy(id_col, "_g")
            .agg(F.min("pos").alias("_s"), F.max("pos").alias("_e"))
            .withColumn("span_len",
                        (F.col("_e") - F.col("_s") + F.lit(k)).cast("int"))
            .filter(F.col("span_len") >= min_span)
            .select(id_col, F.col("_s").cast("int").alias("start"),
                    "span_len"))


def exact_substr_dedup(df: DataFrame, k: int = 13,
                       min_span: int | None = None,
                       tokens_col: str = "tokens",
                       id_col: str = "doc_id") -> DataFrame:
    """(doc_id, tokens, n_tok, n_removed): corpus-global ExactSubstr
    dedup end-to-end — find every later occurrence of a duplicated
    >= k-token run (``exact_substr_spans_global``) and cut those spans
    out (``remove_token_spans``), keeping each run's first occurrence.
    The default removal path for corpus-scale boilerplate."""
    spans = exact_substr_spans_global(df, k, min_span, tokens_col, id_col)
    return remove_token_spans(df, spans, id_col=id_col,
                              tokens_col=tokens_col, span_id_col=id_col,
                              start_col="start", len_col="span_len")


def remove_token_spans(docs: DataFrame, spans: DataFrame,
                       id_col: str = "doc_id", tokens_col: str = "tokens",
                       span_id_col: str = "doc_b",
                       start_col: str = "start_b",
                       len_col: str = "span_len") -> DataFrame:
    """(doc_id, tokens, n_tok, n_removed): cut the given token spans out
    of their documents — the REMOVAL half of ExactSubstr dedup. Feed it
    the (doc_b, start_b, span_len) side of ``exact_substr_spans`` and
    every duplicated span keeps only its lowest-id (doc_a) copy; docs
    that appear only as doc_a, or in no pair, pass through unchanged.
    Overlapping spans union into one mask (never double-removed); spans
    beyond the document clip at its end.

    Scale shape: spans aggregate per doc into an interval list (a tiny
    shuffle of span ROWS — never tokens), LEFT-join onto the corpus
    keyed by doc id, then ONE vectorized Arrow pass per batch applies the
    masks (flat token values, a union keep-mask from +1/-1 deltas at span
    boundaries + cumsum, re-wrapped at the kept offsets) — zero per-row
    Python even when every document carries spans, the
    corpus-boilerplate case. NULL ``tokens`` rows pass through as NULL
    with n_tok = 0 and n_removed = 0, with or without spans; a NULL token
    is kept (or cut) as NULL."""
    sp = (spans.groupBy(F.col(span_id_col).alias(id_col))
          .agg(F.collect_list(
              F.struct(F.col(start_col).alias("s"),
                       F.col(len_col).alias("l"))).alias("_spans")))
    id_type = dict(docs.dtypes)[id_col]
    tok_type = dict(docs.dtypes)[tokens_col]
    joined = (docs.select(id_col, tokens_col)
              .join(sp, id_col, "left"))

    def _cut(batches):
        for b in batches:
            toks = b.column(1)
            vals, offs, valid = flat(toks)
            lens = np.diff(offs)
            # every span's row, clipped to its document (starts are
            # 1-based); +1/-1 deltas at the flat span boundaries, cumsum
            # to a union keep-mask. Rows without spans keep every token.
            span, span_offs, _ = flat(b.column(2))
            row = np.repeat(np.arange(b.num_rows), np.diff(span_offs))
            rl = lens[row]
            lo = np.clip(flat(span.field("s"))[0] - 1, 0, rl)
            hi = np.clip(lo + np.maximum(flat(span.field("l"))[0], 0), 0, rl)
            delta = np.zeros(vals.size + 1, dtype=np.int64)
            np.add.at(delta, offs[row] + lo, 1)
            np.add.at(delta, offs[row] + hi, -1)
            keep = np.cumsum(delta[:-1]) == 0
            cs = np.r_[0, np.cumsum(keep)]
            kept = cs[offs[1:]] - cs[offs[:-1]]
            yield pa.RecordBatch.from_arrays(
                [b.column(0),
                 rewrap(vals[keep], np.r_[0, np.cumsum(kept)],
                        None if valid is None else valid[keep], like=toks),
                 pa.array(kept.astype(np.int32)),
                 pa.array((lens - kept).astype(np.int32))],
                names=[id_col, tokens_col, "n_tok", "n_removed"])

    return joined.mapInArrow(
        _cut, f"{id_col} {id_type}, {tokens_col} {tok_type}, "
              "n_tok int, n_removed int")


def token_ngram_codes(df: DataFrame, n: int = 13,
                      tokens_col: str = "tokens",
                      id_col: str = "doc_id") -> DataFrame:
    """(id, code): each row's DISTINCT token n-gram KR codes — one Arrow
    scan, no shuffle, no per-row Python."""
    id_type = dict(df.dtypes)[id_col]

    def _codes(batches):
        for b in batches:
            codes, starts, doc_rows = distinct_token_kr(b.column(1), n)
            if codes.size == 0:
                continue
            counts = np.diff(np.r_[starts, codes.size])
            ids = b.column(0).take(pa.array(np.repeat(doc_rows, counts)))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(codes)], names=[id_col, "code"])

    return df.select(id_col, tokens_col).mapInArrow(
        _codes, f"{id_col} {id_type}, code long")


def screen_token_ngrams(df: DataFrame, sketch, n: int = 13,
                        tokens_col: str = "tokens",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_ngrams, n_matched, contaminated): probe every row's
    distinct token n-gram codes against a pre-built filter — the
    reference's contains_bulk screening as ONE stateless map: codes,
    membership, and per-row counts all inside a single Arrow batch pass,
    so the corpus side has ZERO exchanges (compare the explode + groupBy
    shape, which shuffles a row per n-gram). Works unchanged on batch and
    STREAMING DataFrames (stateless -> append mode). Rows with fewer than
    ``n`` tokens emit nothing."""
    from ..operators.probe import load_shipped_sketch, ship_sketch

    name = ship_sketch(df.sparkSession, sketch)
    id_type = dict(df.dtypes)[id_col]

    def _screen(batches):
        sk = load_shipped_sketch(name)
        for b in batches:
            codes, starts, doc_rows = distinct_token_kr(b.column(1), n)
            if codes.size == 0:
                continue
            member = sk.contains_bulk(codes)
            counts = np.diff(np.r_[starts, codes.size])
            matched = np.add.reduceat(member.astype(np.int64), starts)
            ids = b.column(0).take(pa.array(doc_rows))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(counts.astype(np.int32)),
                 pa.array(matched.astype(np.int32)), pa.array(matched > 0)],
                names=[id_col, "n_ngrams", "n_matched", "contaminated"])

    return df.select(id_col, tokens_col).mapInArrow(
        _screen, f"{id_col} {id_type}, n_ngrams int, n_matched int, "
                 "contaminated boolean")


def token_ngram_decontaminate(train: DataFrame, test: DataFrame,
                              n: int = 13, tokens_col: str = "tokens",
                              id_col: str = "doc_id",
                              size2: int = 24, nb_hash: int = 8) -> DataFrame:
    """(doc_id, n_ngrams, n_matched, contaminated): for every train doc
    with >= n tokens, how many of its distinct token n-grams appear
    anywhere in the test/benchmark set — n-gram-overlap decontamination on
    the PRE-TOKENIZED table (the 13-gram filtering GPT-3's appendix C
    describes), complementing ``decontaminate``'s char-level winnowing.

    Plan = the reference's read-screening flow (kmer_bloom_screen's twin,
    reference benchmarks/benchmark1.cpp:54-73 insert->lookup): build a
    Bloom over the (small) benchmark side's codes, ship it, probe the
    corpus codes. The filter REPLACES the corpus x benchmark join — the
    corpus is scanned once with ZERO exchanges (``screen_token_ngrams``
    counts per row inside the map — no explode, no groupBy), and the
    benchmark rides along as an m/8-byte filter. At the gated geometry the
    fill ratio makes FP probability ~1e-16, so counts equal the exact
    code join the oracle runs; at production scale size the filter to the
    benchmark's distinct-code count (helpers in sketches/factory.py)."""
    import functools

    from ..operators.build import build_sketch
    from ..sketches import make_sketch

    bench = token_ngram_codes(test, n, tokens_col, id_col).select("code")
    sk, _ = build_sketch(bench, "code",
                         functools.partial(make_sketch, "bloom",
                                           size2=size2, nb_hash=nb_hash))
    return screen_token_ngrams(train, sk, n, tokens_col, id_col)
