"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce``: exact top-k neighbors for a query set. The
  query matrix rides to executors in the task closure (it is small); each
  task computes a dense (batch x queries) GEMM in numpy over Arrow
  FixedSizeList/List values — one matmul per batch, no per-row Python — and
  emits only its local top-k, which a tiny global sort finishes. This is the
  map-side-combine shape: shuffle is O(partitions x k), never O(rows).
- ``cosine_pairs_bruteforce``: all pairs above a cosine threshold (near-dup
  primitive; exact at small scale, the oracle for the LSH path).
- ``ann_lsh_topk``: random-hyperplane LSH — bucket by sign bits, search only
  within the query's bucket (and optional multi-probe neighbors). The 100 TB
  path: candidate set per query is ~corpus/2^bits, tunable; recall measured
  against brute force in tests.

Each search kernel is written once: the query collect (``_collect``),
nearest cells (``_nearest``, ``_with_cell``), PQ codes (``_pq_codes``,
``_encode``), the ADC scan (``_adc_topk``), the cosine local top-k
(``_cos_topk``), the bucket-join tail (``_bucket_topk``) and the
``rank <= k`` finish (``_rank``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window, functions as F

from .._arrow import matrix, rewrap, row_ids
from ..hashing import splitmix64

_TOPK = "query_id long, neighbor_id long, rank int"


def _rows(m: np.ndarray) -> pa.Array:
    """A (rows, width) matrix as a list column, one row per list."""
    return rewrap(m.ravel(), np.arange(len(m) + 1) * m.shape[1])


def _normalize(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _collect(df: DataFrame, id_col: str, vec_col: str):
    """(int64 ids, float64 (rows, dim) matrix) of a small frame collected
    to the driver, or None when it has no rows: a search over an empty
    collected side answers an empty frame without running the search."""
    rows = df.select(id_col, vec_col).collect()
    if not rows:
        return None
    return (np.array([r[id_col] for r in rows], dtype=np.int64),
            np.array([r[vec_col] for r in rows], dtype=np.float64))


def _rank(local: DataFrame, k: int, score: Column) -> DataFrame:
    """(query_id, neighbor_id, rank): the global top-k per query of
    ``local``'s candidate rows, ordered by ``score`` and then by neighbor
    id ascending (deterministic across engines)."""
    w = Window.partitionBy("query_id").orderBy(score, F.asc("neighbor_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


def _cos_topk(ids: np.ndarray, dm: np.ndarray, q_ids: np.ndarray,
              qm: np.ndarray, k: int, exclude_self: bool):
    """(query_id, neighbor_id, cos) arrays: each query's k best rows of
    one slice by cosine, for row-normalized ``dm`` (rows) and ``qm``
    (queries). A query never finds itself when ``exclude_self``."""
    sims = dm @ qm.T  # (rows, queries)
    if exclude_self:
        sims[ids[:, None] == q_ids[None, :]] = -np.inf
    kk = min(k, sims.shape[0])
    top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (k, queries)
    # argpartition's pick among rows exactly TIED with the kk-th value
    # is arbitrary — it could drop the tied LOWER-id neighbor here while
    # the global window only orders what survives. Detect queries whose
    # boundary value has ties straddling the cut and re-select just
    # those columns with the documented composite key (cos desc, id
    # asc); for every other query the selected SET is already exact.
    kth = np.take_along_axis(sims, top[kk - 1:kk], axis=0)  # (1, nq)
    total_tied = (sims == kth).sum(axis=0)
    sel_tied = (np.take_along_axis(sims, top, axis=0) == kth).sum(axis=0)
    for q in np.nonzero(total_tied > sel_tied)[0]:
        top[:, q] = np.lexsort((ids, -sims[:, q]))[:kk]
    qcol = np.repeat(q_ids[None, :], kk, axis=0).ravel()
    ncol = ids[top].ravel()
    scol = np.take_along_axis(sims, top, axis=0).ravel()
    keep = scol > -np.inf
    return qcol[keep], ncol[keep], scol[keep]


def _nearest(xs: np.ndarray, c: np.ndarray, nprobe: int | None = None):
    """Nearest IVF cell of each row of ``xs`` by cosine against centroid
    matrix ``c`` (ties -> smallest cell), or with ``nprobe`` its
    ``nprobe`` nearest cells, best first."""
    sims = _normalize(xs) @ c.T
    if nprobe is None:
        return np.argmax(sims, axis=1)
    return np.argsort(-sims, axis=1)[:, :nprobe]


def _cosine(a, b) -> Column:
    """Column: cosine of two array columns (names or Columns) as one
    fixed-shape JVM expression — left-fold dot product over the product of
    the left-fold norms, NULL for a zero norm — so equal inputs give
    bit-identical floats on every path that uses it."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0),
                                       lambda acc, x: acc + x * x))
    return F.try_divide(dot, nrm(a) * nrm(b))


def cosine_topk_bruteforce(df: DataFrame, queries: DataFrame, k: int = 5,
                           vec_col: str = "embedding", id_col: str = "vec_id",
                           exclude_self: bool = True) -> DataFrame:
    """(query_id, neighbor_id, rank): exact top-k by cosine, ties broken by
    neighbor id ascending (deterministic across engines)."""
    q = _collect(queries, id_col, vec_col)
    if q is None:
        return df.sparkSession.createDataFrame([], _TOPK)
    q_ids, qm = q[0], _normalize(q[1])
    dim = qm.shape[1]

    def _topk(batches):
        for b in batches:
            cols = _cos_topk(row_ids(b), _normalize(matrix(b.column(1), dim)),
                             q_ids, qm, k, exclude_self)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c) for c in cols],
                names=["query_id", "neighbor_id", "cos"])

    local = df.select(id_col, vec_col).mapInArrow(
        _topk, "query_id long, neighbor_id long, cos double")
    return _rank(local, k, F.desc("cos"))


def cosine_pairs_blocked(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", threshold: float = 0.95,
                         n_blocks: int = 8) -> DataFrame:
    """(id_a, id_b, cos): EXACT all pairs with cosine >= threshold, id_a <
    id_b — fully distributed, nothing ever touches the driver.

    Block-pair decomposition: rows are hashed into ``n_blocks`` blocks; each
    unordered block pair (i <= j) becomes one cogroup task that GEMMs its two
    slices. Shuffle volume is ~n_blocks replicas of each row (left side fans
    out to pairs (b, j>=b), right side to (i<=b, b)); the O(n^2) similarity
    compute is spread over n_blocks*(n_blocks+1)/2 tasks, so n_blocks is the
    memory/parallelism knob (each task holds 2 slices of n/n_blocks vectors).

    This is the exact-threshold scale path. At LOW thresholds (like the 0.4
    gate on near-orthogonal vectors) no sublinear method can guarantee
    recall 1 — hyperplane-LSH band recall at cos 0.4 is ~0.63/bit, so any
    bucketing that skips most pairs provably misses some — hence exact
    blocking here and LSH (``embedding_near_dup_lsh`` in dedup.py) only for
    the high-threshold near-dup regime where it is sound."""

    blocks = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_b"),
    )
    # DISTINCT column names per side: a self-cogroup whose two children share
    # attribute lineage gets its right-side data columns over-pruned by the
    # optimizer when the result is projected (observed on Spark 4.1); fresh
    # aliases give the right side its own attributes.
    left = blocks.withColumn(
        "_bj", F.explode(F.sequence(F.col("_b"), F.lit(n_blocks - 1)))
    ).select(F.col("_id").alias("_lid"), F.col("_v").alias("_lv"),
             F.col("_b").alias("_bi"), "_bj")
    right = blocks.withColumn(
        "_bi", F.explode(F.sequence(F.lit(0), F.col("_b")))
    ).select(F.col("_id").alias("_rid"), F.col("_v").alias("_rv"),
             "_bi", F.col("_b").alias("_bj"))

    def _gemm(lpdf, rpdf):
        import pandas as pd

        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        lids = lpdf["_lid"].to_numpy(dtype=np.int64)
        rids = rpdf["_rid"].to_numpy(dtype=np.int64)
        lm = _normalize(np.stack(lpdf["_lv"].to_numpy()).astype(np.float64))
        rm = _normalize(np.stack(rpdf["_rv"].to_numpy()).astype(np.float64))
        sims = lm @ rm.T
        same_block = int(lpdf["_bi"].iloc[0]) == int(lpdf["_bj"].iloc[0])
        # same-block tasks see each unordered pair twice -> keep l<r only;
        # cross-block tasks see it once with arbitrary id order -> canonicalize
        mask = sims >= threshold
        mask &= (lids[:, None] < rids[None, :]) if same_block \
            else (lids[:, None] != rids[None, :])
        ii, jj = np.nonzero(mask)
        a, b = lids[ii], rids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": sims[ii, jj]})

    return (
        left.groupBy("_bi", "_bj")
        .cogroup(right.groupBy("_bi", "_bj"))
        .applyInPandas(_gemm, "id_a long, id_b long, cos double")
    )


def cosine_topk_blocked(df: DataFrame, queries: DataFrame, k: int = 5,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        exclude_self: bool = True, n_blocks: int = 8,
                        q_blocks: int = 4) -> DataFrame:
    """(query_id, neighbor_id, rank): EXACT top-k by cosine for a LARGE
    query set — the scale path ``cosine_topk_bruteforce`` documents: nothing
    is collected to the driver and the query matrix never rides a closure,
    so the query side can be millions of rows.

    Asymmetric block-pair decomposition: corpus rows hash into ``n_blocks``
    blocks, queries into ``q_blocks``; every (data block, query block) cell
    is one cogroup task GEMMing its two slices and emitting only its LOCAL
    top-k per query. The global top-k per query is the top-k of the union of
    its per-data-block top-ks, finished by a tiny window sort over
    queries x n_blocks x k rows. Shuffle: each corpus row is replicated
    q_blocks times, each query n_blocks times — choose blocks so slices fit
    a task (the memory knob), exactly like ``cosine_pairs_blocked``.

    Ties break by neighbor id ascending (deterministic across engines)."""
    data = (
        df.select(F.col(id_col).alias("_did"), F.col(vec_col).alias("_dv"))
        .withColumn("_db", F.pmod(F.xxhash64(F.col("_did")),
                                  F.lit(n_blocks)).cast("int"))
        .withColumn("_qb", F.explode(F.sequence(F.lit(0), F.lit(q_blocks - 1))))
    )
    # fresh aliases on BOTH sides: queries often derive from the corpus
    # DataFrame, and a self-cogroup with shared attribute lineage gets its
    # right side over-pruned on Spark 4.1 (same fix as cosine_pairs_blocked)
    qs = (
        queries.select(F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv"))
        .withColumn("_qb", F.pmod(F.xxhash64(F.col("_qid")),
                                  F.lit(q_blocks)).cast("int"))
        .withColumn("_db", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
    )

    def _gemm_topk(dpdf, qpdf):
        import pandas as pd

        if dpdf.empty or qpdf.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cos": []})
        dids = dpdf["_did"].to_numpy(dtype=np.int64)
        qids = qpdf["_qid"].to_numpy(dtype=np.int64)
        dm = _normalize(np.stack(dpdf["_dv"].to_numpy()).astype(np.float64))
        qm = _normalize(np.stack(qpdf["_qv"].to_numpy()).astype(np.float64))
        cols = _cos_topk(dids, dm, qids, qm, k, exclude_self)
        return pd.DataFrame(dict(zip(["query_id", "neighbor_id", "cos"], cols)))

    local = (
        data.groupBy("_db", "_qb")
        .cogroup(qs.groupBy("_db", "_qb"))
        .applyInPandas(_gemm_topk, "query_id long, neighbor_id long, cos double")
    )
    return _rank(local, k, F.desc("cos"))


def cosine_pairs_bruteforce(df: DataFrame, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            threshold: float = 0.95) -> DataFrame:
    """(id_a, id_b, cos): all pairs with cosine >= threshold, id_a < id_b.
    One side is collected & normalized — SMALL-SCALE ORACLE ONLY (tests);
    production paths use ``cosine_pairs_blocked`` (exact, distributed) or
    the LSH-bucketed near-dup for high thresholds."""
    a = _collect(df, id_col, vec_col)
    if a is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cos double")
    all_ids, am = a[0], _normalize(a[1])
    dim = am.shape[1]

    def _pairs(batches):
        for b in batches:
            ids = row_ids(b)
            m = _normalize(matrix(b.column(1), dim))
            sims = m @ am.T
            ii, jj = np.nonzero((sims >= threshold) & (ids[:, None] < all_ids[None, :]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[ii]), pa.array(all_ids[jj]),
                 pa.array(sims[ii, jj])],
                names=["id_a", "id_b", "cos"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        _pairs, "id_a long, id_b long, cos double"
    )


def lsh_bucket_ids(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", bits: int = 8,
                   seed: int = 5) -> DataFrame:
    """(id, bucket): random-hyperplane LSH bucket (sign bits of ``bits``
    seeded Gaussian projections — hyperplanes derived from splitmix64, so
    identical on every executor without shipping state)."""

    def _planes(dim: int) -> np.ndarray:
        # deterministic pseudo-gaussians via Box-Muller on splitmix streams
        n = bits * dim
        u1, u2 = ((splitmix64(np.arange(n, dtype=np.uint64) + np.uint64(seed * s))
                   >> np.uint64(11)).astype(np.float64) / (1 << 53)
                  for s in (1_000_003, 2_000_003))
        z = np.sqrt(-2 * np.log(np.clip(u1, 1e-12, 1))) * np.cos(2 * np.pi * u2)
        return z.reshape(bits, dim)

    def _bucket(batches):
        planes = None
        for b in batches:
            ids = row_ids(b)
            m = matrix(b.column(1),
                       None if planes is None else planes.shape[1])
            if planes is None:
                planes = _planes(m.shape[1])
            signs = (m @ planes.T) > 0
            bucket = (signs * (1 << np.arange(bits))[None, :]).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(bucket.astype(np.int64))],
                names=[id_col, "bucket"],
            )

    return df.select(id_col, vec_col).mapInArrow(
        _bucket, f"{id_col} long, bucket long"
    )


def ivf_centroids(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", n_centroids: int = 16,
                  iters: int = 5) -> np.ndarray:
    """(n_centroids, dim) float64 IVF coarse quantizer via distributed Lloyd
    iterations on NORMALIZED vectors (spherical k-means — right metric for
    cosine). Deterministic-by-construction init: the vectors with the
    n_centroids smallest ids. Each iteration is one assignment pass
    (mapInArrow, centroid matrix rides in the closure — KB-size) + one
    per-cluster mean (applyInPandas over at most n_centroids groups). Empty
    clusters keep their previous centroid."""
    init_rows = (df.select(id_col, vec_col).orderBy(id_col)
                 .limit(n_centroids).collect())
    cents = _normalize(np.array([r[vec_col] for r in init_rows],
                                dtype=np.float64))

    def _mean(pdf):
        import pandas as pd

        m = _normalize(np.stack(pdf["_v"].to_numpy()).astype(np.float64))
        return pd.DataFrame({
            "bucket": [int(pdf["bucket"].iloc[0])],
            "centroid": [m.mean(axis=0).tolist()],
        })

    for _ in range(iters):
        rows = (_with_cell(df, cents, vec_col, id_col).groupBy("bucket")
                .applyInPandas(_mean, "bucket int, centroid array<double>")
                .collect())
        new = cents.copy()
        for r in rows:
            new[r["bucket"]] = r["centroid"]
        cents = _normalize(new)
    return cents


def _with_cell(df: DataFrame, c: np.ndarray, vec_col: str, id_col: str,
               nprobe: int | None = None) -> DataFrame:
    """(_id, _v, bucket): every row of ``df`` with its nearest IVF cell
    under centroid matrix ``c``, its vector passed through; with
    ``nprobe``, one row for each of its ``nprobe`` nearest cells."""
    dim = c.shape[1]

    def _assign(batches):
        for b in batches:
            ids, vecs = row_ids(b), b.column(1)
            cl = _nearest(matrix(vecs, dim), c, nprobe)
            if nprobe is not None:
                rows = np.repeat(np.arange(len(ids)), cl.shape[1])
                ids, vecs = ids[rows], vecs.take(pa.array(rows))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), vecs, pa.array(cl.ravel().astype(np.int32))],
                names=["_id", "_v", "bucket"])

    return df.select(id_col, vec_col).mapInArrow(
        _assign, f"_id long, _v {dict(df.dtypes)[vec_col]}, bucket int")


def save_centroids(spark, centroids: np.ndarray, path: str) -> None:
    """Persist a trained IVF coarse quantizer as parquet (centroid_id,
    vector) — the train-once/probe-many production pattern: one training job
    writes the quantizer, every later search job loads it instead of
    re-running Lloyd iterations over the corpus."""
    rows = [(i, [float(x) for x in centroids[i]])
            for i in range(centroids.shape[0])]
    spark.createDataFrame(rows, "centroid_id int, vector array<double>") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> np.ndarray:
    """Load a quantizer written by ``save_centroids`` (ordered, (n, dim))."""
    rows = spark.read.parquet(path).orderBy("centroid_id").collect()
    return np.array([r["vector"] for r in rows], dtype=np.float64)


def ivf_topk(df: DataFrame, queries: DataFrame, k: int = 5,
             vec_col: str = "embedding", id_col: str = "vec_id",
             n_centroids: int = 16, nprobe: int = 3, iters: int = 5,
             centroids: np.ndarray | None = None) -> DataFrame:
    """IVF approximate top-k: the second classic ANN family next to LSH —
    a coarse quantizer (spherical k-means centroids) buckets the corpus;
    each query searches only its ``nprobe`` nearest centroids' buckets
    (candidates ~ nprobe/n_centroids of the corpus), exact cosine ranking
    within. Returns (query_id, neighbor_id, rank). Pass ``centroids`` to
    reuse a trained quantizer (the production pattern: train once, probe
    many)."""
    if centroids is None:
        centroids = ivf_centroids(df, vec_col, id_col, n_centroids, iters)
    qv = _with_cell(queries, centroids, vec_col, id_col, nprobe).toDF(
        "query_id", "qvec", "bucket")
    return _bucket_topk(_with_cell(df, centroids, vec_col, id_col), qv, k)


def _bucket_topk(data: DataFrame, qv: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, rank): exact cosine top-k of each query
    among the other rows that share one of its buckets. ``data`` is
    (_id, _v, bucket), one bucket per row; ``qv`` is (query_id, qvec,
    bucket), one row per probed bucket, a query's buckets distinct, so a
    row pairs with a query at most once when ids are unique."""
    # bucket-join: each candidate row pairs only with same-bucket queries
    joined = data.join(qv, "bucket").filter(F.col("_id") != F.col("query_id"))
    return _rank(joined.select("query_id", F.col("_id").alias("neighbor_id"),
                               _cosine("_v", "qvec").alias("cos")),
                 k, F.desc("cos"))


def ann_lsh_topk(df: DataFrame, queries: DataFrame, k: int = 5,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 bits: int = 6, seed: int = 5, probe_radius: int = 1) -> DataFrame:
    """Approximate top-k: restrict each query's search to its LSH bucket plus
    multiprobe neighbors (all buckets within Hamming ``probe_radius`` of the
    query's — the standard multiprobe-LSH recall lever, costing
    (1+bits) x bucket-size candidates at radius 1 instead of a bigger table).
    Returns (query_id, neighbor_id, rank); recall vs exact measured in tests."""
    data = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).join(
        lsh_bucket_ids(df, vec_col, id_col, bits, seed).toDF("_id", "bucket"),
        "_id")
    q_b = lsh_bucket_ids(queries, vec_col, id_col, bits, seed).toDF(
        "query_id", "bucket")
    if probe_radius >= 1:
        # explode each query to its bucket + all radius-1 bit flips
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(bits)],
        )
        q_b = q_b.select("query_id", F.explode(probes).alias("bucket"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qvec")).join(q_b, "query_id")
    return _bucket_topk(data, qv, k)


# ------------------------------------------------------ product quantization
def _l2_fold(xs: np.ndarray, c: np.ndarray) -> np.ndarray:
    """sum_i (xs[:, i] - c[i])^2 as a strict LEFT fold over dimensions —
    bit-exact twin of the DuckDB oracle's ``list_reduce`` term order (numpy
    pairwise summation via ``.sum(axis=1)`` would differ in the last ulp and
    can flip argmin/rank ties cross-engine)."""
    acc = (xs[:, 0] - c[0]) ** 2
    for i in range(1, xs.shape[1]):
        acc = acc + (xs[:, i] - c[i]) ** 2
    return acc


def _sub_d2(xs: np.ndarray, cb_s: np.ndarray) -> np.ndarray:
    """(rows, K) squared L2 distances of subvectors ``xs`` (rows, D) to one
    subspace's codebook ``cb_s`` (K, D), every entry a left-fold double."""
    d = np.empty((xs.shape[0], cb_s.shape[0]), dtype=np.float64)
    for ci in range(cb_s.shape[0]):
        d[:, ci] = _l2_fold(xs, cb_s[ci])
    return d


def _pq_codes(xs: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(rows, m) int32 PQ codes of ``xs``: per subspace, the L2-nearest
    entry of codebooks ``cb`` (m, n_codes, dsub), ties -> smallest code
    (the oracle's (d2, code) ordering)."""
    m, _k, dsub = cb.shape
    codes = np.empty((len(xs), m), dtype=np.int32)
    for s in range(m):
        codes[:, s] = np.argmin(
            _sub_d2(xs[:, s * dsub:(s + 1) * dsub], cb[s]), axis=1)
    return codes


def _adc_topk(codes: DataFrame, q_ids: np.ndarray, qm: np.ndarray,
              cb: np.ndarray, k: int, exclude_self: bool,
              q_cells: np.ndarray | None = None) -> DataFrame:
    """(query_id, neighbor_id, rank) by ADC over ``codes``' (id, codes)
    rows, plus a cell column when ``q_cells`` (queries, nprobe) limits
    each query to the rows of its own cells. Per query, a table of exact
    subspace distances T[s, c]; a row's distance is its m lookups summed
    in fixed subspace order (left fold — bit-exact vs the SQL oracle).
    Each partition emits its local top-k by (adc, id) and a window over
    partitions x k x queries rows finishes."""
    m, _k, dsub = cb.shape
    tables = np.stack([_sub_d2(qm[:, s * dsub:(s + 1) * dsub], cb[s])
                       for s in range(m)], axis=1)  # (queries, m, n_codes)

    def _scan(batches):
        for b in batches:
            ids = row_ids(b)
            cd = matrix(b.column(1), m, np.int64)
            cells = None if q_cells is None else row_ids(b, 2)
            for qi, qid in enumerate(q_ids):
                keep = ids != qid if exclude_self else np.ones(len(ids), bool)
                if cells is not None:
                    keep &= np.isin(cells, q_cells[qi])
                cand_ids, cc = ids[keep], cd[keep]
                if cand_ids.size == 0:
                    continue
                adc = tables[qi, 0][cc[:, 0]]
                for s in range(1, m):  # fixed-order fold == the SQL oracle
                    adc = adc + tables[qi, s][cc[:, s]]
                top = np.lexsort((cand_ids, adc))[:k]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.full(len(top), qid)),
                     pa.array(cand_ids[top]), pa.array(adc[top])],
                    names=["query_id", "neighbor_id", "_adc"])

    local = codes.mapInArrow(
        _scan, "query_id long, neighbor_id long, _adc double")
    return _rank(local, k, F.asc("_adc"))


def pq_codebooks(df: DataFrame, vec_col: str = "embedding",
                 id_col: str = "vec_id", m: int = 4, n_codes: int = 16,
                 iters: int = 0) -> np.ndarray:
    """(m, n_codes, dim/m) float64 product-quantization codebooks (Jégou et
    al. 2011, "Product Quantization for Nearest Neighbor Search"): the
    vector space splits into ``m`` contiguous subspaces, each quantized by
    its own ``n_codes``-entry L2 k-means codebook. Deterministic init: the
    subvectors of the ``n_codes`` smallest-id vectors (``iters=0`` keeps
    exactly that — fully reproducible cross-engine, the oracle-gate mode).
    ``iters>0`` runs distributed Lloyd refinement for ALL m subspaces in one
    assignment pass per iteration (mapInArrow, codebooks ride the closure)
    + one per-(subspace, code) mean (applyInPandas over m x n_codes groups);
    empty codes keep their previous centroid — same shape and determinism
    contract as ``ivf_centroids``."""
    init_rows = (df.select(id_col, vec_col).orderBy(id_col)
                 .limit(n_codes).collect())
    if len(init_rows) < n_codes:
        raise ValueError(f"need >= {n_codes} vectors to seed codebooks")
    mat = np.array([r[vec_col] for r in init_rows], dtype=np.float64)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    cb = np.stack([mat[:, s * dsub:(s + 1) * dsub] for s in range(m)])

    for _ in range(iters):
        c = cb  # rebind for closure pickling

        def _assign(batches):
            for b in batches:
                xs = matrix(b.column(1), dim)
                n = len(xs)
                # one row per (subspace, vector), subspace-major
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.repeat(np.arange(m, dtype=np.int32), n)),
                     pa.array(_pq_codes(xs, c).T.ravel()),
                     _rows(xs.reshape(n, m, dsub).swapaxes(0, 1)
                           .reshape(m * n, dsub))],
                    names=["s", "code", "sub"])

        assigned = df.select(id_col, vec_col).mapInArrow(
            _assign, "s int, code int, sub array<double>")

        def _mean(pdf):
            import pandas as pd

            v = np.stack(pdf["sub"].to_numpy()).astype(np.float64)
            return pd.DataFrame({
                "s": [int(pdf["s"].iloc[0])],
                "code": [int(pdf["code"].iloc[0])],
                "centroid": [v.mean(axis=0).tolist()],
            })

        rows = assigned.groupBy("s", "code").applyInPandas(
            _mean, "s int, code int, centroid array<double>").collect()
        new = cb.copy()
        for r in rows:
            new[r["s"], r["code"]] = r["centroid"]
        cb = new
    return cb


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """(id, codes array<int>): PQ-encode every vector — per subspace, the
    code of the L2-nearest codebook entry (ties -> smallest code, matching
    the oracle's (d2, code) ordering). ONE mapInArrow scan, zero exchanges;
    at 100 TB this is the compression pass that turns a 256-byte fp32
    vector into m bytes of codes (the ADC scan then never touches raw
    vectors)."""
    return _encode(df, codebooks, vec_col, id_col)


def _encode(df: DataFrame, cb: np.ndarray, vec_col: str, id_col: str,
            cents: np.ndarray | None = None) -> DataFrame:
    """(id_col, codes) of every row of ``df`` under codebooks ``cb``, plus
    its nearest IVF ``cell`` under centroids ``cents`` when given, in one
    scan."""
    dim = cb.shape[0] * cb.shape[2]

    def _enc(batches):
        for b in batches:
            ids = row_ids(b)
            xs = matrix(b.column(1), dim)
            cols = [pa.array(ids), _rows(_pq_codes(xs, cb))]
            if cents is not None:
                cols.append(pa.array(_nearest(xs, cents).astype(np.int32)))
            yield pa.RecordBatch.from_arrays(
                cols, names=["_id", "codes", "cell"][:len(cols)])

    schema = ("_id long, codes array<int>"
              + ("" if cents is None else ", cell int"))
    return df.select(id_col, vec_col).mapInArrow(
        _enc, schema).withColumnRenamed("_id", id_col)


def pq_topk(df: DataFrame, queries: DataFrame, k: int = 5,
            vec_col: str = "embedding", id_col: str = "vec_id",
            m: int = 4, n_codes: int = 16, iters: int = 0,
            codebooks: np.ndarray | None = None,
            codes: DataFrame | None = None,
            exclude_self: bool = True) -> DataFrame:
    """(query_id, neighbor_id, rank): approximate L2 top-k by asymmetric
    distance computation (ADC) over PQ codes — the compressed-domain ANN
    scan (Jégou et al. 2011 §IV): per query, a tiny (m x n_codes) table of
    exact subspace distances; each corpus vector's approximate distance is
    m table lookups summed in fixed subspace order (left fold — bit-exact
    vs the SQL oracle). Ties rank by neighbor id ascending.

    Scale shape: the corpus is scanned as CODES (m ints/vector — encode
    once with ``pq_encode`` and pass ``codes=`` for the query-many
    pattern); each partition emits only its local top-k per query
    (lexsort on (adc, id) — the map-side-combine shape of
    ``cosine_topk_bruteforce``), and a window over partitions x k x
    queries rows finishes. Compose with ``ivf_centroids`` routing for
    IVF-PQ when even one full code scan is too much. Pass ``codebooks``
    to reuse a trained quantizer."""
    q = _collect(queries, id_col, vec_col)
    if q is None:
        return df.sparkSession.createDataFrame([], _TOPK)
    if codebooks is None:
        codebooks = pq_codebooks(df, vec_col, id_col, m, n_codes, iters)
    if codes is None:
        codes = pq_encode(df, codebooks, vec_col, id_col)
    return _adc_topk(codes.select(id_col, "codes"), *q, codebooks, k,
                     exclude_self)


def ivfpq_topk(df: DataFrame, queries: DataFrame, k: int = 5,
               vec_col: str = "embedding", id_col: str = "vec_id",
               n_centroids: int = 16, nprobe: int = 3,
               m: int = 4, n_codes: int = 16, iters: int = 2,
               centroids: np.ndarray | None = None,
               codebooks: np.ndarray | None = None,
               exclude_self: bool = True) -> DataFrame:
    """(query_id, neighbor_id, rank): IVF-PQ — the production ANN shape at
    10^12 vectors (Jégou et al. 2011 §V): the IVF coarse quantizer routes
    each query to its ``nprobe`` nearest cells, and the scan ranks ONLY
    those cells' vectors, in the compressed domain via the PQ ADC tables —
    candidates ~ nprobe/n_centroids of the corpus and the scan reads m-int
    codes, never raw vectors. Simplification vs the paper: codes quantize
    the RAW vectors, not per-cell residuals (one shared codebook set; the
    residual variant needs a per-cell table rebuild per query and buys
    accuracy only at much larger n_centroids).

    One fused mapInArrow pass assigns cells AND encodes (corpus scanned
    once); the search scan emits per-partition local top-k per query (same
    map-side-combine shape as ``pq_topk``). Pass ``centroids`` /
    ``codebooks`` to reuse trained quantizers (train-once/query-many)."""
    q = _collect(queries, id_col, vec_col)
    if q is None:
        return df.sparkSession.createDataFrame([], _TOPK)
    if centroids is None and codebooks is None:
        # the two trainers are independent Lloyd loops over the same input;
        # overlap their per-iteration jobs from two driver threads so the
        # tail of one iteration back-fills the other's tasks (actions are
        # only sequential because driver code calls them sequentially) —
        # trained values are identical to the sequential order
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fc = pool.submit(ivf_centroids, df, vec_col, id_col,
                             n_centroids, iters)
            fb = pool.submit(pq_codebooks, df, vec_col, id_col, m,
                             n_codes, iters)
            centroids, codebooks = fc.result(), fb.result()
    if centroids is None:
        centroids = ivf_centroids(df, vec_col, id_col, n_centroids, iters)
    if codebooks is None:
        codebooks = pq_codebooks(df, vec_col, id_col, m, n_codes,
                                 iters=iters)
    encoded = _encode(df, codebooks, vec_col, id_col, centroids)
    q_ids, qm = q
    return _adc_topk(encoded, q_ids, qm, codebooks, k, exclude_self,
                     _nearest(qm, centroids, nprobe))

def embedding_group_stats(df: DataFrame, group_col: str = "label",
                          vec_col: str = "embedding") -> DataFrame:
    """(group, n_vectors, centroid array<double>, centroid_norm, mean_norm):
    per-group mean embedding + norm stats — the per-source corpus health
    panel (drifting centroid = distribution shift; mean_norm collapse =
    degenerate embeddings) and the input to per-source IVF seeding.

    Group keys may be integral (int/long — the label column) or string
    (the repo's ``source`` columns); other key types raise at plan time.
    Rows with a NULL vector OR a NULL group key are dropped (a NULL key
    has no group to contribute to — and would otherwise crash np.unique
    for strings or silently coerce to a garbage id for ints); ragged
    vectors (mixed widths within a batch) raise a clear ValueError
    instead of silently mis-reshaping.

    100-TB shape: one pass of per-partition fp64 PARTIAL sums (numpy
    ``np.add.at`` group-scatter per Arrow batch — no per-row Python), then
    a groupBy over #partitions x #groups partial rows merges them. The
    shuffle carries dim-sized double arrays per (partition, group), never
    rows. Same mergeable-partials algebra as the sketch builds
    (operators/build.py); float64 accumulation, so group order inside a
    partition is irrelevant at ~1e-12 relative."""
    gtype = dict(df.dtypes)[group_col]
    if gtype in ("tinyint", "smallint", "int", "bigint"):
        g_out, g_np = "bigint", np.int64
    elif gtype == "string":
        g_out, g_np = "string", None
    else:
        raise ValueError(
            f"embedding_group_stats: group column {group_col!r} has type "
            f"{gtype}; only integral or string group keys are supported")

    def _partials(batches):
        import pyarrow.compute as pc

        for b in batches:
            if b.column(0).null_count or b.column(1).null_count:
                b = b.filter(pc.and_(b.column(0).is_valid(),
                                     b.column(1).is_valid()))
            if b.num_rows == 0:
                continue
            g = np.asarray(b.column(0).to_numpy(zero_copy_only=False))
            m = matrix(b.column(1))
            uniq, inv = np.unique(g, return_inverse=True)
            sums = np.zeros((uniq.size, m.shape[1]))
            np.add.at(sums, inv, m)
            norm_sum = np.zeros(uniq.size)
            np.add.at(norm_sum, inv, np.linalg.norm(m, axis=1))
            cnt = np.bincount(inv, minlength=uniq.size)
            g_arr = (pa.array(uniq.astype(g_np)) if g_np is not None
                     else pa.array(uniq.tolist(), type=pa.string()))
            yield pa.RecordBatch.from_arrays(
                [g_arr,
                 _rows(sums),
                 pa.array(norm_sum), pa.array(cnt.astype(np.int64))],
                names=["_g", "_vsum", "_nsum", "_n"])

    partials = df.select(group_col, vec_col).mapInArrow(
        _partials, f"_g {g_out}, _vsum array<double>, _nsum double, _n long")

    def _merge(pdf):
        import pandas as pd

        vs = np.stack(pdf["_vsum"].to_numpy()).sum(axis=0)
        n = int(pdf["_n"].sum())
        centroid = vs / n
        key = pdf["_g"].iloc[0]
        return pd.DataFrame({
            group_col: [str(key) if g_np is None else int(key)],
            "n_vectors": [n],
            "centroid": [centroid.tolist()],
            "centroid_norm": [float(np.linalg.norm(centroid))],
            "mean_norm": [float(pdf["_nsum"].sum() / n)]})

    return partials.groupBy("_g").applyInPandas(
        _merge, f"{group_col} {g_out}, n_vectors long, "
                "centroid array<double>, centroid_norm double, "
                "mean_norm double")
