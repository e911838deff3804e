"""Catalog entries for the training-data pipeline ops (text / dedup /
similarity / multimodal), with exact DuckDB oracles wherever the output is
deterministic and SQL-expressible; rows-only entries otherwise.

Design notes on exactness:
- lang_id / quality counts / md5: pure expression logic restricted to
  constructs both engines evaluate identically (integer counts, md5 hex).
- jaccard: both engines divide the same integers -> identical doubles.
- minhash: LSH recall is 1 at (t=0.7, 64 hashes, 32 bands) so the verified
  output EQUALS the exact pair set (tests/test_functions.py gates this).
- cosine: numpy BLAS vs DuckDB sequential summation differ at ~1e-16; ranks
  and >=t decisions only flip if a gap is below that — with this data, gaps
  are >= 1e-3. The oracle returns ranks/pairs, never raw floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import bpe, dedup, multimodal, similarity, text
from ..sources.tables import load_table, token_table
from .catalog import QuerySpec

_STOP_SQL = "['" + "','".join(text.STOPWORDS) + "']"


def _profile_sql(words) -> str:
    lst = "['" + "','".join(words) + "']"
    return f"len(list_filter(string_split(text,' '), w -> list_contains({lst}, w)))"


# ------------------------------------------------------------------ text
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


_p = {lang: _profile_sql(ws) for lang, ws in sorted(text.LANG_PROFILES.items())}
_ORACLE_LANG = f"""
WITH scored AS (
  SELECT doc_id, {_p['de']} AS s_de, {_p['en']} AS s_en,
         {_p['es']} AS s_es, {_p['fr']} AS s_fr
  FROM documents
)
SELECT doc_id, CASE
  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
  WHEN s_es >= s_fr THEN 'es'
  ELSE 'fr' END AS pred_lang
FROM scored
"""


def q_quality_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_counts(load_table(spark, sf_dir, "documents"))


_ORACLE_QUALITY = f"""
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
  CAST(len(regexp_extract_all(text, '{text.TOKEN_RE}')) AS INT) AS n_alnum_tokens,
  CAST(len(list_filter(string_split(text, ' '),
       w -> list_contains({_STOP_SQL}, w))) AS INT) AS n_stopwords,
  CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 6)) AS INT)
       AS n_long_words
FROM documents
"""


_SEG_W = 2  # word-chunk width for the repetition gate (width with a real
#             dup signal on the synthetic corpus: ~35% of docs have dups)


def q_segment_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-segment panel (MassiveText §A1.1 dup-line /
    dup-paragraph signals) over fixed word chunks — counts exact, each
    fraction ONE int/int division, zero exchanges."""
    return text.segment_repetition_stats(
        load_table(spark, sf_dir, "documents"), width=_SEG_W)


_ORACLE_SEG_REP = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
segs AS (
  SELECT doc_id,
         array_to_string(ws[(g*{_SEG_W}+1):(g*{_SEG_W}+{_SEG_W})], ' ') AS seg
  FROM words, UNNEST(generate_series(0,
       CAST(ceil(len(ws) / {_SEG_W}.0) AS BIGINT) - 1)) AS t(g)
),
c AS (
  SELECT doc_id, seg, count(*) AS cnt, length(seg) AS L
  FROM segs GROUP BY doc_id, seg
)
SELECT doc_id,
  CAST(sum(cnt) AS INT) AS n_segments,
  CAST(coalesce(sum(cnt) FILTER (cnt > 1), 0) AS INT) AS n_dup_segments,
  CAST(sum(cnt * L) AS INT) AS chars_total,
  CAST(coalesce(sum(cnt * L) FILTER (cnt > 1), 0) AS INT) AS chars_dup,
  coalesce(sum(cnt) FILTER (cnt > 1), 0) / sum(cnt) AS dup_seg_frac,
  coalesce(sum(cnt * L) FILTER (cnt > 1), 0) / nullif(sum(cnt * L), 0)
    AS dup_char_frac
FROM c GROUP BY doc_id
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(load_table(spark, sf_dir, "documents"))


_ORACLE_TOKEN_STATS = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{text.BPE_RE}')) AS INT) AS n_bpe_tokens,
  CAST(len(list_distinct(regexp_extract_all(text, '{text.BPE_RE}'))) AS INT)
      AS n_distinct_bpe,
  CAST((len(list_distinct(regexp_extract_all(text, '{text.BPE_RE}'))) * 10000)
       // greatest(len(regexp_extract_all(text, '{text.BPE_RE}')), 1) AS INT)
      AS ttr_bp
FROM documents
"""


def q_doc_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_md5(load_table(spark, sf_dir, "documents"))


_ORACLE_MD5 = "SELECT doc_id, md5(text) AS fingerprint FROM documents"


def q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.rolling_fingerprints(load_table(spark, sf_dir, "documents"))


# DuckDB recomputes the identical Karp–Rabin polynomial: the corpus is pure
# ASCII (verified: octet_length(encode(text)) == length(text) at every sf),
# so character positions == byte positions and ascii(substr(...)) == the
# byte numpy hashes. Coefficients are < 2^31 and bytes < 2^8, so every
# product (< 2^39) and 16-term window sum (< 2^43) is exact in BIGINT —
# matching the numpy int64 path bit-for-bit.
_FP_W, _FP_KEEP = 16, 8
_FP_COEFFS = "[" + ",".join(str(c) for c in text.fp_coefficients(_FP_W)) + "]"

_ORACLE_ROLLING_FP = f"""
WITH pos AS (
  SELECT d.doc_id, d.text, g.pos
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(
                1, greatest(length(d.text) - {_FP_W - 1}, 0))) AS pos) g
),
hashes AS (
  SELECT DISTINCT doc_id,
         list_sum(list_transform(generate_series(0, {_FP_W - 1}),
             i -> CAST(ascii(substr(text, pos + i, 1)) AS BIGINT)
                  * {_FP_COEFFS}[i + 1])) % {text._FP_MOD} AS fingerprint
  FROM pos
),
ranked AS (
  SELECT doc_id, CAST(fingerprint AS BIGINT) AS fingerprint,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY fingerprint) AS INT) AS fp_rank
  FROM hashes
)
SELECT doc_id, fp_rank, fingerprint FROM ranked WHERE fp_rank <= {_FP_KEEP}
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnow_fingerprints(load_table(spark, sf_dir, "documents"))


# winnowing oracle: same Karp-Rabin polynomial as the rolling-fingerprint
# oracle, then the min over every 8-consecutive-hash window, distinct per doc
_WIN_W = 8
_ORACLE_WINNOW = f"""
WITH pos AS (
  SELECT d.doc_id, d.text, g.pos
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(
                1, greatest(length(d.text) - {_FP_W - 1}, 0))) AS pos) g
),
hashes AS (
  SELECT doc_id, pos,
         list_sum(list_transform(generate_series(0, {_FP_W - 1}),
             i -> CAST(ascii(substr(text, pos + i, 1)) AS BIGINT)
                  * {_FP_COEFFS}[i + 1])) % {text._FP_MOD} AS h,
         count(*) OVER (PARTITION BY doc_id) AS n_h
  FROM pos
),
winmins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
             AS fingerprint,
         pos, n_h
  FROM hashes
)
SELECT DISTINCT doc_id, CAST(fingerprint AS BIGINT) AS fingerprint
FROM winmins WHERE pos <= n_h - {_WIN_W - 1}
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark split carved deterministically out of the documents
    table (every 50th doc is 'benchmark'); flags every training doc sharing a
    winnowing fingerprint with a benchmark doc."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.decontaminate(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
    )


# decontamination oracle: the winnow fingerprint CTE once over all docs,
# then a fingerprint equi-join of the two deterministic halves
_ORACLE_DECON = f"""
WITH pos AS (
  SELECT d.doc_id, d.text, g.pos
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(
                1, greatest(length(d.text) - {_FP_W - 1}, 0))) AS pos) g
),
hashes AS (
  SELECT doc_id, pos,
         list_sum(list_transform(generate_series(0, {_FP_W - 1}),
             i -> CAST(ascii(substr(text, pos + i, 1)) AS BIGINT)
                  * {_FP_COEFFS}[i + 1])) % {text._FP_MOD} AS h,
         count(*) OVER (PARTITION BY doc_id) AS n_h
  FROM pos
),
winmins AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
             AS fingerprint,
         pos, n_h
  FROM hashes
),
fps AS (
  SELECT DISTINCT doc_id, CAST(fingerprint AS BIGINT) AS fingerprint
  FROM winmins WHERE pos <= n_h - {_WIN_W - 1}
)
SELECT tr.doc_id AS train_doc_id, te.doc_id AS test_doc_id,
       CAST(count(*) AS BIGINT) AS n_shared,
       (count(*) - 1) * {_WIN_W + 1} // 2 + {_FP_W + _WIN_W - 1}
           AS est_overlap_chars
FROM fps tr JOIN fps te USING (fingerprint)
WHERE tr.doc_id % 50 <> 0 AND te.doc_id % 50 = 0
GROUP BY 1, 2
HAVING count(*) >= 1
"""


# ----------------------------------------------------------------- dedup
def _docs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 500-doc slice for the PAIRWISE gate queries. The
    synthetic corpus has a 31-word vocabulary, so every 3-gram is shared by
    nearly every document — exact pairwise verification is inherently
    quadratic in that degenerate regime (at sf0.1 the uncapped join produced
    billions of gram-pair rows). The OPERATORS stay uncapped (LSH banding is
    the scale path on real corpora); the gate checks exactness on a bounded,
    sf-stable slice (sf0.01 has exactly 500 docs, so the gate is unchanged)."""
    return load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"))


def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dedup, 8-byte LongType shuffle keys (``by_hash=True``)."""
    return dedup.dedup_exact(load_table(spark, sf_dir, "documents"),
                             by_hash=True)


_ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS group_size
FROM documents GROUP BY text
"""

_CHUNK_W = 25


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-chunk removal (the MassiveText repeated-paragraph stage)
    over the documents table: fixed 25-word chunks, global keep-first by
    (doc_id, chunk index), documents reassembled from survivors. The
    gate fingerprints the reassembled text (md5 + length) so the hash
    compare covers content AND order without shipping full documents."""
    out = dedup.chunk_dedup(load_table(spark, sf_dir, "documents"),
                            chunk_words=_CHUNK_W)
    return out.select(
        "doc_id", "n_chunks", "n_kept",
        F.md5("text").alias("clean_md5"),
        F.coalesce(F.length("text"), F.lit(0)).alias("clean_nchars"))


_ORACLE_CHUNK_DEDUP = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
chunks AS (
  SELECT doc_id, CAST(g AS BIGINT) AS ci,
         array_to_string(ws[(g*{_CHUNK_W}+1):(g*{_CHUNK_W}+{_CHUNK_W})],
                         ' ') AS chunk
  FROM words, UNNEST(generate_series(0,
       CAST(ceil(len(ws) / {_CHUNK_W}.0) AS BIGINT) - 1)) AS t(g)
),
ranked AS (
  SELECT doc_id, ci, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
  FROM chunks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
       md5(string_agg(chunk, ' ' ORDER BY ci) FILTER (rn = 1)) AS clean_md5,
       CAST(coalesce(length(string_agg(chunk, ' ' ORDER BY ci)
                            FILTER (rn = 1)), 0) AS INT) AS clean_nchars
FROM ranked GROUP BY doc_id
"""

_JACCARD_CTE = """
WITH capped AS (SELECT * FROM documents WHERE doc_id < 500),
grams AS (
  SELECT DISTINCT d.doc_id, substr(d.text, g.pos, 3) AS gram
  FROM capped d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 2, 0))) AS pos) g
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       i.inter * 1.0 / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.7
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs_capped(spark, sf_dir), threshold=0.7)


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_dup_pairs(_docs_capped(spark, sf_dir), threshold=0.7)


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding invariants as an exact boolean gate (the signature
    itself is not SQL-reproducible, but its CONTRACT is checkable): with
    4x16-bit bands, (a) every emitted pair truly has Hamming <= 8 — soundness,
    recomputed from an independent signature pass + popcount over ALL pairs;
    (b) every pair with Hamming <= 3 IS emitted — the pigeonhole completeness
    the operator guarantees; (c) the pair set is non-empty on this corpus."""
    docs = _docs_capped(spark, sf_dir)
    sigs = dedup.simhash_signatures(docs)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    exact = (
        a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
    )
    e8 = exact.filter("hamming <= 8").select("doc_a", "doc_b")
    e3 = exact.filter("hamming <= 3").select("doc_a", "doc_b")
    got = dedup.simhash_near_dup_pairs(docs, max_hamming=8).select("doc_a", "doc_b")
    sound = got.exceptAll(e8).count() == 0
    complete_le3 = e3.exceptAll(got).count() == 0
    return spark.createDataFrame(
        [(bool(sound), bool(complete_le3), bool(got.count() > 0))],
        "sound boolean, complete_le3 boolean, nonempty boolean",
    )


_ORACLE_SIMHASH = ("SELECT TRUE AS sound, TRUE AS complete_le3, "
                   "TRUE AS nonempty")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    ).select("id_a", "id_b")  # floats stay out of the hash compare


_ORACLE_EMB_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
"""


_NGRAM_DECON_N = 13  # GPT-3 appendix-C style 13-gram overlap filtering


def q_token_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level benchmark decontamination over the pre-tokenized table:
    Bloom-screen every train doc's distinct 13-gram KR codes against the
    benchmark split (doc_id % 50 == 0). Zero-FP at the gated geometry, so
    counts equal the exact code join the oracle runs; KR collisions are
    symmetric (both engines code identically)."""
    tok = token_table(spark, sf_dir)
    is_test = F.col("doc_id").cast("long") % 50 == 0
    out = dedup.token_ngram_decontaminate(
        tok.filter(~is_test), tok.filter(is_test), n=_NGRAM_DECON_N)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_ngrams", "n_matched", "contaminated")


def _ngram_decon_oracle() -> str:
    from ..functions.text import fp_coefficients
    from ..sources.tables import TOKENS_ORACLE_CTE

    n = _NGRAM_DECON_N
    coeffs = fp_coefficients(n)
    return TOKENS_ORACLE_CTE + f""",
seqs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list(token_id ORDER BY pos) AS toks, count(*) AS n_tok
  FROM tok GROUP BY doc_id
),
codes AS (
  SELECT DISTINCT doc_id,
         CAST(list_sum(list_transform(generate_series(0, {n - 1}),
              i -> (CAST(toks[p + i] AS BIGINT) * ({coeffs})[i + 1])
                   % 2147483647)) AS BIGINT) % 2147483647 AS code
  FROM seqs,
       LATERAL (SELECT unnest(generate_series(1, CAST(n_tok AS INT) - {n - 1}))
                AS p) g
  WHERE n_tok >= {n}
),
bench AS (SELECT DISTINCT code FROM codes WHERE doc_id % 50 = 0)
SELECT c.doc_id, CAST(count(*) AS INT) AS n_ngrams,
       CAST(sum(CASE WHEN b.code IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS n_matched,
       sum(CASE WHEN b.code IS NOT NULL THEN 1 ELSE 0 END) > 0
           AS contaminated
FROM codes c LEFT JOIN bench b USING (code)
WHERE c.doc_id % 50 <> 0
GROUP BY c.doc_id
"""


_SUBSTR_K = 13       # gram width (GPT-3-style 13-token granularity)
_SUBSTR_MIN = 15     # minimum reported span length


def _substr_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token table + planted twins: every doc with >= 30 tokens gets a
    twin (doc_id + 100000) carrying exactly its tokens[4..21] slice, so
    each such doc shares one verbatim 18-token span with its twin."""
    tok = token_table(spark, sf_dir)
    base = tok.select(F.col("doc_id").cast("long").alias("doc_id"), "tokens")
    twins = (base.filter(F.size("tokens") >= 30)
             .select((F.col("doc_id") + 100000).alias("doc_id"),
                     F.slice("tokens", 4, 18).alias("tokens")))
    return base.unionByName(twins)


def q_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document substring-level exact dedup (ExactSubstr, Lee et
    al. 2022) at planted-duplication scale: spans between docs and their
    planted twins, plus whatever spans the corpus itself repeats, which
    both engines find identically (KR collisions are symmetric). Output
    is the full (pair, boundaries, length) span table."""
    return dedup.exact_substr_spans(_substr_corpus(spark, sf_dir),
                                    k=_SUBSTR_K, min_span=_SUBSTR_MIN,
                                    warn_uncapped=False)


# span-oracle pieces shared by the span gates and the removal gates —
# composed from constants, never spliced out of a finished oracle string
def _substr_occ_ctes() -> str:
    """CTE chain through ``occ``: twin-planted corpus + positional KR
    codes — the shared front of the pairwise AND global span oracles."""
    from ..functions.text import fp_coefficients
    from ..sources.tables import TOKENS_ORACLE_CTE

    k = _SUBSTR_K
    coeffs = fp_coefficients(k)
    return TOKENS_ORACLE_CTE + f""",
seqs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list(token_id ORDER BY pos) AS toks, count(*) AS n_tok
  FROM tok GROUP BY doc_id
),
all_seqs AS (
  SELECT doc_id, toks, CAST(n_tok AS INT) AS n_tok FROM seqs
  UNION ALL
  SELECT doc_id + 100000, toks[4:21], 18 FROM seqs WHERE n_tok >= 30
),
occ AS (
  SELECT doc_id, p AS pos,
         CAST(list_sum(list_transform(generate_series(0, {k - 1}),
              i -> (CAST(toks[p + i] AS BIGINT) * ({coeffs})[i + 1])
                   % 2147483647)) AS BIGINT) % 2147483647 AS code
  FROM all_seqs,
       LATERAL (SELECT unnest(generate_series(1, n_tok - {k - 1})) AS p) g
  WHERE n_tok >= {k}
)"""


def _substr_ctes() -> str:
    return _substr_occ_ctes() + """,
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, b.pos AS pos_b
  FROM occ a JOIN occ b ON a.code = b.code AND a.doc_id < b.doc_id
),
r AS (
  SELECT doc_a, doc_b, pos_a, pos_b, pos_a - pos_b AS diag,
         pos_a - row_number() OVER (
             PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a) AS isl
  FROM m
)"""


def _substr_global_ctes() -> str:
    """CTE chain through ``gspans``: the corpus-global (cluster-per-code)
    span table — per code ONE aggregate picks the first-(doc, pos)
    representative; every other occurrence of a duplicated code is
    marked; per-doc interval merge with gap > k breaking islands. Mirrors
    ``dedup.exact_substr_spans_global`` exactly (O(f) duplicate rows per
    code, never pairwise anchors)."""
    k = _SUBSTR_K
    return _substr_occ_ctes() + f""",
rep AS (
  SELECT code, count(*) AS cnt, min(doc_id * 4294967296 + pos) AS rk
  FROM occ GROUP BY code
),
dup AS (
  SELECT o.doc_id, o.pos
  FROM occ o JOIN rep USING (code)
  WHERE rep.cnt > 1 AND o.doc_id * 4294967296 + o.pos <> rep.rk
),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
              > {k} THEN 1 ELSE 0 END AS brk
  FROM dup
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM flagged
),
gspans AS (
  SELECT doc_id, CAST(min(pos) AS INT) AS start,
         CAST(max(pos) - min(pos) + {k} AS INT) AS span_len
  FROM isl GROUP BY doc_id, grp
  HAVING max(pos) - min(pos) + {k} >= {_SUBSTR_MIN}
)"""


def _substr_span_select() -> str:
    return f"""SELECT doc_a, doc_b, CAST(min(pos_a) AS INT) AS start_a,
       CAST(min(pos_b) AS INT) AS start_b,
       CAST(count(*) + {_SUBSTR_K - 1} AS INT) AS span_len
FROM r GROUP BY doc_a, doc_b, diag, isl
HAVING count(*) + {_SUBSTR_K - 1} >= {_SUBSTR_MIN}"""


def _substr_oracle() -> str:
    return _substr_ctes() + "\n" + _substr_span_select() + "\n"


def q_substr_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of ExactSubstr composed end-to-end: find spans on
    the twin-planted corpus, cut every doc_b copy, and fingerprint the
    CLEANED token arrays with exact integer checksums (token sum +
    position-weighted sum over the post-removal sequence) so the result
    hash-compares without emitting arrays. Twins lose their entire
    18-token body (n_tok 0); originals keep theirs (they are doc_a)."""
    corpus = _substr_corpus(spark, sf_dir)
    spans = dedup.exact_substr_spans(corpus, k=_SUBSTR_K,
                                     min_span=_SUBSTR_MIN,
                                     warn_uncapped=False)
    cleaned = dedup.remove_token_spans(corpus, spans)
    tok_sum = F.aggregate(
        "tokens", F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"))
    pos_sum = F.when(F.size("tokens") > 0, F.aggregate(
        F.zip_with("tokens", F.sequence(F.lit(1), F.size("tokens")),
                   lambda t, i: t.cast("long") * i.cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )).otherwise(F.lit(0).cast("long"))
    return cleaned.select(
        "doc_id", "n_tok", "n_removed",
        tok_sum.alias("tok_sum"), pos_sum.alias("pos_sum"))


def _substr_removal_tail(sdoc: str, sstart: str) -> str:
    """Shared back half of the removal oracles: mark every token position
    covered by a ``spans`` row (span doc/start columns parameterized),
    then exact integer checksums over the kept sequence."""
    return f""",
posns AS (
  SELECT a.doc_id, g.p AS pos, a.toks[g.p] AS token_id
  FROM all_seqs a,
       LATERAL (SELECT unnest(generate_series(1, a.n_tok)) AS p) g
),
marked AS (
  SELECT p.doc_id, p.pos, p.token_id,
         EXISTS (SELECT 1 FROM spans s WHERE s.{sdoc} = p.doc_id
                 AND p.pos >= s.{sstart}
                 AND p.pos <= s.{sstart} + s.span_len - 1) AS rm
  FROM posns p
),
agg1 AS (
  SELECT doc_id,
         CAST(count(*) FILTER (WHERE NOT rm) AS INT) AS n_tok,
         CAST(count(*) FILTER (WHERE rm) AS INT) AS n_removed
  FROM marked GROUP BY doc_id
),
kept AS (
  SELECT doc_id, token_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS np
  FROM marked WHERE NOT rm
),
agg2 AS (
  SELECT doc_id, sum(CAST(token_id AS BIGINT)) AS tok_sum,
         sum(CAST(token_id AS BIGINT) * np) AS pos_sum
  FROM kept GROUP BY doc_id
)
SELECT a.doc_id, a.n_tok, a.n_removed,
       CAST(coalesce(b.tok_sum, 0) AS BIGINT) AS tok_sum,
       CAST(coalesce(b.pos_sum, 0) AS BIGINT) AS pos_sum
FROM agg1 a LEFT JOIN agg2 b USING (doc_id)
"""


def _substr_clean_oracle() -> str:
    return (_substr_ctes() + """,
spans AS (
""" + _substr_span_select() + """
)""" + _substr_removal_tail("doc_b", "start_b"))


def q_substr_global_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global ExactSubstr spans (the 100-TB removal path): per
    k-gram code ONE aggregate picks the first-(doc, pos) representative
    and every later occurrence is spanned — O(f) rows for a code in f
    docs, never the pairwise O(f^2) anchors. On the twin-planted corpus
    each twin's whole 18-token body is spanned (its original, lower-id
    doc holds the representative copy)."""
    return dedup.exact_substr_spans_global(
        _substr_corpus(spark, sf_dir), k=_SUBSTR_K, min_span=_SUBSTR_MIN)


def _substr_global_oracle() -> str:
    return (_substr_global_ctes() +
            "\nSELECT doc_id, start, span_len FROM gspans\n")


def q_substr_dedup_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe removal pipeline end-to-end: corpus-global spans ->
    remove_token_spans (vectorized Arrow cut), cleaned arrays
    fingerprinted with exact integer checksums — the composition
    ``dedup.exact_substr_dedup`` ships as the default boilerplate-removal
    path."""
    corpus = _substr_corpus(spark, sf_dir)
    cleaned = dedup.exact_substr_dedup(corpus, k=_SUBSTR_K,
                                       min_span=_SUBSTR_MIN)
    tok_sum = F.aggregate(
        "tokens", F.lit(0).cast("long"),
        lambda a, x: a + x.cast("long"))
    pos_sum = F.when(F.size("tokens") > 0, F.aggregate(
        F.zip_with("tokens", F.sequence(F.lit(1), F.size("tokens")),
                   lambda t, i: t.cast("long") * i.cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )).otherwise(F.lit(0).cast("long"))
    return cleaned.select(
        "doc_id", "n_tok", "n_removed",
        tok_sum.alias("tok_sum"), pos_sum.alias("pos_sum"))


def _substr_global_dedup_oracle() -> str:
    return (_substr_global_ctes() + """,
spans AS (SELECT * FROM gspans)""" +
            _substr_removal_tail("doc_id", "start"))


def q_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned incremental-ingest dedup: a new batch (every %3==0 doc
    PLUS planted re-labeled copies of old docs) deduped against the
    existing corpus; bloom-negative rows pass join-free (no-FN), positives
    verify on the text itself — output exact at any FPR."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    planted = (docs.filter(F.col("doc_id") % 6 == 1)
               .select((F.col("doc_id") + 500000).alias("doc_id"), "text"))
    new = (docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
           .unionByName(planted))
    kept = dedup.dedup_against(new, old)
    return kept.select("doc_id", F.md5("text").alias("text_md5"))


_ORACLE_INGEST = """
WITH old AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
new AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 6 = 1
)
SELECT n.doc_id, md5(n.text) AS text_md5 FROM new n
WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.text = n.text)
"""


_NOVELTY_K = 8


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document k-gram novelty over the plain token table (no planted
    twins — the corpus's own repetition is the signal): exact window
    counts + first-occurrence counts, fraction one int division."""
    tok = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    return dedup.ngram_novelty(tok, k=_NOVELTY_K)


def _novelty_oracle() -> str:
    from ..functions.text import fp_coefficients
    from ..sources.tables import TOKENS_ORACLE_CTE

    k = _NOVELTY_K
    coeffs = fp_coefficients(k)
    return TOKENS_ORACLE_CTE + f""",
seqs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         list(token_id ORDER BY pos) AS toks, count(*) AS n_tok
  FROM tok GROUP BY doc_id
),
occ AS (
  SELECT doc_id, p AS pos,
         CAST(list_sum(list_transform(generate_series(0, {k - 1}),
              i -> (CAST(toks[p + i] AS BIGINT) * ({coeffs})[i + 1])
                   % 2147483647)) AS BIGINT) % 2147483647 AS code
  FROM seqs,
       LATERAL (SELECT unnest(generate_series(1, n_tok - {k - 1})) AS p) g
  WHERE n_tok >= {k}
),
rep AS (
  SELECT code, min(doc_id * 4294967296 + pos) AS rk FROM occ GROUP BY code
),
counts AS (
  SELECT o.doc_id,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN o.doc_id * 4294967296 + o.pos = rep.rk
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM occ o JOIN rep USING (code)
  GROUP BY o.doc_id
)
SELECT doc_id, n_windows, n_novel,
       n_novel / n_windows AS novelty_frac
FROM counts
"""


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for padding-efficient batching: exact
    ntile(8) semantics in (n_tok, doc_id) order WITHOUT ntile's
    single-partition window (distributed rank by length value + exclusive
    offsets)."""
    from ..functions.packing import length_buckets

    tok = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    return length_buckets(tok, 8).select("doc_id", "n_tok", "bucket")


def _length_buckets_oracle() -> str:
    from ..sources.tables import TOKENS_ORACLE_CTE

    return TOKENS_ORACLE_CTE + """,
seqs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(count(*) AS INT) AS n_tok
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tok,
       CAST(ntile(8) OVER (ORDER BY n_tok, doc_id) AS INT) AS bucket
FROM seqs
"""


_BPE_SCHEMA = "merge_idx long, a long, b long, new_id long, cnt long"


def q_bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge over the token table, exactly SQL-checkable:
    adjacent-pair counting (every position, overlaps included) + argmax
    with the (count desc, (a,b) asc) tie-break, new_id = max token + 1.
    Anchors the distributed trainer's counting/argmax machinery to a
    DuckDB oracle; the full iterative table is the rows-only
    ``bpe_merges`` gate (merge i+1 depends on applying merge i — not
    SQL-expressible). The oracle carries the same ``cnt >= 2`` floor as
    ``learn_bpe``'s ``min_count`` default, so both sides emit zero rows
    on a corpus whose best pair occurs once."""
    tok = token_table(spark, sf_dir)
    m = bpe.learn_bpe(tok.select("tokens"), 1)
    rows = [(r["merge_idx"], r["a"], r["b"], r["new_id"], r["cnt"])
            for r in m]
    return spark.createDataFrame(rows, _BPE_SCHEMA)


def _bpe_first_merge_oracle() -> str:
    from ..sources.tables import TOKENS_ORACLE_CTE

    return TOKENS_ORACLE_CTE + """,
pairs AS (
  SELECT a.token_id AS a, b.token_id AS b, count(*) AS cnt
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
)
SELECT CAST(0 AS BIGINT) AS merge_idx, CAST(a AS BIGINT) AS a,
       CAST(b AS BIGINT) AS b,
       (SELECT CAST(max(token_id) + 1 AS BIGINT) FROM tok) AS new_id,
       CAST(cnt AS BIGINT) AS cnt
FROM pairs WHERE cnt >= 2
ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six sequential BPE merges learned distributed (pair-count scan +
    TakeOrdered argmax + vectorized Arrow re-encode per step). Iterative
    — merge i+1's counts require merge i applied — so this gate is
    rows-only; exactness is anchored by ``bpe_first_merge`` (oracled) and
    the pytest parity suite against a reference sequential trainer."""
    tok = token_table(spark, sf_dir)
    m = bpe.learn_bpe(tok.select("tokens"), 6, checkpoint_every=4)
    rows = [(r["merge_idx"], r["a"], r["b"], r["new_id"], r["cnt"])
            for r in m]
    return spark.createDataFrame(rows, _BPE_SCHEMA)


def q_bpe_apply_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchors the ENCODE side of BPE to a SQL oracle: learn the single
    top merge, re-encode the whole corpus with ``apply_bpe``'s
    leftmost-greedy vectorized pass, and emit exact per-doc integer
    checksums (post-merge length, token sum, position-weighted sum — the
    position weighting catches any ordering or off-by-one slip). A
    single greedy merge IS SQL-expressible: consecutive match runs only
    arise when a == b, so greedy = odd-ranked positions within
    gaps-and-islands over match positions — the same overlap rule
    ``_apply_merges_np`` implements for arbitrary merge chains."""
    tok = token_table(spark, sf_dir)
    m = bpe.learn_bpe(tok.select("tokens"), 1)
    if not m:  # best pair occurs once: oracle's cnt >= 2 filter emits 0 rows
        return spark.createDataFrame(
            [], "doc_id long, n_tok long, tok_sum long, pos_sum long")
    enc = bpe.apply_bpe(
        tok.select(F.col("doc_id").cast("long").alias("doc_id"), "tokens"),
        m)
    tok_sum = F.aggregate("tokens", F.lit(0).cast("long"),
                          lambda a, x: a + x)
    pos_sum = F.aggregate(
        F.zip_with("tokens", F.sequence(F.lit(1), F.size("tokens")),
                   lambda t, i: t * i.cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    return enc.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tok"),
        tok_sum.alias("tok_sum"), pos_sum.alias("pos_sum"))


def _bpe_apply_one_oracle() -> str:
    from ..sources.tables import TOKENS_ORACLE_CTE

    return TOKENS_ORACLE_CTE + """,
pairs AS (
  SELECT a.token_id AS a, b.token_id AS b, count(*) AS cnt
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
),
top_pair AS (
  SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
         (SELECT CAST(max(token_id) + 1 AS BIGINT) FROM tok) AS new_id
  FROM pairs WHERE cnt >= 2
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
matches AS (
  SELECT t.doc_id, t.pos
  FROM tok t JOIN tok u ON u.doc_id = t.doc_id AND u.pos = t.pos + 1,
       top_pair tp
  WHERE t.token_id = tp.a AND u.token_id = tp.b
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM matches
),
sel AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY doc_id, g ORDER BY pos) AS rn
    FROM isl) WHERE rn % 2 = 1
),
kept AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN s.pos IS NOT NULL THEN tp.new_id
              ELSE CAST(t.token_id AS BIGINT) END AS token_id
  FROM tok t
  CROSS JOIN top_pair tp
  LEFT JOIN sel s  ON s.doc_id = t.doc_id AND s.pos = t.pos
  LEFT JOIN sel s2 ON s2.doc_id = t.doc_id AND s2.pos = t.pos - 1
  WHERE s2.pos IS NULL
),
renum AS (
  SELECT doc_id, token_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS np
  FROM kept
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tok,
       CAST(sum(token_id) AS BIGINT) AS tok_sum,
       CAST(sum(token_id * np) AS BIGINT) AS pos_sum
FROM renum GROUP BY doc_id
"""


_VOCAB_TOP_V = 20
_VOCAB_UNK = 0


def q_vocab_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary capping + OOV remap over the token table: keep the 20
    most frequent token ids (count desc, id asc tie-break), every other
    occurrence rewritten to UNK=0 (vocab ids start at 1, so 0 is free).
    On the synthetic corpus this sends ~1/3 of all positions to UNK. The
    gate emits exact per-doc integer checksums of the REWRITTEN arrays
    (length, unk count, token sum, position-weighted sum) so the hash
    compare covers every remapped position and its order."""
    tok = token_table(spark, sf_dir)
    out = bpe.vocab_truncate(
        tok.select(F.col("doc_id").cast("long").alias("doc_id"), "tokens"),
        _VOCAB_TOP_V, unk_id=_VOCAB_UNK)
    tok_sum = F.aggregate("tokens", F.lit(0).cast("long"),
                          lambda a, x: a + x)
    pos_sum = F.aggregate(
        F.zip_with("tokens", F.sequence(F.lit(1), F.size("tokens")),
                   lambda t, i: t * i.cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    n_unk = F.aggregate(
        "tokens", F.lit(0).cast("long"),
        lambda a, x: a + F.when(x == _VOCAB_UNK, 1).otherwise(0))
    return out.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tok"),
        n_unk.alias("n_unk"), tok_sum.alias("tok_sum"),
        pos_sum.alias("pos_sum"))


def _vocab_truncate_oracle() -> str:
    from ..sources.tables import TOKENS_ORACLE_CTE

    return TOKENS_ORACLE_CTE + f""",
freq AS (
  SELECT token_id, count(*) AS cnt FROM tok GROUP BY token_id
),
keep AS (
  SELECT token_id FROM freq
  ORDER BY cnt DESC, token_id ASC LIMIT {_VOCAB_TOP_V}
),
remap AS (
  SELECT t.doc_id, t.pos,
         CASE WHEN k.token_id IS NOT NULL THEN CAST(t.token_id AS BIGINT)
              ELSE CAST({_VOCAB_UNK} AS BIGINT) END AS token_id
  FROM tok t LEFT JOIN keep k ON k.token_id = t.token_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_tok,
       CAST(sum(CASE WHEN token_id = {_VOCAB_UNK} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unk,
       CAST(sum(token_id) AS BIGINT) AS tok_sum,
       CAST(sum(token_id * pos) AS BIGINT) AS pos_sum
FROM remap GROUP BY doc_id
"""


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SPLIT_SALT = "v1"


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split over the corpus (hash_split:
    row-stable 52-bit md5 uniform, zero-shuffle projection), summarized
    per (source, split) with exact integer checksums — every doc's
    assignment participates in the hash compare."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    out = hash_split(docs, _SPLIT_FRACTIONS, "doc_id", salt=_SPLIT_SALT)
    return out.groupBy("source", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("doc_id").cast("long")).alias("id_sum"),
        F.sum(F.col("n_chars").cast("long")).alias("nchars_sum"))


def _train_split_oracle() -> str:
    # mirror hash_split's float accumulation exactly: the cumulative
    # bounds are embedded with repr() so both engines compare the same
    # double bit patterns
    names = list(_SPLIT_FRACTIONS)
    cum, cases = 0.0, []
    for name in names[:-1]:
        cum += _SPLIT_FRACTIONS[name]
        cases.append(f"WHEN u < {cum!r} THEN '{name}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"
    return f"""
WITH s AS (
  SELECT source, doc_id, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) ||
                                  '{_SPLIT_SALT}'), 1, 13)) AS BIGINT)
         / 4503599627370496.0 AS u
  FROM documents
)
SELECT source, {case} AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS nchars_sum
FROM s GROUP BY source, split
"""


def q_sample_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifies the STREAMING bottom-k sample against the batch
    contract: the corpus is replayed as a 2-micro-batch file stream
    through ``sample_stream_query``; because bottom-k by md5 priority is
    mergeable, the held sample must equal batch ``uniform_sample`` over
    the whole corpus — so the oracle is the plain ORDER BY md5 LIMIT k
    SQL, byte-for-byte."""
    import tempfile
    import uuid

    from ..streaming import sample_stream_query, stream_sample_rows

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source")
    # the sample is held in memory: input and checkpoint go once the query
    # has ended
    with tempfile.TemporaryDirectory(prefix="pbf_sampgate_") as tmp:
        base = f"{tmp}/in"
        # two files, one per micro-batch: bottom-k by md5 priority is
        # mergeable across any batch boundary, so the held sample (and the
        # oracle hash) is the same as one batch would give, and the gate
        # still covers the runner's snapshot handoff from one micro-batch to
        # the next
        docs.repartition(2).write.mode("append").parquet(base)
        stream = (spark.readStream.schema("doc_id long, source string")
                  .option("maxFilesPerTrigger", 1).parquet(base))
        name = "sampgate_" + uuid.uuid4().hex[:10]
        q = sample_stream_query(stream, "doc_id", 50, name, f"{tmp}/ckpt")
        q.awaitTermination(300)
        q.stop()
    return stream_sample_rows(spark, name)


_ORACLE_SAMPLE_STREAM = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source
FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 50
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus with deterministically planted
    contact strings (the synthetic vocabulary contains no digits or
    @-signs, so plants are the only matches — and every email/SSN/phone/
    IPv4 stage gets real coverage). Output: per-stage match counts plus
    the md5 of the fully redacted text, so the hash compare covers every
    replacement byte."""
    from ..functions.pii import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("long")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, F.concat(
                F.lit(" contact u"), d.cast("string"), F.lit("@ex"),
                (d % 7).cast("string"), F.lit(".com now"))
            ).otherwise(F.lit("")),
            F.when(d % 4 == 0, F.concat(
                F.lit(" ip 10.0."), (d % 256).cast("string"), F.lit(".77"))
            ).otherwise(F.lit("")),
            F.when(d % 5 == 0,
                   F.lit(" ssn 123-45-6789 tel 555-123-4567")
                   ).otherwise(F.lit("")),
        ).alias("text"))
    out = redact_pii(planted)
    return out.select(
        "doc_id",
        F.col("n_email").cast("int").alias("n_email"),
        F.col("n_ssn").cast("int").alias("n_ssn"),
        F.col("n_phone").cast("int").alias("n_phone"),
        F.col("n_ipv4").cast("int").alias("n_ipv4"),
        F.md5("text").alias("red_md5"))


def _pii_oracle() -> str:
    from ..functions.pii import PII_PATTERNS

    pats = {name: (pat, repl) for name, pat, repl in PII_PATTERNS}
    stages = []
    prev = "t0"
    for i, name in enumerate(("email", "ssn", "phone", "ipv4"), 1):
        pat, repl = pats[name]
        stages.append(
            f"s{i} AS (SELECT doc_id, "
            f"len(regexp_extract_all(t, '{pat}')) AS n_{name}, "
            f"regexp_replace(t, '{pat}', '{repl}', 'g') AS t"
            + (f", {', '.join('n_' + n for n, _, _ in PII_PATTERNS[:i-1])}"
               if i > 1 else "")
            + f" FROM {prev})")
        prev = f"s{i}"
    return f"""
WITH t0 AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@ex' ||
                   CAST(doc_id % 7 AS VARCHAR) || '.com now'
              ELSE '' END ||
         CASE WHEN doc_id % 4 = 0
              THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77'
              ELSE '' END ||
         CASE WHEN doc_id % 5 = 0
              THEN ' ssn 123-45-6789 tel 555-123-4567'
              ELSE '' END AS t
  FROM documents
),
{', '.join(stages)}
SELECT doc_id, CAST(n_email AS INT) AS n_email,
       CAST(n_ssn AS INT) AS n_ssn, CAST(n_phone AS INT) AS n_phone,
       CAST(n_ipv4 AS INT) AS n_ipv4, md5(t) AS red_md5
FROM {prev}
"""


_SEMDEDUP_K = 8
_SEMDEDUP_T = 0.4


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table with the deterministic iters=0
    quantizer (centroids = the 8 smallest-id vectors): cluster sizes,
    kept counts, and kept-id checksums per cluster. Cosine argmax /
    threshold decisions agree cross-engine because gaps on this data are
    >> the ~1e-7 float-order noise (same contract as the cosine_topk
    rank gates)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.semantic_dedup(emb, threshold=_SEMDEDUP_T,
                               n_clusters=_SEMDEDUP_K, iters=0)
    return out.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("vec_id").cast("long"))
              .otherwise(F.lit(0))).alias("kept_id_sum"))


_ORACLE_SEMDEDUP = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {_SEMDEDUP_K}
),
sim AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding, c.cvec) DESC,
                      c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cents c
),
a AS (SELECT vec_id, cid AS cluster FROM sim WHERE rn = 1),
drops AS (
  SELECT DISTINCT y.vec_id
  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN embeddings ex ON ex.vec_id = x.vec_id
  JOIN embeddings ey ON ey.vec_id = y.vec_id
  WHERE list_cosine_similarity(ex.embedding, ey.embedding)
        >= {_SEMDEDUP_T}
)
SELECT CAST(a.cluster AS INT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id ELSE 0 END)
            AS BIGINT) AS kept_id_sum
FROM a LEFT JOIN drops d USING (vec_id)
GROUP BY a.cluster
"""


def q_substr_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr composed with transitive clustering: docs sharing a
    verbatim >= 15-token span form edges; connected components give the
    boilerplate FAMILIES (doc—twin—other-doc chains collapse into one
    group; the dedup policy keeps one representative per component).
    Spark side = iterative min-label propagation over the span pairs;
    oracle = recursive-CTE closure over the identical exact pair set."""
    corpus = _substr_corpus(spark, sf_dir)
    pairs = (dedup.exact_substr_spans(corpus, k=_SUBSTR_K,
                                      min_span=_SUBSTR_MIN,
                                      warn_uncapped=False)
             .select("doc_a", "doc_b").distinct())
    return dedup.near_dup_clusters(corpus.select("doc_id"), pairs)


def _substr_clusters_oracle() -> str:
    return _substr_ctes() + """,
spans AS (
""" + _substr_span_select() + """
),
p AS (SELECT DISTINCT doc_a, doc_b FROM spans),
sym AS (SELECT doc_a AS a, doc_b AS b FROM p
        UNION SELECT doc_b, doc_a FROM p),
reach AS (
  -- NB: named cc, not r — the span CTE chain above already defines r
  WITH RECURSIVE cc(node, reachable) AS (
    SELECT doc_id, doc_id FROM all_seqs
    UNION
    SELECT cc.node, s.b FROM cc JOIN sym s ON cc.reachable = s.a
  )
  SELECT * FROM cc
)
SELECT node AS doc_id, CAST(min(reachable) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""


def q_embedding_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid/norm stats with contract booleans. Float SUMS
    cannot be oracle-hashed (summation order differs across engines), so
    the gate emits the exact integer count plus booleans proving:
    - ``agree_ok``: the distributed fp64 partial-sum centroid equals an
      INDEPENDENT Spark plan (explode + groupBy(position) avg — a
      different execution order entirely) to 1e-9 per component;
    - ``convexity_ok``: ||centroid|| <= mean ||v|| + 1e-12 (Jensen — any
      accumulation bug that inflates the centroid breaks this);
    - ``norms_ok``: 0 < mean_norm and centroid_norm is finite/non-negative.
    The DuckDB oracle recomputes the count and asserts TRUE."""
    emb = load_table(spark, sf_dir, "embeddings")
    stats = similarity.embedding_group_stats(emb, "label")
    ref = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos").agg(F.avg("v").alias("m"))
        .groupBy("label").agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.col("pm.m").alias("ref_centroid"))
    )
    diff = F.zip_with("centroid", "ref_centroid", lambda a, b: F.abs(a - b))
    return (
        stats.join(ref, "label")
        .select(
            F.col("label").cast("int").alias("label"),
            "n_vectors",
            (F.array_max(diff) < 1e-9).alias("agree_ok"),
            (F.col("centroid_norm") <= F.col("mean_norm") + 1e-12)
                .alias("convexity_ok"),
            ((F.col("mean_norm") > 0) & (F.col("centroid_norm") >= 0)
             & ~F.isnan("centroid_norm")).alias("norms_ok"),
        )
    )


_ORACLE_EMB_STATS = """
SELECT CAST(label AS INT) AS label, CAST(count(*) AS BIGINT) AS n_vectors,
       TRUE AS agree_ok, TRUE AS convexity_ok, TRUE AS norms_ok
FROM embeddings GROUP BY label
"""


# ------------------------------------------------------------- similarity
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.cosine_topk_bruteforce(emb, queries, k=5)


def _topk_oracle(max_qid: int) -> str:
    return f"""
WITH sims AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
         list_cosine_similarity(q.embedding, d.embedding) AS cos
  FROM embeddings q JOIN embeddings d ON q.vec_id != d.vec_id
  WHERE q.vec_id < {max_qid}
),
ranked AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
  FROM sims
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


_ORACLE_TOPK = _topk_oracle(10)


def q_cosine_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k for a LARGER query set through the asymmetric block-pair
    GEMM (no driver collect, no closure-shipped query matrix) — the scale
    path for query sets too big to broadcast. Same ranks as the SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return similarity.cosine_topk_blocked(emb, queries, k=5,
                                          n_blocks=5, q_blocks=3)


# Recall floor for the ANN gate. The corpus embeddings are near-orthogonal
# random vectors (top-5 cosine ~0.3) where sublinear ANN recall is
# information-theoretically poor for ANY method, so the gate plants 10
# deterministic near-duplicate queries (cos ~0.995 to their source) and
# requires the LSH path to retrieve the source for at least FLOOR of them.
# Everything is deterministic (splitmix noise, seeded hyperplanes), so the
# measured counts are frozen facts: 10/10 at sf0.001 and sf0.01.
_ANN_RECALL_FLOOR = 8


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _planted_queries(spark, emb)
    ann = similarity.ann_lsh_topk(emb, queries, k=5, bits=6)
    found = ann.filter(F.col("neighbor_id") == F.col("query_id") - 100_000).count()
    return spark.createDataFrame(
        [(bool(found >= _ANN_RECALL_FLOOR), 10)],
        "recall_ge_floor boolean, n_queries bigint",
    )


_ORACLE_ANN = ("SELECT TRUE AS recall_ge_floor, "
               "CAST(10 AS BIGINT) AS n_queries")


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: coarse-quantizer routing + compressed-domain ADC ranking —
    the 10^12-vector ANN shape (candidates ~ nprobe/n_centroids of the
    corpus, scan reads m-int codes, never raw vectors). Gated by the same
    planted-near-dup recall-floor protocol as ``ann_lsh_topk``/``ivf_topk``;
    measured 10/10 at sf0.001/0.01/0.1 (deterministic construction,
    frozen)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _planted_queries(spark, emb)
    got = similarity.ivfpq_topk(emb, queries, k=5, n_centroids=16, nprobe=3,
                                m=4, n_codes=16, iters=2)
    found = got.filter(
        F.col("neighbor_id") == F.col("query_id") - 100_000).count()
    return spark.createDataFrame(
        [(bool(found >= _ANN_RECALL_FLOOR), 10)],
        "recall_ge_floor boolean, n_queries bigint",
    )


def _planted_queries(spark: SparkSession, emb: DataFrame):
    """10 deterministic near-duplicate queries (splitmix noise, cos ~0.995
    to their source vector vec_id = query_id - 100000)."""
    import numpy as np

    from ..hashing import splitmix64

    srcs = emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding").collect()
    qrows = []
    for r in srcs:
        v = np.array(r["embedding"], dtype=np.float64)
        i = int(r["vec_id"])
        u1 = (splitmix64(np.arange(v.size, dtype=np.uint64)
                         + np.uint64(i * 1_000_003 + 17))
              >> np.uint64(11)).astype(np.float64) / (1 << 53)
        u2 = (splitmix64(np.arange(v.size, dtype=np.uint64)
                         + np.uint64(i * 2_000_003 + 29))
              >> np.uint64(11)).astype(np.float64) / (1 << 53)
        z = np.sqrt(-2 * np.log(np.clip(u1, 1e-12, 1))) * np.cos(2 * np.pi * u2)
        qrows.append((i + 100_000,
                      (v + 0.02 * np.abs(v).mean() * z).astype(float).tolist()))
    return spark.createDataFrame(qrows, "vec_id long, embedding array<float>")


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (spherical-k-means coarse quantizer + nprobe buckets) — the
    second ANN family next to hyperplane LSH — gated by the same planted-
    near-dup recall-floor protocol as ``ann_lsh_topk``. Floor 8/10; measured
    10/10 at sf0.001 and sf0.01 (deterministic construction, frozen)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = _planted_queries(spark, emb)
    # 2 Lloyd iterations suffice here: a planted query sits ~0.995-cosine
    # from its source, so both land in the same cell at any quantizer quality
    got = similarity.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=3,
                              iters=2)
    found = got.filter(F.col("neighbor_id") == F.col("query_id") - 100_000).count()
    return spark.createDataFrame(
        [(bool(found >= _ANN_RECALL_FLOOR), 10)],
        "recall_ge_floor boolean, n_queries bigint",
    )


_PQ_M, _PQ_K, _PQ_D = 4, 16, 16  # subspaces, codes, dims/subspace (dim 64)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (Jégou et al. 2011), EXACTLY
    oracle-checked (not a recall floor): with iters=0 the codebooks are the
    subvectors of the 16 smallest-id vectors, encode is an argmin over
    left-fold d2 doubles, and the ADC sum is a fixed-order fold — every
    float on both engines is bit-identical, so ranks match exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5,
        m=_PQ_M, n_codes=_PQ_K, iters=0)


_ORACLE_PQ_TOPK = f"""
WITH cb AS (
  SELECT s, vec_id AS code, embedding AS v
  FROM embeddings, UNNEST(generate_series(0, {_PQ_M - 1})) t(s)
  WHERE vec_id < {_PQ_K}
),
enc AS (
  SELECT x.vec_id, c.s, c.code,
         list_reduce(list_transform(generate_series(1, {_PQ_D}), i ->
           (CAST(x.embedding[c.s*{_PQ_D} + i] AS DOUBLE)
            - CAST(c.v[c.s*{_PQ_D} + i] AS DOUBLE))
           * (CAST(x.embedding[c.s*{_PQ_D} + i] AS DOUBLE)
              - CAST(c.v[c.s*{_PQ_D} + i] AS DOUBLE))),
           (a, b) -> a + b) AS d2
  FROM embeddings x, cb c
),
codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
    FROM enc) WHERE rn = 1
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.s, t.d2
  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 10) q
  JOIN codes c ON c.vec_id != q.vec_id
  JOIN enc t ON t.vec_id = q.vec_id AND t.s = c.s AND t.code = c.code
),
adc AS (
  SELECT query_id, neighbor_id,
         (((max(CASE WHEN s=0 THEN d2 END) + max(CASE WHEN s=1 THEN d2 END))
           + max(CASE WHEN s=2 THEN d2 END))
          + max(CASE WHEN s=3 THEN d2 END)) AS dist
  FROM pairs GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, neighbor_id) AS rank
  FROM adc) WHERE rank <= 5
"""


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup: connected components over the verified >= 0.7
    near-dup pairs (pairs (a,b),(b,c) are ONE duplicate group). Iterative
    min-label propagation in Spark; the oracle computes the same components
    with a recursive CTE over the exact pair set (valid because LSH recall
    is 1 at this banding). Singletons keep their own id as cluster_id."""
    docs = _docs_capped(spark, sf_dir)
    pairs = dedup.minhash_near_dup_pairs(docs, threshold=0.7)
    return dedup.near_dup_clusters(docs.select("doc_id"), pairs)


_ORACLE_CLUSTERS = """
WITH capped AS (SELECT * FROM documents WHERE doc_id < 500),
grams AS (
  SELECT DISTINCT d.doc_id, substr(d.text, g.pos, 3) AS gram
  FROM capped d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 2, 0))) AS pos) g
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.7
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  WITH RECURSIVE r(node, reachable) AS (
    SELECT doc_id, doc_id FROM capped
    UNION
    SELECT r.node, s.b FROM r JOIN sym s ON r.reachable = s.a
  )
  SELECT * FROM r
)
SELECT node AS doc_id, CAST(min(reachable) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""
def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pipeline as ONE query — quality filter ->
    exact dedup -> MinHash-LSH near-dup removal -> quality-weighted sample —
    each stage one of the gated operators, composed. Near-dup removal rule
    (deterministic, non-iterative): drop every doc appearing as the LARGER
    id of a verified >= 0.7 pair. The oracle reproduces the whole chain in
    SQL (near-dup stage valid because LSH recall is 1 at this banding)."""
    from ..operators.sampling import weighted_sample

    docs = _docs_capped(spark, sf_dir).withColumn(
        "n_words", F.size(F.split(F.col("text"), " "))
    ).filter(F.col("n_words") >= 40)
    kept = dedup.dedup_exact(docs).select("doc_id").join(docs, "doc_id")
    drop = (
        dedup.minhash_near_dup_pairs(kept, threshold=0.7)
        .select(F.col("doc_b").alias("doc_id")).distinct()
    )
    surv = kept.join(drop, "doc_id", "left_anti")
    return weighted_sample(surv, 30, "doc_id", F.col("n_words")).select(
        "doc_id", "source"
    )


_ORACLE_PIPELINE = """
WITH q AS (
  SELECT *, len(string_split(text, ' ')) AS n_words
  FROM documents WHERE doc_id < 500 AND len(string_split(text, ' ')) >= 40
),
kept AS (
  SELECT q.* FROM q
  JOIN (SELECT text, min(doc_id) AS doc_id FROM q GROUP BY text) k
  USING (text, doc_id)
),
grams AS (
  SELECT DISTINCT d.doc_id, substr(d.text, g.pos, 3) AS gram
  FROM kept d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 2, 0))) AS pos) g
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM grams a JOIN grams b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
),
neardup AS (
  SELECT p.doc_b FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.inter * 1.0 / (sa.sz + sb.sz - p.inter) >= 0.7
),
surv AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_b FROM neardup))
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
            / 4503599627370496.0) / n_words AS pri
  FROM surv
) ORDER BY pri DESC, doc_id ASC LIMIT 30
"""


# ------------------------------------------------------------ multimodal
def q_multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item decode-consistency booleans over the deterministic synthetic
    multimodal table: the decoded frame count must equal the metadata
    n_frames, the payload length must equal header + h*w*c*n_frames bytes,
    and pixel stats must be in range — all computed by the REAL decode path
    (mapInPandas over binary), exact per item."""
    mm = multimodal.synth_multimodal(spark, 200, num_partitions=8)
    dec = multimodal.decode_image(mm)
    blen = mm.select("item_id", F.length("data").alias("blen"))
    return dec.join(blen, "item_id").select(
        "item_id",
        (F.col("decoded_frames") == F.col("n_frames")).alias("frames_match"),
        (F.col("blen") == 12 + F.col("width") * F.col("height")
         * F.col("channels") * F.col("n_frames")).alias("payload_len_ok"),
        ((F.col("px_mean") >= 0) & (F.col("px_mean") <= 255)
         & (F.col("px_std") >= 0)).alias("px_stats_ok"),
    )


_ORACLE_MULTIMODAL = """
SELECT CAST(g.x AS BIGINT) AS item_id, TRUE AS frames_match,
       TRUE AS payload_len_ok, TRUE AS px_stats_ok
FROM generate_series(0, 199) AS g(x)
"""


def q_multimodal_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec decode gate: a table of genuine binary-netpbm (P6) images
    is decoded by the standards-compliant numpy parser; per item, the decoded
    frame count, the exact P6 payload length (ASCII header + w*h*3 raster
    bytes), and pixel-stat ranges must all hold."""
    mm = multimodal.synth_netpbm_images(spark, 200, num_partitions=8)
    dec = multimodal.decode_image(mm, codec="ppm")
    blen = mm.select("item_id", F.length("data").alias("blen"))
    hdr_len = F.length(
        F.format_string("P6\n%d %d\n255\n", F.col("width"), F.col("height"))
    )
    return dec.join(blen, "item_id").select(
        "item_id",
        (F.col("decoded_frames") == 1).alias("frames_ok"),
        (F.col("blen") == hdr_len
         + F.col("width") * F.col("height") * 3).alias("payload_len_ok"),
        ((F.col("px_mean") >= 0) & (F.col("px_mean") <= 255)
         & (F.col("px_std") >= 0)).alias("px_stats_ok"),
    )


_ORACLE_PPM = """
SELECT CAST(g.x AS BIGINT) AS item_id, TRUE AS frames_ok,
       TRUE AS payload_len_ok, TRUE AS px_stats_ok
FROM generate_series(0, 199) AS g(x)
"""


def q_multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec gate: genuine RIFF/WAVE PCM clips (square waves
    whose rate/length/amplitude/period are closed forms of the row id) are
    decoded by the chunk-walking numpy parser; every extracted feature —
    sample count, rate, duration, peak, energy, zero crossings — is an
    exact integer the oracle recomputes from the id alone. Hash-equality
    proves the codec round-trips byte-level and the features are right."""
    mm = multimodal.synth_wav_audio(spark, 200, num_partitions=8)
    return multimodal.audio_features(mm)


_ORACLE_WAV = """
SELECT CAST(x AS BIGINT) AS item_id,
       CAST(800 + (x % 5) * 80 AS INT) AS n_samples,
       CAST(8000 + (x % 3) * 4000 AS INT) AS sample_rate,
       CAST((800 + (x % 5) * 80) * 1000 // (8000 + (x % 3) * 4000) AS BIGINT)
           AS duration_ms,
       CAST(1000 + (x % 7) * 500 AS INT) AS peak,
       (800 + (x % 5) * 80) * CAST(1000 + (x % 7) * 500 AS BIGINT)
           * (1000 + (x % 7) * 500) AS energy,
       CAST(((800 + (x % 5) * 80) + (2 + (x % 4)) - 1) // (2 + (x % 4)) - 1
            AS INT) AS zero_crossings
FROM generate_series(0, 199) AS g(x)
"""


PIPELINE_CATALOG: dict[str, QuerySpec] = {
    "multimodal_wav_decode": QuerySpec(
        q_multimodal_wav_decode, _ORACLE_WAV,
        "real RIFF/WAVE PCM decode: every audio feature an exact integer "
        "recomputed by the oracle from the row id"),
    "lang_id": QuerySpec(q_lang_id, _ORACLE_LANG,
                         "stopword-profile language-ID heuristic"),
    "quality_counts": QuerySpec(q_quality_counts, _ORACLE_QUALITY,
                                "integer text-quality signals"),
    "token_stats": QuerySpec(q_token_stats, _ORACLE_TOKEN_STATS,
                             "BPE-ish tokenizer counts + type-token ratio"),
    "segment_repetition": QuerySpec(
        q_segment_repetition, _ORACLE_SEG_REP,
        "MassiveText dup-line/paragraph repetition panel over word chunks: "
        "exact counts + char fractions, zero exchanges"),
    "doc_fingerprint_md5": QuerySpec(q_doc_md5, _ORACLE_MD5,
                                     "content-hash fingerprint"),
    "doc_rolling_fingerprints": QuerySpec(
        q_rolling_fingerprints, _ORACLE_ROLLING_FP,
        "Karp-Rabin rolling-hash winnowing signature, exact vs SQL polynomial"),
    "doc_winnow_fingerprints": QuerySpec(
        q_winnow_fingerprints, _ORACLE_WINNOW,
        "proper winnowing (window-min) fingerprints, exact vs SQL window-min"),
    "decontaminate": QuerySpec(
        q_decontaminate, _ORACLE_DECON,
        "train/benchmark overlap via winnow fingerprints, exact vs SQL join"),
    "token_ngram_decontaminate": QuerySpec(
        q_token_ngram_decontaminate, _ngram_decon_oracle(),
        "13-token-gram benchmark decontamination: Bloom screen replaces the "
        "corpus x benchmark join, exact at zero-FP geometry"),
    "dedup_exact": QuerySpec(q_dedup_exact, _ORACLE_DEDUP_EXACT,
                             "exact dedup: kept representative per content group"),
    "exact_substr_spans": QuerySpec(
        q_exact_substr_spans, _substr_oracle(),
        "ExactSubstr (Lee et al. 2022): maximal cross-doc verbatim token "
        "spans via positional k-gram codes + diagonal island chaining, "
        "planted 18-token twins found with exact boundaries"),
    "substr_dedup_clean": QuerySpec(
        q_substr_dedup_clean, _substr_clean_oracle(),
        "ExactSubstr removal: cut every doc_b span copy, cleaned arrays "
        "fingerprinted with exact integer checksums"),
    "substr_dup_clusters": QuerySpec(
        q_substr_dup_clusters, _substr_clusters_oracle(),
        "boilerplate families: connected components over verbatim-span "
        "pairs vs recursive-CTE closure"),
    "substr_global_spans": QuerySpec(
        q_substr_global_spans, _substr_global_oracle(),
        "corpus-global ExactSubstr spans (cluster-per-code, O(f) not "
        "O(f^2) anchors): later occurrences of duplicated >= k-token "
        "runs, first copy kept"),
    "substr_dedup_global": QuerySpec(
        q_substr_dedup_global, _substr_global_dedup_oracle(),
        "global ExactSubstr removal end-to-end: vectorized Arrow span "
        "cut, cleaned arrays checksummed"),
    "bpe_first_merge": QuerySpec(
        q_bpe_first_merge, _bpe_first_merge_oracle(),
        "BPE trainer's counting + argmax anchored to SQL: first merge "
        "(pair counts incl. overlaps, (cnt desc, pair asc) tie-break)"),
    "bpe_merges": QuerySpec(
        q_bpe_merges, None,
        "six sequential BPE merges learned distributed (rows-only: "
        "iterative, anchored by bpe_first_merge + reference-parity tests)"),
    "bpe_apply_one": QuerySpec(
        q_bpe_apply_one, _bpe_apply_one_oracle(),
        "BPE ENCODE anchored to SQL: corpus re-encoded with the top "
        "merge, exact per-doc position-weighted checksums (greedy "
        "overlap rule = odd island ranks)"),
    "vocab_truncate": QuerySpec(
        q_vocab_truncate, _vocab_truncate_oracle(),
        "top-V vocabulary capping with OOV->UNK remap (one zero-exchange "
        "Arrow pass, keep set shipped in-closure), exact per-doc "
        "position-weighted checksums"),
    "sample_stream_parity": QuerySpec(
        q_sample_stream_parity, _ORACLE_SAMPLE_STREAM,
        "streaming bottom-k sample == batch uniform_sample byte-for-byte "
        "(2-micro-batch replay; mergeable md5-priority bottom-k)"),
    "pii_redact": QuerySpec(
        q_pii_redact, _pii_oracle(),
        "PII redaction (email/SSN/phone/IPv4 mask + per-stage counts), "
        "pure codegen regexp chain; planted-PII corpus, md5 of redacted "
        "text in the hash"),
    "train_split": QuerySpec(
        q_train_split, _train_split_oracle(),
        "deterministic hash-based train/val/test split (row-stable 52-bit "
        "md5 uniform, zero-shuffle projection), per-(source,split) exact "
        "checksums"),
    "semantic_dedup": QuerySpec(
        q_semantic_dedup, _ORACLE_SEMDEDUP,
        "SemDeDup: k-means cluster + within-cluster cosine threshold, "
        "keep-first policy; per-cluster sizes, kept counts, kept-id "
        "checksums"),
    "chunk_dedup": QuerySpec(
        q_chunk_dedup, _ORACLE_CHUNK_DEDUP,
        "repeated-chunk removal (MassiveText repeated-paragraph stage): "
        "global keep-first over 25-word chunks, docs reassembled and "
        "fingerprinted"),
    "dedup_exact_hash": QuerySpec(
        q_dedup_exact_hash, _ORACLE_DEDUP_EXACT,
        "exact dedup shuffling 8-byte xxhash64 keys (the 100-TB shape); "
        "oracle groups raw text, so a collision would hash-mismatch"),
    "ngram_jaccard_pairs": QuerySpec(q_ngram_jaccard, _JACCARD_CTE,
                                     "exact 3-gram Jaccard pairs >= 0.7"),
    "minhash_near_dup": QuerySpec(
        q_minhash_near_dup, _JACCARD_CTE,
        "MinHash+LSH candidates exact-verified — equals exact pairs (recall 1)"),
    "simhash_near_dup": QuerySpec(
        q_simhash_near_dup, _ORACLE_SIMHASH,
        "SimHash banding contract: sound vs exact popcount, complete at <=3"),
    "embedding_near_dup": QuerySpec(q_embedding_near_dup, _ORACLE_EMB_NEAR_DUP,
                                    "embedding cosine near-dup pairs >= 0.4"),
    "embedding_source_stats": QuerySpec(
        q_embedding_source_stats, _ORACLE_EMB_STATS,
        "per-label centroid/norm stats: distributed partial-sum centroid "
        "vs independent plan + Jensen bound, contract booleans"),
    "cosine_topk_blocked": QuerySpec(
        q_cosine_topk_blocked, _topk_oracle(50),
        "exact top-k for a large query set: asymmetric block-pair GEMM, "
        "no driver collect"),
    "cosine_topk": QuerySpec(q_cosine_topk, _ORACLE_TOPK,
                             "exact brute-force cosine top-5 neighbors"),
    "ann_lsh_topk": QuerySpec(
        q_ann_lsh_topk, _ORACLE_ANN,
        "multiprobe LSH retrieves planted near-dup sources above recall floor"),
    "length_buckets": QuerySpec(
        q_length_buckets, _length_buckets_oracle(),
        "sequence-length bucketing (exact ntile semantics, no "
        "single-task window) for padding-efficient batching"),
    "incremental_ingest": QuerySpec(
        q_incremental_ingest, _ORACLE_INGEST,
        "bloom-pruned ingest dedup: new batch vs existing corpus, "
        "no-FN passes join-free, positives verify on text - exact"),
    "ngram_novelty": QuerySpec(
        q_ngram_novelty, _novelty_oracle(),
        "per-doc k-gram novelty: first-occurrence fraction in corpus "
        "order, cluster-per-code (O(f)) discipline"),
    "pq_topk": QuerySpec(
        q_pq_topk, _ORACLE_PQ_TOPK,
        "product-quantization ADC top-5: compressed-domain ANN, ranks "
        "bit-exact vs the SQL left-fold oracle (not a recall floor)"),
    "ivfpq_topk": QuerySpec(
        q_ivfpq_topk, _ORACLE_ANN,
        "IVF-PQ: coarse routing + ADC over codes — planted-near-dup "
        "recall floor, the trillion-vector ANN shape"),
    "ivf_topk": QuerySpec(
        q_ivf_topk, _ORACLE_ANN,
        "IVF coarse-quantizer ANN retrieves planted sources above recall floor"),
    "multimodal_decode_stats": QuerySpec(
        q_multimodal_decode_stats, _ORACLE_MULTIMODAL,
        "decode path consistency per item: frames/payload/pixel stats"),
    "multimodal_ppm_decode": QuerySpec(
        q_multimodal_ppm_decode, _ORACLE_PPM,
        "REAL binary-netpbm (P6) decode: header geometry + payload + stats"),
    "pipeline_end_to_end": QuerySpec(
        q_pipeline_end_to_end, _ORACLE_PIPELINE,
        "quality filter -> exact dedup -> near-dup removal -> weighted sample"),
    "near_dup_clusters": QuerySpec(
        q_near_dup_clusters, _ORACLE_CLUSTERS,
        "connected components over near-dup pairs vs recursive-CTE closure"),
}
