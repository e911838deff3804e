"""Named query catalog — the driver-facing correctness surface.

Each entry pairs a PySpark implementation (our sketch engine) with an ANSI-SQL
oracle DuckDB can run on the same parquet tables. Sketch outputs are
approximate, so oracle-gated queries are designed to be *exactly* checkable:

- membership queries rely on the Bloom no-false-negative guarantee plus a
  geometry chosen so measured FPR is zero at the gated scale (verified
  empirically and frozen — the build is deterministic, so it stays zero);
- estimate queries return the *exact* answer (computed by Spark) alongside a
  boolean asserting the sketch estimate fell within its published error bound
  — the oracle returns the exact answer and TRUE.

Queries whose output genuinely can't be reproduced in SQL (raw sketch state,
streaming) carry ``oracle=None`` → the driver records a rows-only check.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators import build_sketch, probe_key_column
from ..sketches import make_sketch
from ..sources.tables import TOKENS_ORACLE_CTE, load_table, token_table, tokens_exploded

# Frozen geometry for oracle-gated membership: measured FPR must be 0 at the
# gated scales (sf0.001/sf0.01). 2^24 bits for <= ~60k distinct keys, k=8:
# expected FPs ~ 1e-12 per probe. Verified zero by tools/check_oracles.py.
_GATED_BLOOM = dict(size2=24, nb_hash=8)
_NEG_LO, _NEG_HI = 10_000_000, 10_001_000  # disjoint negative probe range
# per-source token budgets for the mixture gates (subset of sources on
# purpose: absent strata must contribute nothing)
_MIX_BUDGETS = {"src0": 700, "src1": 400, "src2": 1000, "src3": 250}
_PACK_CTX = 256  # tokens per training context window for the packing gates


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]
    description: str


# --------------------------------------------------------------------------
# 1. token table derivation (exact relational check of the input pipeline)
# --------------------------------------------------------------------------

def q_token_table_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tokens_exploded(spark, sf_dir).select(
        "doc_id", "source", "pos", "token_id"
    )


_ORACLE_TOKENS = TOKENS_ORACLE_CTE + """
SELECT doc_id, source, pos, token_id FROM tok
"""


def q_detokenize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text -> tokens -> text identity over the WHOLE corpus — the north
    rule's per-row token-array invariant, driver-verified: Spark
    reconstructs every document from the token table (inverse vocab join,
    position-ordered reassembly) and md5-compares with the original; the
    oracle asserts the reconstruction MUST equal documents.text
    verbatim."""
    from ..sources.tables import vocab_table

    tok = tokens_exploded(spark, sf_dir)
    vocab = vocab_table(spark, sf_dir)
    rebuilt = (
        tok.join(F.broadcast(vocab), "token_id")
        .groupBy("doc_id")
        .agg(F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "word"))),
                        lambda s: s["word"]), " ").alias("_rt"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (docs.join(rebuilt, "doc_id")
            .select("doc_id", F.md5("text").alias("orig_md5"),
                    F.md5("_rt").alias("roundtrip_md5"),
                    (F.md5("text") == F.md5("_rt")).alias("match")))


_ORACLE_DETOK = """
SELECT doc_id, md5(text) AS orig_md5, md5(text) AS roundtrip_md5,
       TRUE AS match
FROM documents
"""


# --------------------------------------------------------------------------
# 2. Bloom membership (reference ops #2/#4: insert_bulk + contains_bulk)
# --------------------------------------------------------------------------

def q_bloom_probe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokens_exploded(spark, sf_dir)
    sk, _ = build_sketch(
        tok, "token_id", functools.partial(make_sketch, "bloom", **_GATED_BLOOM)
    )
    probes = (
        tok.select(F.col("token_id").cast("long").alias("probe_id")).distinct()
        .unionAll(spark.range(_NEG_LO, _NEG_HI).select(F.col("id").alias("probe_id")))
    )
    return probe_key_column(probes, sk, "probe_id", out_col="member")


_ORACLE_BLOOM_TOKENS = TOKENS_ORACLE_CTE + f"""
, probes AS (
  SELECT DISTINCT CAST(token_id AS BIGINT) AS probe_id FROM tok
  UNION ALL
  SELECT CAST(g.x AS BIGINT) FROM generate_series({_NEG_LO}, {_NEG_HI - 1}) AS g(x)
)
SELECT p.probe_id, (p.probe_id IN (SELECT CAST(token_id AS BIGINT) FROM tok)) AS member
FROM probes p
"""


def q_bloom_semijoin_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom as a runtime semi-join filter: which customers have orders?"""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    sk, _ = build_sketch(
        orders, "o_custkey", functools.partial(make_sketch, "bloom", **_GATED_BLOOM)
    )
    return probe_key_column(
        customer.select("c_custkey"), sk, "c_custkey", out_col="member"
    )


_ORACLE_BLOOM_CUSTKEY = """
SELECT c.c_custkey,
       EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS member
FROM customer c
"""


def q_bloom_weight_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference op #5 (get_weight): popcount invariants, exactly checkable:
    0 < weight <= k * n_distinct_inserted (<= because of bit collisions)."""
    tok = tokens_exploded(spark, sf_dir)
    sk, _ = build_sketch(
        tok, "token_id", functools.partial(make_sketch, "bloom", **_GATED_BLOOM)
    )
    n_distinct = tok.select("token_id").distinct().count()
    w = sk.get_weight()
    return spark.createDataFrame(
        [(n_distinct, w > 0, w <= sk.nb_hash * n_distinct)],
        "n_inserted bigint, weight_positive boolean, weight_le_kn boolean",
    )


_ORACLE_WEIGHT = TOKENS_ORACLE_CTE + """
SELECT CAST(count(DISTINCT token_id) AS BIGINT) AS n_inserted,
       TRUE AS weight_positive, TRUE AS weight_le_kn
FROM tok
"""


# --------------------------------------------------------------------------
# 3. HyperLogLog cardinality
# --------------------------------------------------------------------------

def _hll_query(spark, df, col, exact_count, alias):
    sk, _ = build_sketch(df, col, functools.partial(make_sketch, "hll", p=14))
    est = sk.estimate()
    ok = abs(est - exact_count) <= 4 * sk.relative_error() * max(exact_count, 1)
    return spark.createDataFrame(
        [(exact_count, bool(ok))], f"{alias} bigint, within_bound boolean"
    )


def q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokens_exploded(spark, sf_dir)
    exact = tok.select("token_id").distinct().count()
    return _hll_query(spark, tok, "token_id", exact, "exact_distinct_tokens")


_ORACLE_HLL_TOKENS = TOKENS_ORACLE_CTE + """
SELECT CAST(count(DISTINCT token_id) AS BIGINT) AS exact_distinct_tokens,
       TRUE AS within_bound
FROM tok
"""


def q_hll_distinct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(F.xxhash64(F.col("doc_id").cast("string")).alias("h"))
    exact = docs.select("doc_id").distinct().count()
    return _hll_query(spark, hashed, "h", exact, "exact_distinct_docs")


_ORACLE_HLL_DOCS = """
SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_distinct_docs,
       TRUE AS within_bound
FROM documents
"""


# --------------------------------------------------------------------------
# 4. Count-min heavy hitters
# --------------------------------------------------------------------------

def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = tokens_exploded(spark, sf_dir)
    sk, _ = build_sketch(
        tok, "token_id", functools.partial(make_sketch, "cms", eps=1e-4, delta=1e-3)
    )
    top = (
        tok.groupBy("token_id").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token_id")).limit(10).collect()
    )
    ids = np.array([r["token_id"] for r in top], dtype=np.int64)
    true_counts = np.array([r["cnt"] for r in top], dtype=np.int64)
    est = sk.query_bulk(ids)
    rows = [
        (int(t), int(c), bool(e >= c), bool(e <= c + sk.eps * sk.total))
        for t, c, e in zip(ids, true_counts, est)
    ]
    return spark.createDataFrame(
        rows, "token_id int, cnt bigint, cms_ge_true boolean, cms_le_bound boolean"
    )


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join cardinality estimation from two CMS sketches (Cormode &
    Muthukrishnan 2005 §4.2): |A ⋈ B| = sum_k cntA(k)*cntB(k) estimated by
    the row-wise sketch inner product — the what-will-this-shuffle-cost
    planner primitive; both sides sketched in one mergeable-partials pass
    each, the estimate is O(d*w) with NO data movement. Gate: exact join
    size (via per-key count products — the join itself would be ~1e10
    rows even at sf0.01) + the published one-sided bound booleans."""
    tok = tokens_exploded(spark, sf_dir)
    a = tok.filter(F.col("source") == "src0")
    b = tok.filter(F.col("source") == "src1")
    cms = functools.partial(make_sketch, "cms", eps=1e-4, delta=1e-3)
    ska, _ = build_sketch(a, "token_id", cms)
    skb, _ = build_sketch(b, "token_id", cms)
    est = ska.inner_product(skb)
    ca = a.groupBy("token_id").agg(F.count("*").alias("ca"))
    cb = b.groupBy("token_id").agg(F.count("*").alias("cb"))
    exact = (ca.join(cb, "token_id")
             .agg(F.sum(F.col("ca") * F.col("cb"))).collect()[0][0]) or 0
    return spark.createDataFrame(
        [(int(exact),
          bool(est >= exact),
          bool(est <= exact + ska.inner_product_bound(skb)))],
        "exact_join_size bigint, est_ge_true boolean, est_le_bound boolean")


_ORACLE_CMS_JOIN = TOKENS_ORACLE_CTE + """
, a AS (SELECT token_id, count(*) AS ca FROM tok
        WHERE source = 'src0' GROUP BY token_id),
b AS (SELECT token_id, count(*) AS cb FROM tok
      WHERE source = 'src1' GROUP BY token_id)
SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS exact_join_size,
       TRUE AS est_ge_true, TRUE AS est_le_bound
FROM a JOIN b USING (token_id)
"""


_ORACLE_CMS = TOKENS_ORACLE_CTE + """
SELECT token_id, CAST(count(*) AS BIGINT) AS cnt,
       TRUE AS cms_ge_true, TRUE AS cms_le_bound
FROM tok GROUP BY token_id
ORDER BY cnt DESC, token_id ASC LIMIT 10
"""


# --- DNA k-mer gates: the reference's own application domain (read
# screening by k-mer membership). Sequences are synthesized from a closed
# form both engines compute; see functions/kmer.py. ---
_KMER_K = 21
_KMER_POWERS = "[" + ",".join(str(4 ** (_KMER_K - 1 - m))
                              for m in range(_KMER_K)) + "]"
_KMER_LEN, _KMER_NREF, _KMER_NREAD, _KMER_NCONT = 200, 100, 60, 40
# contaminants use a different per-position STRIDE (the residue pattern is
# periodic in x mod 2000, so a mere shift would stay inside the reference
# population — measured: stride 41 shares ZERO k-mers with the stride-37
# reference set, while same-stride reads share ~100%)
_KMER_SHIFT, _KMER_STRIDE2 = 505, 41


def _kmer_code_cte(ids_lo: int, ids_hi: int, shift: int,
                   alias: str, stride: int = 37) -> str:
    """SQL fragment: distinct (seq_id, code) of every valid k-mer of the
    synthetic sequences ids_lo..ids_hi (inclusive) with the given shift —
    the exact integer twin of synth_dna + dna_kmers (packing base-4
    big-endian via a literal power table, like the Karp-Rabin oracle)."""
    return f"""
{alias} AS (
  SELECT DISTINCT i AS seq_id,
         CAST(list_sum(list_transform(generate_series(0, {_KMER_K - 1}),
              m -> (((i*211 + (p+m)*{stride} + {shift})
                     * (i*211 + (p+m)*{stride} + {shift})) // 1000) % 4
                   * ({_KMER_POWERS})[m + 1])) AS BIGINT) AS code
  FROM generate_series({ids_lo}, {ids_hi}) g(i),
       generate_series(0, {_KMER_LEN - _KMER_K}) h(p)
)"""


def q_kmer_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genome-size estimation — the canonical sketch use in genomics: the
    HLL estimate of the reference set's GLOBAL distinct k-mer count vs the
    exact value (oracle = same count via the closed form), within the
    published bound."""
    from ..functions.kmer import dna_kmers, synth_dna

    km = dna_kmers(synth_dna(spark, _KMER_NREF, _KMER_LEN),
                   k=_KMER_K).cache()  # scanned twice: exact + build
    exact = km.select("kmer").distinct().count()
    out = _hll_query(spark, km, "kmer", exact, "exact_distinct_kmers")
    km.unpersist()
    return out


_ORACLE_KMER_HLL = "WITH " + _kmer_code_cte(0, _KMER_NREF - 1, 0, "km") + """
SELECT CAST(count(DISTINCT code) AS BIGINT) AS exact_distinct_kmers,
       TRUE AS within_bound
FROM km
"""


def q_dna_kmer_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strand-insensitive (canonical) distinct k-mers per genome: each code
    is min(kmer, reverse-complement) — the convention genomics pipelines
    count. Oracle recomputes both strands' codes from the closed form and
    takes least()."""
    from ..functions.kmer import dna_kmers, synth_dna

    dna = synth_dna(spark, _KMER_NREF, _KMER_LEN)
    return (dna_kmers(dna, k=_KMER_K, canonical=True).groupBy("seq_id")
            .agg(F.count("*").cast("int").alias("n_canonical")))


_ORACLE_KMER_CANON = f"""
WITH km AS (
  SELECT DISTINCT i AS seq_id,
         least(
           CAST(list_sum(list_transform(generate_series(0, {_KMER_K - 1}),
                m -> (((i*211 + (p+m)*37) * (i*211 + (p+m)*37)) // 1000) % 4
                     * ({_KMER_POWERS})[m + 1])) AS BIGINT),
           CAST(list_sum(list_transform(generate_series(0, {_KMER_K - 1}),
                m -> (3 - (((i*211 + (p + {_KMER_K - 1} - m)*37)
                            * (i*211 + (p + {_KMER_K - 1} - m)*37)) // 1000) % 4)
                     * ({_KMER_POWERS})[m + 1])) AS BIGINT)
         ) AS code
  FROM generate_series(0, {_KMER_NREF - 1}) g(i),
       generate_series(0, {_KMER_LEN - _KMER_K}) h(p)
)
SELECT seq_id, CAST(count(*) AS INT) AS n_canonical FROM km GROUP BY seq_id
"""


def q_dna_kmer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct k-mers per synthetic genome through the REAL extraction
    path (string -> byte map -> packed codes), hash-equal to the closed
    form. Exercises the 2-bit packing bijection end-to-end."""
    from ..functions.kmer import dna_kmers, synth_dna

    dna = synth_dna(spark, _KMER_NREF, _KMER_LEN)
    return (dna_kmers(dna, k=_KMER_K).groupBy("seq_id")
            .agg(F.count("*").cast("int").alias("n_distinct")))


_ORACLE_KMER_STATS = "WITH " + _kmer_code_cte(0, _KMER_NREF - 1, 0, "km") + """
SELECT seq_id, CAST(count(*) AS INT) AS n_distinct FROM km GROUP BY seq_id
"""


def q_kmer_bloom_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference workflow (BioPIM read screening): insert a reference
    set's k-mers into a Bloom filter, probe each read's k-mers, count
    matches per read. Reads from the same population match nearly all
    k-mers; shifted contaminant reads match nearly none. Per-read counts
    are exact at the gated zero-FP geometry — the oracle recomputes them
    with a set join the Spark side never performs (the filter replaces the
    join: two scans + a shipped 2 MB filter instead of shuffling reference
    k-mers against read k-mers)."""
    from ..functions.kmer import dna_kmers, synth_dna

    ref = synth_dna(spark, _KMER_NREF, _KMER_LEN)
    reads = synth_dna(spark, _KMER_NREAD, _KMER_LEN, id_offset=100)
    cont = synth_dna(spark, _KMER_NCONT, _KMER_LEN, shift=_KMER_SHIFT,
                     id_offset=1000, stride=_KMER_STRIDE2)
    sk, _ = build_sketch(dna_kmers(ref, k=_KMER_K), "kmer",
                         functools.partial(make_sketch, "bloom",
                                           **_GATED_BLOOM))
    probes = dna_kmers(reads.unionAll(cont), k=_KMER_K)
    probed = probe_key_column(probes, sk, "kmer")
    return probed.groupBy("seq_id").agg(
        F.count("*").cast("int").alias("n_kmers"),
        F.sum(F.col("member").cast("int")).cast("int").alias("n_matched"))


_ORACLE_KMER_SCREEN = "WITH " \
    + _kmer_code_cte(0, _KMER_NREF - 1, 0, "ref") + "," \
    + _kmer_code_cte(100, 100 + _KMER_NREAD - 1, 0, "reads") + "," \
    + _kmer_code_cte(1000, 1000 + _KMER_NCONT - 1, _KMER_SHIFT, "cont",
                     stride=_KMER_STRIDE2) + """,
probes AS (SELECT * FROM reads UNION ALL SELECT * FROM cont),
refset AS (SELECT DISTINCT code FROM ref)
SELECT p.seq_id, CAST(count(*) AS INT) AS n_kmers,
       CAST(sum(CASE WHEN r.code IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS n_matched
FROM probes p LEFT JOIN refset r USING (code)
GROUP BY p.seq_id
"""


_MASH_NSEQ, _MASH_H = 30, 256


def q_mash_genome_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mash-style genome similarity (Ondov 2016): every sequence pair's
    EXACT canonical-k-mer Jaccard (int/int, oracle-reproducible) alongside
    a boolean asserting the 256-slot MinHash sketch estimate lands within
    the binomial 4-sigma envelope of it — the sketch needs only 256 longs
    per genome where the exact join needs every k-mer."""
    from ..functions.kmer import dna_kmers, kmer_minhash_signatures, synth_dna

    dna = synth_dna(spark, _MASH_NSEQ, _KMER_LEN)
    # no .cache(): a lazy gate fn has no post-action hook to unpersist, so
    # a cache here would pin the k-mer table in executor storage for the
    # whole gate-runner session; recomputing the (cheap, 30-seq) extraction
    # per scan is the right trade
    km = dna_kmers(dna, k=_KMER_K, canonical=True)
    a = km.select(F.col("seq_id").alias("seq_a"), "kmer")
    b = km.select(F.col("seq_id").alias("seq_b"), "kmer")
    inter = (a.join(b, "kmer").filter("seq_a < seq_b")
             .groupBy("seq_a", "seq_b").agg(F.count("*").alias("inter")))
    sizes = km.groupBy("seq_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("seq_id").alias("seq_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("seq_id").alias("seq_b"), F.col("sz").alias("szb"))
    sigs = kmer_minhash_signatures(dna, k=_KMER_K, num_hashes=_MASH_H)
    ga = sigs.select(F.col("seq_id").alias("seq_a"), F.col("sig").alias("sig_a"))
    gb = sigs.select(F.col("seq_id").alias("seq_b"), F.col("sig").alias("sig_b"))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                           lambda v: v)) / F.lit(_MASH_H))
    jac = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    envelope = (4 * F.sqrt(jac * (1 - jac) / _MASH_H) + F.lit(8.0 / _MASH_H))
    return (
        inter.join(sa, "seq_a").join(sb, "seq_b")
        .join(ga, "seq_a").join(gb, "seq_b")
        .withColumn("jaccard", jac)
        .withColumn("est_ok", F.abs(est - jac) <= envelope)
        .select("seq_a", "seq_b", "jaccard", "est_ok")
    )


_ORACLE_MASH = f"""
WITH km AS (
  SELECT DISTINCT i AS seq_id,
         least(
           CAST(list_sum(list_transform(generate_series(0, {_KMER_K - 1}),
                m -> (((i*211 + (p+m)*37) * (i*211 + (p+m)*37)) // 1000) % 4
                     * ({_KMER_POWERS})[m + 1])) AS BIGINT),
           CAST(list_sum(list_transform(generate_series(0, {_KMER_K - 1}),
                m -> (3 - (((i*211 + (p + {_KMER_K - 1} - m)*37)
                            * (i*211 + (p + {_KMER_K - 1} - m)*37)) // 1000) % 4)
                     * ({_KMER_POWERS})[m + 1])) AS BIGINT)
         ) AS code
  FROM generate_series(0, {_MASH_NSEQ - 1}) g(i),
       generate_series(0, {_KMER_LEN - _KMER_K}) h(p)
),
sizes AS (SELECT seq_id, count(*) AS sz FROM km GROUP BY seq_id),
inter AS (
  SELECT a.seq_id AS seq_a, b.seq_id AS seq_b, count(*) AS i
  FROM km a JOIN km b USING (code)
  WHERE a.seq_id < b.seq_id GROUP BY 1, 2
)
SELECT i.seq_a, i.seq_b,
       i.i * 1.0 / (sa.sz + sb.sz - i.i) AS jaccard,
       TRUE AS est_ok
FROM inter i
JOIN sizes sa ON sa.seq_id = i.seq_a
JOIN sizes sb ON sb.seq_id = i.seq_b
"""


def q_mash_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mash DISTANCE d = -ln(2j/(1+j))/k (Ondov 2016 eq. 4) for every
    genome pair, next to the exact canonical-k-mer Jaccard it derives from
    — the closed-form mapping the reference's domain reports genomes on.
    j is int/int (hash-exact cross-engine); d is one fixed-shape float
    tree over it, so it hash-matches the oracle bit-for-bit (same rule as
    the tfidf/pmi float gates)."""
    from ..functions.kmer import dna_kmers, mash_distance, synth_dna

    dna = synth_dna(spark, _MASH_NSEQ, _KMER_LEN)
    # no .cache(): a lazy gate fn has no post-action hook to unpersist, so
    # a cache here would pin the k-mer table in executor storage for the
    # whole gate-runner session; recomputing the (cheap, 30-seq) extraction
    # per scan is the right trade
    km = dna_kmers(dna, k=_KMER_K, canonical=True)
    a = km.select(F.col("seq_id").alias("seq_a"), "kmer")
    b = km.select(F.col("seq_id").alias("seq_b"), "kmer")
    inter = (a.join(b, "kmer").filter("seq_a < seq_b")
             .groupBy("seq_a", "seq_b").agg(F.count("*").alias("inter")))
    sizes = km.groupBy("seq_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("seq_id").alias("seq_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("seq_id").alias("seq_b"), F.col("sz").alias("szb"))
    jac = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        inter.join(sa, "seq_a").join(sb, "seq_b")
        .withColumn("jaccard", jac)
        .withColumn("mash_dist", mash_distance(jac, k=_KMER_K))
        .select("seq_a", "seq_b", "jaccard", "mash_dist")
    )


_ORACLE_MASH_DIST = _ORACLE_MASH[:_ORACLE_MASH.index("SELECT i.seq_a")] + f"""
SELECT i.seq_a, i.seq_b,
       i.i * 1.0 / (sa.sz + sb.sz - i.i) AS jaccard,
       -ln(2 * (i.i * 1.0 / (sa.sz + sb.sz - i.i))
           / (1 + (i.i * 1.0 / (sa.sz + sb.sz - i.i)))) / {_KMER_K}
           AS mash_dist
FROM inter i
JOIN sizes sa ON sa.seq_id = i.seq_a
JOIN sizes sb ON sb.seq_id = i.seq_b
"""


def _profile_contract(spark: SparkSession, cust: DataFrame,
                      prof: DataFrame) -> DataFrame:
    """Shared tail of the profile gates: join a profile table (``column``
    renamed to ``col_name``) against exact per-column distinct counts and
    emit the oracle-shaped contract row set — exact counts/min/max/sums
    plus the HLL-ndv-within-published-bound boolean."""
    cols = cust.columns
    ex_row = cust.select(
        *[F.countDistinct(c).alias(c) for c in cols]).collect()[0]
    ex = spark.createDataFrame([(c, int(ex_row[c])) for c in cols],
                               "col_name string, ndv_exact long")
    rse = 1.04 / (1 << 14) ** 0.5
    return (
        prof.withColumnRenamed("column", "col_name").join(ex, "col_name")
        .select(
            "col_name", "n_rows", "n_nulls", "ndv_exact",
            (F.abs(F.col("ndv_est") - F.col("ndv_exact"))
             <= 4 * rse * F.col("ndv_exact") + F.lit(3.0)).alias("ndv_ok"),
            "min_long", "max_long", "min_double", "max_double",
            "sum_str", "sumsq_str")
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan table profile (ANALYZE-style): exact row/null counts per
    column + HLL ndv within the published bound vs exact distinct, plus
    the numeric stats — exact integral min/max and arbitrary-precision
    sum / sum-of-squares (decimal strings, so the oracle compares them
    EXACTLY with HUGEINT math), exact floating min/max (comparisons, not
    arithmetic — bit-identical cross-engine)."""
    from ..operators.profile import profile_table

    cust = load_table(spark, sf_dir, "customer")
    return _profile_contract(spark, cust, profile_table(cust))


def q_profile_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-verifies the STREAMING profile fold against the batch
    profiler's SQL contract: the customer table is replayed as two
    micro-batches through ``profile_stream_query`` (per-batch profiles
    folded — counts add, HLLs merge deterministically, exact sums add),
    and the folded result is shaped exactly like the ``profile_table``
    gate — so the oracle IS the batch profile SQL. The pytest suite
    asserts fold == full-scan bit-exact; this puts the contract behind a
    driver row."""
    import tempfile
    import uuid

    from ..streaming import profile_stream_query, stream_profile_rows

    cust = load_table(spark, sf_dir, "customer")
    # the folded profile is held in memory: input and checkpoint go once
    # the query has ended
    with tempfile.TemporaryDirectory(prefix="pbf_profgate_") as tmp:
        base = f"{tmp}/in"
        # one PARALLEL write (the old two coalesce(1) writes serialized the
        # table through single tasks just to force two micro-batches; the
        # fold is batch-boundary-invariant by the operator's contract —
        # counts add, HLLs merge — and the multi-batch fold stays
        # pytest-verified, so the gate replays as a single availableNow
        # batch)
        cust.write.mode("append").parquet(base)
        name = "profgate_" + uuid.uuid4().hex[:10]
        stream = spark.readStream.schema(cust.schema).parquet(base)
        q = profile_stream_query(stream, name, f"{tmp}/ckpt")
        q.awaitTermination(300)
        q.stop()
    return _profile_contract(spark, cust, stream_profile_rows(spark, name))


def _profile_oracle() -> str:
    typed = {"c_custkey": "i", "c_name": None, "c_nationkey": "i",
             "c_acctbal": "f", "c_mktsegment": None}
    parts = []
    for c, kind in typed.items():
        if kind == "i":
            stats = (
                f"CAST(min({c}) AS BIGINT) AS min_long, "
                f"CAST(max({c}) AS BIGINT) AS max_long, "
                f"CAST(NULL AS DOUBLE) AS min_double, "
                f"CAST(NULL AS DOUBLE) AS max_double, "
                f"CAST(CAST(sum({c}) AS HUGEINT) AS VARCHAR) AS sum_str, "
                f"CAST(sum(CAST({c} AS HUGEINT) * {c}) AS VARCHAR) AS sumsq_str")
        elif kind == "f":
            stats = (
                f"CAST(NULL AS BIGINT) AS min_long, "
                f"CAST(NULL AS BIGINT) AS max_long, "
                f"min({c}) AS min_double, max({c}) AS max_double, "
                f"CAST(NULL AS VARCHAR) AS sum_str, "
                f"CAST(NULL AS VARCHAR) AS sumsq_str")
        else:
            stats = (
                "CAST(NULL AS BIGINT) AS min_long, "
                "CAST(NULL AS BIGINT) AS max_long, "
                "CAST(NULL AS DOUBLE) AS min_double, "
                "CAST(NULL AS DOUBLE) AS max_double, "
                "CAST(NULL AS VARCHAR) AS sum_str, "
                "CAST(NULL AS VARCHAR) AS sumsq_str")
        parts.append(
            f"SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(count(*) - count({c}) AS BIGINT) AS n_nulls, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_exact, "
            f"TRUE AS ndv_ok, {stats} FROM customer")
    return "\nUNION ALL\n".join(parts)


def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard — the one-table summary a dataset
    owner reads: docs, Gopher-panel keep count, exact-duplicate docs,
    token volume, distinct vocabulary. Pure composition of audited
    operators; every number an exact integer."""
    from ..functions.text import quality_filter_panel

    docs = load_table(spark, sf_dir, "documents")
    tt = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    panel = quality_filter_panel(docs, tt).select("doc_id", "keep")
    per_doc = docs.select("doc_id", "source", "text").join(panel, "doc_id")
    base = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("int")).cast("long").alias("n_keep"),
        (F.count("*") - F.countDistinct("text")).alias("n_dup_docs"),
    )
    tok = tokens_exploded(spark, sf_dir)
    tstats = tok.groupBy("source").agg(
        F.count("*").alias("total_tok"),
        F.countDistinct("token_id").alias("distinct_tokens"),
    )
    # LEFT join: a source whose docs yield no tokens (all-null/empty text)
    # must still report with zero token stats, matching the oracle's
    # correlated-subquery semantics
    return (base.join(tstats, "source", "left")
            .select("source", "n_docs", "n_keep", "n_dup_docs",
                    F.coalesce("total_tok", F.lit(0)).alias("total_tok"),
                    F.coalesce("distinct_tokens", F.lit(0))
                     .alias("distinct_tokens")))


def _curation_oracle() -> str:
    # composes the SAME CTE chain and panel body the panel gate uses —
    # no string surgery, so a panel-oracle edit can never break this one
    return (_panel_ctes() + ",\npanel AS (" + _PANEL_BODY + ")" + """
SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN p.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(count(*) - count(DISTINCT d.text) AS BIGINT) AS n_dup_docs,
       coalesce((SELECT CAST(count(*) AS BIGINT) FROM tok t
        WHERE t.source = d.source), 0) AS total_tok,
       coalesce((SELECT CAST(count(DISTINCT t.token_id) AS BIGINT) FROM tok t
        WHERE t.source = d.source), 0) AS distinct_tokens
FROM documents d JOIN panel p ON p.doc_id = d.doc_id
GROUP BY d.source
""")


def q_lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-position bigram-LM log-probs — exact counts + one fixed-shape
    float tree (the tfidf/pmi bit-exact-double rule)."""
    from ..functions.text import bigram_lm_scores

    out = bigram_lm_scores(tokens_exploded(spark, sf_dir))
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "pos", "logp")


# shared between the per-position gate and the doc-level fold gate —
# composed from constants, never spliced out of a finished oracle string
_LM_CTES = TOKENS_ORACLE_CTE + """,
pairs AS (
  SELECT doc_id, pos, token_id AS cur,
         lag(token_id) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM tok
),
pp AS (SELECT * FROM pairs WHERE prev IS NOT NULL),
big AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cab
        FROM pp GROUP BY 1, 2),
uni AS (SELECT token_id AS prev, CAST(count(*) AS BIGINT) AS ca
        FROM tok GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT token_id) AS BIGINT) AS vocab FROM tok)"""

_LM_SCORED_SELECT = """SELECT CAST(p.doc_id AS BIGINT) AS doc_id, p.pos,
       ln((b.cab + 1) / (u.ca + v.vocab)) AS logp
FROM pp p JOIN big b ON b.prev = p.prev AND b.cur = p.cur
JOIN uni u ON u.prev = p.prev CROSS JOIN v"""

_ORACLE_LM = _LM_CTES + "\n" + _LM_SCORED_SELECT + "\n"


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level LM score via the fixed-shape left fold — per-doc float
    SUMS hash-matched cross-engine because both engines fold the same
    position-ordered doubles left-to-right (IEEE adds exactly rounded);
    mean is one further division of identical operands. ppl (libm exp) is
    excluded from the gate."""
    from ..functions.text import doc_lm_perplexity

    out = doc_lm_perplexity(tokens_exploded(spark, sf_dir))
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "n_scored", "sum_logp", "mean_logp")


# same scored-position CTE chain as the per-position gate, then the
# DuckDB twin of Spark's strict left fold: list_reduce over the
# pos-ordered logp list (no 0.0 prepend: DuckDB's 0.0 literal is DECIMAL,
# and Spark's 0.0 + first is an exact identity for logp < 0 anyway)
_ORACLE_DOC_PPL = _LM_CTES + """,
scored AS (""" + _LM_SCORED_SELECT + """),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
         list_reduce(list(logp ORDER BY pos), (acc, x) -> acc + x)
             AS sum_logp
  FROM scored GROUP BY doc_id)
SELECT doc_id, n_scored, sum_logp, sum_logp / n_scored AS mean_logp
FROM agg
"""


def q_quality_filter_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style keep/drop panel — all rules integer-exact."""
    from ..functions.text import quality_filter_panel

    docs = load_table(spark, sf_dir, "documents")
    tt = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    return quality_filter_panel(docs, tt)


# Panel oracle, split into composable pieces so both the panel gate and
# the curation report share the identical SQL (no string surgery): the
# CTE chain (token derivation + bigram repetition + quality counts) and
# the per-doc SELECT body.
def _panel_ctes() -> str:
    from ..functions.text import STOPWORDS, TOKEN_RE

    stop_sql = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
    return TOKENS_ORACLE_CTE + _bigram_oracle_cte("t1.doc_id,") + f""",
rep AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, count(*) AS n_bigrams,
         count(DISTINCT bigram) AS n_distinct
  FROM big GROUP BY doc_id),
qc AS (
  SELECT doc_id, length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_words,
         len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_alnum,
         len(list_filter(string_split(text, ' '),
             w -> list_contains({stop_sql}, w))) AS n_stop
  FROM documents)"""


_PANEL_BODY = """SELECT q.doc_id,
  (q.n_words BETWEEN 20 AND 100000) AS r_wordcount,
  (3 * q.n_words <= q.n_chars - (q.n_words - 1)
   AND q.n_chars - (q.n_words - 1) <= 10 * q.n_words) AS r_wordlen,
  (q.n_stop >= 2) AS r_stopwords,
  (100 * q.n_alnum >= 80 * q.n_words) AS r_alnum,
  coalesce(100 * (r.n_bigrams - r.n_distinct) <= 20 * r.n_bigrams, TRUE)
      AS r_repetition,
  ((q.n_words BETWEEN 20 AND 100000)
   AND (3 * q.n_words <= q.n_chars - (q.n_words - 1)
        AND q.n_chars - (q.n_words - 1) <= 10 * q.n_words)
   AND (q.n_stop >= 2)
   AND (100 * q.n_alnum >= 80 * q.n_words)
   AND coalesce(100 * (r.n_bigrams - r.n_distinct) <= 20 * r.n_bigrams, TRUE))
      AS keep
FROM qc q LEFT JOIN rep r ON r.doc_id = q.doc_id"""


def _quality_panel_oracle() -> str:
    return _panel_ctes() + "\n" + _PANEL_BODY + "\n"


def q_source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token KL(source || corpus) contributions — exact counts + one
    fixed-shape float tree (the tfidf/pmi bit-exact-double rule)."""
    from ..functions.text import source_token_divergence

    return source_token_divergence(tokens_exploded(spark, sf_dir))


_ORACLE_SOURCE_KL = TOKENS_ORACLE_CTE + """,
st AS (SELECT source, token_id, CAST(count(*) AS BIGINT) AS n_st
       FROM tok GROUP BY 1, 2),
s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM tok GROUP BY 1),
t AS (SELECT token_id, CAST(count(*) AS BIGINT) AS n_t FROM tok GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok)
SELECT st.source, st.token_id, st.n_st, s.n_s, t.n_t, tot.n,
       (st.n_st / s.n_s) * ln((st.n_st * tot.n) / (s.n_s * t.n_t)) AS term
FROM st JOIN s USING (source) JOIN t USING (token_id) CROSS JOIN tot
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary coverage: distinct tokens used, occurrences,
    and coverage of the global vocabulary in basis points — the lexical-
    diversity-per-source signal of mixture curation. Integer math
    end-to-end; one aggregation over the occurrence table plus a
    vocabulary-sized scalar."""
    tok = tokens_exploded(spark, sf_dir)
    vocab_n = tok.select("token_id").distinct().count()
    return (
        tok.groupBy("source").agg(
            F.countDistinct("token_id").alias("n_distinct_tokens"),
            F.count("*").alias("n_occurrences"),
        )
        .withColumn("vocab_size", F.lit(vocab_n).cast("long"))
        .withColumn("coverage_bp", F.expr(
            "CAST(n_distinct_tokens * 10000 div vocab_size AS INT)"))
    )


_ORACLE_VOCAB_COVERAGE = TOKENS_ORACLE_CTE + """
, v AS (SELECT count(DISTINCT token_id) AS vocab FROM tok)
SELECT source,
       CAST(count(DISTINCT token_id) AS BIGINT) AS n_distinct_tokens,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST((SELECT vocab FROM v) AS BIGINT) AS vocab_size,
       CAST(count(DISTINCT token_id) * 10000 // (SELECT vocab FROM v) AS INT)
           AS coverage_bp
FROM tok GROUP BY source
"""


def q_pipeline_tokens_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-TOKENIZED training-data pipeline as ONE composed query:
    repetition quality filter (dup_frac <= 0.05) -> token-shingle MinHash
    near-dup removal (drop the larger id of every verified >= 0.7 pair) ->
    per-source token-budget mixture sample -> context-window packing stats
    of the final mixture. Every stage is one of the individually-gated
    operators; the oracle reproduces the whole chain in SQL (near-dup stage
    valid because LSH recall is ~1 at this banding — the same argument as
    the char-gram pipeline gate). Capped at 500 docs like every pairwise
    gate."""
    from ..functions import dedup
    from ..functions.packing import packing_stats
    from ..functions.text import token_repetition_stats
    from ..operators.sampling import mixture_sample_tokens

    tt = (token_table(spark, sf_dir)
          .withColumn("doc_id", F.col("doc_id").cast("long"))
          .filter(F.col("doc_id") < 500))
    rep_ok = (token_repetition_stats(tt)
              .filter(F.col("dup_frac") <= 0.05).select("doc_id"))
    keep1 = tt.join(rep_ok, "doc_id")
    drop = (dedup.token_minhash_near_dup_pairs(keep1, threshold=0.7)
            .select(F.col("doc_b").alias("doc_id")).distinct())
    surv = keep1.join(drop, "doc_id", "left_anti")
    mixed = mixture_sample_tokens(surv, _MIX_BUDGETS, "doc_id")
    return packing_stats(mixed, _PACK_CTX)


_ORACLE_PIPELINE_TOKENS = TOKENS_ORACLE_CTE + f"""
, nt AS (
  SELECT doc_id, source, CAST(count(*) AS INT) AS n_tok FROM tok
  WHERE doc_id < 500 GROUP BY 1, 2
),
big0 AS (
  SELECT t1.doc_id,
         CAST(t1.token_id AS BIGINT) * 4294967296 + t2.token_id AS bigram
  FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  WHERE t1.doc_id < 500
),
rep AS (
  SELECT doc_id FROM big0 GROUP BY doc_id
  HAVING (count(*) - count(DISTINCT bigram)) * 1.0 / count(*) <= 0.05
),
keep1 AS (SELECT nt.* FROM nt JOIN rep USING (doc_id)),
bigk AS (SELECT DISTINCT b.doc_id, b.bigram FROM big0 b JOIN rep USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS sz FROM bigk GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM bigk a JOIN bigk b USING (bigram)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
),
neardup AS (
  SELECT p.doc_b FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.i * 1.0 / (sa.sz + sb.sz - p.i) >= 0.7
),
surv AS (SELECT * FROM keep1 WHERE doc_id NOT IN (SELECT doc_b FROM neardup)),
bud AS (
  SELECT * FROM (VALUES {", ".join(f"('{s}', {v})" for s, v in _MIX_BUDGETS.items())})
           AS t(source, budget)
),
mix AS (
  SELECT doc_id, source, n_tok FROM (
    SELECT s.doc_id, s.source, s.n_tok, b.budget,
           sum(s.n_tok) OVER (PARTITION BY s.source
               ORDER BY md5(CAST(s.doc_id AS VARCHAR))) - s.n_tok AS before_tok
    FROM surv s JOIN bud b USING (source)
  ) WHERE before_tok < budget
),
p AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok
              AS BIGINT) AS start_off
  FROM mix
),
d AS (
  SELECT source, n_tok,
         (start_off + n_tok - 1) // {_PACK_CTX} - start_off // {_PACK_CTX} + 1
             AS nw
  FROM p
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tok,
       (CAST(sum(n_tok) AS BIGINT) + {_PACK_CTX} - 1) // {_PACK_CTX}
           AS n_windows,
       (CAST(sum(n_tok) AS BIGINT) + {_PACK_CTX} - 1) // {_PACK_CTX}
           * {_PACK_CTX} - CAST(sum(n_tok) AS BIGINT) AS tail_padding,
       CAST(sum(CASE WHEN nw > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS boundary_docs
FROM d GROUP BY source
"""


def q_counting_bloom_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletable membership — the op a plain Bloom filter cannot do: build
    a counting Bloom over every ordering customer, DELETE the 1995 orderers
    by subtracting a distributed second build, then probe all customers.
    member == ordered at least once AND not in 1995 (exact at the gated
    zero-FPR geometry; counting cells mean deletes can never create false
    negatives for the remaining keys)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    factory = functools.partial(make_sketch, "countingbloom", **_GATED_BLOOM)
    all_keys = orders.select("o_custkey").distinct()
    del_keys = (orders.filter(F.year("o_orderdate") == 1995)
                .select("o_custkey").distinct())
    sk, _ = build_sketch(all_keys, "o_custkey", factory)
    del_sk, _ = build_sketch(del_keys, "o_custkey", factory)
    sk.subtract(del_sk)
    return probe_key_column(customer.select("c_custkey"), sk, "c_custkey")


_ORACLE_COUNTING_BLOOM = """
SELECT c_custkey,
       (c_custkey IN (SELECT o_custkey FROM orders)
        AND c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE year(o_orderdate) = 1995)) AS member
FROM customer
"""


def q_countsketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch point estimates for the top-10 tokens: UNBIASED (unlike
    CMS's one-sided over-count), |est - true| <= 3*sqrt(F2/width) w.h.p. —
    the published Charikar et al. guarantee, asserted against the exactly
    computed second frequency moment."""
    import math as _math

    tok = tokens_exploded(spark, sf_dir)
    sk, _ = build_sketch(
        tok, "token_id",
        functools.partial(make_sketch, "countsketch", width=8192, depth=5))
    counts = tok.groupBy("token_id").agg(F.count("*").alias("cnt")).cache()
    f2 = counts.agg(F.sum(F.col("cnt") * F.col("cnt"))).collect()[0][0]
    top = (counts.orderBy(F.desc("cnt"), F.asc("token_id")).limit(10)
           .collect())
    counts.unpersist()
    ids = np.array([r["token_id"] for r in top], dtype=np.int64)
    true_counts = np.array([r["cnt"] for r in top], dtype=np.int64)
    est = sk.query_bulk(ids)
    bound = 3.0 * _math.sqrt(f2 / sk.width)
    rows = [
        (int(t), int(c), bool(abs(int(e) - int(c)) <= bound))
        for t, c, e in zip(ids, true_counts, est)
    ]
    return spark.createDataFrame(
        rows, "token_id int, cnt bigint, within_bound boolean")


_ORACLE_COUNTSKETCH = TOKENS_ORACLE_CTE + """
SELECT token_id, CAST(count(*) AS BIGINT) AS cnt, TRUE AS within_bound
FROM tok GROUP BY token_id
ORDER BY cnt DESC, token_id ASC LIMIT 10
"""


def q_f2_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frequency moment (skew / self-join size) of the token stream:
    the AMS estimate read straight off the Count-Sketch table vs the exact
    sum of squared counts, within 5 relative sd (sd ~ sqrt(2/width))."""
    import math as _math

    tok = tokens_exploded(spark, sf_dir)
    sk, _ = build_sketch(
        tok, "token_id",
        functools.partial(make_sketch, "countsketch", width=8192, depth=5))
    exact = int(tok.groupBy("token_id").agg(F.count("*").alias("c"))
                .agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0])
    est = sk.f2_estimate()
    ok = abs(est - exact) <= 5 * _math.sqrt(2.0 / sk.width) * exact
    return spark.createDataFrame(
        [(exact, bool(ok))], "exact_f2 bigint, within_bound boolean")


_ORACLE_F2 = TOKENS_ORACLE_CTE + """
, c AS (SELECT token_id, count(*) AS c FROM tok GROUP BY token_id)
SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2, TRUE AS within_bound FROM c
"""


def _bigram_codes():
    """In-doc token-bigram codes — the shared coding (text.token_bigram_codes)
    used by the CMS-bigram, theta-overlap, and repetition gates: the encoding
    must stay identical across them or they desynchronize."""
    from ..functions.text import token_bigram_codes

    return token_bigram_codes("tokens")


def _bigram_oracle_cte(select_cols: str = "", distinct: bool = False,
                       where: str = "") -> str:
    """The SQL twin of ``_bigram_codes`` as a CTE fragment appended to
    TOKENS_ORACLE_CTE (same a*2^32+b coding, same doc-boundary rule)."""
    return f"""
, big AS (
  SELECT {"DISTINCT " if distinct else ""}{select_cols}
         CAST(t1.token_id AS BIGINT) * 4294967296 + t2.token_id AS bigram
  FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  {where}
)"""


def q_cms_bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BIGRAM heavy hitters — the n-gram language-model count a
    training pipeline runs over the token table. Bigrams are formed
    JVM-side inside each doc's token array (zip_with against the
    1-shifted slice; codes = a*2^32 + b, exact in int64 for int32 token
    ids) so no pair ever crosses a document boundary, then one CMS build
    over the exploded code stream. Output = exact top-10 bigrams (Spark
    groupBy) + booleans asserting the CMS estimate brackets each count
    within eps*N — one-sided error, the published CMS contract."""
    tt = token_table(spark, sf_dir)
    big = (
        tt.select(F.explode(_bigram_codes()).alias("bigram"))
        .filter(F.col("bigram").isNotNull())  # zip_with pads the tail
    )
    sk, _ = build_sketch(
        big, "bigram", functools.partial(make_sketch, "cms", eps=1e-4, delta=1e-3)
    )
    top = (
        big.groupBy("bigram").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram")).limit(10).collect()
    )
    codes = np.array([r["bigram"] for r in top], dtype=np.int64)
    true_counts = np.array([r["cnt"] for r in top], dtype=np.int64)
    est = sk.query_bulk(codes)
    rows = [
        (int(c >> 32), int(c & 0xFFFFFFFF), int(n),
         bool(e >= n), bool(e <= n + sk.eps * sk.total))
        for c, n, e in zip(codes, true_counts, est)
    ]
    return spark.createDataFrame(
        rows,
        "tok_a int, tok_b int, cnt bigint, cms_ge_true boolean, cms_le_bound boolean",
    )


_ORACLE_CMS_BIGRAM = TOKENS_ORACLE_CTE + _bigram_oracle_cte() + """
SELECT CAST(bigram // 4294967296 AS INT) AS tok_a,
       CAST(bigram % 4294967296 AS INT) AS tok_b,
       CAST(count(*) AS BIGINT) AS cnt,
       TRUE AS cms_ge_true, TRUE AS cms_le_bound
FROM big GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 10
"""


def q_theta_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content-overlap matrix via theta-sketch set algebra —
    'how much do my data sources repeat each other' as a pipeline signal.
    One grouped build (a theta sketch of the source's distinct token BIGRAMS,
    map-side partials, blob-only shuffle), then all source-pair
    intersection/union estimates driver-side from the tiny sketches. Gate
    exactness: each source holds ~10^2-10^3 distinct bigrams < k=4096, so
    every sketch is in exact mode (theta=1, all hashes retained) and the
    estimates ARE the exact set sizes — at real scale the same query returns
    estimates within the published theta bounds instead."""
    from itertools import combinations

    from ..operators import build_sketch_grouped
    from ..sketches.base import sketch_from_bytes

    tt = token_table(spark, sf_dir)
    big = (
        tt.select("source", F.explode(_bigram_codes()).alias("bigram"))
        .filter(F.col("bigram").isNotNull())
    )
    theta = functools.partial(make_sketch, "theta", k=4096)
    rows = build_sketch_grouped(big, ["source"], "bigram", theta).collect()
    sks = {r["source"]: sketch_from_bytes(bytes(r["sketch"])) for r in rows}
    out = []
    for a, b in combinations(sorted(sks), 2):
        inter = int(round(sks[a].intersection_estimate(sks[b])))
        uni = int(round(sks[a].union(sks[b]).estimate()))
        if inter > 0:
            out.append((a, b, inter, uni, inter * 10000 // uni))
    return spark.createDataFrame(
        out,
        "source_a string, source_b string, inter bigint, uni bigint, jaccard_bp int",
    )


_ORACLE_THETA_SOURCES = TOKENS_ORACLE_CTE \
    + _bigram_oracle_cte("t1.source,", distinct=True) + """
, sizes AS (SELECT source, count(*) AS sz FROM big GROUP BY source),
ipairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
  FROM big a JOIN big b ON a.bigram = b.bigram AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, CAST(inter AS BIGINT) AS inter,
       CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni,
       CAST(inter * 10000 // (sa.sz + sb.sz - inter) AS INT) AS jaccard_bp
FROM ipairs
JOIN sizes sa ON sa.source = ipairs.source_a
JOIN sizes sb ON sb.source = ipairs.source_b
"""


def q_token_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over the PRE-TOKENIZED table: MinHash/LSH on distinct
    token-id bigram shingles (w-shingling), candidates exact-verified —
    output hash-equal to the exact shingle-Jaccard pair set. The tokens-
    payload twin of ``minhash_near_dup``: no text re-read, one scan of the
    (doc_id, tokens) table. Capped at 500 docs like every pairwise gate
    (the 31-word synthetic vocabulary makes exact pairwise verification
    quadratic-degenerate; the OPERATOR is uncapped)."""
    from ..functions import dedup

    # cast ids to long UP FRONT: the pair orientation rule doc_a < doc_b
    # must be numeric to match the oracle ("120" < "8" as strings)
    tt = (token_table(spark, sf_dir)
          .withColumn("doc_id", F.col("doc_id").cast("long"))
          .filter(F.col("doc_id") < 500))
    return dedup.token_minhash_near_dup_pairs(tt, threshold=0.7).select(
        "doc_a", "doc_b", "jaccard")


_ORACLE_TOKEN_MINHASH = TOKENS_ORACLE_CTE \
    + _bigram_oracle_cte("t1.doc_id,", distinct=True,
                         where="WHERE t1.doc_id < 500") + """
, sizes AS (SELECT doc_id, count(*) AS sz FROM big GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM big a JOIN big b USING (bigram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
       i.inter * 1.0 / (sa.sz + sb.sz - i.inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * 1.0 / (sa.sz + sb.sz - i.inter) >= 0.7
"""


def _packed_tokens(spark: SparkSession, sf_dir: str):
    from ..functions.packing import pack_context_windows

    tt = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))  # numeric concat order
    return pack_context_windows(tt, _PACK_CTX)


def q_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: per-document context-window spans
    (start offset in the per-source token stream, first/last window id,
    windows overlapped) for ctx_len=256 — deterministic integer math, fully
    relational, reproduced exactly in SQL."""
    return _packed_tokens(spark, sf_dir)


_ORACLE_PACK = TOKENS_ORACLE_CTE + f"""
, nt AS (
  SELECT doc_id, source, CAST(count(*) AS INT) AS n_tok FROM tok GROUP BY 1, 2
),
p AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok
              AS BIGINT) AS start_off
  FROM nt
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tok, start_off,
       start_off // {_PACK_CTX} AS first_win,
       (start_off + n_tok - 1) // {_PACK_CTX} AS last_win,
       CAST((start_off + n_tok - 1) // {_PACK_CTX}
            - start_off // {_PACK_CTX} + 1 AS INT) AS n_windows
FROM p
"""


def q_pack_windows_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source packing summary: windows filled, tail padding, documents
    split across a window boundary (what best-fit packing minimizes)."""
    from ..functions.packing import packing_stats

    tt = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    return packing_stats(tt, _PACK_CTX)


_ORACLE_PACK_STATS = TOKENS_ORACLE_CTE + f"""
, nt AS (
  SELECT doc_id, source, CAST(count(*) AS INT) AS n_tok FROM tok GROUP BY 1, 2
),
p AS (
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) - n_tok
              AS BIGINT) AS start_off
  FROM nt
),
d AS (
  SELECT source, n_tok,
         (start_off + n_tok - 1) // {_PACK_CTX} - start_off // {_PACK_CTX} + 1
             AS n_windows
  FROM p
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tok,
       (CAST(sum(n_tok) AS BIGINT) + {_PACK_CTX} - 1) // {_PACK_CTX}
           AS n_windows,
       (CAST(sum(n_tok) AS BIGINT) + {_PACK_CTX} - 1) // {_PACK_CTX}
           * {_PACK_CTX} - CAST(sum(n_tok) AS BIGINT) AS tail_padding,
       CAST(sum(CASE WHEN n_windows > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS boundary_docs
FROM d GROUP BY source
"""


_BIN_CTX = 64  # bin capacity for the best-fit packing gate: the corpus has
# n_tok in [10, 99], so some docs are oversize (dropped+counted) and bins
# hold several docs — both branches of the packer execute


def q_pack_bins_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing bin packing (no doc crosses a window boundary):
    exact per-source counts plus the packer's contract booleans — every bin
    fits the capacity, at most one bin is <= half full (any-fit invariant),
    and n_bins <= ceil(2*total/L) + 1. The bin ASSIGNMENT is algorithm-
    specific (not SQL-reproducible); its invariants + exact doc/token
    accounting are."""
    from ..functions.packing import pack_bins_best_fit

    L = _BIN_CTX
    tt = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    packed = pack_bins_best_fit(tt, L)
    # ONE aggregation chain over the packer output (the greedy applyInPandas
    # would otherwise re-run once per separate aggregation branch)
    fills = packed.groupBy("source", "bin_id").agg(
        F.sum("n_tok").alias("fill"), F.count("*").alias("docs"))
    per_src = fills.groupBy("source").agg(
        F.sum("docs").cast("long").alias("n_docs_packed"),
        F.sum("fill").cast("long").alias("total_tok"),
        F.max("fill").alias("max_fill"),
        F.count("*").alias("n_bins"),
        F.sum(F.when(F.col("fill") * 2 <= L, 1).otherwise(0))
         .alias("n_half_empty"),
    )
    oversize = (tt.filter(F.col("n_tok") > L).groupBy("source")
                .agg(F.count("*").alias("n_oversize")))
    return (
        per_src
        .join(oversize, "source", "left")
        .withColumn("n_oversize", F.coalesce("n_oversize", F.lit(0)))
        .withColumn("lower_bound", F.expr(f"(total_tok + {L} - 1) div {L}"))
        .select(
            "source", "n_docs_packed", "n_oversize", "total_tok",
            "lower_bound",
            (F.col("max_fill") <= L).alias("capacity_ok"),
            (F.col("n_half_empty") <= 1).alias("halffull_ok"),
            (F.col("n_bins") <= F.expr(f"(2 * total_tok + {L} - 1) div {L}")
             + 1).alias("bound_ok"),
        )
    )


_ORACLE_PACK_BINS = TOKENS_ORACLE_CTE + f"""
, nt AS (
  SELECT doc_id, source, count(*) AS n_tok FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(count(*) FILTER (WHERE n_tok <= {_BIN_CTX}) AS BIGINT)
           AS n_docs_packed,
       CAST(count(*) FILTER (WHERE n_tok > {_BIN_CTX}) AS BIGINT)
           AS n_oversize,
       CAST(sum(n_tok) FILTER (WHERE n_tok <= {_BIN_CTX}) AS BIGINT)
           AS total_tok,
       (CAST(sum(n_tok) FILTER (WHERE n_tok <= {_BIN_CTX}) AS BIGINT)
            + {_BIN_CTX} - 1) // {_BIN_CTX} AS lower_bound,
       TRUE AS capacity_ok, TRUE AS halffull_ok, TRUE AS bound_ok
FROM nt GROUP BY source
"""


def q_mixture_sample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing by per-source TOKEN budget (how LLM mixtures are
    specified): deterministic md5-priority walk per source, keep rows while
    the running token total is under the source's budget; sources outside
    the mixture contribute nothing. Byte-exact vs the SQL oracle."""
    from ..operators.sampling import mixture_sample_tokens

    tt = token_table(spark, sf_dir)
    return mixture_sample_tokens(tt, _MIX_BUDGETS, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "n_tok")


_ORACLE_MIXTURE = TOKENS_ORACLE_CTE + f"""
, nt AS (
  SELECT doc_id, source, CAST(count(*) AS INT) AS n_tok FROM tok GROUP BY 1, 2
),
b AS (
  SELECT * FROM (VALUES {", ".join(f"('{s}', {v})" for s, v in _MIX_BUDGETS.items())})
           AS t(source, budget)
),
q AS (
  SELECT nt.doc_id, nt.source, nt.n_tok, b.budget,
         sum(nt.n_tok) OVER (PARTITION BY nt.source
             ORDER BY md5(CAST(nt.doc_id AS VARCHAR))) - nt.n_tok AS before_tok
  FROM nt JOIN b USING (source)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tok
FROM q WHERE before_tok < budget
"""


def q_pmi_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token collocations by pointwise mutual information over the
    corpus bigram stream: pmi = ln(c_ab * N / (c_a * c_b)) with N the total
    bigram count and c_a / c_b positional unigram margins (first/second
    slot). Only bigrams seen >= 5 times rank (the standard noise floor —
    hapax pairs otherwise dominate PMI). Ranks compared, not doubles; both
    engines evaluate the identical expression tree. Shape: one explode ->
    two vocabulary-sized margins broadcast back onto the bigram counts."""
    from ..functions.text import token_bigram_codes

    tt = token_table(spark, sf_dir)
    big = (tt.select(F.explode(token_bigram_codes("tokens")).alias("bigram"))
           .filter(F.col("bigram").isNotNull()))
    cab = big.groupBy("bigram").agg(F.count("*").alias("c_ab"))
    cab = cab.select(
        F.expr("bigram div 4294967296").alias("tok_a"),  # integral: exact
        F.expr("bigram % 4294967296").alias("tok_b"),    # past 2^53 too
        "c_ab",
    )
    ca = cab.groupBy("tok_a").agg(F.sum("c_ab").alias("c_a"))
    cb = cab.groupBy("tok_b").agg(F.sum("c_ab").alias("c_b"))
    n = cab.agg(F.sum("c_ab")).collect()[0][0]
    scored = (
        cab.filter(F.col("c_ab") >= 5)
        .join(F.broadcast(ca), "tok_a").join(F.broadcast(cb), "tok_b")
        .withColumn("pmi", F.log(F.col("c_ab").cast("double") * F.lit(float(n))
                                 / (F.col("c_a") * F.col("c_b"))))
    )
    # fixed k=20: orderBy().limit() -> TakeOrderedAndProject, never a
    # single-task global sort over the scored bigram-type table (bounded by
    # bigram vocabulary, which at a real 100k-token vocab is ~10^9 rows);
    # the rank window then sees exactly 20 rows. The order is total
    # (pmi desc, tok_a, tok_b), so limit(20) == rank<=20 exactly.
    order = [F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")]
    topk = scored.orderBy(*order).limit(20)
    w = Window.orderBy(*order)
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(F.col("tok_a").cast("int").alias("tok_a"),
                F.col("tok_b").cast("int").alias("tok_b"),
                "c_ab", F.col("rank").cast("int").alias("rank"))
    )


_ORACLE_PMI = TOKENS_ORACLE_CTE + _bigram_oracle_cte() + """
, cab AS (
  SELECT CAST(bigram // 4294967296 AS BIGINT) AS tok_a,
         CAST(bigram % 4294967296 AS BIGINT) AS tok_b,
         count(*) AS c_ab
  FROM big GROUP BY 1, 2
),
ca AS (SELECT tok_a, sum(c_ab) AS c_a FROM cab GROUP BY 1),
cb AS (SELECT tok_b, sum(c_ab) AS c_b FROM cab GROUP BY 1),
n AS (SELECT sum(c_ab) AS n FROM cab),
scored AS (
  SELECT cab.tok_a, cab.tok_b, cab.c_ab,
         ln(CAST(cab.c_ab AS DOUBLE) * CAST((SELECT n FROM n) AS DOUBLE)
            / (ca.c_a * cb.c_b)) AS pmi
  FROM cab JOIN ca USING (tok_a) JOIN cb USING (tok_b)
  WHERE cab.c_ab >= 5
),
ranked AS (
  SELECT CAST(tok_a AS INT) AS tok_a, CAST(tok_b AS INT) AS tok_b,
         CAST(c_ab AS BIGINT) AS c_ab,
         CAST(row_number() OVER (ORDER BY pmi DESC, tok_a ASC, tok_b ASC)
              AS INT) AS rank
  FROM scored
)
SELECT tok_a, tok_b, c_ab, rank FROM ranked WHERE rank <= 20
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's 5 most characteristic tokens by tf-idf over the
    occurrence table — score = tf * ln(N/df), ties by token id. Ranks (not
    raw doubles) are compared; both engines compute the identical
    expression tree so the ranking is exact."""
    from ..functions.text import tfidf_top_terms

    return tfidf_top_terms(tokens_exploded(spark, sf_dir), top=5)


_ORACLE_TFIDF = TOKENS_ORACLE_CTE + """
, nd AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
tf AS (SELECT doc_id, token_id, count(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT token_id, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.token_id,
         tf.tf * ln(CAST((SELECT n FROM nd) AS DOUBLE) / dfq.df) AS score
  FROM tf JOIN dfq USING (token_id)
),
ranked AS (
  SELECT doc_id, CAST(token_id AS INT) AS token_id,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, token_id ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, token_id, rank FROM ranked WHERE rank <= 5
"""


_BM25_QUERY = [3, 7, 11]  # dense vocab ids, present at every sf


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus search: top-20 documents by BM25 for a fixed 3-token query.
    Every float op is a fixed expression tree mirrored in the oracle
    (components pivoted to columns, added in fixed order — no float SUM
    aggregate), so the ranking is exactly reproducible."""
    from ..functions.text import bm25_rank

    return bm25_rank(tokens_exploded(spark, sf_dir), _BM25_QUERY, top=20)


_ORACLE_BM25 = TOKENS_ORACLE_CTE + f"""
, nd AS (SELECT count(DISTINCT doc_id) AS n, count(*) AS sdl FROM tok),
tf AS (SELECT doc_id, token_id, count(*) AS tf FROM tok
       WHERE token_id IN ({", ".join(map(str, _BM25_QUERY))}) GROUP BY 1, 2),
dfq AS (SELECT token_id, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM tok
       WHERE doc_id IN (SELECT DISTINCT doc_id FROM tf) GROUP BY 1),
parts AS (
  SELECT tf.doc_id, tf.token_id,
         ln(((SELECT n FROM nd) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
           * (tf.tf * (1.2 + 1.0))
           / (tf.tf + 1.2 * (0.25 + 0.75
                * ((dl.dl * (SELECT n FROM nd)) / (SELECT sdl FROM nd))))
           AS part
  FROM tf JOIN dfq USING (token_id) JOIN dl USING (doc_id)
),
piv AS (
  SELECT doc_id,
         {", ".join(f"max(CASE WHEN token_id = {t} THEN part END) AS p{i}"
                    for i, t in enumerate(_BM25_QUERY))}
  FROM parts GROUP BY doc_id
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY
              {" + ".join(f"coalesce(p{i}, 0.0)"
                          for i in range(len(_BM25_QUERY)))} DESC,
              doc_id ASC) AS INT) AS rank
  FROM piv
)
SELECT doc_id, rank FROM ranked WHERE rank <= 20
"""


def q_token_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-bigram fraction over the pre-tokenized
    table — the repetition quality filter, exact vs SQL."""
    from ..functions.text import token_repetition_stats

    tt = token_table(spark, sf_dir).withColumn(
        "doc_id", F.col("doc_id").cast("long"))
    return token_repetition_stats(tt)


_ORACLE_TOKEN_REP = TOKENS_ORACLE_CTE + _bigram_oracle_cte("t1.doc_id,") + """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS INT) AS n_bigrams,
       CAST(count(DISTINCT bigram) AS INT) AS n_distinct,
       (count(*) - count(DISTINCT bigram)) * 1.0 / count(*) AS dup_frac
FROM big GROUP BY doc_id
"""


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra–Gries complement of the CMS query: same exact top-10, with the
    MG one-sided UNDER-estimate guarantees (est <= true, true - est <= N/(k+1),
    every above-threshold item present)."""
    tok = tokens_exploded(spark, sf_dir)
    sk, _ = build_sketch(
        tok, "token_id", functools.partial(make_sketch, "mg", k=256)
    )
    top = (
        tok.groupBy("token_id").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token_id")).limit(10).collect()
    )
    rows = []
    for r in top:
        est = sk.query(int(r["token_id"]))
        rows.append((
            int(r["token_id"]), int(r["cnt"]),
            bool(est <= r["cnt"]),
            bool(r["cnt"] - est <= sk.error_bound() + 1e-9),
            bool(est > 0 if r["cnt"] > sk.error_bound() else True),
        ))
    return spark.createDataFrame(
        rows,
        "token_id int, cnt bigint, mg_le_true boolean, mg_within_band boolean, "
        "mg_present boolean",
    )


_ORACLE_MG = TOKENS_ORACLE_CTE + """
SELECT token_id, CAST(count(*) AS BIGINT) AS cnt,
       TRUE AS mg_le_true, TRUE AS mg_within_band, TRUE AS mg_present
FROM tok GROUP BY token_id
ORDER BY cnt DESC, token_id ASC LIMIT 10
"""


# --------------------------------------------------------------------------
# 5. KLL quantiles over n_tok
# --------------------------------------------------------------------------

_QS = (0.25, 0.5, 0.75)


def _quantile_sketch_query(spark: SparkSession, sf_dir: str, factory,
                           err_of) -> DataFrame:
    """Exact ranks WITHOUT a global sort or a full collect: n_tok has few
    distinct values (document lengths), so one distributed groupBy produces a
    tiny (value, count) histogram; exact quantile values and the estimate's
    rank band both fall out of its cumulative sum. The old plan (un-
    partitioned row_number window + collecting every n_tok) single-tasked the
    sort and materialized the column on the driver — dead at scale."""
    tt = token_table(spark, sf_dir)
    sk, _ = build_sketch(tt, "n_tok", factory)
    hist = (
        tt.groupBy("n_tok").agg(F.count("*").alias("cnt"))
        .orderBy("n_tok").collect()
    )
    vals = np.array([r["n_tok"] for r in hist], dtype=np.int64)
    cum = np.cumsum(np.array([r["cnt"] for r in hist], dtype=np.int64))
    n = int(cum[-1])
    assert n == sk.n
    out = []
    for q in _QS:
        rank = int(math.ceil(q * n))  # 1-based
        exact = int(vals[np.searchsorted(cum, rank, side="left")])
        est = sk.quantile(q)
        i_lo = np.searchsorted(vals, est, side="left")
        i_hi = np.searchsorted(vals, est, side="right")
        lo = int(cum[i_lo - 1]) if i_lo > 0 else 0  # items strictly < est
        hi = int(cum[i_hi - 1]) if i_hi > 0 else 0  # items <= est
        band = err_of(sk, q) * n + 1
        ok = (lo - band) <= q * n <= (hi + band)
        out.append((float(q), exact, bool(ok)))
    return spark.createDataFrame(
        out, "q double, exact_ntok int, within_bound boolean"
    )


def q_kll_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantile_sketch_query(
        spark, sf_dir, functools.partial(make_sketch, "kll", k=200),
        lambda sk, q: sk.rank_error(),
    )


def q_tdigest_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _quantile_sketch_query(
        spark, sf_dir, functools.partial(make_sketch, "tdigest", delta=200),
        lambda sk, q: sk.rank_error(q),
    )


def q_kll_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP quantiles through the grouped build: one job builds a KLL
    sketch per source (map-side partials, sketch-blob-only shuffle — the
    shape for 'a quantile profile per domain' at 10^5+ groups), then each
    group's median estimate is checked against the exact per-source median
    from a distributed (source, n_tok) histogram. Output = exact median per
    source + the within-rank-error boolean, so the gate is exactly
    SQL-checkable while still exercising the sketch path."""
    from ..operators import build_sketch_grouped
    from ..sketches import sketch_from_bytes

    tt = token_table(spark, sf_dir)
    kll = functools.partial(make_sketch, "kll", k=200)
    sketches = build_sketch_grouped(tt, ["source"], "n_tok", kll).collect()
    hist = (
        tt.groupBy("source", "n_tok").agg(F.count("*").alias("cnt"))
        .orderBy("source", "n_tok").collect()
    )
    per: dict[str, list] = {}
    for r in hist:
        per.setdefault(r["source"], []).append((r["n_tok"], r["cnt"]))
    out = []
    for r in sketches:
        src = r["source"]
        sk = sketch_from_bytes(bytes(r["sketch"]))
        vals = np.array([v for v, _ in per[src]], dtype=np.int64)
        cum = np.cumsum(np.array([c for _, c in per[src]], dtype=np.int64))
        n = int(cum[-1])
        assert n == sk.n
        rank = int(math.ceil(0.5 * n))  # 1-based exact median rank
        exact = int(vals[np.searchsorted(cum, rank, side="left")])
        est = sk.quantile(0.5)
        i_lo = np.searchsorted(vals, est, side="left")
        i_hi = np.searchsorted(vals, est, side="right")
        lo = int(cum[i_lo - 1]) if i_lo > 0 else 0
        hi = int(cum[i_hi - 1]) if i_hi > 0 else 0
        band = sk.rank_error() * n + 1
        ok = (lo - band) <= 0.5 * n <= (hi + band)
        out.append((src, exact, bool(ok)))
    return spark.createDataFrame(
        out, "source string, exact_median_ntok int, within_bound boolean"
    )


_ORACLE_KLL_BY_SOURCE = """
WITH lens AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS INT) AS n_tok
  FROM documents
),
ranked AS (
  SELECT source, n_tok,
         row_number() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM lens
)
SELECT source, n_tok AS exact_median_ntok, TRUE AS within_bound
FROM ranked WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
"""


_ORACLE_KLL = """
WITH lens AS (
  SELECT CAST(len(string_split(text, ' ')) AS INT) AS n_tok FROM documents
),
ranked AS (
  SELECT n_tok, row_number() OVER (ORDER BY n_tok) AS rn, count(*) OVER () AS n
  FROM lens
)
SELECT q, exact_ntok, TRUE AS within_bound FROM (
  SELECT 0.25::DOUBLE AS q,
         (SELECT n_tok FROM ranked WHERE rn = CAST(ceil(0.25 * n) AS BIGINT) LIMIT 1) AS exact_ntok
  FROM (SELECT max(n) AS n FROM ranked)
  UNION ALL
  SELECT 0.5::DOUBLE,
         (SELECT n_tok FROM ranked WHERE rn = CAST(ceil(0.5 * n) AS BIGINT) LIMIT 1)
  FROM (SELECT max(n) AS n FROM ranked)
  UNION ALL
  SELECT 0.75::DOUBLE,
         (SELECT n_tok FROM ranked WHERE rn = CAST(ceil(0.75 * n) AS BIGINT) LIMIT 1)
  FROM (SELECT max(n) AS n FROM ranked)
)
"""


# --------------------------------------------------------------------------
# registry (sketch core; training-data pipeline ops join in at the bottom)
# --------------------------------------------------------------------------

CATALOG: dict[str, QuerySpec] = {
    "token_table_exploded": QuerySpec(
        q_token_table_exploded, _ORACLE_TOKENS,
        "derive (doc_id, source, pos, token_id) from documents via vocab join",
    ),
    "bloom_probe_tokens": QuerySpec(
        q_bloom_probe_tokens, _ORACLE_BLOOM_TOKENS,
        "blocked-Bloom bulk probe: distinct tokens + disjoint negatives; "
        "no-FN + zero measured FP at gated geometry",
    ),
    "bloom_semijoin_custkey": QuerySpec(
        q_bloom_semijoin_custkey, _ORACLE_BLOOM_CUSTKEY,
        "Bloom as runtime semi-join filter: customers with orders",
    ),
    "bloom_weight_sanity": QuerySpec(
        q_bloom_weight_sanity, _ORACLE_WEIGHT,
        "get_weight popcount invariants (reference op #5)",
    ),
    "hll_distinct_tokens": QuerySpec(
        q_hll_distinct_tokens, _ORACLE_HLL_TOKENS,
        "HLL cardinality of token ids within published bound",
    ),
    "hll_distinct_docs": QuerySpec(
        q_hll_distinct_docs, _ORACLE_HLL_DOCS,
        "HLL cardinality of doc ids within published bound",
    ),
    "detokenize_roundtrip": QuerySpec(
        q_detokenize_roundtrip, _ORACLE_DETOK,
        "text -> tokens -> text identity corpus-wide: the north rule's "
        "per-row token-array invariant, md5-anchored"),
    "cms_join_size": QuerySpec(
        q_cms_join_size, _ORACLE_CMS_JOIN,
        "equi-join cardinality from two CMS sketches (row-wise inner "
        "product): never under, within eps*Na*Nb - the pre-shuffle "
        "planner estimate"),
    "cms_heavy_hitters": QuerySpec(
        q_cms_heavy_hitters, _ORACLE_CMS,
        "count-min top-10 heavy hitters: one-sided error within eps*N",
    ),
    "mg_heavy_hitters": QuerySpec(
        q_mg_heavy_hitters, _ORACLE_MG,
        "Misra-Gries top-10: under-estimates within N/(k+1), all present",
    ),
    "cms_bigram_heavy_hitters": QuerySpec(
        q_cms_bigram_heavy_hitters, _ORACLE_CMS_BIGRAM,
        "token-bigram (LM n-gram) top-10 via CMS: one-sided error within eps*N",
    ),
    "countsketch_heavy_hitters": QuerySpec(
        q_countsketch_heavy_hitters, _ORACLE_COUNTSKETCH,
        "Count-Sketch unbiased top-10 estimates within 3*sqrt(F2/width)",
    ),
    "f2_moment": QuerySpec(
        q_f2_moment, _ORACLE_F2,
        "AMS second-moment estimate off the Count-Sketch table vs exact",
    ),
    "counting_bloom_delete": QuerySpec(
        q_counting_bloom_delete, _ORACLE_COUNTING_BLOOM,
        "deletable membership: counting Bloom, distributed subtract, "
        "exact at gated geometry",
    ),
    "pipeline_tokens_end_to_end": QuerySpec(
        q_pipeline_tokens_end_to_end, _ORACLE_PIPELINE_TOKENS,
        "tokens pipeline composed: repetition filter -> shingle near-dup "
        "removal -> token-budget mixture -> packing stats",
    ),
    "vocab_coverage": QuerySpec(
        q_vocab_coverage, _ORACLE_VOCAB_COVERAGE,
        "per-source vocabulary coverage in basis points, exact",
    ),
    "source_token_kl": QuerySpec(
        q_source_token_kl, _ORACLE_SOURCE_KL,
        "per-token KL(source||corpus) contributions, counts exact and "
        "terms bit-exact cross-engine",
    ),
    "quality_filter_panel": QuerySpec(
        q_quality_filter_panel, _quality_panel_oracle(),
        "Gopher-style keep/drop panel: per-rule booleans via integer "
        "cross-multiplied thresholds, exact",
    ),
    "profile_table": QuerySpec(
        q_profile_table, _profile_oracle(),
        "one-scan ANALYZE-style table profile: exact row/null counts, "
        "HLL ndv within bound per column",
    ),
    "profile_stream_parity": QuerySpec(
        q_profile_stream_parity, _profile_oracle(),
        "STREAMING profile fold over a 2-micro-batch replay == the batch "
        "profile SQL (same oracle as profile_table)",
    ),
    "lm_bigram_logprob": QuerySpec(
        q_lm_bigram_logprob, _ORACLE_LM,
        "add-one bigram LM log-prob per token position (perplexity-filter "
        "primitive), doubles bit-exact cross-engine",
    ),
    "doc_perplexity": QuerySpec(
        q_doc_perplexity, _ORACLE_DOC_PPL,
        "doc-level LM score: per-doc float SUM made engine-exact by a "
        "fixed-shape position-ordered left fold (list_reduce twin)",
    ),
    "curation_report": QuerySpec(
        q_curation_report, _curation_oracle(),
        "per-source curation dashboard: panel keep counts, exact-dup "
        "docs, token volume/vocabulary — all exact integers",
    ),
    "dna_kmer_stats": QuerySpec(
        q_dna_kmer_stats, _ORACLE_KMER_STATS,
        "distinct 2-bit-packed k-mers per synthetic genome, exact",
    ),
    "kmer_bloom_screen": QuerySpec(
        q_kmer_bloom_screen, _ORACLE_KMER_SCREEN,
        "the reference workflow: per-read k-mer match counts against a "
        "reference Bloom filter, exact at gated geometry",
    ),
    "dna_kmer_canonical": QuerySpec(
        q_dna_kmer_canonical, _ORACLE_KMER_CANON,
        "strand-insensitive canonical k-mer counts, exact",
    ),
    "kmer_distinct_hll": QuerySpec(
        q_kmer_distinct_hll, _ORACLE_KMER_HLL,
        "genome-size estimation: HLL distinct k-mers within bound vs exact",
    ),
    "mash_genome_similarity": QuerySpec(
        q_mash_genome_similarity, _ORACLE_MASH,
        "Mash: exact pairwise k-mer Jaccard + MinHash estimate within the "
        "binomial envelope",
    ),
    "mash_distance": QuerySpec(
        q_mash_distance, _ORACLE_MASH_DIST,
        "Mash distance -ln(2j/(1+j))/k from the exact k-mer Jaccard, "
        "bit-exact cross-engine",
    ),
    "theta_source_similarity": QuerySpec(
        q_theta_source_similarity, _ORACLE_THETA_SOURCES,
        "cross-source bigram-set overlap via grouped theta sketches, exact",
    ),
    "token_minhash_near_dup": QuerySpec(
        q_token_minhash_near_dup, _ORACLE_TOKEN_MINHASH,
        "MinHash/LSH near-dup over token-id bigram shingles of the "
        "pre-tokenized table; hash-equal to exact shingle Jaccard",
    ),
    "pack_windows": QuerySpec(
        q_pack_windows, _ORACLE_PACK,
        "concat-and-split sequence packing: per-doc context-window spans, "
        "exact integer math",
    ),
    "pack_windows_stats": QuerySpec(
        q_pack_windows_stats, _ORACLE_PACK_STATS,
        "per-source packing summary: windows, tail padding, boundary docs",
    ),
    "token_repetition": QuerySpec(
        q_token_repetition, _ORACLE_TOKEN_REP,
        "within-doc repeated-bigram fraction (repetition quality filter)",
    ),
    "pack_bins_bfd": QuerySpec(
        q_pack_bins_bfd, _ORACLE_PACK_BINS,
        "best-fit-decreasing whole-doc bin packing: exact accounting + "
        "any-fit contract booleans",
    ),
    "mixture_sample_tokens": QuerySpec(
        q_mixture_sample_tokens, _ORACLE_MIXTURE,
        "per-source token-budget mixture sampling, byte-exact priorities",
    ),
    "tfidf_top_terms": QuerySpec(
        q_tfidf_top_terms, _ORACLE_TFIDF,
        "per-doc top-5 characteristic tokens by tf-idf, exact ranking",
    ),
    "pmi_top_bigrams": QuerySpec(
        q_pmi_top_bigrams, _ORACLE_PMI,
        "top-20 token collocations by PMI (count floor 5), exact ranking",
    ),
    "bm25_rank": QuerySpec(
        q_bm25_rank, _ORACLE_BM25,
        "corpus search: BM25 top-20 docs for a fixed query, exact ranking",
    ),
    "kll_ntok_quantiles": QuerySpec(
        q_kll_ntok_quantiles, _ORACLE_KLL,
        "KLL n_tok quantiles within rank-error bound vs exact",
    ),
    "tdigest_ntok_quantiles": QuerySpec(
        q_tdigest_ntok_quantiles, _ORACLE_KLL,
        "t-digest n_tok quantiles within k1-scale error envelope vs exact",
    ),
    "kll_quantiles_by_source": QuerySpec(
        q_kll_quantiles_by_source, _ORACLE_KLL_BY_SOURCE,
        "grouped build: a KLL per source in one job; medians within bound",
    ),
    "build_invariance": QuerySpec(
        None, None, "placeholder replaced below"
    ),
}


def q_build_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule merge associativity/commutativity + dispatch parity, as an
    oracle-gated query: the SAME filter bytes must come out of (a) plain
    partial-merge build, (b) salted skew-resistant repartition build,
    (c) bit-range-sharded build (the reference's DPU dispatch analogue), and
    (d) executor-side treeReduce merge."""
    from ..operators.partitioning import salted_repartition
    from ..operators.sharded import build_bloom_sharded

    tok = tokens_exploded(spark, sf_dir).select("doc_id", "source", "token_id")
    bloom = functools.partial(make_sketch, "bloom", **_GATED_BLOOM)
    plain, _ = build_sketch(tok, "token_id", bloom)
    salted, _ = build_sketch(
        salted_repartition(tok, ["source"], buckets=8, salt_on="doc_id"),
        "token_id", bloom,
    )
    sharded = build_bloom_sharded(tok, "token_id", n_shards=32, **_GATED_BLOOM)
    tree, _ = build_sketch(tok, "token_id", bloom, distributed_merge=True)
    p = plain.payload()
    return spark.createDataFrame(
        [(p == salted.payload(), p == sharded.payload(), p == tree.payload())],
        "salted_equal boolean, sharded_equal boolean, tree_merge_equal boolean",
    )


CATALOG["build_invariance"] = QuerySpec(
    q_build_invariance,
    "SELECT TRUE AS salted_equal, TRUE AS sharded_equal, TRUE AS tree_merge_equal",
    "permuted/salted/sharded/tree builds yield byte-identical filters",
)


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kill-and-resume equivalence as an oracle-gated query: a build that
    fails after 3 of 8 buckets, then resumes, must equal the one-shot build
    byte-for-byte (FIXTURES.md §5)."""
    import tempfile

    from ..operators.checkpoint import build_with_checkpoint

    tt = token_table(spark, sf_dir)
    bloom = functools.partial(make_sketch, "bloom", **_GATED_BLOOM)
    oneshot, _ = build_sketch(tt, "tokens", bloom)
    with tempfile.TemporaryDirectory(prefix="pbf_ckpt_") as tmp:
        cp = f"{tmp}/sketches"
        try:
            build_with_checkpoint(spark, tt, "tokens", "doc_id", bloom,
                                  build_id="gate", checkpoint_dir=cp,
                                  n_buckets=8, fail_after_bucket=3)
        except RuntimeError:
            pass
        resumed, metrics = build_with_checkpoint(
            spark, tt, "tokens", "doc_id", bloom,
            build_id="gate", checkpoint_dir=cp, n_buckets=8,
        )
    return spark.createDataFrame(
        [(resumed.payload() == oneshot.payload(), metrics["n_buckets"] == 8)],
        "resume_equal boolean, all_buckets boolean",
    )


CATALOG["checkpoint_resume"] = QuerySpec(
    q_checkpoint_resume,
    "SELECT TRUE AS resume_equal, TRUE AS all_buckets",
    "crash-after-3-buckets + resume == uninterrupted build, byte-identical",
)


def q_bloom_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join (the classic engine use of the sketch):
    orders prefiltered by a Bloom of nation-3 customers' keys before the
    join. Exact vs a plain SQL join at ANY filter geometry — no-FN keeps all
    matches, the join kills false positives — so the gate is hash-exact, not
    a bound check."""
    from ..operators.joins import bloom_runtime_filter_join

    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == 3
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    joined = bloom_runtime_filter_join(
        orders, customer, "o_custkey", "c_custkey", **_GATED_BLOOM
    )
    return joined.groupBy("c_custkey").agg(F.count("*").alias("n_orders"))


CATALOG["bloom_runtime_filter_join"] = QuerySpec(
    q_bloom_runtime_filter_join,
    """
SELECT c.c_custkey, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey = 3
GROUP BY c.c_custkey
""",
    "Bloom prefilter + join == plain join, exact per customer",
)


def q_bloom_probe_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The never-materialize-the-filter path as a gate: sharded build +
    cogroup probe (each task reads only its m/n_shards bit slice), same
    truth table as the broadcast probe gates."""
    from ..operators.sharded import build_bloom_shards, probe_bloom_distributed

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    shards = build_bloom_shards(
        orders, "o_custkey", n_shards=32, **_GATED_BLOOM
    )
    return probe_bloom_distributed(
        customer.select("c_custkey"), shards, "c_custkey",
        n_shards=32, **_GATED_BLOOM,
    )


CATALOG["bloom_probe_distributed"] = QuerySpec(
    q_bloom_probe_distributed,
    _ORACLE_BLOOM_CUSTKEY,
    "sharded cogroup probe (filter never on one node) == exact semi-join",
)


def q_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (KMV) set algebra, the operation Bloom/HLL can't do well:
    distinct-customer sets of two order years, union/intersection/difference
    estimated from two k=256 sketches and gated against exact counts within
    the published bounds (union rse ~1/sqrt(k-2); intersection/difference sd
    = sqrt(n(1-theta)/theta), binomial thinning at the sampling threshold).
    In exact mode (fewer than k distinct) the estimates are exact."""
    from ..operators import build_sketch_grouped
    from ..sketches import sketch_from_bytes

    orders = load_table(spark, sf_dir, "orders")
    theta = functools.partial(make_sketch, "theta", k=256)
    # ONE pass builds both year sketches (grouped partials; theta merge is
    # assoc/comm and KMV state is a pure function of the key set, so the
    # per-year sketch equals the old separate build bit-for-bit), and ONE
    # aggregation yields all three exact counts — replacing 2 build scans
    # + 2 distinct counts + 1 join count (5 jobs / 5 scans of orders).
    yr = F.year("o_orderdate")
    both = orders.filter(yr.isin(1995, 1996)).select(
        "o_custkey", yr.alias("_yr"))
    by_year = {int(r["_yr"]): sketch_from_bytes(bytes(r["sketch"]))
               for r in build_sketch_grouped(
                   both, "_yr", "o_custkey", theta).collect()}
    ska = by_year.get(1995) or theta()
    skb = by_year.get(1996) or theta()
    ex = (both.groupBy("o_custkey")
          .agg(F.max((F.col("_yr") == 1995).cast("int")).alias("_a"),
               F.max((F.col("_yr") == 1996).cast("int")).alias("_b"))
          .agg(F.sum("_a"), F.sum("_b"),
               F.sum(F.col("_a") * F.col("_b"))).collect()[0])
    exact_a, exact_b = int(ex[0] or 0), int(ex[1] or 0)
    exact_inter = int(ex[2] or 0)
    exact_union = exact_a + exact_b - exact_inter
    u = ska.union(skb)
    union_ok = abs(u.estimate() - exact_union) \
        <= 5 * u.relative_error() * exact_union + 1
    inter_ok = abs(ska.intersection_estimate(skb) - exact_inter) \
        <= 5 * ska.intersection_sd(skb, exact_inter) + 1
    diff_ok = abs(ska.difference_estimate(skb) - (exact_a - exact_inter)) \
        <= 5 * ska.intersection_sd(skb, exact_a - exact_inter) + 1
    return spark.createDataFrame(
        [(exact_union, exact_inter, bool(union_ok), bool(inter_ok), bool(diff_ok))],
        "exact_union bigint, exact_inter bigint, union_ok boolean, "
        "inter_ok boolean, diff_ok boolean",
    )


CATALOG["theta_set_ops"] = QuerySpec(
    q_theta_set_ops,
    """
WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT CAST((SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS BIGINT)
           AS exact_union,
       CAST((SELECT count(*) FROM a JOIN b USING (o_custkey)) AS BIGINT)
           AS exact_inter,
       TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok
""",
    "theta-sketch union/intersection/difference within published bounds",
)


def _register_pipeline_catalog() -> None:
    from .analytics_catalog import ANALYTICS_CATALOG
    from .events_catalog import EVENTS_CATALOG
    from .pipeline_catalog import PIPELINE_CATALOG

    CATALOG.update(PIPELINE_CATALOG)
    CATALOG.update(ANALYTICS_CATALOG)
    CATALOG.update(EVENTS_CATALOG)


_register_pipeline_catalog()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in CATALOG.items()
            if spec.oracle}
