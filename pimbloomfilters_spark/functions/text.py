"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

Everything except the byte fingerprints is pure Spark SQL expressions (stays
inside whole-stage codegen, no Python in the hot path) and is deliberately
restricted to constructs DuckDB evaluates identically, so the driver's oracle
gate checks them exactly. The winnowing and rolling fingerprints need the
Karp–Rabin hash of every byte window -> vectorized numpy via mapInArrow,
coded by the shared window coder (``_windows.byte_kr``) straight from the
Arrow string buffers.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window, functions as F

from .._arrow import row_ids
from ._windows import _FP_BASE, _FP_MOD, byte_kr, distinct_runs

# tiny per-language stopword profiles (public common words). The synthetic
# corpus is English-ish; the heuristic is deterministic, not a classifier.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "es"),
    "fr": ("le", "la", "de", "et", "un", "est"),
}

STOPWORDS = tuple(sorted({w for ws in LANG_PROFILES.values() for w in ws}))

TOKEN_RE = "[a-zA-Z0-9]+"  # same semantics in Java regex and DuckDB/RE2


def _profile_count(text_col: Column, words: tuple[str, ...]) -> Column:
    arr = F.split(text_col, " ")
    return F.size(F.filter(arr, lambda w: w.isin(*words)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang): argmax of stopword-profile hits; deterministic
    tie-break on language code ascending (ties -> first alphabetically)."""
    scores = [
        F.struct(
            _profile_count(F.col(text_col), ws).alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(LANG_PROFILES.items())
    ]
    # greatest() picks max score; struct comparison breaks ties on the SECOND
    # field ascending is wrong (greatest -> max lang) — so invert: sort_array
    # of structs (score desc via negation, lang asc) and take element 0.
    arr = F.sort_array(
        F.array(*[
            F.struct((-s["score"]).alias("neg"), s["lang"].alias("lang"))
            for s in scores
        ])
    )
    return df.select("doc_id", arr[0]["lang"].alias("pred_lang"))


def quality_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer quality signals per doc (exact, oracle-checkable):
    chars, words, alnum tokens, stopwords, long words (>6 chars)."""
    arr = F.split(F.col(text_col), " ")
    return df.select(
        "doc_id",
        F.length(text_col).alias("n_chars"),
        F.size(arr).alias("n_words"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), F.lit(0))
               ).alias("n_alnum_tokens"),
        F.size(F.filter(arr, lambda w: w.isin(*STOPWORDS))).alias("n_stopwords"),
        F.size(F.filter(arr, lambda w: F.length(w) > 6)).alias("n_long_words"),
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-alnum glyphs —
# the usual GPT-2-style split shape, restricted to ASCII classes so Java
# regex and RE2 (DuckDB) agree exactly. Alternatives cover disjoint character
# classes, so leftmost-first vs leftmost-longest cannot diverge.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_bpe_tokens, n_distinct_bpe, ttr_bp): BPE-ish token count,
    distinct-token count, and type-token ratio in basis points (integer math
    end-to-end, so exactly oracle-checkable) — the lexical-diversity quality
    signal of a training-data pipeline."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), F.lit(0))
    return (
        df.select(
            "doc_id",
            F.size(toks).alias("n_bpe_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
        )
        .withColumn("ttr_bp", F.expr(
            "CAST((n_distinct_bpe * 10000) div greatest(n_bpe_tokens, 1) AS INT)"
        ))
    )


def doc_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content hash fingerprint (md5 hex — identical in Spark and DuckDB)."""
    return df.select("doc_id", F.md5(F.col(text_col)).alias("fingerprint"))


def fp_coefficients(window: int) -> list[int]:
    """Karp–Rabin coefficients: coefficient of the byte at window offset i is
    base^(window-1-i) mod p, so hash = sum(byte[i] * coeff[i]) mod p."""
    pw = [1] * window
    for i in range(1, window):
        pw[i] = (pw[i - 1] * _FP_BASE) % _FP_MOD
    return pw[::-1]


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        window: int = 16, w: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting"): Karp–Rabin
    hash of every ``window``-byte substring, then keep the MINIMUM hash of
    every ``w``-consecutive-hash window (distinct per doc). Guarantee: any
    shared substring of length >= window + w - 1 yields a shared
    fingerprint, and the density is ~2/(w+1) — the local, position-robust
    near-dup primitive (``rolling_fingerprints`` keeps the k globally
    smallest instead; winnowing spreads coverage across the whole doc).

    Output: (doc_id, fingerprint) distinct scalar rows; the identical
    polynomial + window-min is reproducible in SQL (see the catalog oracle).
    Docs shorter than window + w - 1 bytes emit no rows.

    Batch-vectorized end-to-end (no per-doc Python loop): one flat
    Karp–Rabin pass over the batch's Arrow string buffers
    (``_windows.byte_kr``), one global sliding-min whose cross-doc windows
    are masked out, one ``distinct_runs`` sort for the per-doc distinct —
    O(batch) numpy ops regardless of doc count."""

    def _win(batches):
        for b in batches:
            ids = row_ids(b)
            acc, doc = byte_kr(b.column(1), window)
            if acc.size < w:
                continue
            mins = np.lib.stride_tricks.sliding_window_view(acc, w).min(axis=1)
            # hashes are stored per doc contiguously in position order, so a
            # min-window is inside one doc iff its first and last hash agree
            ok = doc[:mins.size] == doc[w - 1:]
            mins, starts, rows = distinct_runs(mins[ok], doc[:mins.size][ok])
            if mins.size == 0:
                continue
            counts = np.diff(np.r_[starts, mins.size])
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[np.repeat(rows, counts)]), pa.array(mins)],
                names=["doc_id", "fingerprint"],
            )

    return df.select("doc_id", text_col).mapInArrow(
        _win, "doc_id long, fingerprint long"
    )


def rolling_fingerprints(df: DataFrame, text_col: str = "text",
                         window: int = 16, keep: int = 8) -> DataFrame:
    """Karp–Rabin rolling-hash document fingerprints (winnowing-lite): hash
    every ``window``-byte window of the text mod 2^31-1, keep the ``keep``
    smallest distinct window hashes as the doc signature. Shared windows =>
    shared signature entries, the standard near-dup fingerprint primitive.

    Output is exploded scalar rows (doc_id, fp_rank, fingerprint) with
    fp_rank the 1-based rank of the fingerprint among the doc's kept set
    (ascending) — scalar-typed so the result is exactly comparable (and
    oracle-checkable via the same polynomial recomputed in SQL; see
    plans/pipeline_catalog.py). Docs shorter than ``window`` emit no rows.

    Batch-vectorized end-to-end: one flat Karp–Rabin pass over the batch's
    Arrow string buffers, one ``distinct_runs`` for per-doc distinct+sort,
    ranks from run offsets — O(batch) numpy ops regardless of doc count."""

    def _fp(batches):
        for b in batches:
            ids = row_ids(b)
            a, starts, rows = distinct_runs(*byte_kr(b.column(1), window))
            if a.size == 0:
                continue
            counts = np.diff(np.r_[starts, a.size])
            rank = np.arange(a.size, dtype=np.int64) - np.repeat(starts, counts)
            sel = rank < keep
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[np.repeat(rows, counts)[sel]]),
                 pa.array((rank[sel] + 1).astype(np.int32)),
                 pa.array(a[sel])],
                names=["doc_id", "fp_rank", "fingerprint"],
            )

    return df.select("doc_id", text_col).mapInArrow(
        _fp, "doc_id long, fp_rank int, fingerprint long"
    )


# ------------------------------------------------------- token repetition
def token_bigram_codes(tokens_col: str = "tokens") -> Column:
    """array<long> of in-doc token-bigram codes ``a*2^32 + b`` (exact in
    int64 for int32 ids). zip_with against the 1-shifted slice pads the tail
    with ONE null per doc — callers filter it — so no pair crosses a
    document boundary. The JVM twin of the packed shingles the token-MinHash
    pass computes in numpy: both use the same coding so their outputs can be
    joined/compared directly."""
    return F.zip_with(
        tokens_col,
        F.slice(tokens_col, 2,
                F.greatest(F.size(tokens_col) - 1, F.lit(0))),
        lambda a, b: a.cast("long") * F.lit(4294967296) + b.cast("long"),
    )


def token_repetition_stats(df: DataFrame,
                           tokens_col: str = "tokens") -> DataFrame:
    """(doc_id, n_bigrams, n_distinct, dup_frac): within-document repetition
    — the fraction of token bigrams that are repeats of an earlier bigram in
    the same document (the Gopher-style "repeated n-gram" quality signal; a
    looping generation or boilerplate-heavy page scores high). Documents
    with fewer than 2 tokens are dropped (no bigram exists).

    Pure codegen expressions — per-document array ops, no shuffle at all and
    no Python: the scan streams through whole-stage codegen, so this is
    embarrassingly parallel at any corpus size."""
    codes = F.filter(token_bigram_codes(tokens_col), lambda x: x.isNotNull())
    return (
        df.select(
            "doc_id",
            F.size(codes).alias("n_bigrams"),
            F.size(F.array_distinct(codes)).alias("n_distinct"),
        )
        .filter(F.col("n_bigrams") > 0)
        .withColumn(
            "dup_frac",  # int/int in ONE division -> bit-identical cross-engine
            (F.col("n_bigrams") - F.col("n_distinct")) / F.col("n_bigrams"))
    )


def segment_repetition_stats(df: DataFrame, width: int = 5,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """(id, n_segments, n_dup_segments, chars_total, chars_dup,
    dup_seg_frac, dup_char_frac): within-document duplicate-SEGMENT panel —
    the "fraction of duplicate paragraphs/lines" and "fraction of characters
    in duplicate paragraphs/lines" repetition quality signals of
    MassiveText-style curation (Rae et al. 2021 §A1.1), the structural
    complement of the n-gram signal ``token_repetition_stats`` computes.
    Segments are fixed ``width``-word chunks — the paragraph proxy
    ``chunk_dedup`` uses for corpora without structural separators; split on
    the real separator upstream when one exists. A segment is a duplicate
    iff its exact content occurs >= 2 times in the SAME document, and every
    occurrence counts (both copies of a repeated paragraph are "duplicate
    characters", matching the published filter's character-fraction form).
    No reference analogue (the reference has no corpus ops;
    tests/tests_utils.hpp:13-20 generates items in RAM).

    Exactness: counts are integers; each fraction is ONE int/int double
    division, bit-identical cross-engine. ``dup_char_frac`` is NULL when the
    document has no characters (try_divide).

    Scale shape: pure whole-stage-codegen array expressions — segments,
    sort, neighbor-equality dup mask, and length folds all happen inside the
    row, so the scan is embarrassingly parallel with ZERO exchanges at any
    corpus size (asserted by the plan test). NULL/short docs yield
    n_segments NULL/0 and are dropped by the final filter, mirroring
    ``token_repetition_stats``."""
    if width < 1:
        raise ValueError("width must be >= 1")
    # Higher-order functions evaluate INTERPRETED, with no common-
    # subexpression elimination: a lambda body that references a non-trivial
    # outer EXPRESSION re-evaluates it per element (measured quadratic —
    # 210s for 50 docs x 4k words). Staging each array as a named column
    # keeps lambda references O(1) attribute lookups: CollapseProject
    # refuses to inline a non-cheap expression referenced more than once,
    # so the stages survive optimization (0.98s on the same input). Dup
    # counting itself is ONE linear fold over the sorted segments tracking
    # the current value's run length — per-element neighbor compares (e.g.
    # F.get(s, i-1)) would hit the same per-element re-evaluation trap.
    ws = F.col("_ws")
    nseg = F.ceil(F.size(ws) / F.lit(float(width))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda g: F.array_join(
            F.slice(ws, g.cast("int") * width + 1, width), " "),
    )
    init = F.struct(
        F.lit(None).cast("string").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("ndup"), F.lit(0).alias("cdup"))

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(1)
        # the run's 2nd occurrence retroactively counts the 1st as well
        add = F.when(run == 2, 2).when(run > 2, 1).otherwise(0)
        return F.struct(
            x.alias("prev"), run.alias("run"),
            (acc["ndup"] + add).alias("ndup"),
            (acc["cdup"] + add * F.length(x)).alias("cdup"))

    dup = F.aggregate(
        F.array_sort(F.col("_segs")), init, _step,
        lambda a: F.struct(a["ndup"].alias("ndup"), a["cdup"].alias("cdup")))
    # NULL text is excluded UP FRONT (n_segments >= 1 for any non-null text,
    # so this is the same predicate) — a trailing filter on n_segments gets
    # pushed below the staged projections with the aliases substituted back
    # in, resurrecting exactly the per-element re-evaluation this staging
    # avoids (measured 20x at 16k-word docs).
    out = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("_ws", F.split(F.col(text_col), " "))
        .withColumn("_segs", segs)
        .withColumn("_dup", dup)
        .select(
            id_col,
            F.size("_segs").alias("n_segments"),
            F.col("_dup")["ndup"].alias("n_dup_segments"),
            F.aggregate("_segs", F.lit(0),
                        lambda acc, x: acc + F.length(x)).alias("chars_total"),
            F.col("_dup")["cdup"].alias("chars_dup"))
    )
    return (
        out.withColumn(
            "dup_seg_frac",  # ONE int/int division -> bit-exact cross-engine
            F.col("n_dup_segments") / F.col("n_segments"))
        .withColumn("dup_char_frac",
                    F.try_divide(F.col("chars_dup"), F.col("chars_total")))
    )


def tfidf_top_terms(tok_exploded: DataFrame, top: int = 5) -> DataFrame:
    """(doc_id, token_id, rank): each document's ``top`` tokens by tf-idf —
    the classic characteristic-term scoring over a (doc_id, token_id)
    occurrence table (one row per token occurrence, e.g.
    ``sources.tables.tokens_exploded``).

    score = tf * ln(N / df); ties break by token_id ascending, so ranks are
    fully deterministic. ln and the double multiply are bit-identical across
    engines on identical integer inputs (same libm), so the ranking is
    exactly oracle-checkable.

    Scale shape: tf is one groupBy over (doc, token) — the only corpus-sized
    shuffle; the document-frequency table is vocabulary-sized, aggregated
    once and broadcast back, so the big side is never re-shuffled for the
    join; the final window partitions per doc."""
    n_docs = tok_exploded.select("doc_id").distinct().count()
    tf = (tok_exploded.groupBy("doc_id", "token_id")
          .agg(F.count("*").alias("tf")))
    dfreq = (tok_exploded.select("doc_id", "token_id").distinct()
             .groupBy("token_id").agg(F.count("*").alias("df")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("token_id"))
    return (
        tf.join(F.broadcast(dfreq), "token_id")
        .withColumn("score",
                    F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select("doc_id", "token_id", "rank")
    )


def bm25_rank(tok_exploded: DataFrame, query_tokens: list, k1: float = 1.2,
              b: float = 0.75, top: int = 20) -> DataFrame:
    """(doc_id, rank): documents ranked by BM25 (Robertson–Spärck Jones)
    for a fixed token-set query over a (doc_id, token_id) occurrence table
    — corpus search for data curation (find the documents most about X).

      idf_t = ln((N - df_t + 0.5)/(df_t + 0.5) + 1)          (BM25+ idf)
      score = sum_t idf_t * tf*(k1+1) / (tf + k1*(1-b + b*dl*N/sdl))

    Exactness: every float op is a fixed expression tree evaluated
    identically by Spark and DuckDB (dl/avgdl is computed as the single
    division (dl*N)/sdl of exact integers), and the per-token components
    are pivoted into SEPARATE columns then added in a fixed left-to-right
    order — never a float SUM aggregate, whose ordering differs between
    engines. Ranks are therefore exactly oracle-checkable; ties break by
    doc_id ascending.

    Scale shape: corpus scalars (N, sdl) are one aggregate; the tf table
    only holds (candidate doc, query token) rows because the IN-filter is
    pushed to the scan; document lengths are computed only for candidate
    docs via a semi-join. Everything after the two restricted aggregations
    is candidate-sized."""
    q = sorted(int(t) for t in query_tokens)
    n_docs, sdl = tok_exploded.agg(
        F.countDistinct("doc_id"), F.count("*")).collect()[0]
    if sdl == 0:  # empty corpus: lit(sdl)=0 would constant-fold into an
        # ANSI divide-by-zero at plan time even though no row evaluates it
        id_type = dict(tok_exploded.dtypes)["doc_id"]
        return tok_exploded.sparkSession.createDataFrame(
            [], f"doc_id {id_type}, rank int")
    qtok = tok_exploded.filter(F.col("token_id").isin(q))
    tf = qtok.groupBy("doc_id", "token_id").agg(F.count("*").alias("tf"))
    dfreq = (tf.groupBy("token_id").agg(F.count("*").alias("df"))
             .withColumn("idf", F.log(
                 (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                 / (F.col("df") + F.lit(0.5)) + F.lit(1.0))))
    cand = tf.select("doc_id").distinct()
    dl = (tok_exploded.join(cand, "doc_id", "left_semi")
          .groupBy("doc_id").agg(F.count("*").alias("dl")))
    part = (
        F.col("idf") * (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1)
           * (F.lit(1.0 - b)
              + F.lit(b) * ((F.col("dl") * F.lit(n_docs)) / F.lit(sdl))))
    )
    parts = (tf.join(F.broadcast(dfreq), "token_id").join(dl, "doc_id")
             .withColumn("part", part))
    score = None
    pivoted = parts.groupBy("doc_id").agg(*[
        F.max(F.when(F.col("token_id") == t, F.col("part")))
         .alias(f"_p{i}") for i, t in enumerate(q)
    ])
    for i in range(len(q)):
        c = F.coalesce(F.col(f"_p{i}"), F.lit(0.0))
        score = c if score is None else score + c
    # fixed top: orderBy().limit(top) compiles to TakeOrderedAndProject
    # (per-partition top-k + tiny driver merge). A global Window.orderBy
    # here would move EVERY candidate row to one task — for a query with
    # one common token, candidates ~ corpus. The rank window then runs
    # over exactly `top` survivors; (score desc, doc_id asc) is a total
    # order, so limit(top) == rank<=top exactly.
    order = [F.desc("score"), F.asc("doc_id")]
    topk = pivoted.withColumn("score", score).orderBy(*order).limit(top)
    w = Window.orderBy(*order)
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("doc_id", F.col("rank").cast("int").alias("rank"))
    )


def source_token_divergence(tok_exploded: DataFrame,
                            source_col: str = "source",
                            token_col: str = "token_id") -> DataFrame:
    """(source, token_id, n_st, n_s, n_t, n, term): per-token contribution
    to KL(source || corpus) over the token occurrence table — the mixture-
    curation diagnostic (which tokens make a source's distribution diverge
    from the corpus; sum(term) per source = its KL in nats; large single
    terms = the tokens responsible).

    term = (n_st/n_s) * ln((n_st*n) / (n_s*n_t)) — every input is an exact
    relational count and the term is ONE fixed-shape float tree over them,
    so rows are bit-identical cross-engine (the tfidf/pmi gate rule). The
    KL *sum* is deliberately left to the caller (a float sum's value
    depends on summation order); per-term rows are the exact, auditable
    form. Three grouped counts + one broadcast scalar — no vocab-sized
    state anywhere. n_st*n must fit int64 (fine below ~3e9 tokens per
    count; beyond that pre-divide)."""
    st = tok_exploded.groupBy(source_col, token_col).agg(
        F.count("*").alias("n_st"))
    s = tok_exploded.groupBy(source_col).agg(F.count("*").alias("n_s"))
    t = tok_exploded.groupBy(token_col).agg(F.count("*").alias("n_t"))
    tot = tok_exploded.agg(F.count("*").alias("n"))
    term = (F.col("n_st") / F.col("n_s")) * F.log(
        (F.col("n_st") * F.col("n")) / (F.col("n_s") * F.col("n_t")))
    return (
        st.join(s, source_col).join(t, token_col)
        .crossJoin(F.broadcast(tot))
        .withColumn("term", term)
        .select(source_col, token_col, "n_st", "n_s", "n_t", "n", "term")
    )


def quality_filter_panel(docs: DataFrame, token_df: DataFrame,
                         text_col: str = "text",
                         tokens_col: str = "tokens",
                         id_col: str = "doc_id",
                         min_words: int = 20, max_words: int = 100_000,
                         min_wordlen: int = 3, max_wordlen: int = 10,
                         min_stopwords: int = 2,
                         alnum_ratio_pct: int = 80,
                         max_dup_pct: int = 20) -> DataFrame:
    """Gopher-style composite keep/drop panel (Rae et al. 2021, Table A1
    adapted to this corpus): one boolean per rule plus the conjunction, so
    a curator sees WHY each doc dropped. Every rule is an INTEGER
    comparison over exact counts (thresholds cross-multiplied — e.g. mean
    word length in [3,10] becomes 3*n_words <= word_chars <=
    10*n_words) so the output is bit-exactly reproducible on any engine.

    Rules: word count in [min_words, max_words]; mean word length in
    [min_wordlen, max_wordlen]; >= min_stopwords stopwords; alnum-token to
    word ratio >= alnum_ratio_pct%; repeated-bigram fraction <=
    max_dup_pct% (docs with no bigram pass vacuously). Pure codegen counts
    + one equi-join against the repetition stats — no Python, one
    shuffle."""
    q = quality_counts(docs, text_col)
    rep = token_repetition_stats(token_df, tokens_col).select(
        F.col(id_col), "n_bigrams", "n_distinct")
    wc = F.col("n_chars") - (F.col("n_words") - 1)
    dup = F.col("n_bigrams") - F.col("n_distinct")
    out = (
        q.join(rep, id_col, "left")
        .select(
            id_col,
            F.col("n_words").between(min_words, max_words).alias("r_wordcount"),
            ((F.lit(min_wordlen) * F.col("n_words") <= wc)
             & (wc <= F.lit(max_wordlen) * F.col("n_words"))).alias("r_wordlen"),
            (F.col("n_stopwords") >= min_stopwords).alias("r_stopwords"),
            (F.lit(100) * F.col("n_alnum_tokens")
             >= F.lit(alnum_ratio_pct) * F.col("n_words")).alias("r_alnum"),
            F.coalesce(F.lit(100) * dup <= F.lit(max_dup_pct) * F.col("n_bigrams"),
                       F.lit(True)).alias("r_repetition"),
        )
    )
    keep = (F.col("r_wordcount") & F.col("r_wordlen") & F.col("r_stopwords")
            & F.col("r_alnum") & F.col("r_repetition"))
    return out.withColumn("keep", keep)


def bigram_lm_scores(tok_exploded: DataFrame,
                     doc_col: str = "doc_id", pos_col: str = "pos",
                     token_col: str = "token_id") -> DataFrame:
    """(doc_id, pos, logp): add-one-smoothed bigram language-model log
    probability ln((C(prev,cur)+1) / (C(prev)+V)) for every token at
    pos >= 2 — the perplexity-filtering primitive (CCNet-style: score a
    doc by the mean of its token log-probs; gibberish and boilerplate
    score far from the corpus LM). The model IS the corpus (self-scoring);
    to score against a held-out LM, compute the count tables on the
    reference corpus and join them here instead.

    Every input to the formula is an exact relational count and the logp
    is ONE fixed-shape float tree, so rows are bit-identical cross-engine
    (the tfidf/pmi rule); doc-level aggregation (mean logp / perplexity)
    is left to callers because float-sum order is engine-specific.

    Plan: one per-doc lag window to form (prev, cur) pairs, then two
    joins against the (vocab^2- and vocab-sized, broadcast) count tables —
    the corpus shuffles once on the doc key, counts ride as broadcasts."""
    from pyspark.sql import Window

    w = Window.partitionBy(doc_col).orderBy(pos_col)
    pairs = (
        tok_exploded.select(doc_col, pos_col, F.col(token_col).alias("_cur"))
        .withColumn("_prev", F.lag("_cur").over(w))
        .filter(F.col("_prev").isNotNull())
    )
    big = pairs.groupBy("_prev", "_cur").agg(F.count("*").alias("_cab"))
    uni = (tok_exploded.groupBy(F.col(token_col).alias("_prev"))
           .agg(F.count("*").alias("_ca")))
    vocab = tok_exploded.select(token_col).distinct().count()
    logp = F.log((F.col("_cab") + 1) / (F.col("_ca") + F.lit(vocab)))
    return (
        pairs.join(F.broadcast(big), ["_prev", "_cur"])
        .join(F.broadcast(uni), "_prev")
        .select(doc_col, pos_col, logp.alias("logp"))
    )


def doc_lm_perplexity(tok_exploded: DataFrame,
                      doc_col: str = "doc_id", pos_col: str = "pos",
                      token_col: str = "token_id") -> DataFrame:
    """(doc_id, n_scored, sum_logp, mean_logp, ppl): document-level
    bigram-LM score — the CCNet-style perplexity filter signal, now
    ENGINE-EXACT instead of left to callers.

    Float sums are summation-order-dependent, so a plain SUM(logp) can
    never hash-match across engines. The fix is a FIXED-SHAPE fold: per
    doc, collect (pos, logp) structs, sort by position, and reduce with a
    strict LEFT fold (``F.aggregate`` with 0.0 init — adding 0.0 to the
    first element is an exact identity since logp < 0, never -0.0/NaN).
    Any engine folding the same doubles in the same order produces
    bit-identical sums (IEEE addition is exactly rounded), and
    mean = sum/n is one further exact-given-operands division. The oracle
    twin is DuckDB's ``list_reduce(list(logp ORDER BY pos), +)``.
    ppl = exp(-mean_logp) is provided for callers but is NOT part of the
    bit-exact contract (libm exp may differ across engines).

    Docs with fewer than 2 tokens have no scored positions and are absent
    (score them as keep/drop by length rules instead). Scale shape: the
    per-position scores are one doc-key shuffle + broadcasts
    (``bigram_lm_scores``); this adds ONE groupBy on the same doc key —
    at 100x the fold stays per-doc-sized (docs are bounded), never
    corpus-sized."""
    scores = bigram_lm_scores(tok_exploded, doc_col, pos_col, token_col)
    folded = scores.groupBy(doc_col).agg(
        F.count("*").alias("n_scored"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct(pos_col, "logp"))),
            F.lit(0.0), lambda acc, x: acc + x["logp"]).alias("sum_logp"))
    return (folded
            .withColumn("mean_logp", F.col("sum_logp") / F.col("n_scored"))
            .withColumn("ppl", F.exp(-F.col("mean_logp"))))
