"""Training-data pipeline ops: text analysis, dedup, similarity, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pimbloomfilters_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    df.count()
    return df


# ------------------------------------------------------------------ text
def test_lang_id_deterministic(spark, docs):
    a = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    b = {r["doc_id"]: r["pred_lang"] for r in text.lang_id(docs).collect()}
    assert a == b and len(a) == docs.count()
    assert set(a.values()) <= set(text.LANG_PROFILES) | {None}


def test_quality_counts_invariants(spark, docs):
    q = text.quality_counts(docs)
    row = q.join(docs, "doc_id").first()
    assert row["n_chars"] == len(row["text"])
    assert row["n_words"] == len(row["text"].split(" "))
    bad = q.filter(
        (F.col("n_stopwords") > F.col("n_words"))
        | (F.col("n_alnum_tokens") < 0)
    ).count()
    assert bad == 0


def test_doc_md5_matches_python(spark, docs):
    import hashlib

    row = text.doc_md5(docs).join(docs, "doc_id").first()
    assert row["fingerprint"] == hashlib.md5(row["text"].encode()).hexdigest()


def test_rolling_fingerprints_shared_windows(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")],
        "doc_id long, text string",
    )
    fps: dict[int, set] = {}
    ranks: dict[int, list] = {}
    for r in text.rolling_fingerprints(df).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        ranks.setdefault(r["doc_id"], []).append(r["fp_rank"])
    assert fps[1] & fps[2], "near-identical docs must share window hashes"
    assert not (fps[1] & fps[3])
    assert sorted(ranks[1]) == list(range(1, len(fps[1]) + 1))
    assert all(0 <= fp < (1 << 31) - 1 for fp in fps[1])


# ------------------------------------------------------------------ dedup
def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")],
        "doc_id long, text string",
    )
    kept = {r["doc_id"]: r["group_size"] for r in dedup.dedup_exact(df).collect()}
    assert kept == {1: 3, 2: 1}


def test_ngram_jaccard_exact_pairs(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghiX"), (3, "qrstuvwxyz")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}
    # grams(10-char text, n=3) = 8 each; shared = 7 -> j = 7/9
    assert abs(pairs[0]["jaccard"] - 7 / 9) < 1e-9


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(1, base), (2, base[:-6] + "zebra "), (3, "completely different words here " * 5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.minhash_near_dup_pairs(df, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {(1, 2)}
    exact = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in exact} == {(1, 2)}


def test_minhash_recall_on_corpus(spark, docs):
    """On the real corpus: LSH-verified pairs == exact pairs (recall 1 at
    this threshold/banding) — the property the oracle gate relies on."""
    t = 0.7
    exact = {(r["doc_a"], r["doc_b"])
             for r in dedup.ngram_jaccard_pairs(docs, threshold=t).collect()}
    lsh = {(r["doc_a"], r["doc_b"])
           for r in dedup.minhash_near_dup_pairs(docs, threshold=t).collect()}
    assert lsh == exact and exact, (len(lsh), len(exact))


def test_simhash_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(1, base), (2, base + "tail"), (3, "unrelated content entirely " * 9)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(df).collect()}
    h12 = bin(sigs[1] ^ sigs[2]).count("1")
    h13 = bin(sigs[1] ^ sigs[3]).count("1")
    assert h12 < h13
    pairs = dedup.simhash_near_dup_pairs(df, max_hamming=8).collect()
    assert (1, 2) in {(r["doc_a"], r["doc_b"]) for r in pairs}


# ------------------------------------------------------------------ similarity
def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.cosine_topk_bruteforce(emb, queries, k=3).collect()
    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for q in range(5):
        qi = np.where(ids == q)[0][0]
        sims = m @ m[qi]
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))
        expect = ids[order[:3]].tolist()
        ours = [n for _, n in sorted(by_q[q])]
        assert ours == expect, (q, ours, expect)


def test_ann_lsh_recall_on_planted_neighbors(spark, emb):
    """The testdata embeddings are near-orthogonal random vectors (top-5
    neighbor cosine ~0.32), where sub-linear ANN recall is information-
    theoretically poor for ANY method — so the meaningful test plants true
    near-duplicates (cos ~0.98) and checks LSH retrieves their source."""
    rows = emb.select("vec_id", "embedding").limit(20).collect()
    rng = np.random.default_rng(3)
    planted = [
        (int(r["vec_id"]) + 100_000,
         (np.array(r["embedding"]) + rng.normal(0, 0.05, 64) * np.abs(
             np.array(r["embedding"])).mean()).astype(float).tolist())
        for r in rows
    ]
    queries = spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    exact = similarity.cosine_topk_bruteforce(emb, queries, k=1).collect()
    assert all(r["neighbor_id"] == r["query_id"] - 100_000 for r in exact)
    approx = similarity.ann_lsh_topk(emb, queries, k=5, bits=6).collect()
    found = {
        r["query_id"] for r in approx
        if r["neighbor_id"] == r["query_id"] - 100_000
    }
    assert len(found) >= 14, f"planted-neighbor recall {len(found)}/20"


def test_embedding_near_dup_pairs(spark, emb):
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.95).collect()
    for r in pairs[:20]:
        assert r["id_a"] < r["id_b"]
        assert r["cos"] >= 0.95


def test_cosine_pairs_blocked_equals_bruteforce(spark, emb):
    """The distributed block-pair GEMM (no driver collect) must produce
    exactly the brute-force pair set — the property the oracle gate relies
    on. Threshold low enough that real pairs exist on this corpus."""
    got = {(r["id_a"], r["id_b"])
           for r in similarity.cosine_pairs_blocked(
               emb, threshold=0.4, n_blocks=5).collect()}
    exact = {(r["id_a"], r["id_b"])
             for r in similarity.cosine_pairs_bruteforce(
                 emb, threshold=0.4).collect()}
    assert got == exact and exact, (len(got), len(exact))


def test_embedding_near_dup_lsh_recall(spark, emb):
    """High-threshold LSH near-dup: plant 20 near-duplicates (cos ~0.99) and
    require the bucketed path to recover most planted pairs, with every
    emitted pair exact-verified above threshold."""
    rows = emb.select("vec_id", "embedding").limit(20).collect()
    rng = np.random.default_rng(11)
    planted = [
        (int(r["vec_id"]) + 100_000,
         (np.array(r["embedding"], dtype=np.float64)
          + rng.normal(0, 0.03, 64) * np.abs(
              np.array(r["embedding"])).mean()).astype(float).tolist(),
         "planted")
        for r in rows
    ]
    extra = spark.createDataFrame(
        planted, "vec_id long, embedding array<float>, label string")
    union = emb.select("vec_id", "embedding", "label").unionAll(extra)
    pairs = dedup.embedding_near_dup_lsh(union, threshold=0.9).collect()
    assert all(r["cos"] >= 0.9 for r in pairs)
    found = {r["id_a"] for r in pairs if r["id_b"] == r["id_a"] + 100_000}
    assert len(found) >= 15, f"planted near-dup recall {len(found)}/20"


# ------------------------------------------------------------------ multimodal
def test_multimodal_pipeline(spark):
    mm = multimodal.synth_multimodal(spark, 60, num_partitions=4).cache()
    assert mm.count() == 60
    dec = multimodal.decode_image(mm)
    row = dec.first()
    assert 0 <= row["px_mean"] <= 255
    vids = dec.filter(F.col("modality") == "video")
    assert vids.filter(F.col("decoded_frames") < 2).count() == 0


def test_netpbm_roundtrip_and_spec_quirks():
    rng = np.random.default_rng(5)
    rgb = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    assert (multimodal.decode_netpbm(multimodal.encode_netpbm(rgb)) == rgb).all()
    gray = rng.integers(0, 256, (5, 6), dtype=np.uint8)
    out = multimodal.decode_netpbm(multimodal.encode_netpbm(gray))
    assert out.shape == (5, 6, 1) and (out[:, :, 0] == gray).all()
    # spec quirks a third-party encoder may emit: comments + whitespace runs
    quirky = b"P6\n# made by gimp\n 7\t9 \n# another\n255\n" + rgb.tobytes()
    assert (multimodal.decode_netpbm(quirky) == rgb).all()
    with pytest.raises(ValueError):
        multimodal.decode_netpbm(b"JFIF....")


def test_netpbm_spark_decode(spark):
    mm = multimodal.synth_netpbm_images(spark, 40, num_partitions=4).cache()
    assert mm.count() == 40
    # every payload is genuine P6
    first = mm.first()
    assert bytes(first["data"])[:2] == b"P6"
    dec = multimodal.decode_image(mm, codec="ppm")
    rows = dec.collect()
    assert all(r["decoded_frames"] == 1 for r in rows)
    assert all(0 <= r["px_mean"] <= 255 for r in rows)


def test_multimodal_real_codec_is_stubbed(spark):
    mm = multimodal.synth_multimodal(spark, 4)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(mm, codec="real")


def test_token_stats_invariants(spark, docs):
    ts = text.token_stats(docs)
    bad = ts.filter(
        (F.col("n_distinct_bpe") > F.col("n_bpe_tokens"))
        | (F.col("ttr_bp") < 0) | (F.col("ttr_bp") > 10000)
    ).count()
    assert bad == 0
    row = ts.join(docs, "doc_id").first()
    import re
    toks = re.findall(text.BPE_RE, row["text"])
    assert row["n_bpe_tokens"] == len(toks)
    assert row["n_distinct_bpe"] == len(set(toks))


def test_weighted_sample_biases_toward_weight(spark):
    """Heavier rows must be sampled more often: weight 100 vs 1 on half the
    keys -> the heavy half should dominate a k=100 sample of 2000 rows."""
    from pimbloomfilters_spark.operators.sampling import weighted_sample

    df = spark.range(0, 2000).withColumn(
        "w", F.when(F.col("id") < 1000, F.lit(100)).otherwise(F.lit(1))
    )
    got = weighted_sample(df, 100, "id", "w").collect()
    heavy = sum(1 for r in got if r["id"] < 1000)
    assert len(got) == 100
    assert heavy >= 90, f"only {heavy}/100 from the weight-100 half"
    # determinism
    again = weighted_sample(df, 100, "id", "w").collect()
    assert [r["id"] for r in got] == [r["id"] for r in again]


def test_hash_split_reference_and_stability(spark):
    """hash_split must equal a driver-side md5 recompute row-for-row, hit
    the requested fractions to within sampling noise, and never move a
    row when the corpus grows (row-stability — the property randomSplit
    lacks)."""
    import hashlib

    from pimbloomfilters_spark.operators.sampling import hash_split

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}

    def ref(key):
        u = int(hashlib.md5(f"{key}s1".encode()).hexdigest()[:13], 16) / (1 << 52)
        return "train" if u < 0.8 else ("val" if u < 0.8 + 0.1 else "test")

    df = spark.range(0, 3000).repartition(7)
    got = {r["id"]: r["split"]
           for r in hash_split(df, fr, "id", salt="s1").collect()}
    assert got == {i: ref(i) for i in range(3000)}
    from collections import Counter
    c = Counter(got.values())
    assert 2280 <= c["train"] <= 2520 and 230 <= c["val"] <= 370
    # growing the corpus never reassigns an existing row
    grown = {r["id"]: r["split"] for r in
             hash_split(spark.range(0, 5000), fr, "id", salt="s1").collect()}
    assert all(grown[i] == got[i] for i in range(3000))
    # a different salt is a fresh independent split
    other = {r["id"]: r["split"] for r in
             hash_split(df, fr, "id", salt="s2").collect()}
    assert any(other[i] != got[i] for i in range(3000))
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, {"a": 0.5, "b": 0.4}, "id")
    with pytest.raises(ValueError, match="> 0"):
        hash_split(df, {"a": 1.2, "b": -0.2}, "id")


def test_epoch_shuffle_reference_and_balance(spark):
    """epoch_shuffle must equal a driver-side md5-sort recompute exactly
    (positions unique + dense), balance shards to ±1, be invariant to input
    partitioning, and re-shuffle under a different seed."""
    import hashlib

    from pimbloomfilters_spark.operators.sampling import epoch_shuffle

    n, shards = 3000, 7
    df = spark.range(0, n).repartition(11)
    got = {r["id"]: (r["shard"], r["pos"], r["pos_in_shard"])
           for r in epoch_shuffle(df, "id", seed=3, n_shards=shards).collect()}
    order = sorted(range(n),
                   key=lambda i: (hashlib.md5(f"3|{i}".encode()).hexdigest(), i))
    ref = {key: (p % shards, p, p // shards) for p, key in enumerate(order)}
    assert got == ref
    from collections import Counter
    c = Counter(s for s, _, _ in got.values())
    assert max(c.values()) - min(c.values()) <= 1 and len(c) == shards
    # partitioning-invariant (the bucket function is a pure row function)
    again = {r["id"]: (r["shard"], r["pos"], r["pos_in_shard"])
             for r in epoch_shuffle(spark.range(0, n).repartition(2), "id",
                                    seed=3, n_shards=shards).collect()}
    assert again == got
    # a different seed is a genuinely different order
    other = {r["id"]: r["pos"]
             for r in epoch_shuffle(df, "id", seed=4, n_shards=shards).collect()}
    assert any(other[i] != got[i][1] for i in range(n))
    with pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(df, "id", n_shards=0)
    # positions are bucket-count-INVARIANT (pos = global (hash, key) rank;
    # buckets only set window parallelism) — the round-6 verdict #2 dial
    for nb in (16, 256, 65536):
        alt = {r["id"]: (r["shard"], r["pos"], r["pos_in_shard"])
               for r in epoch_shuffle(df, "id", seed=3, n_shards=shards,
                                      n_buckets=nb).collect()}
        assert alt == got, nb
    with pytest.raises(ValueError, match="n_buckets"):
        epoch_shuffle(df, "id", n_buckets=1000)


def test_semantic_dedup_planted_and_policy(spark, emb):
    """SemDeDup: planted exact duplicates must be dropped (keep-first —
    the smaller id survives), a cross-cluster near-dup pair must NOT be
    affected (candidates are within-cluster only), and an impossible
    threshold keeps everything."""
    base = emb.select("vec_id", "embedding")
    rows = base.filter(F.col("vec_id") < 5).collect()
    clones = spark.createDataFrame(
        [(int(r["vec_id"]) + 100_000, r["embedding"]) for r in rows],
        "vec_id long, embedding array<float>")
    union = base.unionAll(clones)
    out = dedup.semantic_dedup(union, threshold=0.95, n_clusters=8,
                               iters=0).collect()
    keep = {r["vec_id"]: r["keep"] for r in out}
    clus = {r["vec_id"]: r["cluster"] for r in out}
    for i in range(5):
        assert clus[i] == clus[i + 100_000]      # identical vector, same cell
        assert keep[i] and not keep[i + 100_000]  # keep-first
    # threshold above 1 keeps every vector
    allkeep = dedup.semantic_dedup(base, threshold=1.01, n_clusters=8,
                                   iters=0).collect()
    assert all(r["keep"] for r in allkeep)
    assert len(allkeep) == base.count()
    # Lloyd-refined quantizer (iters>0) still yields a full partition
    refined = dedup.semantic_dedup(base, threshold=0.95, n_clusters=4,
                                   iters=2).collect()
    assert len(refined) == base.count()
    assert {r["cluster"] for r in refined} <= set(range(4))


def test_redact_pii_masks_and_counts(spark):
    from pimbloomfilters_spark.functions.pii import pii_doc_flags, redact_pii

    rows = [
        (0, "mail bob.smith+x@corp.example.co and carol@ex.org today"),
        (1, "ssn 123-45-6789 then phone 555-123-4567"),
        (2, "server at 192.168.1.254 and 10.0.0.1"),
        (3, "clean text with no pii at all"),
        (4, None),
        (5, "edge 1234-567-8901 not a phone; 1.2.3.4.5 leading quad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert got[0]["n_email"] == 2
    assert got[0]["text"] == "mail <EMAIL> and <EMAIL> today"
    assert (got[1]["n_ssn"], got[1]["n_phone"]) == (1, 1)
    assert got[1]["text"] == "ssn <SSN> then phone <PHONE>"
    assert got[2]["n_ipv4"] == 2
    assert got[3]["text"] == rows[3][1]
    assert got[4]["text"] is None and got[4]["n_email"] is None
    # '1234-567-8901' has no word boundary before '234' -> not a phone;
    # '1.2.3.4.5': the first dotted quad matches, the tail '.5' survives
    assert got[5]["n_phone"] == 0
    assert "<IP>.5" in got[5]["text"]
    flags = {r["doc_id"]: r["has_pii"] for r in pii_doc_flags(df).collect()}
    assert flags == {0: True, 1: True, 2: True, 3: False, 4: None, 5: True}
    # staged semantics: an SSN masked by its own stage is invisible to
    # the phone stage even though '123-45-6789' never matches the phone
    # widths anyway — counts are computed on the running rewrite
    both = spark.createDataFrame(
        [(0, "a@b.co 123-45-6789")], "doc_id long, text string")
    r = redact_pii(both).collect()[0]
    assert (r["n_email"], r["n_ssn"], r["text"]) == (1, 1, "<EMAIL> <SSN>")


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing contract (Schleimer et al. 2003): any shared substring of
    length >= window + w - 1 (16 + 8 - 1 = 23 here) produces a shared
    fingerprint; disjoint alphabets share nothing."""
    shared = "this exact shared run of text is long enough!"  # 46 chars
    df = spark.createDataFrame(
        [(1, "prefix one " + shared + " tail a"),
         (2, "two " + shared + " other ending"),
         (3, "ZZZZYYYYXXXXWWWWVVVVUUUUTTTTSSSSRRRRQQQQ")],
        "doc_id long, text string",
    )
    fps: dict[int, set] = {}
    for r in text.winnow_fingerprints(df).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2], "shared >=23-char substring must share a fingerprint"
    assert not (fps[1] & fps[3])
    # density sanity: ~2/(w+1) of positions, never more than n_hashes
    n1 = len(df.filter("doc_id = 1").first()["text"]) - 15
    assert 0 < len(fps[1]) <= n1


def test_ivf_recall_on_planted_neighbors(spark, emb):
    """IVF coarse quantizer + nprobe search retrieves planted near-dup
    sources (same protocol as the LSH ANN test)."""
    rows = emb.select("vec_id", "embedding").limit(20).collect()
    rng = np.random.default_rng(9)
    planted = [
        (int(r["vec_id"]) + 100_000,
         (np.array(r["embedding"], dtype=np.float64)
          + rng.normal(0, 0.03, 64) * np.abs(
              np.array(r["embedding"])).mean()).astype(float).tolist())
        for r in rows
    ]
    queries = spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    got = similarity.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=3).collect()
    found = {r["query_id"] for r in got
             if r["neighbor_id"] == r["query_id"] - 100_000}
    assert len(found) >= 18, f"planted-neighbor recall {len(found)}/20"


def test_pq_encode_numpy_parity(spark, emb):
    """pq_encode must equal a driver-side numpy reference (same left-fold
    d2, argmin with first-tie), and a planted exact duplicate of a query
    must rank 1 in pq_topk (identical codes -> ADC 0)."""
    from pimbloomfilters_spark.functions.similarity import (
        _sub_d2, pq_codebooks, pq_encode, pq_topk)

    cb = pq_codebooks(emb, m=4, n_codes=16, iters=0)
    assert cb.shape == (4, 16, 16)
    got = {r["vec_id"]: list(r["codes"])
           for r in pq_encode(emb, cb).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows[:100]:
        x = np.array(r["embedding"], dtype=np.float64)[None, :]
        ref = [int(np.argmin(_sub_d2(x[:, s * 16:(s + 1) * 16], cb[s])))
               for s in range(4)]
        assert got[r["vec_id"]] == ref
    # planted duplicate: vec 3's embedding under a fresh id
    dup_id = 900_000
    src = next(r for r in rows if r["vec_id"] == 3)
    aug = emb.union(spark.createDataFrame(
        [(dup_id, src["embedding"], None)], emb.schema))
    top = pq_topk(aug, emb.filter("vec_id = 3"), k=3, codebooks=cb).collect()
    assert [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])][0] \
        == dup_id


def test_pq_topk_codes_reuse_and_lloyd(spark, emb):
    """The encode-once/query-many path (codes=) returns exactly the inline
    result; Lloyd refinement (iters>0) does not increase quantization
    error; bad geometry raises."""
    from pimbloomfilters_spark.functions.similarity import (
        _sub_d2, pq_codebooks, pq_encode, pq_topk)

    cb = pq_codebooks(emb, m=4, n_codes=16, iters=0)
    queries = emb.filter("vec_id < 6")
    inline = set(map(tuple, pq_topk(emb, queries, k=4,
                                    codebooks=cb).collect()))
    codes = pq_encode(emb, cb)
    reused = set(map(tuple, pq_topk(emb, queries, k=4, codebooks=cb,
                                    codes=codes).collect()))
    assert inline == reused and len(inline) == 24

    def qerr(c):
        mat = np.array([r["embedding"] for r in
                        emb.select("embedding").collect()], dtype=np.float64)
        return sum(float(_sub_d2(mat[:, s * 16:(s + 1) * 16], c[s])
                         .min(axis=1).sum()) for s in range(4))

    cb5 = pq_codebooks(emb, m=4, n_codes=16, iters=3)
    assert qerr(cb5) <= qerr(cb) * (1 + 1e-9)
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb, m=5, n_codes=16)


def test_ivfpq_recall_and_quantizer_reuse(spark, emb):
    """IVF-PQ retrieves planted near-dup sources (same protocol as the
    LSH/IVF ANN tests), and passing pre-trained centroids+codebooks
    returns exactly the train-inline result."""
    from pimbloomfilters_spark.functions.similarity import (
        ivf_centroids, ivfpq_topk, pq_codebooks)

    rows = emb.select("vec_id", "embedding").limit(20).collect()
    rng = np.random.default_rng(9)
    planted = [
        (int(r["vec_id"]) + 100_000,
         (np.array(r["embedding"], dtype=np.float64)
          + rng.normal(0, 0.03, 64) * np.abs(
              np.array(r["embedding"])).mean()).astype(float).tolist())
        for r in rows
    ]
    queries = spark.createDataFrame(planted,
                                    "vec_id long, embedding array<float>")
    cents = ivf_centroids(emb, n_centroids=16, iters=2)
    cb = pq_codebooks(emb, m=4, n_codes=16, iters=2)
    got = ivfpq_topk(emb, queries, k=5, nprobe=3,
                     centroids=cents, codebooks=cb).collect()
    found = {r["query_id"] for r in got
             if r["neighbor_id"] == r["query_id"] - 100_000}
    assert len(found) >= 18, f"planted-neighbor recall {len(found)}/20"
    again = ivfpq_topk(emb, queries, k=5, nprobe=3,
                       centroids=cents, codebooks=cb).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_ivfpq_probing_every_cell_is_pq(spark, emb):
    """With the same codebooks, IVF-PQ probing every cell scans every row,
    so it returns exactly the rows of pq_topk."""
    from pimbloomfilters_spark.functions.similarity import (
        ivf_centroids, ivfpq_topk, pq_codebooks, pq_topk)

    queries = emb.filter("vec_id < 6")
    cents = ivf_centroids(emb, n_centroids=8, iters=1)
    cb = pq_codebooks(emb, m=4, n_codes=16, iters=0)
    got = ivfpq_topk(emb, queries, k=5, nprobe=8, centroids=cents,
                     codebooks=cb).collect()
    want = pq_topk(emb, queries, k=5, codebooks=cb).collect()
    assert len(want) == 30
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.parametrize("case", [
    "cosine_topk_bruteforce", "cosine_pairs_bruteforce", "pq_topk",
    "ivfpq_topk"])
def test_empty_collected_side_answers_empty(spark, emb, case):
    """A driver-collected side with no rows (the queries, or the frame
    itself for cosine_pairs_bruteforce) answers an empty frame in the
    function's schema, and its collect is the only job run."""
    none = emb.filter("vec_id < 0")
    run = {"cosine_topk_bruteforce":
               lambda: similarity.cosine_topk_bruteforce(emb, none),
           "cosine_pairs_bruteforce":
               lambda: similarity.cosine_pairs_bruteforce(none),
           "pq_topk": lambda: similarity.pq_topk(emb, none),
           "ivfpq_topk": lambda: similarity.ivfpq_topk(emb, none, iters=0),
           }[case]
    sc = spark.sparkContext
    sc.setJobGroup(f"empty-{case}", "empty collected side")
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(f"empty-{case}")) == 1
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<id_a:bigint,id_b:bigint,cos:double>"
        if case == "cosine_pairs_bruteforce"
        else "struct<query_id:bigint,neighbor_id:bigint,rank:int>")


def test_near_dup_clusters_transitive(spark):
    """Pairs (1,2) and (2,3) are ONE component labeled by its min id;
    isolated docs stay singletons; a long chain converges too."""
    ids = spark.range(1, 10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (7, 8)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.near_dup_clusters(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 5, 8: 5, 9: 9}


def test_near_dup_clusters_deep_chain(spark):
    """A planted 20-doc duplicate CHAIN (consecutive pairs only) is one
    component of diameter 19 — exercises many propagation rounds plus the
    periodic localCheckpoint lineage truncation; the fixpoint labels every
    node with the chain minimum."""
    ids = spark.range(0, 25).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup.near_dup_clusters(ids, pairs).collect()}
    assert all(got[i] == 0 for i in range(20)), got
    assert all(got[i] == i for i in range(20, 25))  # singletons label self


def test_decontaminate_flags_planted_contamination(spark):
    """A training doc quoting >= window+w-1 (23) contiguous bytes of a
    benchmark doc MUST be flagged (winnowing guarantee); disjoint-vocab docs
    must not be."""
    bench_text = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame(
        [
            (1, "prefix text then " + bench_text[5:40] + " then suffix"),
            (2, "zz qq xx ww vv uu tt ss rr pp oo nn mm ll kk jj ii hh gg"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {(r["train_doc_id"], r["test_doc_id"]): r["n_shared"]
           for r in dedup.decontaminate(train, test).collect()}
    assert (1, 100) in got and got[(1, 100)] >= 1
    assert (2, 100) not in got


def test_ivf_centroid_save_load_roundtrip(spark, tmp_path, sf_dir):
    """Train-once/probe-many: a persisted quantizer reloads bit-identically
    and yields the same ivf_topk results as the in-memory one."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    cents = similarity.ivf_centroids(emb, n_centroids=8, iters=2)
    path = str(tmp_path / "quantizer")
    similarity.save_centroids(spark, cents, path)
    back = similarity.load_centroids(spark, path)
    assert np.array_equal(back, cents)
    q = emb.limit(5)
    a = {(r["query_id"], r["neighbor_id"], r["rank"])
         for r in similarity.ivf_topk(emb, q, k=3, centroids=cents).collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"])
         for r in similarity.ivf_topk(emb, q, k=3, centroids=back).collect()}
    assert a == b and len(a) > 0


def test_gram_width_guard_raises_driver_side(spark):
    """n > 8 must fail fast at plan-build time (driver-side ValueError),
    not as a wrapped Spark task failure mid-job."""
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    with pytest.raises(ValueError, match="1..8"):
        dedup.minhash_signatures(df, n=9)
    with pytest.raises(ValueError, match="1..8"):
        dedup.simhash_signatures(df, n=0)


def test_token_minhash_near_dup_equals_exact(spark, sf_dir):
    """Token-shingle MinHash pairs == exact shingle-Jaccard pairs on the
    derived token table (the property the token_minhash_near_dup gate
    relies on), and agree pair-for-pair on a hand-built frame."""
    from pimbloomfilters_spark.sources.tables import token_table

    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6]), (2, [1, 2, 3, 4, 5, 9]),
         (3, [7]), (4, []), (5, [1, 2, 3, 4, 5, 6])],
        "doc_id long, tokens array<int>")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           dedup.token_minhash_near_dup_pairs(df, threshold=0.5).collect()}
    # doc1 bigrams {12,23,34,45,56}, doc2 {12,23,34,45,59}: j = 4/6
    assert set(got) == {(1, 2), (1, 5), (2, 5)}
    assert abs(got[(1, 2)] - 4 / 6) < 1e-12 and got[(1, 5)] == 1.0

    tt = (token_table(spark, sf_dir)
          .withColumn("doc_id", F.col("doc_id").cast("long"))
          .filter(F.col("doc_id") < 200))
    lsh = {(r["doc_a"], r["doc_b"]) for r in
           dedup.token_minhash_near_dup_pairs(tt, threshold=0.7).collect()}
    big = tt.select(
        "doc_id",
        F.explode(F.zip_with(
            "tokens",
            F.slice("tokens", 2, F.greatest(F.size("tokens") - 1, F.lit(0))),
            lambda a, b: a.cast("long") * F.lit(4294967296) + b.cast("long"),
        )).alias("bigram"),
    ).filter("bigram is not null").distinct()
    sizes = big.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = big.select(F.col("doc_id").alias("doc_a"), "bigram")
    b = big.select(F.col("doc_id").alias("doc_b"), "bigram")
    inter = (a.join(b, "bigram").filter("doc_a < doc_b")
             .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb"))
    exact = {(r["doc_a"], r["doc_b"]) for r in
             inter.join(sa, "doc_a").join(sb, "doc_b")
             .filter(F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")) >= 0.7)
             .collect()}
    assert lsh == exact and exact


def test_pack_context_windows_contract(spark):
    """Concat-and-split packing: spans, boundary crossers, zero-token docs
    occupy no window, and the per-source summary reconciles."""
    from pimbloomfilters_spark.functions.packing import (
        pack_context_windows, packing_stats)

    df = spark.createDataFrame(
        [(1, "A", 5), (2, "A", 3), (3, "A", 0), (10, "A", 4), (7, "B", 9)],
        "doc_id long, source string, n_tok int")
    got = {r["doc_id"]: r.asDict() for r in
           pack_context_windows(df, 4).collect()}
    assert (got[1]["start_off"], got[1]["first_win"], got[1]["last_win"],
            got[1]["n_windows"]) == (0, 0, 1, 2)  # crosses one boundary
    assert (got[2]["start_off"], got[2]["n_windows"]) == (5, 1)
    assert (got[3]["first_win"], got[3]["last_win"], got[3]["n_windows"]) == \
        (None, None, 0)  # zero tokens -> no window
    assert (got[10]["start_off"], got[10]["first_win"], got[10]["n_windows"]) \
        == (8, 2, 1)
    assert (got[7]["start_off"], got[7]["n_windows"]) == (0, 3)  # B: own stream
    st = {r["source"]: r.asDict() for r in packing_stats(df, 4).collect()}
    assert (st["A"]["total_tok"], st["A"]["n_windows"], st["A"]["tail_padding"],
            st["A"]["boundary_docs"]) == (12, 3, 0, 1)
    assert (st["B"]["n_windows"], st["B"]["tail_padding"]) == (3, 3)
    import pytest as _pt
    with _pt.raises(ValueError):
        pack_context_windows(df, 0)


def test_token_repetition_stats(spark):
    """Repeated-bigram fraction: a looping doc scores high, a unique-bigram
    doc scores 0, sub-2-token docs are dropped."""
    from pimbloomfilters_spark.functions.text import token_repetition_stats

    df = spark.createDataFrame(
        [(1, [7, 8, 7, 8, 7, 8]),   # bigrams: 78,87,78,87,78 -> 3 dup of 5
         (2, [1, 2, 3, 4]),          # all distinct -> 0
         (3, [5]), (4, [])],         # no bigram -> dropped
        "doc_id long, tokens array<int>")
    got = {r["doc_id"]: r.asDict() for r in token_repetition_stats(df).collect()}
    assert set(got) == {1, 2}
    assert (got[1]["n_bigrams"], got[1]["n_distinct"]) == (5, 2)
    assert abs(got[1]["dup_frac"] - 3 / 5) < 1e-12
    assert got[2]["dup_frac"] == 0.0


def test_segment_repetition_stats(spark):
    """Duplicate-segment panel: exact counts/char sums on planted chunks,
    every-occurrence-counts semantics, empty/NULL text edge cases."""
    import pytest as _pt

    from pimbloomfilters_spark.functions.text import segment_repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b c d"),   # w=2 segs: "a b","a b","c d" -> 2 dup of 3
         (2, "x y z w"),       # all distinct -> 0
         (3, ""),              # one empty segment, 0 chars -> NULL char frac
         (4, None)],           # NULL text -> dropped
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in segment_repetition_stats(df, width=2).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_segments"], got[1]["n_dup_segments"]) == (3, 2)
    # chars: "a b" x2 + "c d" = 9 total, 6 in duplicated segments
    assert (got[1]["chars_total"], got[1]["chars_dup"]) == (9, 6)
    assert abs(got[1]["dup_seg_frac"] - 2 / 3) < 1e-15
    assert abs(got[1]["dup_char_frac"] - 6 / 9) < 1e-15
    assert got[2]["n_dup_segments"] == 0 and got[2]["dup_seg_frac"] == 0.0
    assert (got[3]["n_segments"], got[3]["chars_total"]) == (1, 0)
    assert got[3]["dup_char_frac"] is None  # 0/0 -> NULL, not an ANSI error
    # a triple occurrence counts all three
    t = segment_repetition_stats(
        spark.createDataFrame([(9, "q q q")], "doc_id long, text string"),
        width=1).collect()[0]
    assert (t["n_segments"], t["n_dup_segments"]) == (3, 3)
    with _pt.raises(ValueError):
        segment_repetition_stats(df, width=0)


def test_length_buckets_ntile_parity(spark):
    """length_buckets must equal SQL ntile(n) OVER (ORDER BY n_tok, id)
    exactly — including the first-rem-buckets-get-one-extra edge — at
    several (total, n_buckets) shapes, and be partitioning-invariant."""
    from pyspark.sql import Window as W

    from pimbloomfilters_spark.functions.packing import length_buckets

    for n, nb, parts in ((17, 4, 3), (16, 4, 1), (3, 5, 2), (100, 7, 9)):
        df = spark.range(n).repartition(parts).select(
            F.col("id").alias("doc_id"), (F.col("id") * 37 % 23).alias("n_tok"))
        got = {r["doc_id"]: r["bucket"]
               for r in length_buckets(df, nb).collect()}
        ref = {r["doc_id"]: r["b"] for r in df.select(
            "doc_id", F.ntile(nb).over(
                W.orderBy("n_tok", "doc_id")).alias("b")).collect()}
        assert got == ref, (n, nb)
    with pytest.raises(ValueError, match="n_buckets"):
        length_buckets(df, 0)


def test_length_buckets_hot_length_subsplit(spark):
    """Round-6 verdict #3: a 90%-one-length corpus must not rank that
    length in ONE window task. With split_threshold exceeded, the hot
    length sub-splits into id-range sub-groups (window partitioned by
    (n_tok, _sub)), and the result still equals exact ntile semantics —
    sub-splitting only changes parallelism, never ranks."""
    from pyspark.sql import Window as W

    from pimbloomfilters_spark.functions.packing import length_buckets

    n = 2000
    # 90% of docs share length 64; ids deliberately non-contiguous
    df = spark.range(n).select(
        (F.col("id") * 7 + 3).alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit(64))
         .otherwise((F.col("id") % 37) + 1).alias("n_tok"))
    got_df = length_buckets(df, 13, split_threshold=100)
    got = {r["doc_id"]: r["bucket"] for r in got_df.collect()}
    ref = {r["doc_id"]: r["b"] for r in df.select(
        "doc_id", F.ntile(13).over(
            W.orderBy("n_tok", "doc_id")).alias("b")).collect()}
    assert got == ref
    # the hot path's window is keyed by the sub-range too — no single task
    # owns the hot length
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(
        got_df._jdf.queryExecution(), "formatted")
    assert "_sub" in plan and "SinglePartition" not in plan
    # threshold respected: no (length, sub) group larger than ~threshold
    # for evenly spread ids (ids here are an arithmetic progression)
    sub = (df.filter(F.col("n_tok") == 64)
           .count())
    assert sub > 100  # the hot length really was hot
    # recompute the hot path's equal id-range sub-groups and bound the
    # largest (n_tok, _sub) group by twice the threshold
    hot = df.filter(F.col("n_tok") == 64)
    mn, mx, cnt = hot.agg(F.min("doc_id"), F.max("doc_id"), F.count("*")).first()
    step = -(-(mx - mn + 1) // -(-cnt // 100))
    groups = (hot.groupBy("n_tok", F.expr(f"(doc_id - {mn}) div {step}").alias("_sub"))
              .count().collect())
    assert len(groups) > 1
    assert max(r["count"] for r in groups) <= 2 * 100


def test_segment_repetition_random_reference(spark):
    """Randomized cross-check: the codegen fold must equal a pure-Python
    Counter reference on adversarial word soup (duplicate-heavy alphabet,
    empty strings, 1-char and 300-word docs) at several widths."""
    import random
    from collections import Counter

    from pimbloomfilters_spark.functions.text import segment_repetition_stats

    rng = random.Random(42)
    vocab = ["a", "bb", "ccc", "d"]  # tiny alphabet -> many duplicates
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.choice([1, 2, 7, 40, 300]))))
            for i in range(60)] + [(999, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def ref(text, w):
        ws = text.split(" ")
        segs = [" ".join(ws[g * w:(g + 1) * w])
                for g in range((len(ws) + w - 1) // w)]
        cnt = Counter(segs)
        dup = [s for s in segs if cnt[s] > 1]
        return (len(segs), len(dup), sum(map(len, segs)), sum(map(len, dup)))

    for w in (1, 2, 3):
        got = {r["doc_id"]: (r["n_segments"], r["n_dup_segments"],
                             r["chars_total"], r["chars_dup"])
               for r in segment_repetition_stats(df, width=w).collect()}
        assert got == {i: ref(t, w) for i, t in docs}


def test_cosine_topk_blocked_equals_bruteforce(spark, emb):
    """The asymmetric block-pair top-k (no driver collect) must return
    exactly the broadcast brute-force ranks — the oracle-gate property."""
    queries = emb.filter(F.col("vec_id") < 20)
    a = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
         similarity.cosine_topk_blocked(emb, queries, k=4,
                                        n_blocks=3, q_blocks=2).collect()}
    b = {(r["query_id"], r["neighbor_id"], r["rank"]) for r in
         similarity.cosine_topk_bruteforce(emb, queries, k=4).collect()}
    assert a == b and len(a) == 20 * 4


def test_cosine_topk_tie_break_with_duplicates(spark):
    """Exactly tied cosines (duplicate embeddings, the common dedup-corpus
    case) must resolve to the LOWEST neighbor ids — argpartition alone
    picks arbitrarily among ties at the k-th boundary, so both topk paths
    carry an explicit boundary-tie repair. 30 vectors in 3 identical
    groups of 10: every same-group cosine is exactly 1.0, so the k=4
    boundary sits inside a 9-way tie."""
    rows = [(i, [float(1 + i % 3), float(2 * (i % 3)), 1.0])
            for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 6)
    expected = set()
    for q in range(6):
        group = sorted(i for i in range(30) if i % 3 == q % 3 and i != q)
        expected |= {(q, n, r + 1) for r, n in enumerate(group[:4])}
    for got_df in (
        similarity.cosine_topk_bruteforce(emb, queries, k=4),
        similarity.cosine_topk_blocked(emb, queries, k=4,
                                       n_blocks=3, q_blocks=2),
    ):
        got = {(r["query_id"], r["neighbor_id"], r["rank"])
               for r in got_df.collect()}
        assert got == expected


def test_pack_bins_sharded_giant_source(spark):
    """shards= splits one pathologically huge source across parallel
    packing tasks: >1 shard actually used, every doc placed exactly once,
    per-bin capacity exact, and the relaxed any-fit accounting holds
    (<= `shards` half-empty bins, n_bins <= ceil(2*total/L) + shards)."""
    from pimbloomfilters_spark.functions.packing import pack_bins_best_fit

    rows = [(i, "giant", 10 + i % 50) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    L, S = 128, 4
    out = pack_bins_best_fit(df, L, shards=S)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_sh" in plan  # the shard key reaches the physical group-by
    pdf = out.toPandas()
    assert len(pdf) == 2000 and pdf["doc_id"].is_unique
    assert set(pdf["bin_id"] % S) == set(range(S))  # all shards used
    fills = pdf.groupby("bin_id")["n_tok"].sum()
    assert (fills <= L).all()
    total = pdf["n_tok"].sum()
    assert (fills <= L // 2).sum() <= S
    assert len(fills) <= -(-2 * total // L) + S
    # determinism across runs
    pdf2 = pack_bins_best_fit(df, L, shards=S).toPandas()
    assert pdf.sort_values("doc_id")["bin_id"].tolist() == \
        pdf2.sort_values("doc_id")["bin_id"].tolist()


def test_pack_bins_best_fit_invariants(spark):
    """BFD packing: capacity respected, oversize docs dropped, at most one
    bin <= half full per group, deterministic across runs."""
    from pimbloomfilters_spark.functions.packing import pack_bins_best_fit

    rows = [(i, "A", n) for i, n in enumerate(
        [60, 60, 40, 40, 30, 30, 20, 20, 10, 10, 99])] + [(100, "B", 64)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    out = pack_bins_best_fit(df, 64).collect()
    assert {r["doc_id"] for r in out} == set(range(10)) | {100}  # 99 dropped
    fills: dict = {}
    for r in out:
        fills[(r["source"], r["bin_id"])] = \
            fills.get((r["source"], r["bin_id"]), 0) + r["n_tok"]
    assert all(v <= 64 for v in fills.values())
    half = [k for k, v in fills.items() if k[0] == "A" and v * 2 <= 64]
    assert len(half) <= 1
    # total 320 tokens -> >= 5 bins; any-fit bound <= ceil(2*320/64)+1 = 11
    n_bins_a = len({b for s, b in fills if s == "A"})
    assert 5 <= n_bins_a <= 11
    again = pack_bins_best_fit(df, 64).collect()
    assert sorted((r["doc_id"], r["bin_id"]) for r in again) == \
        sorted((r["doc_id"], r["bin_id"]) for r in out)


def test_mixture_sampling(spark):
    """Doc-quota and token-budget mixture sampling: quotas honored exactly,
    budget-crossing doc included (overshoot < one doc), absent strata
    excluded, deterministic."""
    from pimbloomfilters_spark.operators.sampling import (
        mixture_sample, mixture_sample_tokens)

    rows = [(i, "A" if i < 10 else "B", 10 + i) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    got = mixture_sample(df, {"A": 3, "B": 7}, "doc_id").collect()
    by_src: dict = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src["A"]) == 3 and len(by_src["B"]) == 7

    tok = mixture_sample_tokens(df, {"A": 30}, "doc_id").collect()
    assert {r["source"] for r in tok} == {"A"}
    total = sum(r["n_tok"] for r in tok)
    largest = max(r["n_tok"] for r in tok)
    assert 30 <= total < 30 + largest  # crossed the budget by < one doc
    again = mixture_sample_tokens(df, {"A": 30}, "doc_id").collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in tok)


def test_tfidf_top_terms(spark):
    """tf-idf ranking: a token appearing in every doc scores 0 (never ranks
    above a distinctive one); doc-specific tokens with higher tf rank first."""
    from pimbloomfilters_spark.functions.text import tfidf_top_terms

    rows = []
    for d in range(4):
        rows += [(d, 1)] * 3            # token 1 in every doc -> idf = 0
        rows += [(d, 10 + d)] * 2       # unique token, tf 2
        rows += [(d, 20 + d)]           # unique token, tf 1
    tok = spark.createDataFrame(rows, "doc_id long, token_id int")
    got = {}
    for r in tfidf_top_terms(tok, top=2).collect():
        got.setdefault(r["doc_id"], []).append((r["rank"], r["token_id"]))
    for d in range(4):
        assert [t for _, t in sorted(got[d])] == [10 + d, 20 + d]


def test_decontaminate_span_estimate(spark):
    """est_overlap_chars inverts winnowing density: floor = window+w-1 (23)
    at a single shared fingerprint, and a longer verbatim quote yields a
    larger estimate in the right ballpark."""
    bench_text = "the quick brown fox jumps over the lazy dog again and again"
    train = spark.createDataFrame(
        [(1, "prefix " + bench_text[0:25] + " suffix"),
         (2, "padding words here " + bench_text + " closing words")],
        "doc_id long, text string")
    test = spark.createDataFrame([(100, bench_text)],
                                 "doc_id long, text string")
    got = {r["train_doc_id"]: r.asDict()
           for r in dedup.decontaminate(train, test).collect()}
    for r in got.values():
        assert r["est_overlap_chars"] == \
            (r["n_shared"] - 1) * 9 // 2 + 23
        assert r["est_overlap_chars"] >= 23
    # doc 2 quotes the whole 60-char benchmark, doc 1 only 25 chars
    assert got[2]["est_overlap_chars"] > got[1]["est_overlap_chars"]
    assert 23 <= got[2]["est_overlap_chars"] <= 2 * len(bench_text)


def test_bm25_rank_properties(spark):
    """BM25: a doc with more query-token occurrences outranks a longer doc
    with fewer; docs without any query token never appear."""
    from pimbloomfilters_spark.functions.text import bm25_rank

    rows = []
    rows += [(1, 5)] * 4 + [(1, 9)] * 2          # doc 1: tf(5)=4, dl=6
    rows += [(2, 5)] * 1 + [(2, 9)] * 9          # doc 2: tf(5)=1, dl=10
    rows += [(3, 9)] * 8                          # doc 3: no query token
    tok = spark.createDataFrame(rows, "doc_id long, token_id int")
    got = {r["rank"]: r["doc_id"] for r in bm25_rank(tok, [5]).collect()}
    assert got == {1: 1, 2: 2}  # doc 3 absent, doc 1 first


def test_operators_handle_empty_input(spark):
    """Public operators must return EMPTY results (not raise) on an empty
    corpus — the behavior a pipeline stage sees when an upstream filter
    removes everything."""
    from pimbloomfilters_spark.functions.packing import (
        pack_bins_best_fit, pack_context_windows, packing_stats)
    from pimbloomfilters_spark.functions.text import (
        bm25_rank, tfidf_top_terms, token_repetition_stats)
    from pimbloomfilters_spark.operators.sampling import (
        mixture_sample, mixture_sample_tokens)

    docs = spark.createDataFrame([], "doc_id long, text string")
    toks = spark.createDataFrame([], "doc_id long, tokens array<int>, "
                                     "n_tok int, source string")
    occ = spark.createDataFrame([], "doc_id long, token_id int")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")

    assert dedup.minhash_near_dup_pairs(docs).count() == 0
    assert dedup.simhash_near_dup_pairs(docs).count() == 0
    assert dedup.token_minhash_near_dup_pairs(toks).count() == 0
    assert dedup.dedup_exact(docs).count() == 0
    assert pack_context_windows(toks, 64).count() == 0
    assert pack_bins_best_fit(toks, 64).count() == 0
    assert packing_stats(toks, 64).count() == 0
    assert mixture_sample(toks, {"a": 3}, "doc_id").count() == 0
    assert mixture_sample_tokens(toks, {"a": 30}, "doc_id").count() == 0
    assert token_repetition_stats(toks).count() == 0
    assert tfidf_top_terms(occ).count() == 0
    assert bm25_rank(occ, [1, 2]).count() == 0
    assert similarity.cosine_topk_blocked(emb, emb, k=3).count() == 0


def test_dna_kmers_and_screen_discrimination(spark):
    """k-mer extraction matches a per-seq Python reference (2-bit packing,
    N masking); same-population reads match ~all reference k-mers through
    the Bloom screen while different-stride contaminants match none."""
    from pimbloomfilters_spark.functions.kmer import dna_kmers, synth_dna
    from pimbloomfilters_spark.plans.catalog import q_kmer_bloom_screen

    df = spark.createDataFrame(
        [(1, "ACGTACGTAC"), (2, "ACGNTACGTA"), (3, "AC"), (4, None)],
        "seq_id long, seq string")
    got = {}
    for r in dna_kmers(df, k=4).collect():
        got.setdefault(r["seq_id"], set()).add(r["kmer"])

    def ref(s):
        out = set()
        for p in range(len(s) - 3):
            w = s[p:p + 4]
            if set(w) <= set("ACGT"):
                v = 0
                for ch in w:
                    v = (v << 2) | "ACGT".index(ch)
                out.add(v)
        return out

    assert got[1] == ref("ACGTACGTAC")
    assert got[2] == ref("ACGNTACGTA")  # N windows dropped
    assert 3 not in got and 4 not in got
    with pytest.raises(ValueError):
        dna_kmers(df, k=32)

    pdf = q_kmer_bloom_screen(spark, "").toPandas()
    reads = pdf[pdf.seq_id < 1000]
    cont = pdf[pdf.seq_id >= 1000]
    assert (reads.n_matched == reads.n_kmers).all()   # same population
    assert (cont.n_matched == 0).all()                # disjoint stride


def test_dna_kmers_canonical(spark):
    """Canonical codes are strand-insensitive: a sequence and its reverse
    complement yield IDENTICAL canonical k-mer sets."""
    from pimbloomfilters_spark.functions.kmer import dna_kmers

    s = "ACGGTTACGTAACCGGTT"
    comp = {"A": "T", "C": "G", "G": "C", "T": "A"}
    rc = "".join(comp[c] for c in reversed(s))
    df = spark.createDataFrame([(1, s), (2, rc)], "seq_id long, seq string")
    got = {}
    for r in dna_kmers(df, k=5, canonical=True).collect():
        got.setdefault(r["seq_id"], set()).add(r["kmer"])
    assert got[1] == got[2] and got[1]
    fwd = {}
    for r in dna_kmers(df, k=5).collect():
        fwd.setdefault(r["seq_id"], set()).add(r["kmer"])
    assert fwd[1] != fwd[2]  # forward codes differ; canonical unify them


def test_kmer_minhash_identical_and_disjoint(spark):
    """Mash signatures: identical genomes agree on every slot; disjoint
    (different-stride) genomes agree on ~none."""
    from pimbloomfilters_spark.functions.kmer import (
        kmer_minhash_signatures, synth_dna)

    a = synth_dna(spark, 2, 150)                      # seqs 0, 1
    b = synth_dna(spark, 1, 150, stride=41, id_offset=50)  # disjoint pop
    sigs = {r["seq_id"]: r["sig"] for r in
            kmer_minhash_signatures(a.unionAll(b), k=15,
                                    num_hashes=128).collect()}
    same = synth_dna(spark, 2, 150)
    sigs2 = {r["seq_id"]: r["sig"] for r in
             kmer_minhash_signatures(same, k=15, num_hashes=128).collect()}
    assert sigs[0] == sigs2[0]  # deterministic
    agree_0_50 = sum(x == y for x, y in zip(sigs[0], sigs[50]))
    assert agree_0_50 <= 5, agree_0_50  # disjoint kmer sets
    with pytest.raises(ValueError):  # 32-mers would collide in 64 bits
        kmer_minhash_signatures(a, k=32)


def test_dedup_exact_by_hash_matches_default(spark):
    """by_hash=True (8-byte xxhash64 shuffle keys) returns exactly the
    md5-path result, and the exchange actually keys on the long hash."""
    rows = [(i, ["alpha", "beta", "gamma"][i % 3] + str(i % 6)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = {(r["doc_id"], r["group_size"])
            for r in dedup.dedup_exact(df).collect()}
    hashed_df = dedup.dedup_exact(df, by_hash=True)
    got = {(r["doc_id"], r["group_size"]) for r in hashed_df.collect()}
    assert got == base and len(base) == 6
    plan = hashed_df._jdf.queryExecution().toString()
    assert "xxhash64" in plan and "md5" not in plan
    # the exchange keys on a LongType expression (trailing L) — the md5
    # path's key is an (unsuffixed) string attribute
    import re
    assert re.search(r"hashpartitioning\(_groupingexpression#\d+L", plan), \
        [ln for ln in plan.splitlines() if "hashpartitioning" in ln]


def test_embedding_group_stats_matches_numpy(spark):
    """Distributed partial-sum centroids equal a single-process numpy
    reference to fp64 round-off, across multiple partitions."""
    import numpy as np

    rng = [(i, i % 3, [((i * 37 + j * 11) % 19 - 9) / 7.0 for j in range(8)])
           for i in range(300)]
    df = spark.createDataFrame(
        rng, "vec_id long, label int, embedding array<double>").repartition(7)
    got = {r["label"]: r for r in
           similarity.embedding_group_stats(df, "label").collect()}
    assert set(got) == {0, 1, 2}
    for lab in range(3):
        m = np.array([v for i, l, v in rng if l == lab])
        r = got[lab]
        assert r["n_vectors"] == len(m)
        assert np.allclose(r["centroid"], m.mean(axis=0), atol=1e-12)
        assert abs(r["centroid_norm"] - np.linalg.norm(m.mean(axis=0))) < 1e-12
        assert abs(r["mean_norm"] - np.linalg.norm(m, axis=1).mean()) < 1e-12
        assert r["centroid_norm"] <= r["mean_norm"] + 1e-12


def test_token_ngram_decontaminate_planted(spark):
    """Planted overlap: train doc 1 embeds a verbatim 15-token run from the
    benchmark doc (=> 3 matching 13-grams), train doc 2 shares nothing,
    train doc 3 is too short to have any 13-gram. Counts are exact (zero-FP
    geometry) and match a pure-python reference."""
    bench_toks = [(i * 7 + 3) % 97 + 1 for i in range(40)]
    t1 = [500 + i for i in range(20)] + bench_toks[10:25] + [600 + i for i in range(10)]
    t2 = [700 + i for i in range(30)]
    t3 = [1, 2, 3]
    train = spark.createDataFrame(
        [("1", t1, len(t1), "a"), ("2", t2, len(t2), "a"),
         ("3", t3, len(t3), "a")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    test = spark.createDataFrame(
        [("50", bench_toks, len(bench_toks), "b")],
        "doc_id string, tokens array<int>, n_tok int, source string")
    got = {r["doc_id"]: (r["n_ngrams"], r["n_matched"], r["contaminated"])
           for r in dedup.token_ngram_decontaminate(train, test, n=13).collect()}

    def ngrams(ts):
        return {tuple(ts[i:i + 13]) for i in range(len(ts) - 12)}

    bset = ngrams(bench_toks)
    assert got["1"] == (len(ngrams(t1)), len(ngrams(t1) & bset), True)
    assert got["1"][1] == 3
    assert got["2"] == (len(ngrams(t2)), 0, False)
    assert "3" not in got  # shorter than n emits nothing


def test_source_token_divergence_math(spark):
    """Per-token KL contributions: terms match a hand computation, sum per
    source is a true KL (>= 0, and 0 iff the source matches the corpus
    distribution)."""
    import math

    from pimbloomfilters_spark.functions.text import source_token_divergence

    # source A: tokens 1,1,2 ; source B: tokens 1,2,2,2
    rows = ([("a", "A", 1, 1), ("a", "A", 2, 1), ("a", "A", 3, 2)]
            + [("b", "B", 1, 1), ("b", "B", 2, 2), ("b", "B", 3, 2),
               ("b", "B", 4, 2)])
    tok = spark.createDataFrame(
        rows, "doc_id string, source string, pos int, token_id int")
    out = source_token_divergence(tok).collect()
    got = {(r["source"], r["token_id"]):
           (r["n_st"], r["n_s"], r["n_t"], r["n"], r["term"]) for r in out}
    n_st, n_s, n_t, n, term = got[("A", 1)]
    assert (n_st, n_s, n_t, n) == (2, 3, 3, 7)
    assert abs(term - (2 / 3) * math.log((2 * 7) / (3 * 3))) < 1e-15
    for src in ("A", "B"):
        kl = sum(t for (s, _), (_, _, _, _, t) in got.items() if s == src)
        assert kl >= -1e-12, (src, kl)
    assert sum(t for (_, _, _, _, t) in got.values()) > 1e-3  # A != B


def test_quality_filter_panel_rules(spark):
    """Each rule independently drops its planted violator; clean doc keeps;
    a doc absent from the token table passes repetition vacuously."""
    from pimbloomfilters_spark.functions.text import quality_filter_panel

    good_words = ("the cat and dog sat with all one two out " * 4).strip()
    docs = spark.createDataFrame(
        [(1, good_words),                             # clean: 40 words
         (2, "the and " + "word " * 3),               # too few words
         (3, "the and " + "supercalifragilistic " * 38),  # mean wordlen > 10
         (4, ("xy " * 39).strip() + " z"),            # no stopwords
         (5, good_words + " " + "!! ?? ## $$ %% ^^ && ** (( )) [[ ]] {{ }} :: ;; << >> || ~~ ``"),
         (6, good_words)],                            # repetition (tokens below)
        "doc_id long, text string")
    toks = spark.createDataFrame(
        [(1, list(range(40))), (3, list(range(40))), (4, list(range(40))),
         (5, list(range(60))),
         (6, [7, 8] * 20)],                           # all bigrams repeat
        "doc_id long, tokens array<int>")
    got = {r["doc_id"]: r for r in quality_filter_panel(docs, toks).collect()}
    assert got[1]["keep"] and all(got[1][c] for c in
                                  ("r_wordcount", "r_wordlen", "r_stopwords",
                                   "r_alnum", "r_repetition"))
    assert not got[2]["r_wordcount"] and not got[2]["keep"]
    assert not got[3]["r_wordlen"] and not got[3]["keep"]
    assert not got[4]["r_stopwords"] and not got[4]["keep"]
    assert not got[5]["r_alnum"] and not got[5]["keep"]
    assert not got[6]["r_repetition"] and not got[6]["keep"]
    assert got[2]["r_repetition"]  # doc 2 absent from tokens -> vacuous pass


def test_bigram_lm_scores_hand_computed(spark):
    """Add-one bigram LM log-probs match a hand computation on a tiny
    corpus; repeated contexts score higher than novel ones."""
    import math

    from pimbloomfilters_spark.functions.text import bigram_lm_scores

    # docs: [1,2,3] and [1,2,2] -> bigrams: (1,2)x2, (2,3), (2,2)
    tok = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("a", 3, 3),
         ("b", 1, 1), ("b", 2, 2), ("b", 3, 2)],
        "doc_id string, pos int, token_id int")
    got = {(r["doc_id"], r["pos"]): r["logp"]
           for r in bigram_lm_scores(tok).collect()}
    V = 3
    c1, c2 = 2, 3  # occurrences of tokens 1 and 2
    assert abs(got[("a", 2)] - math.log((2 + 1) / (c1 + V))) < 1e-15
    assert abs(got[("a", 3)] - math.log((1 + 1) / (c2 + V))) < 1e-15
    assert abs(got[("b", 3)] - math.log((1 + 1) / (c2 + V))) < 1e-15
    assert got[("a", 2)] == got[("b", 2)]  # same bigram, same score
    assert got[("a", 2)] > got[("a", 3)]   # frequent bigram scores higher
    assert len(got) == 4


def test_embedding_group_stats_string_keys_and_null_vectors(spark):
    """String group columns (the repo's `source` columns) work directly;
    NULL vectors are dropped from every stat; ragged widths raise."""
    import numpy as np

    rng = [(i, ["web", "books", "code"][i % 3],
            [((i * 31 + j * 7) % 23 - 11) / 9.0 for j in range(6)])
           for i in range(90)]
    rows = rng + [(900, "web", None), (901, "books", None),
                  (902, None, [1.0] * 6)]  # NULL key: dropped, no crash
    df = spark.createDataFrame(
        rows, "vec_id long, src string, embedding array<double>"
    ).repartition(5)
    got = {r["src"]: r for r in
           similarity.embedding_group_stats(df, "src", "embedding").collect()}
    assert set(got) == {"web", "books", "code"}
    for src in got:
        m = np.array([v for _, s, v in rng if s == src])
        r = got[src]
        assert r["n_vectors"] == len(m)  # null vectors not counted
        assert np.allclose(r["centroid"], m.mean(axis=0), atol=1e-12)
    # ragged vectors -> clear error, not a silent mis-reshape
    bad = spark.createDataFrame(
        [(0, "a", [1.0, 2.0]), (1, "a", [1.0, 2.0, 3.0])],
        "vec_id long, src string, embedding array<double>").coalesce(1)
    with pytest.raises(Exception, match="fixed-width"):
        similarity.embedding_group_stats(bad, "src", "embedding").collect()
    # unsupported group-key type -> plan-time ValueError
    dbl = spark.createDataFrame(
        [(1.5, [1.0])], "g double, embedding array<double>")
    with pytest.raises(ValueError, match="integral or string"):
        similarity.embedding_group_stats(dbl, "g", "embedding")


def test_vector_matrix_checks_width(spark):
    """Every vector pass reads its batch through one fixed-width matrix
    read: ragged widths or a NULL vector raise a ValueError naming the
    widths seen, instead of a silent mis-reshape or an internal error."""
    schema = "vec_id long, embedding array<double>"
    ragged = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0, 0.0])],
        schema).coalesce(1)
    query = spark.createDataFrame([(9, [1.0, 0.0, 0.0, 0.0])], schema)
    with pytest.raises(Exception, match=r"width 4; saw widths \[3, 5\]"):
        similarity.cosine_topk_bruteforce(ragged, query, k=2).collect()
    nulls = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [0.5, 1.0])], schema).coalesce(1)
    with pytest.raises(Exception, match=r"saw widths \[2\], 1 NULL vectors"):
        similarity.lsh_bucket_ids(nulls).collect()


def test_exact_substr_spans_planted(spark):
    """ExactSubstr span chaining: planted boilerplate found with exact
    boundaries; disjoint repeats split into separate spans; sub-threshold
    overlaps excluded; pairs ordered doc_a < doc_b."""
    base = list(range(100, 200))           # 100 distinct tokens
    boiler = list(range(500, 530))         # 30-token boilerplate
    filler = lambda s, n: [1000 + s * 97 + i for i in range(n)]
    docs = [
        (1, base[:20] + boiler + base[20:40]),           # boiler at pos 21
        (2, filler(1, 5) + boiler + filler(2, 25)),      # boiler at pos 6
        # two disjoint 15-token repeats of doc 1's base, split by noise
        (3, base[:15] + filler(3, 7) + base[25:40] + filler(4, 5)),
        (4, filler(5, 9) + base[50:60] + filler(6, 11)), # only 10 shared
    ]
    df = spark.createDataFrame(
        [(i, t, len(t), "s") for i, t in docs],
        "doc_id long, tokens array<int>, n_tok int, source string")
    got = {(r["doc_a"], r["doc_b"], r["start_a"], r["start_b"],
            r["span_len"])
           for r in dedup.exact_substr_spans(df, k=8, min_span=12).collect()}
    assert (1, 2, 21, 6, 30) in got          # the full boilerplate, chained
    assert (1, 3, 1, 1, 15) in got           # first island
    # second island: base[25:40] sits at pos 20+30+5+1 = 56 in doc 1
    assert (1, 3, 56, 23, 15) in got
    assert not any(a == 4 or b == 4 for a, b, *_ in got)  # 10 < min_span
    assert all(a < b for a, b, *_ in got)
    assert got == {(1, 2, 21, 6, 30), (1, 3, 1, 1, 15), (1, 3, 56, 23, 15)}
    # max_df: a gram in 3 docs dropped at max_df=2 -> doc1/doc2/doc5 all
    # share boiler; capping kills every boiler span but keeps base repeats
    df5 = spark.createDataFrame(
        [(i, t, len(t), "s") for i, t in
         docs + [(5, filler(7, 3) + boiler + filler(8, 4))]],
        "doc_id long, tokens array<int>, n_tok int, source string")
    capped = {(r["doc_a"], r["doc_b"]) for r in
              dedup.exact_substr_spans(df5, k=8, min_span=12,
                                       max_df=2).collect()}
    assert capped == {(1, 3)}


def test_remove_token_spans(spark):
    """Span removal: mask unions overlaps, clips at doc end, pass-through
    docs untouched (zero-copy path), fully-removed docs -> empty arrays."""
    docs = spark.createDataFrame(
        [(1, list(range(30))), (2, list(range(50, 70))),
         (3, list(range(80, 90))), (4, [7, 8, 9])],
        "doc_id long, tokens array<int>")
    spans = spark.createDataFrame(
        [(1, 2, 5, 10),     # doc 2 loses positions 5..14
         (1, 2, 12, 6),     # overlap: 12..17 -> union 5..17
         (1, 3, 3, 100),    # clips at len 10 -> removes 3..10
         (9, 4, 1, 3)],     # doc 4 fully removed
        "doc_a long, doc_b long, start_b int, span_len int")
    got = {r["doc_id"]: r for r in
           dedup.remove_token_spans(docs, spans).collect()}
    assert got[1]["tokens"] == list(range(30))         # pass-through
    assert got[1]["n_removed"] == 0 and got[1]["n_tok"] == 30
    keep2 = [50, 51, 52, 53] + [67, 68, 69]            # drop idx 4..16 (1b 5..17)
    assert got[2]["tokens"] == keep2
    assert got[2]["n_removed"] == 13 and got[2]["n_tok"] == 7
    assert got[3]["tokens"] == [80, 81] and got[3]["n_removed"] == 8
    assert got[4]["tokens"] == [] and got[4]["n_removed"] == 3


def test_remove_token_spans_null_tokens_with_spans(spark):
    """NULL tokens rows are consistent on BOTH paths: tokens stay NULL,
    n_tok = 0, n_removed = 0 — whether or not spans target the doc."""
    docs = spark.createDataFrame(
        [(1, None), (2, [5, 6, 7]), (3, None)],
        "doc_id long, tokens array<int>")
    spans = spark.createDataFrame(
        [(0, 1, 1, 5), (0, 2, 2, 1)],
        "doc_a long, doc_b long, start_b int, span_len int")
    got = {r["doc_id"]: (r["tokens"], r["n_tok"], r["n_removed"])
           for r in dedup.remove_token_spans(docs, spans).collect()}
    assert got[1] == (None, 0, 0)   # NULL + spans: nothing to remove
    assert got[2] == ([5, 7], 2, 1)
    assert got[3] == (None, 0, 0)   # NULL, no spans: same contract


def test_dedup_against_ingest(spark):
    """Ingest dedup: rows matching OLD content are dropped regardless of
    id; genuinely new rows pass; within-batch duplicates are untouched
    (both kept); old frame is never mutated."""
    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "alpha beta"),   # dup of old 1 -> dropped
         (11, "delta"),        # new -> kept
         (12, "delta"),        # within-batch dup -> ALSO kept (documented)
         (13, "gamma"),        # dup of old 2 -> dropped
         (14, "epsilon")],     # new -> kept
        "doc_id long, text string")
    got = sorted(r["doc_id"] for r in
                 dedup.dedup_against(new, old).collect())
    assert got == [11, 12, 14]
    assert old.count() == 2


def test_dedup_against_plan_shape(spark):
    """The verify stage must be HASH-keyed with the old side pruned by a
    semi-join on the 8-byte key BEFORE any text comparison (round-6
    verdict #1): the executed plan carries a LeftSemi join on the hash,
    and no exchange is ever keyed on the raw text column (the old shape
    distinct-shuffled the ENTIRE old corpus's text on every ingest)."""
    old = spark.createDataFrame(
        [(i, f"doc {i % 7}") for i in range(40)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(100 + i, f"doc {i % 11}") for i in range(30)],
        "doc_id long, text string")
    out = dedup.dedup_against(new, old)
    out.collect()  # finalize the adaptive plan before inspecting it
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "LeftSemi" in plan  # hash-set prune of the old side exists
    # the anti-join/semi-join exchanges are keyed on the xxhash64 column
    # (long), never on the text: a text-keyed exchange would mean the old
    # corpus's text is being shuffled again
    assert "hashpartitioning(_t" not in plan
    assert "hashpartitioning(text" not in plan


def test_ngram_novelty_planted(spark):
    """Novelty = first-occurrence fraction in (doc, pos) corpus order:
    a fresh doc scores 1.0, an exact duplicate of an earlier doc scores
    0.0, a half-copied doc scores in between with exact counts, within-doc
    repeats count once, and sub-k docs are absent."""
    A = list(range(10, 30))                 # 20 tokens
    fresh = list(range(900, 920))
    docs = [
        (1, A),                             # all novel: 16 windows (k=5)
        (2, A),                             # exact dup: 0 novel
        (3, A[:10] + fresh),                # windows over the copied prefix dup
        (4, list(range(50, 55)) * 2),       # within-doc repeat of one 5-gram
        (5, [1, 2, 3]),                     # < k -> absent
    ]
    df = spark.createDataFrame(docs, "doc_id long, tokens array<int>")
    got = {r["doc_id"]: r.asDict() for r in
           dedup.ngram_novelty(df, k=5).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert (got[1]["n_windows"], got[1]["n_novel"]) == (16, 16)
    assert (got[2]["n_windows"], got[2]["n_novel"]) == (16, 0)
    # doc 3: 26 windows; those fully inside A[:10] (start 1..6) are dups
    assert (got[3]["n_windows"], got[3]["n_novel"]) == (26, 20)
    assert abs(got[3]["novelty_frac"] - 20 / 26) < 1e-15
    # doc 4 = [50..54, 50..54]: 6 windows; the only repeat of an earlier
    # window is the final [50..54] at pos 6 (pos-1 copy is first) -> 5 novel
    assert (got[4]["n_windows"], got[4]["n_novel"]) == (6, 5)


def test_exact_substr_spans_global_planted(spark):
    """Corpus-global ExactSubstr: the FIRST (doc, pos) occurrence of each
    duplicated run is kept, every later occurrence is spanned; disjoint
    repeats stay separate islands; within-doc repeats mark only the later
    copy; sub-threshold islands filtered."""
    base = list(range(100, 200))
    boiler = list(range(500, 530))         # 30-token boilerplate
    X = list(range(700, 713))              # 13-token within-doc repeat
    filler = lambda s, n: [1000 + s * 97 + i for i in range(n)]
    docs = [
        (1, base[:20] + boiler + base[20:40]),       # first boiler copy
        (2, filler(1, 5) + boiler + filler(2, 25)),  # later copy -> cut
        (3, base[:15] + filler(3, 7) + base[25:40] + filler(4, 5)),
        (4, filler(5, 9) + base[50:60] + filler(6, 11)),
        (6, filler(10, 4) + X + filler(11, 6) + X),  # X repeats in-doc
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id long, tokens array<int>")
    got = {(r["doc_id"], r["start"], r["span_len"]) for r in
           dedup.exact_substr_spans_global(df, k=8, min_span=12).collect()}
    assert got == {
        (2, 6, 30),    # whole boilerplate body, first copy (doc 1) kept
        (3, 1, 15),    # base[:15], doc 1's copy kept
        (3, 23, 15),   # base[25:40], separate island (gap > k)
        (6, 24, 13),   # second X copy; first (same doc, pos 5) kept
    }                  # doc 4's 10-token repeat < min_span: filtered


def test_exact_substr_global_anchor_growth_linear(spark):
    """The scale contract: a k-gram repeated in f documents costs O(f)
    rows in the global formulation (f-1 spans, one per later copy) where
    the pairwise formulation emits O(f^2) anchor pairs."""
    boiler = list(range(900, 908))         # exactly one 8-gram
    filler = lambda s, n: [5000 + s * 131 + i for i in range(n)]
    for f in (6, 12):
        df = spark.createDataFrame(
            [(i, filler(i, 5) + boiler) for i in range(1, f + 1)],
            "doc_id long, tokens array<int>")
        g = dedup.exact_substr_spans_global(df, k=8).collect()
        assert len(g) == f - 1                       # linear
        assert all(r["start"] == 6 and r["span_len"] == 8 for r in g)
        assert {r["doc_id"] for r in g} == set(range(2, f + 1))
        p = dedup.exact_substr_spans(df, k=8, max_df=f).count()
        assert p == f * (f - 1) // 2                 # quadratic


def test_exact_substr_dedup_end_to_end(spark):
    """Composed global dedup: later copies of duplicated runs are removed
    from the token stream, first copies and unique text survive."""
    boiler = list(range(500, 530))
    filler = lambda s, n: [1000 + s * 97 + i for i in range(n)]
    docs = [(1, filler(0, 10) + boiler),
            (2, filler(1, 5) + boiler + filler(2, 7)),
            (3, boiler[:20] + filler(3, 9))]
    df = spark.createDataFrame(
        [(i, t) for i, t in docs], "doc_id long, tokens array<int>")
    got = {r["doc_id"]: r for r in
           dedup.exact_substr_dedup(df, k=8).collect()}
    assert got[1]["tokens"] == filler(0, 10) + boiler   # first copy kept
    assert got[1]["n_removed"] == 0
    assert got[2]["tokens"] == filler(1, 5) + filler(2, 7)
    assert got[2]["n_removed"] == 30
    assert got[3]["tokens"] == filler(3, 9)             # prefix dup too
    assert got[3]["n_removed"] == 20
    assert all(r["n_tok"] == len(r["tokens"]) for r in got.values())


def test_chunk_dedup_planted(spark):
    """Repeated-chunk removal: global keep-first by (doc_id, chunk idx),
    per-doc reassembly in order, all-dup docs -> NULL text, short tail
    chunks handled, chunk_words validated."""
    w = [f"w{i}" for i in range(10)]
    c1 = " ".join(w[:4])                   # 4-word chunk, duplicated
    c2 = " ".join(w[4:8])
    docs = [
        (1, c1 + " " + c2),                # chunks: c1, c2 (both first)
        (2, c1 + " " + c1),                # both copies of c1 -> all dup
        (3, c2 + " tail end"),             # c2 dup + unique short tail
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["text"], r["n_chunks"], r["n_kept"])
           for r in dedup.chunk_dedup(df, chunk_words=4).collect()}
    assert got[1] == (c1 + " " + c2, 2, 2)
    assert got[2] == (None, 2, 0)          # every chunk seen in doc 1
    assert got[3] == ("tail end", 2, 1)    # survivors keep their order
    with pytest.raises(ValueError, match="chunk_words"):
        dedup.chunk_dedup(df, chunk_words=0)


def test_exact_substr_uncapped_warning_togglable(spark):
    """Uncapped pairwise span finding warns (the O(f^2) anchor trap);
    warn_uncapped=False silences it for intentional bounded corpora, and
    a max_df cap also silences it."""
    import warnings

    df = spark.createDataFrame([(1, [1, 2, 3]), (2, [4, 5, 6])],
                               "doc_id long, tokens array<int>")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        dedup.exact_substr_spans(df, k=2)
        assert any("max_df" in str(x.message) for x in rec)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        dedup.exact_substr_spans(df, k=2, warn_uncapped=False)
        dedup.exact_substr_spans(df, k=2, max_df=100)
        assert not rec
