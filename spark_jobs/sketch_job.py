"""spark-submit entry point for sketch builds/probes (north rule: "run via
spark-submit --py-files on multi-executor clusters").

Usage (cluster):
  zip -r pbf.zip pimbloomfilters_spark
  spark-submit --py-files pbf.zip spark_jobs/sketch_job.py build \
      --input s3://bucket/tokens --col tokens --kind bloom \
      --size2 30 --nb-hash 8 --out /tmp/corpus.bloom \
      --checkpoint-dir s3://bucket/ckpt --build-id nightly-01

  spark-submit --py-files pbf.zip spark_jobs/sketch_job.py probe \
      --input s3://bucket/queries --col token_id \
      --sketch /tmp/corpus.bloom --out s3://bucket/probe_result

Local sandbox: python spark_jobs/sketch_job.py build --input \
  /root/testdata/sf0.01/orders.parquet --col o_custkey --kind bloom \
  --size2 22 --out /tmp/orders.bloom
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# local-mode executors need the package importable; on a real cluster
# spark-submit --py-files ships it instead (this is then a no-op)
_pp = os.environ.get("PYTHONPATH", "")
if _REPO not in _pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = f"{_REPO}{os.pathsep}{_pp}" if _pp else _REPO


def _write_atomic(path: str, raw: bytes) -> None:
    """Publish ``raw`` at ``path`` through a temp file in the same directory
    and ``os.replace``: a crash never leaves a truncated sketch under
    ``path``."""
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(raw)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)

    def _build_args(b):
        b.add_argument("--input", required=True)
        b.add_argument("--col", required=True)
        b.add_argument("--kind", default="bloom",
                       choices=["bloom", "countingbloom", "hll", "cms",
                                "countsketch", "kll", "tdigest", "mg",
                                "theta"])
        b.add_argument("--width", type=int, default=8192,
                       help="countsketch table width")
        b.add_argument("--size2", type=int, default=24)
        b.add_argument("--nb-hash", type=int, default=8)
        b.add_argument("--unblocked", action="store_true",
                       help="BASIC (non-blocked) bloom variant: min FPR at fixed m")
        b.add_argument("--hll-p", type=int, default=14)
        b.add_argument("--cms-eps", type=float, default=1e-4)
        b.add_argument("--cms-delta", type=float, default=1e-3)
        b.add_argument("--k", type=int, default=200)
        return b

    b = _build_args(sub.add_parser("build"))
    b.add_argument("--out", required=True)
    b.add_argument("--checkpoint-dir", default=None)
    b.add_argument("--build-id", default="adhoc")
    b.add_argument("--key-col", default=None,
                   help="bucketing key for checkpointed builds")
    b.add_argument("--sharded", action="store_true",
                   help="bit-range-sharded bloom build (large m)")
    b.add_argument("--n-shards", type=int, default=64)

    g = _build_args(sub.add_parser(
        "build-grouped",
        help="one sketch PER GROUP in one job; writes a parquet of "
             "(group_cols..., sketch, n_rows, n_values)"))
    g.add_argument("--group-cols", required=True,
                   help="comma-separated grouping columns")
    g.add_argument("--out", required=True)

    p = sub.add_parser("probe")
    p.add_argument("--input", required=True)
    p.add_argument("--col", required=True)
    p.add_argument("--sketch", required=True)
    p.add_argument("--out", required=True)

    i = sub.add_parser("inspect", help="print a sketch file's kind, config "
                                       "and headline statistic")
    i.add_argument("--sketch", required=True)

    d = sub.add_parser(
        "decontaminate",
        help="flag training docs sharing winnowing fingerprints with a "
             "benchmark set; writes (train_doc_id, test_doc_id, n_shared)")
    d.add_argument("--train", required=True, help="training corpus parquet")
    d.add_argument("--test", required=True, help="benchmark/eval parquet")
    d.add_argument("--text-col", default="text")
    d.add_argument("--window", type=int, default=16)
    d.add_argument("--w", type=int, default=8)
    d.add_argument("--min-shared", type=int, default=1)
    d.add_argument("--out", required=True)

    k = sub.add_parser(
        "pack",
        help="assign pre-tokenized docs to training context windows; "
             "--mode split = concat-and-split spans, --mode bins = "
             "best-fit whole-doc bins (no boundary crossing)")
    k.add_argument("--input", required=True)
    k.add_argument("--ctx-len", type=int, required=True)
    k.add_argument("--mode", choices=["split", "bins"], default="split")
    k.add_argument("--n-tok-col", default="n_tok")
    k.add_argument("--id-col", default="doc_id")
    k.add_argument("--by", default="source")
    k.add_argument("--out", required=True)

    m = sub.add_parser(
        "mix",
        help="deterministic per-source mixture sample; --budgets "
             "'src0=700,src1=400' are token budgets (or doc quotas "
             "with --by-docs)")
    m.add_argument("--input", required=True)
    m.add_argument("--budgets", required=True)
    m.add_argument("--by-docs", action="store_true")
    m.add_argument("--key-col", default="doc_id")
    m.add_argument("--n-tok-col", default="n_tok")
    m.add_argument("--stratum-col", default="source")
    m.add_argument("--out", required=True)

    sh = sub.add_parser(
        "shuffle",
        help="deterministic epoch shuffle: global md5(seed|key) order, "
             "round-robin shards balanced to +-1; writes the input plus "
             "(shard, pos, pos_in_shard)")
    sh.add_argument("--input", required=True)
    sh.add_argument("--key-col", default="doc_id")
    sh.add_argument("--seed", type=int, default=0)
    sh.add_argument("--n-shards", type=int, default=8)
    sh.add_argument("--out", required=True)

    s = sub.add_parser(
        "search",
        help="BM25 top-k docs for a token-id query over a (doc_id, "
             "token_id) occurrence parquet")
    s.add_argument("--input", required=True)
    s.add_argument("--query", required=True,
                   help="comma-separated token ids, e.g. 3,7,11")
    s.add_argument("--top", type=int, default=20)
    s.add_argument("--out", required=True)

    km = sub.add_parser(
        "kmers",
        help="extract distinct 2-bit-packed DNA k-mers per sequence from a "
             "(seq_id, seq) parquet; --canonical for strand-insensitive")
    km.add_argument("--input", required=True)
    km.add_argument("--k", type=int, default=21)
    km.add_argument("--canonical", action="store_true")
    km.add_argument("--seq-col", default="seq")
    km.add_argument("--id-col", default="seq_id")
    km.add_argument("--out", required=True)

    pr = sub.add_parser(
        "profile",
        help="one-scan ANALYZE-style table profile: per-column row/null "
             "counts + HLL distinct estimate; writes (column, n_rows, "
             "n_nulls, ndv_est)")
    pr.add_argument("--input", required=True)
    pr.add_argument("--columns", default=None,
                    help="comma-separated subset (default: all)")
    pr.add_argument("--hll-p", type=int, default=14)
    pr.add_argument("--out", required=True)

    sc_ = sub.add_parser(
        "screen",
        help="token n-gram benchmark decontamination over pre-tokenized "
             "parquets: Bloom over the --test split's n-gram codes, "
             "stateless screen of --train; writes (doc_id, n_ngrams, "
             "n_matched, contaminated)")
    sc_.add_argument("--train", required=True)
    sc_.add_argument("--test", required=True)
    sc_.add_argument("--n", type=int, default=13)
    sc_.add_argument("--tokens-col", default="tokens")
    sc_.add_argument("--id-col", default="doc_id")
    sc_.add_argument("--size2", type=int, default=24)
    sc_.add_argument("--nb-hash", type=int, default=8)
    sc_.add_argument("--out", required=True)

    ss = sub.add_parser(
        "substr",
        help="cross-document substring dedup (ExactSubstr): find verbatim "
             "token spans >= --min-span shared across docs; with "
             "--remove, also write the cleaned corpus (every span keeps "
             "only its lowest-id copy)")
    ss.add_argument("--input", required=True)
    ss.add_argument("--k", type=int, default=13, help="gram width")
    ss.add_argument("--min-span", type=int, default=None)
    ss.add_argument("--mode", choices=["global", "pairwise"],
                    default="global",
                    help="global (default): corpus-global keep-first "
                         "removal spans (doc_id, start, span_len), O(f) "
                         "per repeated run — the scale path; pairwise: "
                         "(doc_a, doc_b, ...) span-pair analysis, O(f^2) "
                         "anchors on hot grams")
    ss.add_argument("--max-df", type=int, default=None,
                    help="pairwise mode only: drop grams seen in more "
                         "than this many docs")
    ss.add_argument("--tokens-col", default="tokens")
    ss.add_argument("--id-col", default="doc_id")
    ss.add_argument("--remove", action="store_true")
    ss.add_argument("--out", required=True,
                    help="span table parquet (or cleaned corpus with "
                         "--remove; spans then go to <out>_spans)")

    c = sub.add_parser(
        "combine",
        help="merge or subtract two sketch files of identical geometry "
             "(subtract: counting-bloom bulk delete)")
    c.add_argument("--sketch", required=True)
    c.add_argument("--other", required=True)
    c.add_argument("--op", choices=["merge", "subtract"], default="merge")
    c.add_argument("--out", required=True)

    args = ap.parse_args()

    if args.cmd == "combine":
        from pimbloomfilters_spark.sketches import sketch_from_bytes

        with open(args.sketch, "rb") as f:
            a = sketch_from_bytes(f.read())
        with open(args.other, "rb") as f:
            b = sketch_from_bytes(f.read())
        if args.op == "subtract":
            if not hasattr(a, "subtract"):
                raise SystemExit(
                    f"sketch kind {a.kind!r} does not support subtract "
                    "(only countingbloom does)")
            a.subtract(b)
        else:
            a.merge(b)
        _write_atomic(args.out, a.to_bytes())
        print(json.dumps({"out": args.out, "kind": a.kind, "op": args.op,
                          "bytes": len(a.payload())}))
        return 0

    if args.cmd == "inspect":
        from pimbloomfilters_spark.sketches import sketch_from_bytes

        with open(args.sketch, "rb") as f:
            sk = sketch_from_bytes(f.read())
        stat: dict = {}
        if hasattr(sk, "estimate"):
            stat["estimate"] = round(sk.estimate(), 1)
        if hasattr(sk, "get_weight"):
            stat["weight"] = sk.get_weight()
        if hasattr(sk, "total"):
            stat["total"] = sk.total
        if hasattr(sk, "n"):
            stat["n"] = sk.n
        print(json.dumps({"kind": sk.kind, "config": sk.config(), **stat}))
        return 0

    from pyspark.sql import SparkSession

    from pimbloomfilters_spark.operators import (
        build_sketch,
        build_sketch_grouped,
        probe_key_column,
    )
    from pimbloomfilters_spark.operators.checkpoint import build_with_checkpoint
    from pimbloomfilters_spark.operators.sharded import build_bloom_sharded
    from pimbloomfilters_spark.sketches import make_sketch, sketch_from_bytes

    spark = SparkSession.builder.appName(f"pbf-{args.cmd}").getOrCreate()

    if args.cmd == "decontaminate":
        from pimbloomfilters_spark.functions.dedup import decontaminate

        out = decontaminate(
            spark.read.parquet(args.train), spark.read.parquet(args.test),
            text_col=args.text_col, window=args.window, w=args.w,
            min_shared=args.min_shared,
        )
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "contaminated_pairs": n}))
        spark.stop()
        return 0

    if args.cmd == "screen":
        from pimbloomfilters_spark.functions.dedup import (
            token_ngram_decontaminate)

        out = token_ngram_decontaminate(
            spark.read.parquet(args.train), spark.read.parquet(args.test),
            n=args.n, tokens_col=args.tokens_col, id_col=args.id_col,
            size2=args.size2, nb_hash=args.nb_hash,
        )
        out.write.mode("overwrite").parquet(args.out)
        res = spark.read.parquet(args.out)
        print(json.dumps({
            "out": args.out, "n": args.n, "docs": res.count(),
            "contaminated": res.filter("contaminated").count()}))
        spark.stop()
        return 0

    df = spark.read.parquet(args.input)

    if args.cmd == "substr":
        from pimbloomfilters_spark.functions.dedup import (
            exact_substr_spans, exact_substr_spans_global,
            remove_token_spans)

        if args.mode == "global":
            if args.max_df is not None:
                ap.error("--max-df applies to --mode pairwise only "
                         "(the global path is O(f) per repeated run and "
                         "needs no hot-gram cap)")
            spans = exact_substr_spans_global(
                df, k=args.k, min_span=args.min_span,
                tokens_col=args.tokens_col, id_col=args.id_col)
            rm_cols = {"span_id_col": args.id_col, "start_col": "start"}
        else:
            spans = exact_substr_spans(
                df, k=args.k, min_span=args.min_span,
                tokens_col=args.tokens_col, id_col=args.id_col,
                max_df=args.max_df)
            rm_cols = {"span_id_col": "doc_b", "start_col": "start_b"}
        res = {"k": args.k, "mode": args.mode}
        if args.remove:
            spans_path = args.out + "_spans"
            spans.write.mode("overwrite").parquet(spans_path)
            spans = spark.read.parquet(spans_path)
            cleaned = remove_token_spans(
                df, spans, id_col=args.id_col, tokens_col=args.tokens_col,
                **rm_cols)
            cleaned.write.mode("overwrite").parquet(args.out)
            got = spark.read.parquet(args.out)
            res |= {"out": args.out, "spans_out": spans_path,
                    "spans": spans.count(), "docs": got.count(),
                    "tokens_removed": got.agg(
                        {"n_removed": "sum"}).collect()[0][0]}
        else:
            spans.write.mode("overwrite").parquet(args.out)
            res |= {"out": args.out,
                    "spans": spark.read.parquet(args.out).count()}
        print(json.dumps(res, default=str))
        spark.stop()
        return 0

    if args.cmd == "profile":
        from pimbloomfilters_spark.operators.profile import profile_table

        cols = args.columns.split(",") if args.columns else None
        out = profile_table(df, columns=cols, hll_p=args.hll_p)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out,
                          "columns": [r.asDict() for r in out.collect()]},
                         default=str))
        spark.stop()
        return 0

    if args.cmd == "kmers":
        from pimbloomfilters_spark.functions.kmer import dna_kmers

        out = dna_kmers(df, seq_col=args.seq_col, k=args.k,
                        id_col=args.id_col, canonical=args.canonical)
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "k": args.k,
                          "canonical": args.canonical, "kmers": n}))
        spark.stop()
        return 0

    if args.cmd == "search":
        from pimbloomfilters_spark.functions.text import bm25_rank

        out = bm25_rank(df, [int(t) for t in args.query.split(",")],
                        top=args.top)
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "rows": n}))
        spark.stop()
        return 0

    if args.cmd == "pack":
        from pimbloomfilters_spark.functions.packing import (
            pack_bins_best_fit, pack_context_windows)

        fn = pack_context_windows if args.mode == "split" else pack_bins_best_fit
        kw = (dict(n_tok_col=args.n_tok_col, order_col=args.id_col, by=args.by)
              if args.mode == "split"
              else dict(n_tok_col=args.n_tok_col, id_col=args.id_col, by=args.by))
        out = fn(df, args.ctx_len, **kw)
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "mode": args.mode, "rows": n}))
        spark.stop()
        return 0

    if args.cmd == "shuffle":
        from pimbloomfilters_spark.operators.sampling import epoch_shuffle

        out = epoch_shuffle(df, args.key_col, seed=args.seed,
                            n_shards=args.n_shards)
        out.write.mode("overwrite").parquet(args.out)
        sizes = sorted(r["shard"] for r in
                       spark.read.parquet(args.out).select("shard").collect())
        print(json.dumps({"out": args.out, "rows": len(sizes),
                          "n_shards": args.n_shards}))
        spark.stop()
        return 0

    if args.cmd == "mix":
        from pimbloomfilters_spark.operators.sampling import (
            mixture_sample, mixture_sample_tokens)

        budgets = {s: int(v) for s, v in
                   (kv.split("=") for kv in args.budgets.split(","))}
        if args.by_docs:
            out = mixture_sample(df, budgets, args.key_col, args.stratum_col)
        else:
            out = mixture_sample_tokens(df, budgets, args.key_col,
                                        args.n_tok_col, args.stratum_col)
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "rows": n}))
        spark.stop()
        return 0

    if args.cmd in ("build", "build-grouped"):
        cfgs = {
            "bloom": dict(size2=args.size2, nb_hash=args.nb_hash,
                          blocked=not args.unblocked),
            "countingbloom": dict(size2=args.size2, nb_hash=args.nb_hash,
                                  blocked=not args.unblocked),
            "hll": dict(p=args.hll_p),
            "cms": dict(eps=args.cms_eps, delta=args.cms_delta),
            "countsketch": dict(width=args.width),
            "kll": dict(k=args.k),
            "tdigest": dict(delta=args.k),
            "mg": dict(k=args.k),
            "theta": dict(k=max(args.k, 16)),
        }
        factory = functools.partial(make_sketch, args.kind, **cfgs[args.kind])

    if args.cmd == "build-grouped":
        out = build_sketch_grouped(df, args.group_cols.split(","), args.col,
                                   factory)
        out.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "kind": args.kind, "groups": n}))
        spark.stop()
        return 0

    if args.cmd == "build":
        if args.sharded and args.kind == "bloom":
            if args.unblocked:
                raise SystemExit("--sharded requires the blocked layout "
                                 "(disjoint bit-ranges need blocks)")
            sk = build_bloom_sharded(df, args.col, size2=args.size2,
                                     nb_hash=args.nb_hash,
                                     n_shards=args.n_shards)
            metrics = {"mode": "sharded", "n_shards": args.n_shards}
        elif args.checkpoint_dir:
            sk, metrics = build_with_checkpoint(
                spark, df, args.col, args.key_col or args.col, factory,
                build_id=args.build_id, checkpoint_dir=args.checkpoint_dir,
            )
        else:
            sk, metrics = build_sketch(df, args.col, factory)
        _write_atomic(args.out, sk.to_bytes())
        print(json.dumps({"sketch": args.out, "kind": args.kind,
                          "bytes": len(sk.payload()), **metrics}))
    else:
        with open(args.sketch, "rb") as f:
            sk = sketch_from_bytes(f.read())
        if not hasattr(sk, "contains_bulk"):
            raise SystemExit(f"sketch kind {sk.kind!r} has no membership "
                             "probe; 'probe' needs a bloom filter")
        out = probe_key_column(df, sk, args.col)
        out.write.mode("overwrite").parquet(args.out)
        n = out.filter("member").count()
        print(json.dumps({"out": args.out, "members": n}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
