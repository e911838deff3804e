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

    df = spark.read.parquet(args.input)

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
