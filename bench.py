"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "throughput": {...}, "fpr": {...}}

Mirrors the reference benchmark flow (create -> insert_bulk(n) -> weight ->
shuffled lookup(n) -> FPR on negatives; benchmarks/benchmark1.cpp:54-73) on
Spark, plus the oracle-gated catalog queries at $SPARK_GRAFT_SF_DIR.

  python bench.py                 # one run at local[$SPARK_GRAFT_CPUS], else every core
  python bench.py --scaling       # same job at 8 and 32 cores -> BENCH.md
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
N_KEYS = int(os.environ.get("PBF_BENCH_KEYS", str(10_000_000)))
N_NEG = int(os.environ.get("PBF_BENCH_NEGATIVES", str(1_000_000)))
SIZE2 = int(os.environ.get("PBF_BENCH_SIZE2", "27"))
REPS = int(os.environ.get("PBF_BENCH_REPS", "2"))


def _best_of(fn, reps=None):
    best, result = float("inf"), None
    for _ in range(reps or REPS):
        t0 = time.perf_counter()
        result = fn()
        best = min(best, time.perf_counter() - t0)
    return best, result


def _calibration() -> float:
    """Single-process numpy insert-math ceiling (M keys/s), best of 3 warm
    reps — the box's bandwidth constant measured AT BENCH TIME. This sandbox
    swings 2-3x minute-to-minute under multi-tenant load; normalizing engine
    throughput by this constant separates code regressions from box noise
    (an engine delta at flat normalized throughput is the box, not the code).
    """
    import numpy as np

    from pimbloomfilters_spark.sketches.bloom import bloom_positions, scatter_or_bits

    vals = np.arange(500_000, dtype=np.int64)
    words = np.zeros((1 << 24) // 64, dtype=np.uint64)
    scatter_or_bits(words, bloom_positions(vals, 24, 8, 42, 4096))  # warm
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(4):
            scatter_or_bits(words, bloom_positions(vals, 24, 8, 42, 4096))
        best = min(best, time.perf_counter() - t0)
    return round(4 * 500_000 / best / 1e6, 3)

# synthetic token-table rows scale with sf (sf0.1 -> 400k rows ~ 21.6M tokens)
def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _warmup(spark, cpus: int) -> None:
    """Spawn Python workers + trigger codegen/shuffle machinery before any
    timed section (the reference likewise times ops only after filter init,
    benchmarks/benchmark1.cpp:54-58)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    def _noop(batches):
        for b in batches:
            yield b

    (spark.range(0, cpus * 4, numPartitions=cpus * 4)
     .repartition(cpus * 4, F.pmod("id", F.lit(97)))
     .mapInArrow(_noop, "id long").count())


def run_bench() -> dict:
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from pimbloomfilters_spark.operators import build_sketch, probe_key_column
    from pimbloomfilters_spark.operators.probe import probe_count
    from pimbloomfilters_spark.operators.sharded import build_bloom_sharded
    from pimbloomfilters_spark.plans import CATALOG
    from pimbloomfilters_spark.session import get_spark
    from pimbloomfilters_spark.sketches import make_sketch
    from pimbloomfilters_spark.sources import generate_token_sequences

    sf = _sf_of(SF_DIR)
    calib_pre = _calibration()  # box bandwidth constant, measured pre-run
    # aggregate (8-proc) ceiling: the 1-proc constant can't see multi-core
    # bus contention, which made same-code windows disagree 2x on the
    # parallel token-build metrics (round-4 verdict #4). 8 procs sits at the
    # box's saturation knee (see _numpy_ceiling), so parallel metrics are
    # normalized by THIS constant, serial ones by the 1-proc constant.
    calib_agg_pre = _numpy_ceiling((8,))[8]
    spark = get_spark("pbf-bench", cpus=CPUS, shuffle_partitions=max(CPUS, 8))
    sc = spark.sparkContext
    timings: dict[str, float] = {}
    throughput: dict[str, float] = {}

    # ---- reference flow: sequential uint64 keys --------------------------------
    # sharded build: each task owns a disjoint bit-range, merge = concat (m/8
    # bytes total traffic) — the Spark analogue of the reference's DPU dispatch
    keys = spark.range(0, N_KEYS, numPartitions=CPUS * 2)
    keys.persist(StorageLevel.MEMORY_AND_DISK).count()  # materialize outside timing
    _warmup(spark, CPUS)

    # shard count scales with cores: shards are tasks, and 128 tasks on 2
    # workers is pure scheduling overhead (power of two required)
    n_shards = min(1 << (SIZE2 - 12), max(16, 1 << (CPUS.bit_length() + 1)))
    t_insert, sk = _best_of(lambda: build_bloom_sharded(
        keys, "id", size2=SIZE2, nb_hash=8, n_shards=n_shards))
    timings["bloom_insert_10M"] = t_insert
    throughput["insert_Mkeys_per_s"] = N_KEYS / t_insert / 1e6

    t0 = time.perf_counter()
    weight = sk.get_weight()
    timings["bloom_weight"] = time.perf_counter() - t0

    # shuffled lookup (same keys, different order — benchmark1.cpp uses shuffle)
    probe_df = keys.select((F.col("id") * 2654435761 % N_KEYS).alias("id"))
    t_lookup, (_, n_pos) = _best_of(lambda: probe_count(probe_df, sk, "id"))
    timings["bloom_lookup_10M"] = t_lookup
    throughput["lookup_Mkeys_per_s"] = N_KEYS / t_lookup / 1e6
    assert n_pos == N_KEYS, f"false negatives in bench: {n_pos} != {N_KEYS}"

    negatives = spark.range(N_KEYS, N_KEYS + N_NEG, numPartitions=CPUS)
    timings["bloom_fpr_probe"], (_, n_fp) = _best_of(
        lambda: probe_count(negatives, sk, "id"))
    fpr = {
        "measured": n_fp / N_NEG,
        "theoretical_blocked_bound": sk.theoretical_fpr_bound(N_KEYS),
        "size2": SIZE2, "k": 8, "n": N_KEYS, "weight": weight,
    }
    keys.unpersist()

    # ---- token-table builds (the north-rule payload) ----------------------------
    n_rows = int(os.environ.get("PBF_BENCH_ROWS", "0")) or max(10_000, int(4_000_000 * sf))
    toks = generate_token_sequences(spark, n_rows, num_partitions=CPUS * 2)
    toks.persist(StorageLevel.MEMORY_AND_DISK)
    n_tokens = toks.agg(F.sum("n_tok")).collect()[0][0]

    for kind, factory in [
        ("bloom", functools.partial(make_sketch, "bloom", size2=24, nb_hash=8)),
        ("hll", functools.partial(make_sketch, "hll", p=14)),
        ("cms", functools.partial(make_sketch, "cms", eps=1e-4, delta=1e-3)),
    ]:
        dt, _r = _best_of(lambda: build_sketch(toks, "tokens", factory))
        timings[f"tokens_build_{kind}"] = dt
        throughput[f"tokens_{kind}_Mtok_per_s"] = n_tokens / dt / 1e6
    t0 = time.perf_counter()
    build_sketch(toks, "n_tok", functools.partial(make_sketch, "kll", k=200))
    timings["ntok_build_kll"] = time.perf_counter() - t0
    toks.unpersist()

    # ---- FPR-vs-bound sweep over the (scaled) reference grid (SURVEY §7) -------
    import numpy as np

    from pimbloomfilters_spark.sketches import BlockedBloomFilter

    neg = np.arange(2_000_000_000, 2_000_500_000, dtype=np.int64)
    fpr_sweep = []
    for size2, n, k, blocked, published in [
        (22, 100_000, 8, True, None), (22, 400_000, 8, True, None),
        (24, 400_000, 8, True, None), (24, 1_600_000, 8, True, None),
        (22, 400_000, 4, True, None), (22, 400_000, 1, True, None),
        # the BASIC (non-blocked) variant: ideal-Bloom FPR at the same geometry
        (22, 400_000, 8, False, None), (24, 1_600_000, 8, False, None),
        # the published PIM grid row (reference notebooks/bench1_perfs.csv
        # row "0.00216,fpr,8,32,10000000,6": k=8, m=2^32, n=1e7, 6 ranks)
        # at the same load factor n/m scaled to m=2^24: n = 1e7/2^8 = 39062.
        # The published 0.00216 carries the PIM penalty (4096-bit MRAM
        # blocks + item->sub-filter skew, SURVEY "blocked-Bloom FPR
        # penalty"); our 64-bit-block design should land orders BELOW it,
        # tracking the reference's own CPU variant (~0 at this load,
        # notebooks/bench2_perfs.csv) while staying within OUR blocked bound
        (24, 39_062, 8, True, 0.00216),
    ]:
        bf = BlockedBloomFilter(size2=size2, nb_hash=k, blocked=blocked)
        bf.insert_bulk(np.arange(n, dtype=np.int64))
        row = {
            "size2": size2, "k": k, "n": n, "blocked": blocked,
            "measured": round(float(bf.contains_bulk(neg).mean()), 7),
            "bound": round(bf.theoretical_fpr_bound(n), 7),
        }
        if published is not None:
            row["published_ref_fpr"] = published
        fpr_sweep.append(row)

    # ---- estimate-vs-published-bound sweep (CMS / KLL / HLL) -------------------
    # numpy-only twin of the FPR sweep: deterministic zipf-ish stream, max
    # observed error vs the algorithm's bound at several geometries — the
    # "estimates within published error bounds" criterion, measured every run
    rng_vals = (np.arange(2_000_000, dtype=np.int64) % 50_000) ** 2 % 9973
    err_sweep = []
    for eps in (1e-3, 1e-4):
        cms = make_sketch("cms", eps=eps, delta=1e-3)
        cms.insert_bulk(rng_vals)
        uniq, cnt = np.unique(rng_vals, return_counts=True)
        over = cms.query_bulk(uniq) - cnt
        err_sweep.append({
            "kind": "cms", "eps": eps,
            "max_overestimate": int(over.max()), "min_overestimate": int(over.min()),
            "bound_eps_n": int(np.ceil(eps * rng_vals.size)),
            "ok": bool(over.min() >= 0 and over.max() <= eps * rng_vals.size),
        })
    for k in (100, 200):
        kll = make_sketch("kll", k=k)
        kll.insert_bulk(rng_vals)
        qs = [0.01, 0.25, 0.5, 0.75, 0.99]
        srt = np.sort(rng_vals)
        rank_err = max(
            abs(np.searchsorted(srt, kll.quantile(q), side="right")
                / rng_vals.size - q) for q in qs)
        bound = 2.861 / k  # Karnin-Lang-Liberty single-quantile bound ~c/k
        err_sweep.append({"kind": "kll", "k": k,
                          "max_rank_error": round(float(rank_err), 5),
                          "bound": round(bound, 5),
                          "ok": bool(rank_err <= bound)})
    for p in (12, 14):
        hll = make_sketch("hll", p=p)
        hll.insert_bulk(np.arange(1_000_000, dtype=np.int64))
        rel = abs(hll.estimate() - 1_000_000) / 1_000_000
        bound = 4 * 1.04 / (1 << p) ** 0.5
        err_sweep.append({"kind": "hll", "p": p,
                          "rel_error": round(float(rel), 5),
                          "bound_4sigma": round(bound, 5),
                          "ok": bool(rel <= bound)})

    # ---- oracle-gated catalog queries at SF_DIR ---------------------------------
    # best-of-N here too: this box shows transient 4-8x multi-tenant stalls
    # (a single 5s query was once measured at 48s), and a one-shot timing
    # turns that noise into a phantom regression
    for name, spec in CATALOG.items():
        timings[name], _ = _best_of(lambda: spec.fn(spark, SF_DIR).count())

    from pimbloomfilters_spark.sources.tables import unpersist_tokens

    unpersist_tokens(spark)
    spark.stop()
    calib_post = _calibration()
    calib_agg_post = _numpy_ceiling((8,))[8]
    calib = max(calib_pre, calib_post)  # best observed = truest hardware constant
    calib_agg = max(calib_agg_pre, calib_agg_post)
    return {
        "metric": "bloom insert+lookup wall (10M seq keys, size2=%d, k=8) + "
                  "sketch builds + catalog queries" % SIZE2,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "cpus": CPUS,
        "n_bench_tokens": int(n_tokens),
        "throughput": {k: round(v, 2) for k, v in throughput.items()},
        # calibration: the box's numpy insert-math ceiling (M keys/s), 1-proc
        # and 8-proc (the bus-saturation knee), measured before and after this
        # run. normalized = engine throughput / 1-proc ceiling (cross-round
        # continuity); normalized_agg8 = / 8-proc ceiling — the right constant
        # for the PARALLEL metrics, since 32 concurrent tasks contend for the
        # same bus the 8-proc measurement saturates. Compare normalized values
        # across rounds; raw numbers inherit the sandbox's 2-3x swings.
        "calibration": {
            "numpy_1proc_Mkeys_s_pre": calib_pre,
            "numpy_1proc_Mkeys_s_post": calib_post,
            "numpy_8proc_Mkeys_s_pre": calib_agg_pre,
            "numpy_8proc_Mkeys_s_post": calib_agg_post,
        },
        "throughput_normalized": {
            k: round(v / calib, 3) for k, v in throughput.items()
        },
        "throughput_normalized_agg8": {
            k: round(v / calib_agg, 3) for k, v in throughput.items()
        },
        "fpr": fpr,
        "fpr_sweep": fpr_sweep,
        "error_sweep": err_sweep,
    }


def compact_result(result: dict) -> dict:
    """The driver records only a 2000-byte TAIL of bench stdout — four rounds
    of BENCH_r{N}.json came back `"parsed": null` because the full result line
    (a 74-entry per-query timing map) is ~4 KB. The final stdout line must be
    the COMPACT record below (target <=800 bytes); the full record goes to
    BENCH_FULL.json + a `BENCH_FULL ` stderr line (run_scaling parses that)."""
    short = {"insert_Mkeys_per_s": "insert", "lookup_Mkeys_per_s": "lookup",
             "tokens_bloom_Mtok_per_s": "tok_bloom",
             "tokens_hll_Mtok_per_s": "tok_hll",
             "tokens_cms_Mtok_per_s": "tok_cms"}

    def _s(d):
        return {short.get(k, k): v for k, v in d.items()}

    cal = result["calibration"]
    c = {
        "metric": "bloom insert/lookup Mkeys_s + token-build Mtok_s, "
                  "%d-query catalog total; detail in BENCH_FULL.json" % sum(
                      1 for k in result["queries"]
                      if not k.startswith(("bloom_", "tokens_", "ntok_"))),
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        "cpus": result["cpus"],
        "throughput": _s(result["throughput"]),
        # norm_1p = /1-proc numpy ceiling, norm_8p = /8-proc (bus-saturated)
        "norm_1p": _s(result["throughput_normalized"]),
        "norm_8p": _s(result["throughput_normalized_agg8"]),
        "calibration": {"np1_pre": cal["numpy_1proc_Mkeys_s_pre"],
                        "np1_post": cal["numpy_1proc_Mkeys_s_post"],
                        "np8_pre": cal["numpy_8proc_Mkeys_s_pre"],
                        "np8_post": cal["numpy_8proc_Mkeys_s_post"]},
        "fpr": {"measured": result["fpr"]["measured"],
                "bound": result["fpr"]["theoretical_blocked_bound"],
                "size2": result["fpr"]["size2"], "k": result["fpr"]["k"],
                "n": result["fpr"]["n"]},
    }
    if len(json.dumps(c)) > 1900:  # hard driver limit is 2000; never exceed it
        c.pop("norm_8p")
        c["metric"] = "bloom+sketch+catalog bench; see BENCH_FULL.json"
    return c


def _numpy_ceiling(procs_list=(1, 8, 32)) -> dict:
    """Measure this box's aggregate numpy insert-math throughput (hash +
    scatter, no Spark) at several process counts. Single shared memory bus:
    this saturates well below 32x single-core — the hardware context for
    interpreting single-node weak-scaling numbers."""
    import multiprocessing as mp

    def work(q):
        import numpy as np

        from pimbloomfilters_spark.sketches.bloom import bloom_positions, scatter_or_bits

        vals = np.arange(500_000, dtype=np.int64)
        words = np.zeros((1 << 24) // 64, dtype=np.uint64)
        t0 = time.perf_counter()
        for _ in range(5):
            scatter_or_bits(words, bloom_positions(vals, 24, 8, 42, 4096))
        q.put(time.perf_counter() - t0)

    out = {}
    for procs in procs_list:
        q = mp.Queue()
        ps = [mp.Process(target=work, args=(q,)) for _ in range(procs)]
        t0 = time.perf_counter()
        [p.start() for p in ps]
        [p.join() for p in ps]
        wall = time.perf_counter() - t0
        out[procs] = round(procs * 5 * 500_000 / wall / 1e6, 2)
    return out


def run_scaling() -> None:
    """Weak-scaling evidence for the north rule's N-vs-4N-executor criterion
    (sandbox form: local[N] with workload W vs local[4N] with 4W — mirrors
    the reference's throughput benchmarks, which scale n with the machine).
    Efficiency = throughput(4N cores, 4W) / throughput(N cores, W) >= 0.8.
    Default N=2 (so both levels sit below the box's measured memory-bandwidth
    saturation point; see the numpy-ceiling table in BENCH.md)."""
    n_cores = int(os.environ.get("PBF_SCALE_N", "2"))
    rounds = int(os.environ.get("PBF_SCALE_ROUNDS", "2"))
    base_keys = N_KEYS // 4
    # 4x the bench token workload: W-level builds must run multiple seconds
    # or fixed job overhead (~0.5s) masquerades as lost scaling efficiency
    base_rows = int(os.environ.get("PBF_BENCH_ROWS", "0")) or int(16_000_000 * _sf_of(SF_DIR))
    ceiling = _numpy_ceiling((1, n_cores, 4 * n_cores, 32))
    results = {}
    # the sandbox shows ~2x multi-tenant noise across minutes (the numpy
    # ceiling itself fluctuates that much); interleave the two levels over
    # several rounds and keep each metric's best time per level
    for _ in range(rounds):
        for cpus, keys, rows in ((n_cores, base_keys, base_rows // 4),
                                 (n_cores * 4, base_keys * 4, base_rows)):
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                       PBF_BENCH_KEYS=str(keys), PBF_BENCH_ROWS=str(rows),
                       PBF_BENCH_REPS=os.environ.get("PBF_BENCH_REPS", "3"),
                       # keep scaling subprocesses from clobbering the main
                       # run's BENCH_FULL.json sidecar
                       PBF_BENCH_FULL_PATH=f"/tmp/bench_full_{cpus}c.json")
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env, capture_output=True, text=True, check=True,
            )
            # the full record (incl. the per-query map) travels on stderr —
            # stdout carries only the compact driver line (see compact_result)
            line = [l for l in out.stderr.splitlines()
                    if l.startswith("BENCH_FULL ")][-1]
            r = json.loads(line[len("BENCH_FULL "):])
            prev = results.get(cpus)
            if prev is None:
                results[cpus] = r
            else:
                for k, v in r["queries"].items():
                    prev["queries"][k] = min(prev["queries"].get(k, v), v)
                for k, v in r["throughput"].items():
                    prev["throughput"][k] = max(prev["throughput"].get(k, v), v)
    rA, rB = results[n_cores], results[n_cores * 4]
    lines = ["# BENCH — weak-scaling efficiency (sandbox N vs 4N evidence)",
             "",
             f"North-rule criterion run in its sandbox form: the same deterministic "
             f"job at local[{n_cores}] with workload W ({base_keys/1e6:.1f}M keys, "
             f"{rA['n_bench_tokens']:,} tokens) vs local[{n_cores*4}] with 4W "
             f"({base_keys*4/1e6:.1f}M keys, {rB['n_bench_tokens']:,} tokens); "
             f"size2={SIZE2}, k=8. Input is a pure function of row id, so both "
             f"levels see identical data distributions.", "",
             f"**Hardware context** — this sandbox is ONE machine with one shared "
             f"memory bus; aggregate pure-numpy insert-math throughput (no Spark) "
             f"saturates with process count: "
             + ", ".join(f"{p} proc = {v} M keys/s" for p, v in ceiling.items())
             + f". Weak scaling is therefore only meaningful below the saturation "
             f"knee; N={n_cores} vs 4N={n_cores*4} cores both sit under it. On a "
             f"real N- vs 4N-executor cluster each node adds its own memory "
             f"bandwidth, which is what the north rule measures.", "",
             f"| metric | local[{n_cores}] @ W | local[{n_cores*4}] @ 4W | "
             f"weak-scaling eff (T_N_W/T_4N_4W) |",
             "|---|---|---|---|"]
    effs = {}
    for key in ("bloom_insert_10M", "bloom_lookup_10M", "tokens_build_bloom",
                "tokens_build_hll", "tokens_build_cms"):
        tA, tB = rA["queries"][key], rB["queries"][key]
        effs[key] = tA / tB  # same wall time at 4x work on 4x cores => 1.0
        lines.append(f"| {key} | {tA:.2f}s | {tB:.2f}s | {effs[key]:.2f} |")
    lines += ["",
              f"Throughput local[{n_cores*4}]@4W: {json.dumps(rB['throughput'])}",
              f"Throughput local[{n_cores}]@W:   {json.dumps(rA['throughput'])}",
              f"FPR@4W: measured={rB['fpr']['measured']:.6f} vs blocked bound="
              f"{rB['fpr']['theoretical_blocked_bound']:.6f}", "",
              "Reference baselines (BASELINE.md): PIM insert ~80-137 M/s, lookup "
              "~30-39 M/s (6 UPMEM ranks ~ 384 DPUs); CPU 8-thread insert ~25-65 "
              "M/s. Those are bare-metal library calls on in-RAM arrays; ours "
              "include the full distributed data plane (shuffle, Arrow transfer, "
              "task scheduling) and scale out by adding executors.", ""]
    # preserve hand-maintained sections (noise analysis, scale smoke) that
    # live after the generated tables
    bench_path = os.path.join(_REPO, "BENCH.md")
    preserved = ""
    if os.path.exists(bench_path):
        old = open(bench_path).read()
        for marker in ("**Two earlier independent runs",
                       "**A second independent run", "**Noise note**",
                       "## Scale smoke"):
            if marker in old:
                preserved = old[old.index(marker):]
                break
    with open(bench_path, "w") as f:
        f.write("\n".join(lines))
        if preserved:
            f.write("\n" + preserved)
    print(json.dumps({"scaling_written": "BENCH.md",
                      "numpy_ceiling_Mkeys_s": ceiling,
                      "weak_scaling_efficiency": {k: round(v, 3) for k, v in effs.items()}}))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    else:
        # Route EVERYTHING the run produces (JVM log4j lines, console
        # progress bars, py4j chatter — all of which write to fd 1
        # directly, bypassing sys.stdout) to stderr at the fd level, so
        # the result JSON is the FINAL, BARE line on stdout. The driver
        # parses bench stdout mechanically; round 3 lost its structured
        # record because Spark noise landed around the JSON line.
        saved = os.dup(1)
        sys.stdout.flush()
        os.dup2(2, 1)
        try:
            result = run_bench()
        finally:
            sys.stdout.flush()
            os.dup2(saved, 1)
            os.close(saved)
        full = json.dumps(result)
        full_path = os.environ.get(
            "PBF_BENCH_FULL_PATH", os.path.join(_REPO, "BENCH_FULL.json"))
        with open(full_path, "w") as f:
            f.write(full + "\n")
        print("BENCH_FULL " + full, file=sys.stderr, flush=True)
        # FINAL stdout line = compact record only (driver keeps a 2000-byte tail)
        print(json.dumps(compact_result(result)), flush=True)
