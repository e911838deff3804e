"""Benchmark of the sketch library through its public API.

    python3 perfbench/run.py --workload keys_sharded --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: keys_sharded, tokens_table (see
workloads.py and BENCHMARK.json). The run

1. starts a session sized from the machine (local[nproc], shuffle
   partitions 2 x nproc, driver heap at most half of physical memory),
2. makes the workload's inputs from --seed three times, then calls every
   operation once untimed (the warm-up); all of this is setup_s,
3. computes the exact answers the checks need, outside any timed part,
4. with --trace 0, repeats passes over the operations until --seconds
   have elapsed and reports the end-to-end metrics (ops_geomean_s is the
   geomean over operations of each one's median time);
   with --trace 1, runs one untraced pass and one traced pass (spans, Spark
   job groups, event log), then the per-layer splits, and reports the
   per-layer metrics,
5. prints a detail line, then as the last line one JSON object with the
   keys correct, attempted, failed and metrics.

Everything the run writes stays under .perfbench_run/ (removed at the end)
and .perfbench_out/ (span files of traced runs) in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pimbloomfilters_spark"
SETUP_REPS = 3
# ops whose Spark jobs the traced run attributes from the event log
SPARK_OPS = ("insert", "lookup", "tokens_bloom", "tokens_hll", "tokens_cms",
             "tokens_kll", "grouped_hll", "probe_tokens")
LAYERS = ("op", "session", "sources", "hashing", "sketches", "operators",
          "plans", "streaming")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=("keys_sharded", "tokens_table"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true",
                   help="toy input sizes (harness smoke test)")
    p.add_argument("--inject-fault", action="store_true",
                   help="keys_sharded: probe keys that were never inserted")
    return p.parse_args(argv)


def configure_env(work: str, trace: bool, heap_mb: int) -> None:
    """Keep every file Spark, the JVM and Python write under `work`, and
    pass the launch config to the JVM through PYSPARK_SUBMIT_ARGS."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system /tmp, from the launcher or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    args += [f"--conf={k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]}
            for k in ("end_to_end", "per_layer")}


def run(args, work: str):
    import host
    from harness import Bench
    from spans import Tracer, event_log_totals

    par = host.nproc()
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": host.describe()}
    configure_env(work, args.trace, host.driver_heap_mb())
    calib_pre = host.numpy_1p_mkeys_s()

    from pimbloomfilters_spark.session import get_spark
    from workloads import WORKLOADS

    tracer = Tracer(uuid.uuid4().hex[:12])
    tracer.enabled = bool(args.trace)
    bench = Bench(tracer)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(f"perfbench-{args.workload}", cpus=par,
                          shuffle_partitions=2 * par)
    launch_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    detail["host"]["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    bench.sc = spark.sparkContext
    wl = WORKLOADS[args.workload](bench, spark, args.seed, args.toy,
                                  args.inject_fault, work, par)
    try:
        prep = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.exact()
        exact_s = time.perf_counter() - t0
        ops = wl.ops()
        t0 = time.perf_counter()
        with tracer.span("session.warmup", layer="session"):
            bench.run_pass(ops, record=False)
        warmup_s = time.perf_counter() - t0

        layer: dict[str, float] = {}
        if not args.trace:
            passes = bench.loop(ops, args.seconds)
        else:
            tracer.enabled = False
            untraced = bench.run_pass(ops)
            bench.times.clear()
            tracer.enabled = bench.tag_jobs = True
            passes = [bench.run_pass(ops)]
            bench.tag_jobs = False
            layer["trace.overhead_s"] = passes[0] - untraced
            for name in SPARK_OPS:
                if name in bench.times:
                    layer[f"spark.{name}.tasks"] = float(bench.tasks(name))
            layer.update(wl.layers())
            layer["host.jvm_rss_peak_mb"] = host.jvm_rss_peak_mb()
        names = [op.name for op in ops]
        medians = {n: bench.median(n) for n in names}
        detail.update(
            passes_s=passes,
            op_median_s=medians,
            op_times_s={n: bench.times[n] for n in names},
            setup={"launch_s": launch_s, "prepare_s": prep, "warmup_s": warmup_s,
                   "exact_s": exact_s},
        )
        if args.workload == "keys_sharded" and wl.fpr is not None:
            detail["fpr_ratio"] = wl.fpr_ratio()
        if args.trace:
            layer.update(op_layer_metrics(args.workload, wl, medians))
    finally:
        wl.release()
        stop_spark(spark)

    setup_s = launch_s + statistics.median(prep) + warmup_s
    calib_post = host.numpy_1p_mkeys_s()
    detail["host"]["numpy_1p_Mkeys_s"] = [calib_pre, calib_post]
    detail["errors"] = bench.errors
    if not args.trace:
        return detail, {
            "setup_s": setup_s,
            "ops_geomean_s": bench.geomean_s(names),
            "ok_ops_ratio": (bench.attempted - bench.failed) / bench.attempted,
            "driver_rss_peak_mb": host.rss_peak_mb(),
        }, bench
    # per-layer: setup layers, Spark-side totals per op, self time per layer
    prep_name = {"keys_sharded": "sources.keys_persist_s",
                 "tokens_table": "sources.tokens_generate_s"}[args.workload]
    layer.update({"session.get_spark_s": launch_s, "session.warmup_s": warmup_s,
                  prep_name: statistics.median(prep),
                  "host.numpy_1p_Mkeys_s": (calib_pre + calib_post) / 2})
    totals = event_log_totals(os.path.join(work, "eventlog"))
    for name in SPARK_OPS:
        for group in bench.groups.get(name, ()):
            for k, v in totals.get(group, {}).items():
                key = f"spark.{name}.{k}"
                layer[key] = layer.get(key, 0.0) + v
    self_t = tracer.self_times()
    for lay in LAYERS:
        layer[f"self.{lay}_s"] = self_t.get(lay, 0.0)
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    tracer.dump(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.json"))
    detail["self_time_s"] = self_t
    return detail, layer, bench


def op_layer_metrics(workload: str, wl, medians: dict) -> dict:
    """End-to-end figures of single operations in the traced pass."""
    out = {}
    if workload == "keys_sharded":
        out["op.insert_Mkeys_s"] = wl.n / medians["insert"] / 1e6
        out["op.lookup_Mkeys_s"] = wl.n / medians["lookup"] / 1e6
        if wl.fpr is not None:
            out["op.fpr_ratio"] = wl.fpr_ratio()
    else:
        for name in ("tokens_bloom", "tokens_hll", "tokens_cms", "tokens_kll",
                     "grouped_hll", "probe_tokens"):
            out[f"op.{name}_Mtok_s"] = wl.n_tokens / medians[name] / 1e6
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to {HERE}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    specs = metric_specs()
    work = os.path.join(os.getcwd(), ".perfbench_run")
    shutil.rmtree(work, ignore_errors=True)
    # Spark and the JVM write to fd 1 directly; keep stdout for the result
    saved = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    try:
        detail, values, bench = run(args, work)
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)
        shutil.rmtree(work, ignore_errors=True)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in specs[kind].items()}
    extra = sorted(set(values) - set(specs[kind]))
    if extra:
        detail["unlisted_metrics"] = {k: values[k] for k in extra}
    print(json.dumps({"perfbench_detail": detail}), flush=True)
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
