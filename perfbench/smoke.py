"""Toy-size smoke test of the benchmark harness (a few minutes).

    python3 perfbench/smoke.py

Run from the repository root. It checks that
- every workload, untraced and traced, ends with a result line that names
  every metric of BENCHMARK.json with its unit, and no operation fails;
- every per-layer metric is non-zero on at least one workload, apart from
  counters that may rightly be zero at toy size;
- an injected wrong answer (probing keys that were never inserted) is
  counted as failed, not reported as a fast run;
- without the package next to it, the benchmark exits non-zero and prints
  no result;
- layer_map.json names exactly the per-layer metrics of BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAY_BE_ZERO = (".shuffle_bytes", ".spill_bytes", ".sparse_share", "trace.overhead_s")


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--seed", "1", "--seconds", "1", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and set(result) != {"correct", "attempted", "failed",
                                              "metrics"}:
        result = None
    if p.returncode == 0 and result is None:
        print(p.stderr[-3000:], file=sys.stderr)
    return p.returncode, result


def expect(cond: bool, msg: str, failures: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {k: {m["name"]: m["unit"] for m in spec[k]}
             for k in ("end_to_end", "per_layer")}
    failures: list[str] = []
    nonzero: set[str] = set()
    for w in (x["name"] for x in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = bench("--workload", w, "--trace", str(trace), "--toy")
            label = f"{w} --trace {trace}"
            expect(rc == 0 and res is not None, f"{label}: exit 0 with a result", failures)
            if res is None:
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{label}: correct, {res['failed']} of {res['attempted']} failed",
                   failures)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == units[kind], f"{label}: every {kind} metric with its unit",
                   failures)
            nonzero |= {k for k, v in res["metrics"].items() if v["value"]}
            if trace == 0:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{label}: end-to-end metrics are non-zero", failures)
    silent = sorted(n for n in units["per_layer"]
                    if n not in nonzero and not n.endswith(MAY_BE_ZERO))
    expect(not silent, f"per-layer metrics measured somewhere (never: {silent})",
           failures)

    rc, res = bench("--workload", "keys_sharded", "--trace", "0", "--toy",
                    "--inject-fault")
    expect(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1
           and res["metrics"]["ok_ops_ratio"]["value"] < 1,
           "injected wrong answer is counted as failed", failures)

    bare = os.path.join(ROOT, ".perfbench_smoke")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        rc, res = bench("--workload", "keys_sharded", "--trace", "0", cwd=bare)
        expect(rc != 0 and res is None,
               "without the package: non-zero exit, no result", failures)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    with open(os.path.join(HERE, "layer_map.json")) as f:
        mapped = {m for entry in json.load(f)["layers"] for m in entry["metrics"]}
    expect(mapped == set(units["per_layer"]),
           f"layer_map.json covers the per-layer metrics "
           f"(missing {sorted(set(units['per_layer']) - mapped)}, "
           f"unknown {sorted(mapped - set(units['per_layer']))})", failures)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
