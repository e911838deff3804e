"""Smoke test of the ``pbf-sketch-job`` command line (``spark_jobs/
sketch_job.py``): build -> inspect -> probe -> combine over the suite's
testdata, each step in its own process, as spark-submit would run it."""

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

_JOB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "spark_jobs", "sketch_job.py")


def _run(tmp_path, *args):
    """Run one subcommand; return the JSON object it prints last."""
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=(
        "--master local[2] --driver-memory 1g pyspark-shell"))
    proc = subprocess.run([sys.executable, _JOB, *args], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads([ln for ln in proc.stdout.splitlines()
                       if ln.startswith("{")][-1])


def test_sketch_job_build_inspect_probe_combine(tmp_path, sf_dir):
    orders = pq.read_table(f"{sf_dir}/orders.parquet",
                           columns=["o_custkey"])["o_custkey"].to_numpy()
    cust = pq.read_table(f"{sf_dir}/customer.parquet",
                         columns=["c_custkey"])["c_custkey"].to_numpy()
    bloom = str(tmp_path / "orders.bloom")
    built = _run(tmp_path, "build", "--input", f"{sf_dir}/orders.parquet",
                 "--col", "o_custkey", "--kind", "bloom", "--size2", "16",
                 "--nb-hash", "4", "--out", bloom)
    assert built["kind"] == "bloom" and built["n_values"] == orders.size
    info = _run(tmp_path, "inspect", "--sketch", bloom)
    assert info["kind"] == "bloom" and info["weight"] > 0
    probed = _run(tmp_path, "probe", "--input", f"{sf_dir}/customer.parquet",
                  "--col", "c_custkey", "--sketch", bloom,
                  "--out", str(tmp_path / "probed"))
    exact = int(np.isin(cust, orders).sum())
    assert exact <= probed["members"] <= cust.size  # no false negatives
    merged = str(tmp_path / "merged.bloom")
    combined = _run(tmp_path, "combine", "--sketch", bloom, "--other", bloom,
                    "--out", merged)
    assert combined["kind"] == "bloom"
    with open(bloom, "rb") as a, open(merged, "rb") as b:
        assert a.read() == b.read()  # OR with itself changes no bit
