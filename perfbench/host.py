"""The machine the benchmark runs on: sizing, versions, memory and a fixed
numpy calibration loop.

Nothing here imports the package under test, so a change to the package
cannot move the calibration figure.
"""

from __future__ import annotations

import os
import platform
import resource
import time

import numpy as np

_HEAP_CAP_MB = 4096  # the workloads are small; the box is shared


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints, minus its
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """At most half of physical memory, and no more than the workloads need."""
    return min(mem_total_mb() // 2, _HEAP_CAP_MB)


def describe() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "pyarrow": pyarrow.__version__,
    }


def rss_peak_mb() -> float:
    """Peak resident set of this (driver Python) process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_rss_peak_mb() -> float:
    """Peak resident set of the JVM this process launched (0 if none)."""
    me = str(os.getpid())
    peak = 0.0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if status.get("PPid", "").strip() == me and comm == "java":
            peak = max(peak, int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0)
    return peak


def numpy_1p_mkeys_s(n: int = 1 << 18, size2: int = 24, k: int = 8,
                     reps: int = 5) -> float:
    """Single-process numpy ceiling of a Bloom-style insert: a multiply-xor
    hash, k positions per key and a `bitwise_or.at` scatter. Median of
    `reps` timed loops after one warm loop, in M keys/s."""
    keys = np.arange(n, dtype=np.uint64)
    words = np.zeros((1 << size2) // 64, dtype=np.uint64)
    i = np.arange(k, dtype=np.uint64)
    mask = np.uint64((1 << size2) - 1)

    def insert() -> None:
        with np.errstate(over="ignore"):
            h1 = keys * np.uint64(0x9E3779B97F4A7C15)
            h1 ^= h1 >> np.uint64(29)
            h2 = (h1 * np.uint64(0xBF58476D1CE4E5B9)) | np.uint64(1)
            pos = ((h1[:, None] + i[None, :] * h2[:, None]) & mask).ravel()
        np.bitwise_or.at(words, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))

    insert()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        insert()
        times.append(time.perf_counter() - t0)
    return n / sorted(times)[reps // 2] / 1e6
