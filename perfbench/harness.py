"""The closed loop that times a workload's operations and checks each result.

A workload is a list of `Op`s. One pass calls them in order, each starting
when the previous one has returned; passes repeat until the run's seconds
are used. Every call counts as attempted; a call that raises or whose
result fails its check counts as failed, and its time is still recorded.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable

from spans import Tracer, job_group_tasks


@dataclass
class Op:
    name: str
    fn: Callable[[], Any]
    # returns a list of error strings; empty when the result is right
    check: Callable[[Any], list[str]]


class Bench:
    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.sc = None  # set once the session exists
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.times: dict[str, list[float]] = {}
        self.groups: dict[str, list[str]] = {}
        self.tag_jobs = False

    def call(self, op: Op, record: bool = True) -> Any:
        """One call of `op`, timed, then checked outside the timed part."""
        self.attempted += 1
        group = None
        if self.tag_jobs:
            group = f"pb:{op.name}:{self.attempted}"
            self.sc.setJobGroup(group, op.name)
            self.groups.setdefault(op.name, []).append(group)
        result, errors = None, []
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{op.name}"):
                result = op.fn()
        except Exception:
            errors = [traceback.format_exc(limit=4)]
        elapsed = time.perf_counter() - t0
        if group is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        if not errors:
            try:
                errors = op.check(result)
            except Exception:
                errors = [traceback.format_exc(limit=4)]
        if errors:
            self.failed += 1
            msg = f"{op.name}: " + "; ".join(errors)
            self.errors.append(msg)
            print(f"[perfbench] FAILED {msg}", file=sys.stderr, flush=True)
        if record:
            self.times.setdefault(op.name, []).append(elapsed)
        return result

    def run_pass(self, ops: list[Op], record: bool = True) -> float:
        t0 = time.perf_counter()
        for op in ops:
            self.call(op, record)
        return time.perf_counter() - t0

    def loop(self, ops: list[Op], seconds: float) -> list[float]:
        """Closed loop of whole passes until `seconds` have elapsed."""
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            passes.append(self.run_pass(ops))
        return passes

    def median(self, name: str) -> float:
        return statistics.median(self.times[name])

    def geomean_s(self, names: list[str]) -> float:
        return math.exp(sum(math.log(self.median(n)) for n in names) / len(names))

    def tasks(self, name: str) -> int:
        return sum(job_group_tasks(self.sc, g) for g in self.groups.get(name, ()))


def median_of(fn: Callable[[], Any], reps: int = 5) -> float:
    """Median seconds of `reps` calls after one untimed call."""
    fn()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)
