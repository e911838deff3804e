"""Spans, Spark job groups and the Spark event log, as seen from the
benchmark's own calls into the package.

Spans are kept in memory and written out once, when the run ends. A span
records its name, layer, start, end, parent span and the run id; a layer's
self time is the time its spans cover minus the time their child spans
cover.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "layer": layer or name.split(".", 1)[0],
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_time_s": self.self_times()}, f)


def job_group_tasks(sc, group: str) -> int:
    """Completed tasks of every job tagged with `group` (status tracker)."""
    st = sc.statusTracker()
    n = 0
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        for stage_id in (info.stageIds if info else ()):
            stage = st.getStageInfo(stage_id)
            if stage is not None:
                n += stage.numCompletedTasks
    return n


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: shuffle bytes written, bytes spilled and task run
    time, summed over the task-end events of the (stopped) application's
    event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"shuffle_bytes": 0.0, "spill_bytes": 0.0, "task_busy_s": 0.0})
    # Spark 4 writes each application's log as a directory of event files
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics") or {}
                    if group is None or not tm:
                        continue
                    acc = out[group]
                    acc["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                             ).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                           + tm.get("Disk Bytes Spilled", 0))
                    acc["task_busy_s"] += tm.get("Executor Run Time", 0) / 1000.0
    return dict(out)
