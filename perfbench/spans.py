"""Spans, self time and Spark counters for the traced benchmark run.

Spans are recorded in memory by the benchmark's own code around each call
into a layer of the program (name, start, end, parent, run id) and written
as JSON when the run ends.  Spark counts (jobs, stages, tasks, task
durations, shuffle bytes) are read from outside the program, through the
SparkContext status tracker and the application status store, for the job
group a span opened.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  Disabled tracers record nothing, so the
    timed runs pay only a function call per span."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, name: str) -> float:
        """Total wall seconds of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"run_id": self.run_id, "spans": self.spans, "self_s": self_times(self.spans)},
                fh,
                indent=1,
            )


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


class SparkCounters:
    """Jobs fired under named job groups, and their stage/task statistics,
    read from the SparkContext's status tracker and status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._stack: list[str] = []

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group; yields the group id.  A
        nested group takes the jobs of its body only; the enclosing group
        is restored when it ends."""
        gid = f"perfbench-{len(self._stack)}-{name}-{id(object())}"
        self._stack.append(gid)
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, gid: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stats(self, gid: str) -> dict:
        """Counts over every job of the group.  Stages Spark skipped (their
        shuffle output was reused) contribute nothing."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        jobs = self.job_ids(gid)
        stage_ids = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = {
            "jobs": len(jobs),
            "stages": 0,
            "tasks": 0,
            "task_failures": 0,
            "task_durations_s": [],
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "fetch_wait_s": 0.0,
            "input_records": 0,
        }
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["task_failures"] += sd.numFailedTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1000.0
                out["input_records"] += sd.inputRecords()
                tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
                for t in range(tasks.size()):
                    d = tasks.apply(t).duration()
                    if d.isDefined():
                        out["task_durations_s"].append(d.get() / 1000.0)
        return out


def descendants(root_pid: int | None = None) -> set[int]:
    """Pids of every live process descending from root_pid (default: this
    process), read from /proc."""
    root = os.getpid() if root_pid is None else root_pid
    parent_of: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the last ')'
        parent_of[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    found, frontier = set(), {root}
    while frontier:
        frontier = {p for p, pp in parent_of.items() if pp in frontier} - found
        found |= frontier
    return found


def python_worker_peak_rss_mb() -> float:
    """Highest VmHWM (peak resident set) of any PySpark Python worker that
    descends from this process (driver → JVM → pyspark.daemon → workers).
    0.0 when no worker is alive."""
    peak_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0
