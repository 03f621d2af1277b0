"""Per-layer numbers from a Spark event log and the benchmark's own spans.

The benchmark records its spans (op, and for queries build and exec per
query) in epoch milliseconds. The event log (``spark.eventLog.compress``
off, so plain JSON lines) gives jobs, stages and tasks on the same
clock. A job belongs to the span that contains its submission time: one
client issues calls one after another, so the windows do not overlap,
and jobs started on other threads (streaming micro-batches) are still
attributed. The span tree is op -> build/exec -> job -> stage -> task;
a span's self time is its duration minus the union of its child job
intervals.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

# SQL metric display names of Spark 4.1's Python-runner metrics
# (pythonTotalTime, pythonBootTime); rows received come from the
# "number of output rows" metric of the Python/pandas plan node.
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
_PY_NODE_MARKERS = ("Pandas", "Python", "Arrow")


class Stage:
    __slots__ = ("sid", "submit", "done", "tasks", "acc")

    def __init__(self, sid: int) -> None:
        self.sid = sid
        self.submit = self.done = None
        self.tasks: list[dict] = []
        self.acc: dict[str, float] = defaultdict(float)

    def duration_s(self) -> float:
        return (self.done - self.submit) / 1000.0

    def metric(self, *path: str) -> float:
        """Sum over this stage's tasks of ``Task Metrics[path[0]][path[1]]...``."""
        total = 0.0
        for t in self.tasks:
            v = t["Task Metrics"]
            for key in path:
                v = v[key]
            total += float(v)
        return total


class EventLog:
    """Jobs, stages and tasks parsed from one application's event log."""

    def __init__(self, paths: list[str]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, Stage] = {}
        py_rows_ids: set[int] = set()
        for e in _events(paths):
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"submit": e["Submission Time"], "stages": e["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["done"] = e["Completion Time"]
            elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                info = e["Stage Info"]
                st = self.stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                st.submit = info.get("Submission Time", st.submit)
                st.done = info.get("Completion Time", st.done)
            elif kind == "SparkListenerTaskEnd":
                st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                if e.get("Task Metrics"):
                    st.tasks.append(e)
                for a in e["Task Info"].get("Accumulables", []):
                    if a["Name"] in (PY_TOTAL, PY_BOOT):
                        st.acc[a["Name"]] += float(a.get("Update") or 0)
                    elif a["ID"] in py_rows_ids:
                        st.acc["py_rows"] += float(a.get("Update") or 0)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _collect_py_rows_ids(e["sparkPlanInfo"], py_rows_ids)

    def jobs_in(self, start_ms: float, end_ms: float) -> list[dict]:
        return [j for j in self.jobs.values() if start_ms <= j["submit"] <= end_ms]

    def stages_of(self, jobs: list[dict]) -> list[Stage]:
        ids = {sid for j in jobs for sid in j["stages"]}
        return [self.stages[s] for s in sorted(ids) if s in self.stages and self.stages[s].done]


def _collect_py_rows_ids(plan: dict, out: set[int]) -> None:
    if any(m in plan["nodeName"] for m in _PY_NODE_MARKERS):
        for m in plan["metrics"]:
            if m["name"] == "number of output rows":
                out.add(m["accumulatorId"])
    for child in plan["children"]:
        _collect_py_rows_ids(child, out)


def _events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def find_event_log(log_dir: str) -> list[str]:
    """The files of the one application logged under ``log_dir``, in order.

    Spark 4 writes a rolling log (``eventlog_v2_<app>/events_<n>_<app>``);
    a plain single file (``local-<id>``) is accepted too.
    """
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*")) + glob.glob(
        os.path.join(log_dir, "local-*")
    )
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {apps}")
    if os.path.isfile(apps[0]):
        return apps
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def uncovered_s(start_ms: float, end_ms: float, jobs: list[dict]) -> float:
    """Seconds of [start, end] that no job interval covers (a span's self time)."""
    covered, reach = 0.0, start_ms
    for s, e in sorted((max(j["submit"], start_ms), min(j.get("done", end_ms), end_ms)) for j in jobs):
        if e > reach:
            covered += e - max(s, reach)
            reach = e
    return max(0.0, (end_ms - start_ms - covered) / 1000.0)


def spark_totals(stages: list[Stage]) -> dict[str, float]:
    """Executor-side sums over the tasks of ``stages``."""

    def total(*path: str) -> float:
        return sum(st.metric(*path) for st in stages)

    return {
        "spark.executor_run_s": total("Executor Run Time") / 1e3,
        "spark.executor_cpu_s": total("Executor CPU Time") / 1e9,
        "spark.gc_s": total("JVM GC Time") / 1e3,
        "spark.spill_mb": total("Disk Bytes Spilled") / 2**20,
        "spark.shuffle_write_mb": total("Shuffle Write Metrics", "Shuffle Bytes Written") / 2**20,
        "spark.task_wait_s": sum(
            max(0, t["Task Info"]["Launch Time"] - st.submit) for st in stages for t in st.tasks
        )
        / 1e3,
        "pandas_ops.python_total_s": sum(st.acc[PY_TOTAL] for st in stages) / 1e3,
        "pandas_ops.python_boot_s": sum(st.acc[PY_BOOT] for st in stages) / 1e3,
        "pandas_ops.python_rows": sum(st.acc["py_rows"] for st in stages),
    }


def wordcount_stages(stages: list[Stage], corpus_tokens: int) -> dict[str, float]:
    """Split one ``cli.run`` into its stages by what each one reads and writes.

    map: scans the files (input records); reduce: reads and writes a
    shuffle; sort sample: reads a shuffle and writes nothing (the range
    partitioner's sampling job); write: writes the output file.
    """
    out: dict[str, float] = defaultdict(float)
    for st in stages:
        if not st.tasks:
            continue
        sh_read = st.metric("Shuffle Read Metrics", "Total Records Read")
        sh_written = st.metric("Shuffle Write Metrics", "Shuffle Records Written")
        if st.metric("Input Metrics", "Records Read") > 0:
            out["operators.wordcount.map_stage_s"] += st.duration_s()
            out["operators.wordcount.map_cpu_s"] += st.metric("Executor CPU Time") / 1e9
            out["operators.wordcount.combine_ratio"] += sh_written / corpus_tokens
        elif st.metric("Output Metrics", "Bytes Written") > 0:
            out["cli.write_stage_s"] += st.duration_s()
            out["cli.output_mb"] += st.metric("Output Metrics", "Bytes Written") / 2**20
        elif sh_read > 0 and sh_written > 0:
            out["operators.wordcount.reduce_stage_s"] += st.duration_s()
        elif sh_read > 0:
            out["operators.wordcount.sort_sample_s"] += st.duration_s()
    return out


def median_of(records: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over per-op records (a key missing from an op counts as 0)."""
    keys = {k for r in records for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in records) for k in keys}
