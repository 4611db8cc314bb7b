"""Fold a Spark event log into per-execution layer metrics.

The traced run enables Spark's own uncompressed event log and tags every
query execution with a job group. Afterwards this module reads the log
and adds up, per execution, what the scheduler and the executor report:
jobs, stages, tasks, task run/CPU/GC time, shuffle, spill, scan input,
output bytes and the Python-worker SQL metrics.

A job belongs to an execution when its job group is the execution's
group. Jobs in other groups (Structured Streaming sets the query's run
id as the group of every micro-batch job) are attributed by submission
time instead: the benchmark is a closed loop, so every job submitted
between an execution's start and end is that execution's.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

MB = 1024.0 * 1024.0

# Python-worker SQL metrics (PythonSQLMetrics display names, Spark 4.x):
# name -> (field, scale to the field's unit). Timing metrics are in ms,
# size metrics in bytes.
PYTHON_ACCUMULABLES = {
    "time to run Python workers": ("python.total_s", 1e-3),
    "time to start Python workers": ("python.boot_s", 1e-3),
    "data sent to Python workers": ("python.sent_mb", 1.0 / MB),
}

EVENTLOG_FIELDS = (
    "build.jobs",
    "sched.jobs",
    "sched.stages",
    "sched.tasks",
    "sched.failed_tasks",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.gc_s",
    "exec.shuffle_write_mb",
    "exec.shuffle_read_mb",
    "exec.spill_mb",
    "scan.input_mb",
    "scan.records",
    "io.output_mb",
    "python.total_s",
    "python.boot_s",
    "python.sent_mb",
)


@dataclass(frozen=True)
class Window:
    """One query execution as the benchmark saw it: its job group and
    its wall-clock bounds in epoch milliseconds (`build_end_ms` is when
    the registry call returned, before the action started)."""

    key: str
    group: str
    start_ms: float
    build_end_ms: float
    end_ms: float


def read_events(log_dir: str):
    """Yield every event of every event log under `log_dir`: a plain
    file per application, or a rolling `eventlog_v2_*` directory of
    `events_<n>_*` parts read in part order."""
    paths: list[str] = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            paths.extend(parts)
        elif not os.path.basename(entry).startswith("."):
            paths.append(entry)
    for path in paths:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _owner(job: dict, windows: list[Window], by_group: dict[str, Window]):
    group = job.get("Properties", {}).get("spark.jobGroup.id")
    if group in by_group:
        return by_group[group]
    t = job.get("Submission Time", -1)
    for w in windows:
        if w.start_ms <= t <= w.end_ms:
            return w
    return None


def fold(events, windows: list[Window]) -> dict[str, dict[str, float]]:
    """Per-window sums of every field in EVENTLOG_FIELDS."""
    by_group = {w.group: w for w in windows}
    out = {w.key: {f: 0.0 for f in EVENTLOG_FIELDS} for w in windows}
    stage_owner: dict[int, Window] = {}
    stages_run: dict[str, set[int]] = {w.key: set() for w in windows}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            w = _owner(ev, windows, by_group)
            if w is None:
                continue
            rec = out[w.key]
            rec["sched.jobs"] += 1
            if ev.get("Submission Time", 0) < w.build_end_ms:
                rec["build.jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_owner[sid] = w
        elif kind == "SparkListenerTaskEnd":
            w = stage_owner.get(ev.get("Stage ID"))
            if w is None:
                continue
            rec = out[w.key]
            stages_run[w.key].add(ev["Stage ID"])
            _add_task(rec, ev)
    for key, sids in stages_run.items():
        out[key]["sched.stages"] = float(len(sids))
    return out


def _add_task(rec: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info", {})
    reason = ev.get("Task End Reason", {}).get("Reason", "Success")
    rec["sched.tasks"] += 1
    if info.get("Failed") or reason != "Success":
        rec["sched.failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    rec["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    rec["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    rec["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rec["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    sw = m.get("Shuffle Write Metrics", {})
    rec["exec.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    sr = m.get("Shuffle Read Metrics", {})
    rec["exec.shuffle_read_mb"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / MB
    inp = m.get("Input Metrics", {})
    rec["scan.input_mb"] += inp.get("Bytes Read", 0) / MB
    rec["scan.records"] += inp.get("Records Read", 0)
    rec["io.output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / MB
    for acc in info.get("Accumulables", []):
        hit = PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if hit is not None:
            field, scale = hit
            rec[field] += float(acc.get("Update", 0)) * scale
