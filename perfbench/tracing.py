"""Per-layer observation of query executions, from outside the program.

Used only by the traced run. Each execution runs under its own job group;
the tracer times the registry call (build) and the forced physical plan,
reads Catalyst's phase tracker, polls block-manager storage and the JVM
heap after the action, and collects Structured Streaming progress through
a Python `StreamingQueryListener`. Scheduler and executor figures come
from Spark's event log afterwards (see eventlog.py).
"""

from __future__ import annotations

import functools
import os
import time
from datetime import datetime

from eventlog import Window

MB = 1024.0 * 1024.0
CATALYST_PHASES = ("analysis", "optimization", "planning")

# Fields that describe a level after the query (memory held, bytes left
# on disk) rather than work done by it: a pass reports its last value,
# not a sum.
LEVEL_FIELDS = ("cache.retained_mb", "cache.retained_rdds", "jvm.heap_used_mb", "io.tmp_mb")


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.lstat(os.path.join(dirpath, fn)).st_size
            except OSError:
                pass
    return total / MB


def fold_progress(progress: list[dict], windows: list[Window]) -> dict[str, dict[str, float]]:
    """Per-window streaming fields from listener progress records, each
    `{"run_id", "ts_ms", "duration_ms": {...}, "state_rows", "state_bytes"}`.
    A record belongs to the window its trigger started in; state size is
    the last batch's per stream run, summed over the runs."""
    out = {}
    for w in windows:
        mine = sorted(
            (p for p in progress if w.start_ms <= p["ts_ms"] <= w.end_ms),
            key=lambda p: p["ts_ms"],
        )
        last: dict[str, dict] = {}
        rec = {
            "stream.batches": float(len(mine)),
            "stream.trigger_ms": 0.0,
            "stream.add_batch_ms": 0.0,
            "stream.commit_ms": 0.0,
        }
        for p in mine:
            d = p["duration_ms"]
            rec["stream.trigger_ms"] += d.get("triggerExecution", 0)
            rec["stream.add_batch_ms"] += d.get("addBatch", 0)
            rec["stream.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            last[p["run_id"]] = p
        rec["stream.state_rows"] = float(sum(p["state_rows"] for p in last.values()))
        rec["stream.state_mb"] = sum(p["state_bytes"] for p in last.values()) / MB
        out[w.key] = rec
    return out


def _progress_listener(sink: list[dict]):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append({
                "run_id": str(p.runId),
                "ts_ms": ts.timestamp() * 1e3,
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


class Tracer:
    """Hooks around one query execution; records one dict per execution."""

    def __init__(self, spark, queries_module, tmp_dir: str) -> None:
        self.spark = spark
        self.tmp_dir = tmp_dir
        self.progress: list[dict] = []
        self.records: list[dict] = []
        self.windows: list[Window] = []
        self._listener = _progress_listener(self.progress)
        self._attached = False
        self._tune_s = 0.0
        # the registry calls queries.tune_session once per query; timing
        # it means rebinding that module global to a timed wrapper
        original = queries_module.tune_session

        @functools.wraps(original)
        def timed(spark_session):
            t = time.perf_counter()
            try:
                return original(spark_session)
            finally:
                self._tune_s += time.perf_counter() - t

        queries_module.tune_session = timed
        self._rec: dict = {}

    def attach(self) -> None:
        if not self._attached:
            self.spark.streams.addListener(self._listener)
            self._attached = True

    def detach(self) -> None:
        if self._attached:
            self.spark.streams.removeListener(self._listener)
            self._attached = False

    def begin(self, key: str) -> None:
        self._group = f"perfbench:{key}"
        self.spark.sparkContext.setJobGroup(self._group, key)
        self._tune_s = 0.0
        self._rec = {"key": key}
        self._start_ms = time.time() * 1e3

    def built(self, build_s: float) -> None:
        self._build_end_ms = time.time() * 1e3
        self._rec["build.s"] = build_s
        self._rec["session.tune_s"] = self._tune_s

    def plan(self, fp_df) -> None:
        t = time.perf_counter()
        qe = fp_df._jdf.queryExecution()
        qe.executedPlan()
        self._rec["plan.s"] = time.perf_counter() - t
        phases = qe.tracker().phases()
        for name in CATALYST_PHASES:
            opt = phases.get(name)
            ms = opt.get().durationMs() if opt.isDefined() else 0
            self._rec[f"catalyst.{name}_ms"] = float(ms)

    def end(self, action_s: float) -> None:
        end_ms = time.time() * 1e3
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        jsc = self.spark.sparkContext._jsc.sc()
        infos = jsc.getRDDStorageInfo()
        mem = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self._rec.update({
            "exec.action_s": action_s,
            "cache.retained_rdds": float(len(infos)),
            "cache.retained_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
            "jvm.heap_used_mb": mem.getHeapMemoryUsage().getUsed() / MB,
            "io.tmp_mb": dir_mb(self.tmp_dir),
        })
        self.records.append(self._rec)
        self.windows.append(Window(self._rec["key"], self._group, self._start_ms,
                                   self._build_end_ms, end_ms))

    def drain_listeners(self) -> None:
        """Block until the listener bus has delivered every posted event,
        so the streaming progress of the last query is in `progress`."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
