"""Tests of the benchmark's own logic; no Spark is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import statistics

import pytest

import eventlog
import run
import summary
from correctness import Gate
from eventlog import Window
from tracing import fold_progress
from workloads import MIN_PASSES, WORKLOADS, Workload


# -- query_s.tail percentile -------------------------------------------

@pytest.mark.parametrize("n, p", [(100, 90), (200, 95), (21, 52), (30, 66), (11, 9), (10, 0), (3, 0)])
def test_tail_percentile_leaves_ten_beyond(n, p):
    assert summary.tail_percentile(n) == p
    if p:
        assert n * (100 - p) / 100 >= 10
        # and the next percentile up would leave fewer than ten
        assert n * (100 - (p + 1)) / 100 < 10


def test_workload_passes_and_tail_percentile():
    wl = Workload("w", "why", ("a",) * 7, pass_s=4.0)
    assert wl.passes(16) == 4
    assert wl.passes(1) == MIN_PASSES
    assert wl.tail_pct(16) == 64  # 28 executions
    assert wl.tail_pct(12) == 52  # 21 executions
    small = Workload("w", "why", ("a",) * 3, pass_s=5.0)
    assert small.tail_pct(15) == 100  # 9 executions: too few, report the max


def test_percentile_interpolates_like_numpy_linear():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert summary.percentile(xs, 0) == 1.0
    assert summary.percentile(xs, 100) == 4.0
    assert summary.percentile(xs, 50) == 2.5
    assert summary.percentile(xs, 90) == pytest.approx(3.7)
    assert summary.percentile([5.0], 90) == 5.0
    with pytest.raises(ValueError):
        summary.percentile([], 50)


# -- median and quartiles of passes ------------------------------------

def test_median_and_quartiles_match_statistics_module():
    walls = [3.1, 2.9, 3.4, 3.0, 3.3, 2.8, 3.2, 3.6, 2.7, 3.05]
    q1, q2, q3 = summary.quartiles(walls)
    assert [q1, q2, q3] == statistics.quantiles(walls, n=4)
    assert summary.relative_spread(walls) == pytest.approx((q3 - q1) / q2)
    assert summary.quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert summary.relative_spread([0.0, 0.0, 0.0]) == 0.0


# -- failed_frac and the oracle fallback -------------------------------

def test_outcomes_count_failures_and_oracle_rescues():
    o = summary.Outcomes()
    assert o.record("a") is True
    assert o.record("b", raised="AnalysisException: x") is False
    assert o.record("c", fingerprint_ok=False, oracle_ok=True) is True
    assert o.record("d", fingerprint_ok=False, oracle_ok=False) is False
    assert (o.attempted, o.failed, o.rescued) == (4, 2, 1)
    assert o.failed_frac == 0.5
    assert len(o.errors) == 2 and o.errors[0].startswith("b: raised")
    assert summary.Outcomes().failed_frac == 0.0


def test_gate_consults_oracle_only_on_mismatch_and_once_per_fingerprint():
    calls = []

    def oracle(name):
        calls.append(name)
        return name == "float_sum"

    gate = Gate({"q": (7, 3), "float_sum": (1, 2), "wrong": (5, 5)}, oracle)
    assert gate.check("q", (7, 3)) == (True, None)
    assert gate.check("float_sum", (9, 2)) == (False, True)
    assert gate.check("float_sum", (9, 2)) == (False, True)
    assert gate.check("wrong", (6, 5)) == (False, False)
    assert calls == ["float_sum", "wrong"]
    # a query with no reference goes to the oracle too
    assert gate.check("new", (1, 1)) == (False, False)


# -- folding an event log ----------------------------------------------

def _job(job_id, group, t, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}


def _task(stage, run_ms=100, cpu_ns=50_000_000, failed=False, accumulables=(), **metrics):
    m = {
        "Executor Run Time": run_ms,
        "Executor CPU Time": cpu_ns,
        "JVM GC Time": metrics.get("gc", 0),
        "Disk Bytes Spilled": metrics.get("spill", 0),
        "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
        "Shuffle Read Metrics": {"Remote Bytes Read": metrics.get("rr", 0),
                                 "Local Bytes Read": metrics.get("lr", 0)},
        "Input Metrics": {"Bytes Read": metrics.get("inb", 0),
                          "Records Read": metrics.get("inr", 0)},
        "Output Metrics": {"Bytes Written": metrics.get("outb", 0)},
    }
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
            "Task Info": {"Failed": failed, "Accumulables": list(accumulables)},
            "Task Metrics": m}


MB = 1024 * 1024

SYNTHETIC_LOG = [
    {"Event": "SparkListenerLogStart"},
    # query A: one job at build time, one at the action
    _job(0, "perfbench:1:A", 1_000, [0]),
    _task(0, run_ms=200, cpu_ns=100_000_000, gc=20, inb=2 * MB, inr=500),
    _job(1, "perfbench:1:A", 1_600, [1, 2]),
    _task(1, sw=MB),
    _task(2, rr=MB // 2, lr=MB // 2, spill=MB,
          accumulables=[{"ID": 9, "Name": "time to run Python workers", "Update": "1500"},
                        {"ID": 10, "Name": "time to start Python workers", "Update": "250"},
                        {"ID": 11, "Name": "data sent to Python workers", "Update": 3 * MB},
                        {"ID": 12, "Name": "number of output rows", "Update": "7"}]),
    _task(2, failed=True),
    # query B: a streaming micro-batch job under the stream's run-id group,
    # attributed by submission time, then the fingerprint job
    _job(2, "5b12c28f-run-id", 2_300, [3]),
    _task(3, outb=MB),
    _job(3, "perfbench:1:B", 2_900, [4, 5]),  # stage 5 skipped: no tasks
    _task(4),
    # a job outside every window (e.g. the oracle fallback) is ignored
    _job(4, None, 9_000, [6]),
    _task(6, run_ms=10_000),
]

WINDOWS = [
    Window("1:A", "perfbench:1:A", 900, 1_500, 2_000),
    Window("1:B", "perfbench:1:B", 2_100, 2_800, 3_000),
]


def test_fold_event_log_into_layers():
    out = eventlog.fold(SYNTHETIC_LOG, WINDOWS)
    a, b = out["1:A"], out["1:B"]
    assert (a["build.jobs"], a["sched.jobs"], a["sched.stages"]) == (1, 2, 3)
    assert (a["sched.tasks"], a["sched.failed_tasks"]) == (4, 1)
    assert a["exec.task_run_s"] == pytest.approx(0.5)
    assert a["exec.task_cpu_s"] == pytest.approx(0.25)
    assert a["exec.gc_s"] == pytest.approx(0.02)
    assert a["scan.input_mb"] == pytest.approx(2.0)
    assert a["scan.records"] == 500
    assert a["exec.shuffle_write_mb"] == pytest.approx(1.0)
    assert a["exec.shuffle_read_mb"] == pytest.approx(1.0)
    assert a["exec.spill_mb"] == pytest.approx(1.0)
    assert a["python.total_s"] == pytest.approx(1.5)
    assert a["python.boot_s"] == pytest.approx(0.25)
    assert a["python.sent_mb"] == pytest.approx(3.0)
    assert a["io.output_mb"] == 0
    # B: the streaming job counts as a build job of B (submitted before
    # its build ended); the skipped stage is not a stage that ran
    assert (b["build.jobs"], b["sched.jobs"], b["sched.stages"], b["sched.tasks"]) == (1, 2, 2, 2)
    assert b["io.output_mb"] == pytest.approx(1.0)
    assert b["exec.task_run_s"] == pytest.approx(0.2)


def test_read_events_plain_file_and_rolling_dir(tmp_path):
    lines = [json.dumps(e) for e in SYNTHETIC_LOG]
    (tmp_path / "plain").mkdir()
    (tmp_path / "plain" / "local-1").write_text("\n".join(lines) + "\n")
    rolling = tmp_path / "rolling" / "eventlog_v2_local-1"
    rolling.mkdir(parents=True)
    (rolling / "appstatus_local-1").write_text("")
    (rolling / "events_2_local-1").write_text("\n".join(lines[6:]) + "\n")
    (rolling / "events_1_local-1").write_text("\n".join(lines[:6]) + "\n")
    for d in ("plain", "rolling"):
        events = list(eventlog.read_events(str(tmp_path / d)))
        assert events == SYNTHETIC_LOG
        assert eventlog.fold(events, WINDOWS) == eventlog.fold(SYNTHETIC_LOG, WINDOWS)


def test_fold_streaming_progress():
    prog = [
        {"run_id": "r1", "ts_ms": 2_200, "state_rows": 10, "state_bytes": MB,
         "duration_ms": {"triggerExecution": 300, "addBatch": 200, "walCommit": 20, "commitOffsets": 30}},
        {"run_id": "r1", "ts_ms": 2_500, "state_rows": 15, "state_bytes": 2 * MB,
         "duration_ms": {"triggerExecution": 100, "addBatch": 50, "walCommit": 5, "commitOffsets": 5}},
        {"run_id": "r2", "ts_ms": 2_600, "state_rows": 1, "state_bytes": 0,
         "duration_ms": {"triggerExecution": 10}},
        {"run_id": "r9", "ts_ms": 50_000, "state_rows": 99, "state_bytes": 99,
         "duration_ms": {"triggerExecution": 99}},
    ]
    out = fold_progress(prog, WINDOWS)
    assert out["1:A"]["stream.batches"] == 0 and out["1:A"]["stream.state_rows"] == 0
    b = out["1:B"]
    assert b["stream.batches"] == 3
    assert b["stream.trigger_ms"] == 410
    assert b["stream.add_batch_ms"] == 250
    assert b["stream.commit_ms"] == 60
    assert b["stream.state_rows"] == 16  # last batch of r1 plus r2
    assert b["stream.state_mb"] == pytest.approx(2.0)


# -- per-pass aggregation and query order ------------------------------

def test_pass_layers_sums_work_and_keeps_last_level():
    recs = [
        {"build.s": 1.0, "exec.task_run_s": 4.0, "cache.retained_rdds": 3.0, "io.tmp_mb": 1.0},
        {"build.s": 0.5, "exec.task_run_s": 2.0, "cache.retained_rdds": 5.0, "io.tmp_mb": 0.5},
    ]
    out = run.pass_layers(recs, wall_s=3.0, cores=4)
    assert out["build.s"] == 1.5
    assert out["cache.retained_rdds"] == 5.0
    assert out["io.tmp_mb"] == 0.5
    assert out["exec.core_busy"] == pytest.approx(6.0 / 12.0)
    assert out["sched.jobs"] == 0.0
    assert set(out) == set(run.PER_LAYER_UNITS) - set(run.RUN_FIELDS)


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(8)]
    first = run.pass_order(names, seed=3, pass_no=1)
    assert sorted(first) == names
    assert run.pass_order(names, seed=3, pass_no=1) == first
    orders = {tuple(run.pass_order(names, seed=s, pass_no=p)) for s in range(3) for p in range(3)}
    assert len(orders) > 1


def test_benchmark_json_lists_the_metrics_run_py_prints():
    import os

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for w in spec["workloads"]:
        wl = WORKLOADS[w["name"]]
        pct, n = wl.tail_pct(spec["run_seconds"]), wl.passes(spec["run_seconds"]) * len(wl.queries)
        assert (f"p{pct} of {n}" if pct < 100 else f"max of {n}") in w["why"]
