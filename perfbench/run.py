#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Closed loop, one client: a single process submits one query at a time
from the registry (`queries.queries()`) and times the registry call plus
the collect of the result's fingerprint. Two untimed warm-up passes
come first, the first of them cold; then a fixed number of timed passes
over the workload's query list, about `--seconds` of them (workloads.py),
each in an order drawn from `--seed`. Every execution is checked against
its reference fingerprint after its pass, outside the timed region
(correctness.py).

`--trace 0` prints the end-to-end metrics. `--trace 1` is the separate
traced run: it alternates plain and traced passes and prints the
per-layer metrics, including the tracing overhead (tracing.py,
eventlog.py). Per-query detail goes to perfbench/results/. The last line
of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(1, ROOT)

import correctness  # noqa: E402
import host  # noqa: E402
import summary  # noqa: E402
from workloads import DATA_DIR, SCALE, WARMUP_PASSES, WORKLOADS, Workload  # noqa: E402

RESULTS_DIR = os.path.join(HERE, "results")
RUNS_DIR = os.path.join(ROOT, ".perfbench_run")

END_TO_END_UNITS = {
    "setup_s": "s",
    "batch_s": "s",
    "query_s.p50": "s",
    "query_s.tail": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.tune_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "plan.s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.failed_tasks": "count",
    "exec.action_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "scan.input_mb": "MB",
    "scan.records": "count",
    "io.output_mb": "MB",
    "io.tmp_mb": "MB",
    "python.total_s": "s",
    "python.boot_s": "s",
    "python.sent_mb": "MB",
    "stream.batches": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "cache.retained_mb": "MB",
    "cache.retained_rdds": "count",
    "jvm.heap_used_mb": "MB",
    "trace.batch_s": "s",
    "trace.overhead_s": "s",
    "host.steal_frac": "ratio",
}

# Per-layer metrics not folded from per-query records: values of the whole
# run, and ratios computed from a pass's totals.
RUN_FIELDS = ("session.start_s", "trace.batch_s", "trace.overhead_s", "host.steal_frac")
PASS_FIELDS = ("exec.core_busy",)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def pass_order(names, seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def pass_layers(records: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    """One traced pass's per-layer values from its per-query records:
    sums of work fields, the last query's value of level fields, and the
    share of the pass's core-seconds that tasks were running."""
    from tracing import LEVEL_FIELDS

    out: dict[str, float] = {}
    for field in PER_LAYER_UNITS:
        if field in RUN_FIELDS or field in PASS_FIELDS:
            continue
        vals = [r.get(field, 0.0) for r in records]
        out[field] = vals[-1] if field in LEVEL_FIELDS else sum(vals)
    out["exec.core_busy"] = out["exec.task_run_s"] / (wall_s * cores)
    return out


def open_spark(run_dir: str, app_name: str, log_dir: str | None = None):
    """A Spark session sized to the machine, whose temp, local and (with
    `log_dir`) event-log files all live under `run_dir`; returns it with
    the seconds `get_spark` took. Configured only through the
    environment, so the program's own session code runs unchanged."""
    tmp_dir = os.path.join(run_dir, "tmp")
    local_dir = os.path.join(run_dir, "local")
    for d in (tmp_dir, local_dir, log_dir):
        if d:
            os.makedirs(d)
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if log_dir:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ.update(host.sizing_env())
    os.environ.update({
        "TMPDIR": tmp_dir,
        "SPARK_LOCAL_DIRS": local_dir,
        # the JVM ignores TMPDIR: keep its temp files (streaming
        # checkpoints among them) and perf data out of /tmp too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    tempfile.tempdir = None  # make the tempfile module re-read TMPDIR

    from tugas_2_big_data_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=app_name)
    return spark, time.perf_counter() - t


def close_spark(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for every
    one of them to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    workers = host.descendants(proc.pid)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        host.kill_all(host.wait_gone(workers, 10.0))


class Run:
    """One benchmark process: a Spark session, the workload, its results."""

    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool, run_dir: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.run_dir = run_dir
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.log_dir = os.path.join(run_dir, "eventlog")
        self.outcomes = summary.Outcomes()
        self.warmup_failures: list[str] = []
        self.exec_s: list[float] = []
        self.warmup_passes: list[dict] = []
        self.passes: list[dict] = []
        self.check_s = 0.0
        self.tracer = None
        self.spark = None
        self.tracing_pass = False
        self._oracle = None

    # -- session -----------------------------------------------------
    def start(self) -> None:
        from tugas_2_big_data_spark import queries as q

        self.spark, self.session_start_s = open_spark(
            self.run_dir, f"perfbench-{self.wl.name}", self.log_dir if self.trace else None
        )
        self.memory = host.MemorySampler(self.spark.sparkContext._gateway.proc.pid)
        self.memory.start()
        self.registry = q.queries()
        missing = [n for n in self.wl.queries if n not in self.registry]
        if missing:
            raise SystemExit(f"queries not in the registry: {missing}")
        self.gate = correctness.Gate(correctness.load_reference(SCALE), self._oracle_ok)
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark, q, self.tmp_dir)

    def _oracle_ok(self, name: str) -> bool:
        if self._oracle is None:
            self._oracle = correctness.OracleCompare(self.spark, self.registry, DATA_DIR, ROOT)
        return self._oracle.rerun_ok(name)

    def stop(self) -> None:
        """Stop Spark and every process it started. Safe to call twice."""
        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        self.memory.stop()
        close_spark(spark)

    # -- executions --------------------------------------------------
    def execute(self, name: str, key: str):
        """One timed execution: (seconds, fingerprint or None, error or None)."""
        tr = self.tracer if self.tracing_pass else None
        t0 = time.perf_counter()
        try:
            if tr:
                tr.begin(key)
            df = self.registry[name](self.spark, DATA_DIR)
            t1 = time.perf_counter()
            fp_df = correctness.fingerprint_frame(df)
            if tr:
                tr.built(t1 - t0)
                tr.plan(fp_df)
            t2 = time.perf_counter()
            fp = correctness.collect_fingerprint(fp_df)
            t3 = time.perf_counter()
            if tr:
                tr.end(t3 - t2)
        except Exception as e:  # a failing query is a measured outcome
            return time.perf_counter() - t0, None, f"{type(e).__name__}: {str(e)[:300]}"
        return t3 - t0, fp, None

    def run_pass(self, pass_no: int, timed: bool) -> None:
        results = []
        t0 = time.perf_counter()
        for name in pass_order(self.wl.queries, self.seed, pass_no):
            results.append((name, *self.execute(name, f"{pass_no}:{name}")))
        wall = time.perf_counter() - t0
        # correctness is checked after the pass, outside the timed region
        t_check = time.perf_counter()
        for name, dt, fp, err in results:
            fp_ok, oracle = (False, None) if err else self.gate.check(name, fp)
            if timed:
                self.exec_s.append(dt)
                self.outcomes.record(name, raised=err, fingerprint_ok=fp_ok, oracle_ok=oracle)
            elif err or not (fp_ok or oracle):
                self.warmup_failures.append(f"{name}: {err or 'wrong result'}")
        self.check_s += time.perf_counter() - t_check
        (self.passes if timed else self.warmup_passes).append({
            "pass": pass_no,
            "traced": self.tracing_pass,
            "wall_s": wall,
            "query_s": {name: dt for name, dt, _, _ in results},
        })

    def measure(self) -> None:
        # warm-up passes are numbered up to 0, timed passes from 1
        for pass_no in range(1 - WARMUP_PASSES, 1):
            self.run_pass(pass_no, timed=False)
        self.setup_s = process_age_s() - self.check_s
        cpu0 = host.cpu_times()
        # a traced run interleaves plain and traced passes (plain, traced,
        # traced, plain, ...) so the tracing overhead is measured inside one
        # process, and a steady drift between passes cancels out of it
        n = self.wl.passes(self.seconds)
        for pass_no in range(1, (max(n, 4) if self.trace else n) + 1):
            self.tracing_pass = self.trace and pass_no % 4 in (2, 3)
            if self.tracer:
                (self.tracer.attach if self.tracing_pass else self.tracer.detach)()
            self.run_pass(pass_no, timed=True)
        self.steal = host.steal_frac(cpu0, host.cpu_times())
        if self.tracer:
            self.tracer.drain_listeners()
            self.tracer.detach()

    # -- results -----------------------------------------------------
    def host_record(self) -> dict:
        conf = self.spark.sparkContext.getConf()
        return {
            "workload": self.wl.name,
            "seed": self.seed,
            "trace": int(self.trace),
            "scale": SCALE,
            "cores": self.spark.sparkContext.defaultParallelism,
            "driver_mem": conf.get("spark.driver.memory"),
            "spark_version": self.spark.version,
            "session_start_s": self.session_start_s,
            "queries": list(self.wl.queries),
        }

    def end_to_end(self) -> dict[str, float]:
        walls = [p["wall_s"] for p in self.passes]
        return {
            "setup_s": self.setup_s,
            "batch_s": statistics.median(walls),
            "query_s.p50": statistics.median(self.exec_s),
            "query_s.tail": summary.percentile(self.exec_s, self.wl.tail_pct(self.seconds)),
            "peak_rss_mb": self.memory.peak_mb,
        }

    def per_layer(self, cores: int) -> tuple[dict[str, float], list[dict]]:
        """Per-layer metrics (median over traced passes of each pass's
        value) and the per-query records they come from. Reads the event
        log, so Spark must have been stopped first."""
        import eventlog
        from tracing import fold_progress

        tr = self.tracer
        folded = eventlog.fold(eventlog.read_events(self.log_dir), tr.windows)
        streamed = fold_progress(tr.progress, tr.windows)
        for rec in tr.records:
            rec.update(folded[rec["key"]])
            rec.update(streamed[rec["key"]])
        traced = [p for p in self.passes if p["traced"]]
        plain = [p for p in self.passes if not p["traced"]]
        per_pass = []
        for p in traced:
            recs = [r for r in tr.records if r["key"].split(":", 1)[0] == str(p["pass"])]
            per_pass.append(pass_layers(recs, p["wall_s"], cores))
        metrics = {f: statistics.median([pp[f] for pp in per_pass]) for f in per_pass[0]}
        trace_batch = statistics.median([p["wall_s"] for p in traced])
        metrics.update({
            "session.start_s": self.session_start_s,
            "trace.batch_s": trace_batch,
            "trace.overhead_s": trace_batch - statistics.median([p["wall_s"] for p in plain]),
            "host.steal_frac": self.steal,
        })
        return metrics, tr.records


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _terminate(signum, frame):
    # unwind once, so the run stops what it started; a second signal must
    # not interrupt that cleanup
    signal.signal(signum, signal.SIG_IGN)
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=RUNS_DIR)
    run = Run(wl, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        run.start()
        run.measure()
        record = run.host_record()
        cores = record["cores"]
        run.stop()
        if run.trace:
            metrics, per_query = run.per_layer(cores)
            units = PER_LAYER_UNITS
        else:
            metrics, per_query = run.end_to_end(), []
            units = END_TO_END_UNITS
    finally:
        run.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    out = run.outcomes
    record.update({
        "steal_frac": run.steal,
        "peak_jvm_mb": run.memory.peak_root_mb,
        "peak_python_workers_mb": run.memory.peak_workers_mb,
        "warmup_passes": run.warmup_passes,
        "passes": run.passes,
        "attempted": out.attempted,
        "failed": out.failed,
        "rescued_by_oracle": out.rescued,
        "errors": out.errors + [f"warm-up {e}" for e in run.warmup_failures],
        "tail_pct": wl.tail_pct(args.seconds),
        "pass_s_quartiles": summary.quartiles([p["wall_s"] for p in run.passes]),
        "metrics": metrics,
        "per_query": per_query,
    })
    os.makedirs(RESULTS_DIR, exist_ok=True)
    path = os.path.join(RESULTS_DIR, f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
          f"cores={cores} driver_mem={record['driver_mem']} "
          f"spark={record['spark_version']} steal_frac={run.steal:.4f} "
          f"data={SCALE} passes={len(run.passes)} executions={out.attempted}")
    for err in record["errors"]:
        print(f"  FAILED {err}")
    notes = {
        "batch_s": "  (passes q1..q3: {:.3f}..{:.3f})".format(*record["pass_s_quartiles"][::2]),
        "query_s.tail": f"  (p{wl.tail_pct(args.seconds)} of {len(run.exec_s)})",
    }
    for name, value in metrics.items():
        note = notes.get(name, "") if not run.trace else ""
        print(f"  {name:24s} {value:12.4f} {units[name]}{note}")
    if not run.trace:
        print(f"  {'failed_frac':24s} {out.failed_frac:12.4f} ratio  ({out.failed}/{out.attempted})")
    print(f"  per-pass and per-query detail: {os.path.relpath(path, ROOT)}")
    correct = out.failed == 0 and not run.warmup_failures
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
