"""What the benchmark reads from, and sets on, the host: Spark sizing,
CPU steal, resident memory of the Spark processes, and process cleanup.

Everything here goes through the environment and /proc; no program code
is changed to size or observe it.
"""

from __future__ import annotations

import os
import signal
import threading
import time

# The driver heap gets a quarter of physical memory, at most 1 GB: the
# program's own default (16g) does not fit a 15 GB host, and the sf0.01
# tables need little. The cap also keeps peak memory steady from run to
# run: with 2-4 GB of headroom the JVM grew its heap by 1.0-1.6 GB
# depending on the run, which is garbage-collector policy, not workload.
DRIVER_MEM_CAP_MB = 1024


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem_mb(meminfo_path: str = "/proc/meminfo") -> int:
    with open(meminfo_path) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(512, min(DRIVER_MEM_CAP_MB, total_mb // 4))
    raise RuntimeError(f"no MemTotal in {meminfo_path}")


def sizing_env() -> dict[str, str]:
    """Environment that sizes `get_spark` to the machine it runs on."""
    return {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEM": f"{driver_mem_mb()}m",
    }


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate `cpu` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; fields after
        # the last ')' are fixed: state, ppid, ...
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
    except (OSError, IndexError, ValueError):
        return 0.0
    return pages * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


def pss_mb(pid: int) -> float:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it, so the Python workers, forked from
    one daemon, do not count their shared pages once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class MemorySampler:
    """Samples the resident memory of a process tree on a background
    thread and keeps the peaks: the root (the Spark JVM) by its RSS, which
    is cheap to read and shares little, and its descendants (the Python
    workers, forked from one daemon) by their proportional set size."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_root_mb = 0.0
        self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        root = rss_mb(self.root_pid)
        # only Python processes: a child the JVM has forked but not yet
        # exec'd (a shell command run for a file-system call) still maps,
        # and would count again, the JVM's whole heap
        workers = sum(pss_mb(p) for p in descendants(self.root_pid)
                      if comm(p).startswith("python"))
        self.peak_mb = max(self.peak_mb, root + workers)
        self.peak_root_mb = max(self.peak_root_mb, root)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self.sample()


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def kill_all(pids: list[int]) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in pids if _alive(p)]
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        if not wait_gone(alive, 5.0):
            return
