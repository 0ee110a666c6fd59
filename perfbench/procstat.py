"""Process-tree CPU and memory, and host noise, read from /proc.

The program under test runs in child processes of the benchmark: the JVM
that PySpark launches and the Python workers the JVM forks. Summing
utime+stime+cutime+cstime over every live descendant gives a counter that
only grows while children are reaped inside the tree, so the difference of
two readings is the CPU the tree spent between them, including workers that
exited in the meantime.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listdir and open
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields after the command name) of every descendant of root."""
    children: dict[int, list[tuple[int, list[str]]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append((int(name), fields))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of root's descendants, including their reaped children."""
    return sum(sum(int(v) for v in f[11:15]) for _, f in descendants(root)) / _TICK


def tree_rss_mb(root: int) -> float:
    return sum(int(f[21]) for _, f in descendants(root)) * _PAGE / 2**20


class MemSampler:
    """Per-job peak, sampled on a thread while `active` is set, of the
    memory the program's work holds: the summed RSS of the Python workers
    (the JVM's descendants) plus the storage memory (cached blocks,
    broadcasts) and execution memory (sort, aggregation and join buffers)
    in use in Spark's memory manager. Garbage on the JVM heap is left out."""

    def __init__(self, jvm_pid: int, jvm, period_s: float = 0.1):
        self.jvm_pid, self.jvm, self.period_s = jvm_pid, jvm, period_s
        self.job_peak_mb = 0.0
        self.job_peaks: dict[str, float] = {}
        self.active = threading.Event()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start_job(self) -> None:
        with self._lock:
            self.job_peak_mb = 0.0
            self.job_peaks = {"workers_rss": 0.0, "spark_memory": 0.0}
        self.active.set()

    def _sample(self) -> None:
        mm = self.jvm.org.apache.spark.SparkEnv.get().memoryManager()
        now = {
            "workers_rss": tree_rss_mb(self.jvm_pid),
            "spark_memory": (mm.storageMemoryUsed() + mm.executionMemoryUsed()) / 2**20,
        }
        for k, v in now.items():
            self.job_peaks[k] = max(self.job_peaks[k], v)
        self.job_peak_mb = max(self.job_peak_mb, sum(now.values()))

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            with self._lock:
                if self.active.is_set():
                    self._sample()

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> dict[str, int]:
    """Host-wide steal and iowait ticks from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return {"iowait": vals[4], "steal": vals[7] if len(vals) > 7 else 0}


def noise_stamp(before: dict[str, int]) -> dict[str, float]:
    """Steal and iowait tick deltas since `before`, plus the 1-minute loadavg."""
    now = cpu_ticks()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "steal_ticks": now["steal"] - before["steal"],
        "iowait_ticks": now["iowait"] - before["iowait"],
        "loadavg_1m": load1,
    }


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
