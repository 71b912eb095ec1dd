"""Measurement probes: per-pass CPU noise, process-tree memory and Spark
event-log parsing.  All of them only read /proc or files this benchmark
wrote itself."""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


@dataclass
class Pass:
    """Wall time of one pass plus the machine noise around it: busy and
    steal CPU seconds of the whole machine, and the 1-minute load average
    at its end.  Every pass is kept, so the noise is disclosed, not hidden."""

    label: str
    wall_s: float = 0.0
    busy_s: float = 0.0
    steal_s: float = 0.0
    load1: float = 0.0
    failures: list = field(default_factory=list)

    def __enter__(self):
        self._j0 = cpu_jiffies()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        b1, s1 = cpu_jiffies()
        self.busy_s = (b1 - self._j0[0]) / CLK_TCK
        self.steal_s = (s1 - self._j0[1]) / CLK_TCK
        self.load1 = os.getloadavg()[0]
        return False


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (forked Python workers) are split
    between their sharers instead of counted once per process."""
    for path, key in ((f"/proc/{pid}/smaps_rollup", "Pss:"), (f"/proc/{pid}/status", "VmRSS:")):
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


def tree_pss_mb(root: int) -> tuple[float, float]:
    """(Python processes, other processes) PSS in MB of ``root`` and its
    descendants."""
    kids = _children()
    py = other = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                is_py = f.read().startswith("python")
        except OSError:
            is_py = False
        kb = _pss_kb(pid)
        if is_py:
            py += kb
        else:
            other += kb
        stack += kids.get(pid, [])
    return py / 1024.0, other / 1024.0


class MemoryPeak:
    """Samples the memory of this process and every descendant in a
    background thread.  ``python_mb`` is the largest total seen since the
    last ``reset`` over the Python processes (this driver and Spark's Python
    workers, where every sketch kernel runs); ``jvm_mb`` the same over the
    rest (the Spark JVM, whose heap growth varies run to run with GC).
    Reading PSS walks each process's page tables, so sampling is kept sparse
    to leave the measured processes alone."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.reset()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-peak", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            py, other = tree_pss_mb(os.getpid())
            self.python_mb = max(self.python_mb, py)
            self.jvm_mb = max(self.jvm_mb, other)

    def reset(self) -> None:
        self.python_mb = self.jvm_mb = 0.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ event log


@dataclass
class Stage:
    tasks: int = 0
    task_s: float = 0.0
    max_task_s: float = 0.0
    write_bytes: int = 0
    write_records: int = 0
    read_records: list = field(default_factory=list)  # per task
    spill_bytes: int = 0


def read_event_log(directory: str) -> dict[str, list[Stage]]:
    """{job description: [stages]} from the Spark event logs in ``directory``.

    A stage belongs to the description of the first job that lists it; the
    benchmark sets the description around every call it times."""
    desc_of: dict[int, str] = {}
    stages: dict[int, Stage] = {}
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(directory) for f in files)
    for path in paths:  # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> files
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        desc_of.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], Stage())
                    run_s = m.get("Executor Run Time", 0) / 1000.0
                    st.tasks += 1
                    st.task_s += run_s
                    st.max_task_s = max(st.max_task_s, run_s)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.write_bytes += sw.get("Shuffle Bytes Written", 0)
                    st.write_records += sw.get("Shuffle Records Written", 0)
                    st.read_records.append((m.get("Shuffle Read Metrics") or {}).get("Total Records Read", 0))
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out: dict[str, list[Stage]] = {}
    for sid, st in stages.items():
        out.setdefault(desc_of.get(sid), []).append(st)
    return out


HARNESS_METRICS = (
    "partial.task_s",
    "partial.tasks",
    "partial.max_task_s",
    "shuffle.write_bytes",
    "shuffle.records",
    "merge.task_s",
    "merge.max_task_s",
    "merge.read_skew",
    "spill_bytes",
)


def harness_layers(stages: list[Stage]) -> dict[str, float]:
    """Split the stages of one harness call into the partial (map-side,
    writes shuffle, reads none) and merge (reads shuffle) levels."""
    partial = [s for s in stages if s.write_bytes and not sum(s.read_records)]
    merge = [s for s in stages if sum(s.read_records)]
    skew = [max(s.read_records) / (sum(s.read_records) / len(s.read_records)) for s in merge]
    return {
        "harness.partial.task_s": sum(s.task_s for s in partial),
        "harness.partial.tasks": sum(s.tasks for s in partial),
        "harness.partial.max_task_s": max((s.max_task_s for s in partial), default=0.0),
        "harness.shuffle.write_bytes": sum(s.write_bytes for s in stages),
        "harness.shuffle.records": sum(s.write_records for s in stages),
        "harness.merge.task_s": sum(s.task_s for s in merge),
        "harness.merge.max_task_s": max((s.max_task_s for s in merge), default=0.0),
        "harness.merge.read_skew": max(skew, default=0.0),
        "harness.spill_bytes": sum(s.spill_bytes for s in stages),
    }
