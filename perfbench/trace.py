"""Measurement plumbing: spans, host context, process-tree RSS, JVM
counters, and the fold of Spark's event log into per-job-group totals."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans: name, path (``parent/name``), start, end, parent,
    the CPU seconds this process tree spent in it (``cpu_s``) and the share
    of the host's CPU time the hypervisor stole meanwhile (``steal``).
    With ``spark`` set, every span tags the Spark jobs it launches with its
    path as job group, so the event-log fold can attribute task metrics."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def _group(self, path: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if path is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(path, path)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        path = f"{parent}/{name}" if parent else name
        self._stack.append(path)
        self._group(path)
        ticks0, (usr0, sys0) = _cpu_ticks(), tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            (usr1, sys1), ticks1 = tree_cpu_s(os.getpid()), _cpu_ticks()
            self._stack.pop()
            self._group(parent)
            self.spans.append({"name": name, "path": path, "parent": parent, "start": t0, "end": t1,
                               "cpu_s": usr1 + sys1 - usr0 - sys0, "sys_s": sys1 - sys0,
                               "steal": _steal(ticks0, ticks1)})

    def durations(self, path: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["path"] == path]

    def cpu(self, path: str) -> list[float]:
        return [s["cpu_s"] for s in self.spans if s["path"] == path]

    def steal(self, path: str) -> list[float]:
        return [s["steal"] for s in self.spans if s["path"] == path]

    def last(self, path: str) -> float:
        return self.durations(path)[-1]

    def with_self_times(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the time its children
        cover. Children of one span run one after another, never overlapping."""
        out = []
        for s in self.spans:
            kids = sum(
                c["end"] - c["start"]
                for c in self.spans
                if c["parent"] == s["path"] and s["start"] <= c["start"] and c["end"] <= s["end"]
            )
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - kids})
        return out


# ------------------------------------------------------------ host context


def _cpu_ticks() -> dict:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(fields[:8]), "steal": fields[7] if len(fields) > 7 else 0}


def host_sample() -> dict:
    return {
        "t": time.time(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "cpu_ticks": _cpu_ticks(),
    }


def _steal(start: dict, end: dict) -> float:
    d_total = end["total"] - start["total"]
    return (end["steal"] - start["steal"]) / d_total if d_total > 0 else 0.0


def steal_share(start: dict, end: dict) -> float:
    return _steal(start["cpu_ticks"], end["cpu_ticks"])


def process_age_s() -> float:
    """Seconds since this process was exec'd (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------- process-tree memory


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(user, system) CPU seconds of ``root`` and its descendants. Summing
    each live process's own and reaped children's times counts every
    process of the tree once, exited ones included."""
    usr = sys = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
        except (OSError, ValueError, IndexError):
            continue
        usr += utime + cutime
        sys += stime + cstime
    hz = os.sysconf("SC_CLK_TCK")
    return usr / hz, sys / hz


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM
    and the Python workers it forks) and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


# ------------------------------------------------------------ JVM counters


def jvm_counters(spark) -> dict:
    """Cumulative driver-JVM GC and JIT compilation milliseconds."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    gc = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
    return {"gc_ms": gc, "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime()}


# --------------------------------------------------------- event-log fold

# task accumulable name -> fold key (several names may share a key)
_TASK_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_to",
    "data returned from Python workers": "py_bytes_from",
}

FOLD_KEYS = sorted(set(_TASK_ACCUMS.values()) | {"tasks", "jobs"})


def fold_event_log(path: str) -> dict[str, dict]:
    """One uncompressed, non-rolling event log -> {job group: totals}.
    Jobs without a group fold under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, dict.fromkeys(FOLD_KEYS, 0))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                bucket(group)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_group.get(ev.get("Stage ID"), ""))
                b["tasks"] += 1
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = _TASK_ACCUMS.get(acc.get("Name"))
                    if key is not None:
                        b[key] += int(acc.get("Update") or 0)
    return out


def sum_groups(fold: dict[str, dict], prefix: str) -> dict:
    """Totals over the job group ``prefix`` and every group nested under it."""
    total = dict.fromkeys(FOLD_KEYS, 0)
    for group, b in fold.items():
        if group == prefix or group.startswith(prefix + "/"):
            for k in FOLD_KEYS:
                total[k] += b[k]
    return total
