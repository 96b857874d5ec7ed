"""Run perfbench/run.py once with a per-thread CPU split of its cold operation.

    python plans/perf/pr18/thread_split.py CHECKOUT [--compile-log] -- RUN_ARGS...

RUN_ARGS go to CHECKOUT/perfbench/run.py unchanged (for example
``--workload convert_frag --seed 1 --seconds 6 --trace 0``), which runs in
this process. Around its ``first`` span (the cold operation) this script
reads the user+system clock ticks of every thread of the driver JVM
(``/proc/<jvm>/task/*/stat``) and of every process of the tree, then
prints one ``SPLIT {...}`` line after run.py's own JSON line, in seconds:

- ``c1``, ``c2``: live C1 / C2 compiler threads. JDK 17 starts and stops
  compiler threads as its queue grows, so a thread that exited inside the
  span is missing here;
- ``jvm_exited``: JVM CPU of threads that exited inside the span (the JVM
  process total minus its live threads);
- ``executor_tasks``: Spark's "Executor task launch worker" threads;
- ``jvm_gc``, ``jvm_other``: GC threads; every other live JVM thread;
- ``py_workers``: the live Python processes under the JVM (the PySpark
  daemon and its workers; one that exited inside the span is missing);
- ``py_driver``: this process, all its threads;
- ``jvm_compiler_threads_end``: C1 / C2 thread counts at the span's end.

``--compile-log`` adds ``-Xlog:jit+compilation=debug`` to the checkout's
``DEFAULT_DRIVER_JAVA_OPTS`` and reports how many methods each tier
compiled inside the span (``compiles_by_tier``). The log costs CPU itself,
so a run with it does not measure ``first_op_cpu_s``.
"""

from __future__ import annotations

import json
import os
import re
import runpy
import sys
import tempfile
from contextlib import contextmanager

_TCK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str) -> int:
    with open(stat_path) as f:
        rest = f.read().rsplit(")", 1)[1].split()
    return int(rest[11]) + int(rest[12])  # utime + stime


def _comm(path: str) -> str:
    with open(path) as f:
        return f.read().strip()


def _jvm_pid(tree: list[int]) -> int | None:
    for pid in tree:
        try:
            if _comm(f"/proc/{pid}/comm") == "java":
                return pid
        except OSError:
            pass
    return None


def _snapshot(descendants) -> dict:
    tree = descendants(os.getpid())
    jvm = _jvm_pid(tree)
    snap = {"driver": _ticks("/proc/self/stat"), "procs": {}, "threads": {}, "jvm": jvm,
            "jvm_total": 0, "uptime": None}
    for pid in tree:
        if pid == jvm:
            continue
        try:
            snap["procs"][pid] = _ticks(f"/proc/{pid}/stat")
        except OSError:
            pass
    if jvm is not None:
        snap["jvm_total"] = _ticks(f"/proc/{jvm}/stat")
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                snap["threads"][tid] = (_comm(f"/proc/{jvm}/task/{tid}/comm"),
                                        _ticks(f"/proc/{jvm}/task/{tid}/stat"))
            except OSError:
                pass
        with open("/proc/uptime") as f:
            host_up = float(f.read().split()[0])
        with open(f"/proc/{jvm}/stat") as f:
            start = int(f.read().rsplit(")", 1)[1].split()[19]) / _TCK
        snap["uptime"] = host_up - start  # seconds since the JVM started
    return snap


def _kind(name: str) -> str:
    if name.startswith("C1 CompilerThre"):
        return "c1"
    if name.startswith("C2 CompilerThre"):
        return "c2"
    if name.startswith("Executor task l"):
        return "executor_tasks"
    if name.startswith(("GC Thread", "G1 ")):
        return "jvm_gc"
    return "jvm_other"


def _split(s0: dict, s1: dict) -> dict:
    out = dict.fromkeys(("c1", "c2", "jvm_exited", "executor_tasks", "jvm_gc", "jvm_other",
                         "py_workers", "py_driver"), 0)
    live = 0
    counts = {"c1": 0, "c2": 0}
    for tid, (name, t1) in s1["threads"].items():
        t0 = s0["threads"].get(tid, (name, 0))[1]
        kind = _kind(name)
        out[kind] += t1 - t0
        live += t1 - t0
        if kind in counts:
            counts[kind] += 1
    out["jvm_exited"] = s1["jvm_total"] - s0["jvm_total"] - live
    out["py_workers"] = sum(t - s0["procs"].get(p, 0) for p, t in s1["procs"].items())
    out["py_driver"] = s1["driver"] - s0["driver"]
    res = {k: round(v / _TCK, 2) for k, v in out.items()}
    res["total"] = round(sum(out.values()) / _TCK, 2)
    res["jvm_compiler_threads_end"] = counts
    res["py_workers_exited"] = len(set(s0["procs"]) - set(s1["procs"]))
    return res


_LOG_LINE = re.compile(r"^\[(\d+\.\d+)s\].*?\s+\d+\s+[%sbn!]*\s*([0-4])\s+\S+::")


def _compiles_by_tier(log: str, t0: float, t1: float) -> dict:
    tiers: dict[str, int] = {}
    with open(log) as f:
        for line in f:
            m = _LOG_LINE.match(line)
            if m and t0 <= float(m.group(1)) <= t1:
                tiers[m.group(2)] = tiers.get(m.group(2), 0) + 1
    return dict(sorted(tiers.items()))


def main() -> int:
    argv = sys.argv[1:]
    if "--" not in argv or not argv[0] or argv[0] == "--":
        print(__doc__, file=sys.stderr)
        return 2
    root = os.path.abspath(argv[0])
    compile_log = "--compile-log" in argv[1:argv.index("--")]
    run_args = argv[argv.index("--") + 1:]
    sys.path.insert(0, root)
    from perfbench import trace as T

    log = None
    if compile_log:
        from pcap_converter_spark.session import DEFAULT_DRIVER_JAVA_OPTS

        log = os.path.join(tempfile.mkdtemp(prefix="jitlog-"), "jit.log")
        os.environ["PCS_DRIVER_JAVA_OPTS"] = (
            f"{DEFAULT_DRIVER_JAVA_OPTS} -Xlog:jit+compilation=debug:file={log}:uptime")

    result: dict = {}
    span = T.Tracer.span

    @contextmanager
    def split_span(self, name):
        if name != "first":
            with span(self, name):
                yield
            return
        s0 = _snapshot(T.descendants)
        with span(self, name):
            yield
        s1 = _snapshot(T.descendants)
        result.update(_split(s0, s1))
        if log is not None:
            result["compiles_by_tier"] = _compiles_by_tier(log, s0["uptime"], s1["uptime"])

    T.Tracer.span = split_span
    sys.argv = [os.path.join(root, "perfbench", "run.py")] + run_args
    code = 0
    try:
        runpy.run_path(sys.argv[0], run_name="__main__")
    except SystemExit as e:
        code = e.code or 0
    print("SPLIT " + json.dumps(result), flush=True)
    if log is not None:
        os.remove(log)
        os.rmdir(os.path.dirname(log))
    return code


if __name__ == "__main__":
    sys.exit(main())
