"""Measure ex_text_all's codegen-JIT behavior in a FRESH JVM (VERDICT
r12 #1: the entry's final job swings 5.3-9.4 s run-to-run at identical
plans, putting a ±5% error bar on the whole suite headline).

Run:  python tools/jit_probe.py [n_repeats]

Per fresh-session run it reports the entry wall time, the phase split
(``session.phase_times`` after each run), and the JVM-side codegen
metrics Spark collects (org.apache.spark.metrics.source.CodegenMetrics):
max/mean generated METHOD bytecode size (HotSpot refuses to JIT any
method over 8000 bytes — DontCompileHugeMethods — so a near/over-limit
method is the classic bimodal-latency signature), generated class sizes,
source compile time, plus the driver JIT compiler's cumulative
compilation time around the final job.
"""
from __future__ import annotations

import os
import subprocess
import sys
import time

ONE = """
import sys, time, os
sys.path.insert(0, os.getcwd())
import __spark_entry__ as entrymod
import bench
from pcap_converter_spark.session import get_spark, phase_times

cpus = bench.default_cpus()
spark = get_spark("jitprobe", master=f"local[{cpus}]",
                  shuffle_partitions=int(cpus))
spark.sparkContext.setLogLevel("ERROR")
# r17: arbitrary experiment confs, e.g.
# JITPROBE_CONFS='spark.sql.codegen.methodSplitThreshold=4000;spark.sql.codegen.wholeStage=false'
for kv in os.environ.get("JITPROBE_CONFS", "").split(";"):
    if "=" in kv:
        k, v = kv.split("=", 1)
        spark.conf.set(k.strip(), v.strip())
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

jvm = spark._jvm
def jit_ms():
    return jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()

cg = jvm.org.apache.spark.metrics.source.CodegenMetrics

def cg_stats():
    m = cg.METRIC_GENERATED_METHOD_BYTECODE_SIZE().getSnapshot()
    c = cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getSnapshot()
    t = cg.METRIC_COMPILATION_TIME().getSnapshot()
    return dict(
        method_max=m.getMax(), method_p99=int(m.get99thPercentile()),
        method_mean=int(m.getMean()),
        n_methods=cg.METRIC_GENERATED_METHOD_BYTECODE_SIZE().getCount(),
        class_max=c.getMax(),
        janino_total_ms=int(t.getMean() * t.size()),
    )

entry_name = os.environ.get("JITPROBE_ENTRY", "ex_text_all")

def print_phases():
    phases = phase_times(spark)
    if phases:
        print(f"bench: {entry_name} phases "
              + " ".join(f"{k}={v:.2f}s" for k, v in phases.items()),
              flush=True)

fn = entrymod.queries()[entry_name]
j0, t0 = jit_ms(), time.perf_counter()
df = fn(spark, sf_dir)
rows = df.collect()
wall = time.perf_counter() - t0
s = cg_stats()
print(f"JITPROBE wall={wall:.2f} rows={len(rows)} jit_ms={jit_ms()-j0} "
      + " ".join(f"{k}={v}" for k, v in s.items()), flush=True)
print_phases()
# second call in the SAME session: warm JIT + caches = plan-cost floor.
# cg-stat DELTAS answer whether re-execution re-GENERATES classes (a
# codegen-cache miss would re-Janino and re-JIT the same source) or the
# residual jit_ms is framework/background C2 work (r14).
prev_n = s["n_methods"]
for rep in range(2, 2 + int(os.environ.get("JITPROBE_WARM_REPS", "1"))):
    j0, t0 = jit_ms(), time.perf_counter()
    rows = fn(spark, sf_dir).collect()
    s2 = cg_stats()
    print(f"JITPROBE warm{rep}={time.perf_counter()-t0:.2f} "
          f"jit_ms={jit_ms()-j0} new_methods={s2['n_methods']-prev_n} "
          f"janino_total_ms={s2['janino_total_ms']}", flush=True)
    print_phases()
    prev_n = s2["n_methods"]
spark.stop()
"""


def main() -> int:
    """argv: [n_repeats] [entry_name] — entry defaults to ex_text_all
    (r14: parameterized so ex_dedup_exact's JIT debt is measurable with
    the same instrument)."""
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    entry = sys.argv[2] if len(sys.argv) > 2 else "ex_text_all"
    env = dict(os.environ, JITPROBE_ENTRY=entry)
    for i in range(n):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "-c", ONE], env=env,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True,
        )
        for ln in (p.stdout + p.stderr).splitlines():
            if "JITPROBE" in ln or f"bench: {entry}" in ln:
                print(f"run{i}: {ln}")
        if p.returncode:
            print(p.stderr[-2000:])
            return p.returncode
        print(f"run{i}: subprocess total {time.time()-t0:.1f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
