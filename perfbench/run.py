"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

One fresh process per run, driving the package's public functions from a
single client on ``local[<cores>]``:

1. set-up: build the session (``session.get_spark``), run a first trivial
   job and a first Python-worker stage (``setup_s``);
2. generate the workload's inputs from ``--seed``;
3. one cold operation: its wall time (``first_op_s``) and the CPU time
   of the whole process tree in it (``first_op_cpu_s``);
4. further operations back to back, one client in a closed loop, until
   ``--seconds`` of operation time is spent. ``op_cpu_s`` is their median
   CPU time, ``op_s`` the median wall time of those the hypervisor did not
   slow down (``STEAL_MAX``);
5. every operation's result is checked; failures count in ``failed``.

``--trace 1`` runs the same steps with Spark's event log on and every
call tagged with a job group, then times each layer's public function on
its own, and reports the per-layer metrics instead of the end-to-end ones.
The last stdout line is the JSON result; a record with host context, raw
times and spans is written under ``.perfbench/runs/``. See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_OPS = 200
# The benchmark's virtual CPUs may be shared with other tenants. While the
# hypervisor steals more than this share of their time, an operation's wall
# time grows by up to twice (its many short Spark jobs wait for a CPU at
# every step), its CPU time by far less. Such operations are left out of
# ``op_s``, unless every further operation of the run was one.
STEAL_MAX = 0.05


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    from perfbench.trace import descendants

    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "pcap_converter_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "fixtures", "pcapgen.py"))):
        _log(f"no pcap_converter_spark package or fixtures/ under {ROOT}: "
             "run from a full checkout of the repository")
        return 2
    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _log(f"unknown workload {args.workload!r}")
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    evlog = os.path.join(work, "eventlog")
    os.makedirs(evlog, exist_ok=True)
    # the Python workers import the package from this checkout; scratch
    # files of Spark, the JVM and Python stay inside it too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    if args.trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{evlog}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ])

    host0 = T.host_sample()
    # the sampler walks /proc five times a second: only a traced run pays it
    rss = T.RssSampler().start() if args.trace else None
    tracer = T.Tracer()
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "seconds": args.seconds, "cores": cores}
    errors: list[str] = []
    failed = 0
    spark = None
    try:
        # ---- 1. set-up
        with tracer.span("session.build"):
            from pcap_converter_spark.session import get_spark

            spark = get_spark("perfbench", master=f"local[{cores}]")
        if args.trace:
            tracer.spark = spark
        with tracer.span("session.first_job"):
            spark.range(1).count()
        with tracer.span("session.worker_fork"):
            spark.range(cores * 4, numPartitions=cores).mapInPandas(
                lambda it: it, "id long").write.format("noop").mode("overwrite").save()
        setup_s = T.process_age_s()

        # ---- 2. inputs
        wl = WORKLOADS[args.workload](work, args.seed, cores)
        t0 = time.perf_counter()
        wl.generate()
        record["generate_s"] = time.perf_counter() - t0
        record["expected"] = {k: v for k, v in wl.expected.items() if k not in ("groups", "short")}

        def run_op(path: str) -> None:
            """One timed operation, then its (untimed) correctness check.
            A failed or wrong operation is counted and the run goes on."""
            nonlocal failed
            try:
                with tracer.span(path):
                    result = wl.op(spark, tracer)
                errs = wl.check(spark, result)
            except Exception as e:
                errs = [f"{type(e).__name__}: {e}"]
            errors.extend(f"{path}: {m}" for m in errs)
            failed += bool(errs)

        def unstolen() -> list[float]:
            return [d for d, s in zip(tracer.durations("op"), tracer.steal("op")) if s <= STEAL_MAX]

        # ---- 3. cold operation, 4. further operations
        jvm0 = T.jvm_counters(spark)
        run_op("first")
        first_op_s = tracer.last("first")
        jvm1 = T.jvm_counters(spark)
        while sum(tracer.durations("op")) < args.seconds and len(tracer.durations("op")) < MAX_OPS:
            run_op("op")
        jvm2 = T.jvm_counters(spark)
        steady = tracer.durations("op")
        attempted = 1 + len(steady)
        op_s = statistics.median(unstolen() or steady)

        layer_metrics: dict = {}
        if args.trace:
            layer_metrics.update(wl.op_layers(tracer))
            layer_metrics.update(wl.layers(spark, tracer, op_s))
            errors.extend(f"layers: {m}" for m in wl.probe_errors)
    except Exception as e:
        errors.append(f"run: {type(e).__name__}: {e}")
        _log(f"run failed: {errors[-1]}")
        raise
    finally:
        if spark is not None:
            _stop_spark(spark)
        peak_rss = rss.stop() if rss is not None else None

    host1 = T.host_sample()
    n = len(steady)
    if args.trace:
        logs = [p for p in glob.glob(os.path.join(evlog, "*")) if not p.endswith(".inprogress")]
        fold = T.fold_event_log(logs[0])
        ops = T.sum_groups(fold, "op")
        per_op = {k: v / n for k, v in ops.items()}
        d_jvm = {k: (jvm2[k] - jvm1[k]) / n for k in jvm2}
        layer_metrics.update({
            "session.build_s": tracer.last("session.build"),
            "session.first_job_s": tracer.last("session.first_job"),
            "session.worker_fork_s": tracer.last("session.worker_fork"),
            "first_op_s": first_op_s,
            "op_cpu_s": statistics.median(tracer.cpu("op")),
            "peak_rss_mb": peak_rss / 2**20,
            "py.start_s": per_op["py_start_ms"] / 1e3,
            "py.init_s": per_op["py_init_ms"] / 1e3,
            "py.run_s": per_op["py_run_ms"] / 1e3,
            "py.bytes_to_py": per_op["py_bytes_to"],
            "py.bytes_from_py": per_op["py_bytes_from"],
            "jvm.gc_ms": d_jvm["gc_ms"],
            "jvm.jit_ms": d_jvm["jit_ms"],
            "jvm.first_op_jit_ms": jvm1["jit_ms"] - jvm0["jit_ms"],
            "jobs.count": per_op["jobs"],
            "tasks.count": per_op["tasks"],
            "tasks.run_s": per_op["run_ms"] / 1e3,
            "tasks.cpu_s": per_op["cpu_ns"] / 1e9,
            "tasks.cpu_util": per_op["cpu_ns"] / 1e9 / (op_s * cores),
            "shuffle.read_bytes": per_op["shuffle_read_bytes"],
            "shuffle.write_bytes": per_op["shuffle_write_bytes"],
            "spill.bytes": per_op["spill_bytes"],
            "op_s": op_s,
            "items_per_s": wl.items / op_s,
        })
        if args.workload == "convert_frag":
            layer_metrics["defrag.shuffle_write_bytes"] = \
                T.sum_groups(fold, "defrag.rewrite")["shuffle_write_bytes"]
            queries = T.sum_groups(fold, "queries")
            layer_metrics["query.scan_bytes"] = queries["input_bytes"]
            layer_metrics["query.shuffle_bytes"] = queries["shuffle_write_bytes"]
        record["fold"] = fold
        names = spec["per_layer"]
        values = {m["name"]: layer_metrics.get(m["name"], 0) for m in names}
    else:
        names = spec["end_to_end"]
        values = {
            "setup_s": setup_s,
            "first_op_cpu_s": tracer.cpu("first")[-1],
            "out_bytes_per_in_byte": wl.out_bytes / wl.in_bytes,
        }
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}

    record.update({
        "host": {"start": host0, "end": host1, "steal_share": T.steal_share(host0, host1)},
        "setup_s": setup_s, "first_op_s": first_op_s, "op_times_s": steady,
        "op_cpu_s": tracer.cpu("op"), "op_steal_shares": tracer.steal("op"),
        "op_s_from_ops": len(unstolen() or steady),
        "peak_rss_bytes": peak_rss, "errors": errors,
        "spans": tracer.with_self_times(), "metrics": metrics,
    })
    os.makedirs(os.path.join(base, "runs"), exist_ok=True)
    rec_path = os.path.join(
        base, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(host0['t'])}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    _log(f"{args.workload} seed={args.seed} setup={setup_s:.2f}s first={first_op_s:.2f}s "
         f"ops={[round(x, 2) for x in steady]} "
         f"cpu={[round(x, 2) for x in tracer.cpu('op')]} "
         f"op_steal={[round(x, 3) for x in tracer.steal('op')]} load={host0['loadavg'][0]:.2f}->"
         f"{host1['loadavg'][0]:.2f} steal={record['host']['steal_share']:.4f} record={rec_path}")
    for e in errors[:10]:
        _log(f"FAILED {e}")
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
