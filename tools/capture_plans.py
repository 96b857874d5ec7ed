#!/usr/bin/env python
"""Capture .explain("formatted") for every declared query into a plans dir.

Usage: python tools/capture_plans.py plans/r16 [suffix] [names...]

Runs bench.py's untimed warmup first (the at-rest indexes and stream
drains are session fixtures; without them several entries would fail or
build indexes mid-capture), then writes ``<dir>/<name>_<suffix>.txt``
(default suffix ``before``) with the formatted physical plan of each
entry. Read-only with respect to the engine: no timed runs, no artifact.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print("usage: capture_plans.py OUTDIR [suffix] [names...]",
              file=sys.stderr)
        return 2
    outdir = args[0]
    suffix = args[1] if len(args) > 1 else "before"
    only = set(args[2:])
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    import __spark_entry__ as entrymod
    import bench
    from pcap_converter_spark.session import get_spark

    cpus = bench.default_cpus()
    spark = get_spark("capture_plans", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    runners = entrymod.queries()
    bench.run_warmup(spark, sf_dir, cpus, runners)
    from pcap_converter_spark.operators import registry

    def _formatted(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted")
        )

    for name, fn in runners.items():
        if only and name not in only:
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        # r17 (VERDICT r16 #8): arm the _eager hook so checkpointing
        # entries expose their PRE-checkpoint frame — the returned
        # frame's plan is an opaque `Scan ExistingRDD` that can verify
        # no shape claim. The LAST hooked frame is the entry's final
        # materialized plan (interior _eager calls land earlier).
        registry._EAGER_PLAN_HOOK = captures = []
        try:
            df = fn(spark, sf_dir)
            if captures:
                # dump EVERY hooked frame: entries that materialize
                # several independent groups (e.g. ex_sim_topk's
                # overlapped probe groups) have several real plans
                parts = []
                for i, cap in enumerate(captures, 1):
                    parts.append(
                        f"== PRE-CHECKPOINT PLAN {i}/{len(captures)} "
                        f"(_eager frames in entry-construction order) ==\n"
                        + _formatted(cap)
                    )
                plan = "\n".join(parts)
            else:
                plan = _formatted(df)
        except Exception as exc:  # capture the failure, keep going
            plan = f"PLAN CAPTURE FAILED: {exc!r}\n"
        finally:
            registry._EAGER_PLAN_HOOK = None
        with open(path, "w") as f:
            f.write(plan)
        print(f"plans: {name} -> {path}", file=sys.stderr, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
