#!/usr/bin/env python
"""Run bench.py's untimed warmup chain then time ONE (or a few) declared
entries, bench-style (bench.py's session, noop sink, single timed run each).
Usage: python tools/bench_one.py ENTRY [ENTRY...]
The scale factor dir comes from $SPARK_GRAFT_SF_DIR, as for bench.py."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    names = sys.argv[1:]
    if not names or any(a.startswith("--") for a in names):
        print("usage: python tools/bench_one.py ENTRY [ENTRY...]",
              file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

    import bench
    import __spark_entry__ as entrymod
    from pcap_converter_spark.session import get_spark

    runners = entrymod.queries()
    unknown = [n for n in names if n not in runners]
    if unknown:
        print(f"bench_one: unknown entries {unknown}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = bench.default_cpus()
    spark = get_spark("bench_one", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    bench.run_warmup(spark, sf_dir, cpus, runners)
    import gc
    for name in names:
        fn = runners[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        print(f"bench_one: {name} {round(time.perf_counter() - t0, 3)}s",
              flush=True)
        df = None
        gc.collect()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
