"""Run perfbench's curate_warc operation once per seed and print its
funnel and the SHA-256 of its kept doc ids, one JSON line per seed.

    cd <tree> && python plans/perf/pr19/curate_identity.py WORKDIR SEED...

Run from the root of the tree under test, so that tree's package and
perfbench are the ones imported. The operation reads its WARC through
``warc_documents``, the reader whose fused decode this change moved.
"""
import json
import os
import sys

sys.path.insert(0, os.getcwd())

from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import CurateWarc  # noqa: E402
from pcap_converter_spark.session import get_spark  # noqa: E402

work = sys.argv[1]
spark = get_spark("curate-identity")
spark.sparkContext.setLogLevel("ERROR")
for seed in map(int, sys.argv[2:]):
    w = CurateWarc(os.path.join(work, str(seed)), seed, 4)
    os.makedirs(w.work, exist_ok=True)
    w.generate()
    funnel = w.op(spark, Tracer())
    errs = w.check(spark, funnel)
    print(json.dumps({"seed": seed, "funnel": funnel,
                      "kept_sha256": w.kept_hash, "check_errors": errs}))
spark.stop()
