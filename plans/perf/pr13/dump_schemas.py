"""Print (name, type, nullable) of each registry entry whose union was
rewritten, as JSON.

    PYTHONPATH=<tree> python plans/perf/pr13/dump_schemas.py SF_DIR OUT.json
"""
import json
import sys

from pyspark.sql import SparkSession

import __spark_entry__ as e

NAMES = ["ex_curate", "ex_mm_all", "ex_olap", "ex_dedup_exact",
         "ex_dedup_jaccard", "ex_warc_docs", "ex_lm_filter"]
sf_dir, out_path = sys.argv[1], sys.argv[2]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.memory", "2g").getOrCreate())
q = e.queries()
out = {}
for n in NAMES:
    df = q[n](spark, sf_dir)
    out[n] = [(f.name, f.dataType.simpleString(), f.nullable)
              for f in df.schema.fields]
    print(n, len(out[n]), file=sys.stderr, flush=True)
with open(out_path, "w") as f:
    json.dump(out, f, indent=1)
spark.stop()
