"""Tests for the benchmark's own code (not the package it measures).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, canonical  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_frag_generator_is_deterministic_and_counts_match_decode(tmp_path):
    import pandas as pd

    from pcap_converter_spark.sources.pcap import index_pcap, read_pcap_chunk

    a, b, c = (str(tmp_path / n) for n in ("a.pcap", "b.pcap", "c.pcap"))
    ea = gen.write_frag(a, 3000, seed=5)
    assert gen.write_frag(b, 3000, seed=5) == ea
    gen.write_frag(c, 3000, seed=6)
    assert _sha(a) == _sha(b) != _sha(c)

    pdf = pd.concat([read_pcap_chunk(ch) for ch in index_pcap(a)], ignore_index=True)
    assert len(pdf) == ea["packets"] == 3000
    assert int(pdf["errors"].sum()) == 0
    cont = pdf["ip_frag_offset"] > 0
    first = (pdf["ip_frag_offset"] == 0) & pdf["ip_mf"].astype(bool)
    assert int(cont.sum()) == ea["continuation_rows"]
    assert int(first.sum()) == ea["fragmented_datagrams"]
    assert 0 < ea["orphan_fragments"] < ea["continuation_rows"]
    # ~90 % of rows are fragments, as in a reflection-attack capture
    assert 0.85 < (cont | first).mean() < 0.95
    # every datagram identity is unique, so defrag fills exactly the
    # continuations whose first fragment is present
    keys = pdf.loc[first, ["ip_src", "ip_dst", "ip_id"]]
    assert not keys.duplicated().any()


def test_warc_generator_is_deterministic_and_counts_match_reader(tmp_path):
    from pcap_converter_spark.sources.warc import index_warc, read_warc_chunk

    a, b = str(tmp_path / "a.warc.gz"), str(tmp_path / "b.warc.gz")
    ea = gen.write_warc(a, 300, seed=3)
    assert gen.write_warc(b, 300, seed=3) == ea
    assert _sha(a) == _sha(b)

    recs = [r for ch in index_warc(a) for r in read_warc_chunk(ch).to_dict("records")]
    pages = [r for r in recs if r["warc_type"] == "response" and r["http_status"] == 200]
    assert len(pages) == ea["docs"] == 300
    f = ea["funnel"]
    assert f["quality"] == [300, 300 - ea["short_docs"]]
    assert f["kept"][1] == 300 - ea["short_docs"] - ea["exact_dups"] - ea["near_dups"]
    assert ea["exact_dups"] > 0 and ea["near_dups"] > 0 and ea["short_docs"] > 0
    assert sum(len(g) for g in ea["groups"]) + ea["short_docs"] == 300


def test_benchmark_json_follows_the_metric_rules():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    names = [m["name"] for m in e2e + layers]
    assert len(names) == len(set(names))
    for m in e2e + layers:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in e2e}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)


def test_canonical_ignores_engine_types_and_row_order():
    spark_like = pa.table({
        "n": pa.array([2, 1], pa.int64()),
        "t": pa.array([2_000_000, 1_000_000], pa.timestamp("us", "UTC")),
        "k": pa.array(["b", None], pa.large_string()),
    })
    duck_like = pa.table({
        "k": pa.array([None, "b"], pa.string()),
        "n": pa.array([1, 2], pa.int32()),
        "t": pa.array([1_000_000_000, 2_000_000_000], pa.timestamp("ns")),
    })
    assert canonical(spark_like).equals(canonical(duck_like))
    assert not canonical(spark_like).equals(canonical(duck_like.slice(0, 1)))


def test_tree_cpu_counts_exited_children():
    import subprocess

    usr0, sys0 = trace.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", "t = __import__('time').process_time() + 0.3\n"
                    "while __import__('time').process_time() < t: pass"], check=True)
    usr1, sys1 = trace.tree_cpu_s(os.getpid())
    assert usr1 + sys1 - usr0 - sys0 >= 0.25


def test_self_time_subtracts_children():
    t = trace.Tracer()
    t.spans = [
        {"name": "a", "path": "op/a", "parent": "op", "start": 1.0, "end": 2.0},
        {"name": "b", "path": "op/b", "parent": "op", "start": 2.5, "end": 3.0},
        {"name": "op", "path": "op", "parent": None, "start": 0.0, "end": 4.0},
    ]
    by_path = {s["path"]: s for s in t.with_self_times()}
    assert by_path["op"]["self_s"] == pytest.approx(2.5)
    assert by_path["op/a"]["self_s"] == pytest.approx(1.0)


def test_event_log_fold_attributes_tasks_to_job_groups(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-fold")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{tmp_path}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        t = trace.Tracer(spark)
        with t.span("op"):
            with t.span("py"):
                spark.range(100, numPartitions=2).mapInPandas(lambda it: it, "id long").count()
            with t.span("agg"):
                spark.range(1000, numPartitions=2).groupBy((F.col("id") % 7).alias("k")).count().collect()
        spark.range(10).count()  # outside any span: no group
    finally:
        spark.stop()
    (log,) = glob.glob(str(tmp_path / "*"))
    fold = trace.fold_event_log(log)
    assert {"op/py", "op/agg", ""} <= set(fold)
    assert fold["op/py"]["py_bytes_to"] > 0 and fold["op/py"]["py_run_ms"] >= 0
    assert fold["op/agg"]["shuffle_write_bytes"] > 0
    assert fold["op/agg"]["py_bytes_to"] == 0
    total = trace.sum_groups(fold, "op")
    assert total["tasks"] == fold["op/py"]["tasks"] + fold["op/agg"]["tasks"] > 0
    assert total["jobs"] >= 2
