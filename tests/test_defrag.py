"""Defrag operator property tests (R2-R6): idempotence, row-count
preservation, non-fragmented rows untouched, missing-first-fragment NULLs,
and the convert pipeline branches."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fixtures import pcapgen as g
from pcap_converter_spark.operators.convert import convert
from pcap_converter_spark.operators.defrag import (
    defrag,
    first_fragments,
    fragmentation_pct,
)
from pcap_converter_spark.sources.pcap import read_pcap

FIXTURE_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "data", "packets.parquet",
)
FIXTURE_PCAP = FIXTURE_PARQUET.replace("packets.parquet", "packets_fixture.pcap")


def _plain_udp_captures(tmp_path, n_files: int = 3, per_file: int = 50):
    """Unfragmented UDP captures, one chunk (one partition) per file."""
    paths = []
    for k in range(n_files):
        path = str(tmp_path / f"plain{k}.pcap")
        g.write_pcap(path, [
            (1_000_000 + i, g.ethernet(g.mac(1), g.mac(2), 0x0800, g.ipv4(
                "10.0.0.1", "10.0.0.2", 17, g.udp(1000 + k * per_file + i, 9, b"abcd"))))
            for i in range(per_file)
        ])
        paths.append(path)
    return paths


def _part_files(out: str) -> list[str]:
    return glob.glob(os.path.join(out, "part-*"))


@pytest.fixture(scope="module")
def packets(spark):
    return spark.read.parquet(FIXTURE_PARQUET).cache()


def test_fragmentation_pct_matches_manual(spark, packets):
    pct = fragmentation_pct(packets)
    total = packets.count()
    frags = packets.filter(
        ((F.col("ip_frag_offset") == 0) & F.col("ip_mf")) | (F.col("ip_frag_offset") > 0)
    ).count()
    assert pct == round(100.0 * frags / total)


def test_defrag_preserves_rowcount_and_schema(spark, packets):
    out = defrag(packets)
    assert out.count() == packets.count()
    assert out.columns == packets.columns


def test_defrag_fills_continuation_fragments(spark, packets):
    out = defrag(packets)
    # continuation fragments of the DNS groups now carry the first
    # fragment's app-layer fields
    cont = out.filter((F.col("ip_frag_offset") > 0) & (F.col("ip_id") == 1000))
    rows = cont.collect()
    assert rows, "fixture has fragments for ip_id=1000"
    for r in rows:
        assert r["udp_dstport"] == 53
        assert r["dns_qry_name"] is not None
        # col_protocol is NOT overwritten: continuation fragments carry a
        # non-NULL 'IPv4' and coalesce keeps the left side (reference parity)
        assert r["col_protocol"] == "IPv4"


def test_defrag_missing_first_fragment_keeps_nulls(spark, packets):
    out = defrag(packets)
    orphan = out.filter(F.col("ip_id") == 4242).collect()
    assert orphan, "fixture has the orphan group 4242"
    for r in orphan:
        assert r["udp_srcport"] is None  # no first fragment to propagate


def test_defrag_leaves_nonfragmented_untouched(spark, packets):
    plain = packets.filter((F.col("ip_frag_offset") == 0) & (~F.col("ip_mf")))
    joined = defrag(packets).alias("d").join(
        plain.alias("p"), on=["frame_time"], how="inner"
    )
    diffs = joined.filter(
        ~(
            F.col("d.col_protocol").eqNullSafe(F.col("p.col_protocol"))
            & F.col("d.udp_srcport").eqNullSafe(F.col("p.udp_srcport"))
            & F.col("d.dns_qry_name").eqNullSafe(F.col("p.dns_qry_name"))
        )
    ).count()
    assert diffs == 0


def test_defrag_idempotent(spark, packets):
    once = defrag(packets)
    twice = defrag(once)
    assert once.exceptAll(twice).count() == 0
    assert twice.exceptAll(once).count() == 0


def test_convert_pipeline_end_to_end(spark, tmp_path):
    out = str(tmp_path / "out.parquet")
    stats = convert(spark, FIXTURE_PCAP, out)
    assert stats["packets"] == 2500
    assert stats["errors"] == 0
    assert stats["defragged"]  # fixture is >1% fragmented
    produced = spark.read.parquet(out)
    assert produced.count() == 2500
    # defragged continuation rows carry DNS fields
    got = produced.filter((F.col("ip_id") == 1000) & (F.col("ip_frag_offset") > 0))
    assert got.filter(F.col("dns_qry_name").isNotNull()).count() == got.count()


def test_convert_nodefrag_passthrough(spark, tmp_path):
    out = str(tmp_path / "raw.parquet")
    stats = convert(spark, FIXTURE_PCAP, out, nodefrag=True)
    assert not stats["defragged"]
    produced = spark.read.parquet(out)
    cont = produced.filter((F.col("ip_id") == 1000) & (F.col("ip_frag_offset") > 0))
    assert cont.filter(F.col("dns_qry_name").isNull()).count() == cont.count()


def test_convert_passthrough_below_threshold(spark, tmp_path):
    paths = _plain_udp_captures(tmp_path)
    out = str(tmp_path / "plain.parquet")
    stats = convert(spark, paths, out)
    assert stats == {"packets": 150, "errors": 0, "fragment_pct": 0.0,
                     "defragged": False}
    produced = spark.read.parquet(out)
    decoded = read_pcap(spark, paths)[0]
    assert produced.count() == 150
    assert produced.exceptAll(decoded).count() == 0
    assert decoded.exceptAll(produced).count() == 0
    assert not glob.glob(str(tmp_path / "*.stage1.tmp"))


@pytest.mark.parametrize("branch", ["passthrough", "defrag"])
def test_convert_single_file_writes_one_part(spark, tmp_path, branch):
    if branch == "passthrough":
        paths = _plain_udp_captures(tmp_path)
    else:
        paths = [str(tmp_path / f"frag{k}.pcap") for k in range(3)]
        for path in paths:
            shutil.copy(FIXTURE_PCAP, path)
    many = str(tmp_path / "many.parquet")
    one = str(tmp_path / "one.parquet")
    stats_many = convert(spark, paths, many)
    stats_one = convert(spark, paths, one, single_file=True)
    assert stats_one == stats_many
    assert stats_one["defragged"] == (branch == "defrag")
    assert len(_part_files(many)) > 1  # so one part is the coalesce's doing
    assert len(_part_files(one)) == 1
    a, b = spark.read.parquet(many), spark.read.parquet(one)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("nodefrag", [False, True])
def test_convert_observed_pct_equals_fragmentation_pct(spark, tmp_path, nodefrag):
    """The share observed on the decode pass is the one the R2 aggregate
    computes over the output (Spark HALF_UP round), also under nodefrag."""
    out = str(tmp_path / "out.parquet")
    stats = convert(spark, FIXTURE_PCAP, out, nodefrag=nodefrag)
    assert stats["fragment_pct"] == fragmentation_pct(spark.read.parquet(out))
    assert stats["fragment_pct"] > 0


def test_convert_empty_capture(spark, tmp_path):
    """A header-only capture converts to zero rows: the observed share of
    an empty decode is 0, not a division by zero."""
    path = str(tmp_path / "empty.pcap")
    g.write_pcap(path, [])
    out = str(tmp_path / "empty.parquet")
    stats = convert(spark, path, out)
    assert stats == {"packets": 0, "errors": 0, "fragment_pct": 0.0,
                     "defragged": False}
    assert fragmentation_pct(spark.read.parquet(out)) == 0.0
