"""pcap/pcapng source tests: indexing, chunking, timestamp scaling (S1-S3,
E15), and the multi-chunk pcapng interface-snapshot regression."""

from __future__ import annotations

import pandas as pd
import pytest

from fixtures import pcapgen as g
from pcap_converter_spark.sources.pcap import (
    _epb_time_us,
    index_pcap,
    read_pcap_chunk,
)

M1, M2 = g.mac(1), g.mac(2)


def _udp_pkt(i: int = 0) -> bytes:
    return g.ethernet(
        M1, M2, 0x0800,
        g.ipv4(f"10.0.0.{1 + i % 250}", "10.0.0.254", 17, g.udp(1000 + i, 9, b"abcd")),
    )


def _decode_path(path: str) -> pd.DataFrame:
    chunks = index_pcap(path)
    assert chunks
    return pd.concat([read_pcap_chunk(c) for c in chunks], ignore_index=True)


def test_legacy_roundtrip(tmp_path):
    path = str(tmp_path / "t.pcap")
    g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(100)])
    pdf = _decode_path(path)
    assert len(pdf) == 100
    assert pdf["udp_dstport"].eq(9).all()
    assert pdf["pcap_file"].eq("t.pcap").all()
    # legacy µs timestamps: frame_time is µs epoch
    assert pdf["frame_time"].iloc[0] == pd.Timestamp(1_000_000, unit="us")


def test_legacy_truncated_tail_tolerated(tmp_path):
    path = str(tmp_path / "t.pcap")
    g.write_pcap(path, [(1_000_000, _udp_pkt()), (2_000_000, _udp_pkt())])
    data = open(path, "rb").read()
    open(path, "wb").write(data[:-10])  # cut into the last record
    pdf = _decode_path(path)
    assert len(pdf) == 1  # resilient loop: truncated tail dropped, no raise


def test_pcapng_roundtrip_and_multichunk_interfaces(tmp_path):
    """Regression for the IDB misalignment: with a tiny chunk target, chunks
    past the first must still carry the correct interface linktype/tsresol
    snapshot (previously read from the wrong offset → all-NULL rows)."""
    path = str(tmp_path / "t.pcapng")
    g.write_pcapng(
        path,
        interfaces=[(1, 6)],  # ethernet, µs resolution
        packets=[(0, 1_000_000 + i, _udp_pkt(i)) for i in range(200)],
    )
    chunks = index_pcap(path, target_chunk_bytes=4096)
    assert len(chunks) > 1, "test needs multiple chunks"
    pdf = pd.concat([read_pcap_chunk(c) for c in chunks], ignore_index=True)
    assert len(pdf) == 200
    # every chunk decodes real rows — no silent all-NULL chunks
    assert pdf["udp_dstport"].eq(9).all()
    assert int(pdf["errors"].sum()) == 0


def test_pcapng_ns_resolution_every_chunk(tmp_path):
    """if_tsresol 9 (ns) scales to µs frame_time in every chunk: the first
    chunk parses the IDB itself, later ones start from the index's
    interface snapshot."""
    path = str(tmp_path / "ns.pcapng")
    us = [1_000_000 + 7 * i for i in range(200)]
    g.write_pcapng(
        path,
        interfaces=[(1, 9)],  # ethernet, ns resolution
        packets=[(0, t * 1000, _udp_pkt(i)) for i, t in enumerate(us)],
    )
    chunks = index_pcap(path, target_chunk_bytes=4096)
    assert len(chunks) > 1, "test needs multiple chunks"
    start = 0
    for c in chunks:
        got = read_pcap_chunk(c)["frame_time"].tolist()
        want = us[start : start + len(got)]
        assert got == [pd.Timestamp(t, unit="us") for t in want], c
        start += len(got)
    assert start == len(us)


def test_pcapng_simple_packet_blocks(tmp_path):
    """SPB: frame_time epoch 0, caplen from block length, linktype from the
    first interface (main.rs:201-213)."""
    path = str(tmp_path / "spb.pcapng")
    g.write_pcapng(
        path,
        interfaces=[(1, 6)],
        packets=[],
        simple_packets=[_udp_pkt(i) for i in range(20)],
    )
    pdf = _decode_path(path)
    assert len(pdf) == 20
    assert pdf["udp_dstport"].eq(9).all()
    assert (pdf["frame_time"] == pd.Timestamp(0, unit="us")).all()


def test_pcapng_without_packet_blocks_reads_zero_rows(spark, tmp_path):
    """A pcapng holding only its section and interface blocks decodes to
    zero rows under the usual schema, and the observation counts 0
    packets and 0 errors."""
    from pcap_converter_spark.sources.pcap import read_pcap

    empty = str(tmp_path / "empty.pcapng")
    g.write_pcapng(empty, [(1, 6)], [])
    full = str(tmp_path / "full.pcapng")
    g.write_pcapng(full, [(1, 6)], [(0, 2_000_000_000, _udp_pkt())])
    df, obs = read_pcap(spark, empty)
    assert df.collect() == []
    assert df.schema == read_pcap(spark, full)[0].schema
    assert obs.get == {"packets": 0, "errors": 0}


def test_epb_time_us_pow10_and_pow2():
    # tsresol 6 (µs): identity
    assert _epb_time_us(0, 1_000_000, 6) == 1_000_000
    # tsresol 9 (ns): divide by 1000
    assert _epb_time_us(0, 1_000_000_000, 9) == 1_000_000
    # tsresol 3 (ms): multiply by 1000
    assert _epb_time_us(0, 1_500, 3) == 1_500_000
    # MSB set: power-of-2 resolution (2^-x per tick)
    code = 0x80 | 20  # 2^-20 s per tick
    ticks = 1 << 20  # exactly one second
    assert _epb_time_us(0, ticks, code) == 1_000_000


def test_chunk_boundaries_cover_all_records(tmp_path):
    path = str(tmp_path / "t.pcap")
    n = 500
    g.write_pcap(path, [(i, _udp_pkt(i)) for i in range(n)])
    for target in (2_000, 8_000, 1 << 26):
        chunks = index_pcap(path, target_chunk_bytes=target)
        total = sum(c.n_records for c in chunks)
        assert total == n, f"target={target}: {total} != {n}"


@pytest.mark.parametrize("fmt", ["pcap", "warc"])
def test_index_cache_serves_and_invalidates(tmp_path, fmt):
    """The shared chunk-descriptor cache serves repeat reads of an
    unchanged file, misses on a different chunk target, and invalidates
    when the file changes (size/mtime identity) — for both formats."""
    from fixtures import warcgen as wg
    from pcap_converter_spark.sources.datasource import index_file
    from pcap_converter_spark.sources.pcap import PCAP
    from pcap_converter_spark.sources.warc import WARC

    path = str(tmp_path / f"cached.{fmt}")

    def write(n: int) -> None:
        if fmt == "pcap":
            g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(n)])
        else:
            wg.write_warc(path, [
                wg.record("warcinfo", f"record {i}\r\n".encode())
                for i in range(n)
            ])

    source = PCAP if fmt == "pcap" else WARC
    write(10)
    first = index_file(source, path, 1 << 20)
    assert index_file(source, path, 1 << 20) is first  # cache hit
    # a different chunk target misses the cache
    assert index_file(source, path, 1 << 10) is not first
    # rewriting the file (new size) invalidates
    write(20)
    fresh = index_file(source, path, 1 << 20)
    assert fresh is not first
    assert sum(c.n_records for c in fresh) == 20


@pytest.mark.parametrize("k", [2, 4])
@pytest.mark.parametrize("fmt", ["pcap", "warc"])
def test_driver_plan_places_one_chunk_per_partition(spark, tmp_path, fmt, k):
    """A driver-indexed read decodes chunk i in partition i: the rows per
    ``spark_partition_id()`` are the per-chunk record counts, in order.
    (Round-robin ``repartition(k)`` starts at a random partition, so it
    left partitions empty and put two chunks in others.)"""
    import os

    from pyspark.sql import functions as F

    from fixtures import warcgen as wg
    from pcap_converter_spark.sources.pcap import PCAP, read_pcap
    from pcap_converter_spark.sources.warc import WARC, read_warc

    path = str(tmp_path / f"k{k}.{fmt}")
    if fmt == "pcap":
        g.write_pcap(path, [(1_000_000 + i, _udp_pkt(i)) for i in range(400)])
    else:
        wg.write_warc(path, [
            wg.record("warcinfo", f"record {i:04d}\r\n".encode())
            for i in range(400)
        ])
    target = -(-os.path.getsize(path) // k)
    chunks = (PCAP if fmt == "pcap" else WARC).index(path, target)
    assert len(chunks) == k
    df = (
        read_pcap(spark, path, target_chunk_bytes=target)[0]
        if fmt == "pcap"
        else read_warc(spark, path, target_chunk_bytes=target)
    )
    per_part = (
        df.groupBy(F.spark_partition_id().alias("pid")).count()
        .orderBy("pid").collect()
    )
    assert [r["pid"] for r in per_part] == list(range(k))
    assert [r["count"] for r in per_part] == [c.n_records for c in chunks]


def test_corpus_chunk_frame_never_collects_descriptors(spark, tmp_path,
                                                        monkeypatch):
    """Multi-file corpora (> the few-files threshold) must plan their
    chunk descriptors EXECUTOR-side end to end (VERDICT r10 #6: the old
    index-then-collect path materialized O(|chunks|) dicts on the driver
    — hundreds of MB at 100 TB). Pinned by forbidding RDD.collect during
    planning AND by decode parity with per-file driver-path reads."""
    import pyspark.rdd

    from pcap_converter_spark.sources.pcap import read_pcap

    paths = []
    for i in range(6):  # > _DRIVER_INDEX_MAX_FILES -> distributed path
        p = str(tmp_path / f"c{i}.pcap")
        g.write_pcap(
            p, [(1_000_000 + j, _udp_pkt(j)) for j in range(10 + i)]
        )
        paths.append(p)

    orig_collect = pyspark.rdd.RDD.collect

    def _no_collect(self, *a, **k):
        raise AssertionError(
            "chunk planning collected descriptors to the driver"
        )

    monkeypatch.setattr(pyspark.rdd.RDD, "collect", _no_collect)
    try:
        df, _ = read_pcap(spark, paths, target_chunk_bytes=1 << 10)
    finally:
        monkeypatch.setattr(pyspark.rdd.RDD, "collect", orig_collect)
    got = df.groupBy("pcap_file").count().collect()
    assert {r["pcap_file"]: r["count"] for r in got} == {
        f"c{i}.pcap": 10 + i for i in range(6)
    }


# larger than 256 MiB, the size from which record boundaries were once
# guessed instead of walked. Each case below is a valid file whose bytes
# mislead a boundary guess; every record must come back exactly once
_COLOSSAL_BYTES = 270 << 20


def _repeat_to_size(path: str, head: bytes, block: bytes) -> int:
    """``head`` then ``block`` repeated past ``_COLOSSAL_BYTES``; returns
    the number of repeats."""
    reps = -(-(_COLOSSAL_BYTES - len(head)) // len(block))
    with open(path, "wb") as f:
        f.write(head)
        for _ in range(reps):
            f.write(block)
    return reps


def _colossal_pcap(path: str, zero_ts: bool) -> int:
    """A legacy capture of 1,000-packet blocks; returns the packet count.
    ``zero_ts``: every timestamp is the epoch (sanitized captures).
    Otherwise each UDP payload carries a chain of well-formed pcap record
    headers ending in 0xff bytes."""
    import struct

    if zero_ts:
        payloads = [bytes([i % 251]) * 1200 for i in range(1000)]
    else:
        fake = struct.pack("<IIII", 1_700_000_000, 0, 16, 16) + b"\x00" * 16
        payloads = [fake * 37 + b"\xff" * 16] * 1000
    packets = [
        (0 if zero_ts else 1_700_000_000_000_000 + i,
         g.ethernet(M1, M2, 0x0800, g.ipv4(
             f"10.0.{i // 250}.{1 + i % 250}", "10.0.9.9", 17,
             g.udp(1000 + i, 9, payloads[i]))))
        for i in range(1000)
    ]
    g.write_pcap(path, packets)
    with open(path, "rb") as f:
        raw = f.read()
    return 1000 * _repeat_to_size(path, raw[:24], raw[24:])


def _colossal_warc(path: str) -> tuple[int, set[str]]:
    """A plain WARC of 500-record blocks whose pages each end in a
    well-formed 6-record WARC; returns (record count, page record ids)."""
    from fixtures import warcgen as wg

    filler = b"<p>" + b"lorem ipsum " * 1700 + b"</p>\r\n\r\n"
    recs, ids = [], set()
    for i in range(500):
        inner = b"".join(
            wg.record("resource", b"embedded %d" % j, uri=f"https://in/{j}",
                      rec_id=f"<urn:uuid:inner-{i}-{j}>")
            for j in range(6)
        )
        rid = f"<urn:uuid:page-{i}>"
        recs.append(wg.response_record(f"https://p.org/{i}", filler + inner, rid))
        ids.add(rid)
    return 500 * _repeat_to_size(path, b"", b"".join(recs)), ids


@pytest.mark.slow
@pytest.mark.parametrize(
    "case", ["pcap-zero-ts", "pcap-embedded-records", "warc-embedded-archive"]
)
def test_colossal_file_reads_every_record(spark, tmp_path, case):
    """Every file is indexed by its exact header walk, whatever its size:
    a capture with zeroed timestamps, a capture whose payloads carry pcap
    record headers and a WARC whose pages embed a WARC all read back
    every record, and only those."""
    import os
    import shutil
    from collections import Counter

    from pcap_converter_spark.operators.convert import convert
    from pcap_converter_spark.sources.warc import read_warc

    big = tmp_path / ("big.warc" if case.startswith("warc") else "big.pcap")
    path, out = str(big), str(tmp_path / "out")
    try:
        if case.startswith("pcap"):
            n = _colossal_pcap(path, zero_ts=case == "pcap-zero-ts")
            assert os.path.getsize(path) > 256 << 20
            stats = convert(spark, path, out, nodefrag=True)
            assert (stats["packets"], stats["errors"]) == (n, 0)
        else:
            n, ids = _colossal_warc(path)
            assert os.path.getsize(path) > 256 << 20
            got = Counter(
                r[0] for r in
                read_warc(spark, path).select("warc_record_id").collect()
            )
            assert sum(got.values()) == n
            assert got == {rid: n // len(ids) for rid in ids}
    finally:
        # pytest keeps the last few tmp_path trees: do not leave 270 MiB
        big.unlink(missing_ok=True)
        shutil.rmtree(out, ignore_errors=True)
