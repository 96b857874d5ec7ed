"""Distributed pcap / pcapng source (SURVEY.md §7.3 — the one operator Spark
lacks natively).

A capture file is a sequential record stream with 16-byte headers and no sync
markers, so it is not arbitrarily splittable. The design is a two-phase scan:

1. **Index pass** — ``index_pcap`` walks record/block headers only and emits
   chunk descriptors every ``target_chunk_bytes``, each carrying everything a
   worker needs to decode its byte range independently: file offset, length,
   endianness, timestamp resolution, and (pcapng) the interface table in
   effect at the chunk start. This phase reads headers sequentially but
   decodes nothing — it is I/O-bound and cheap relative to decode.

2. **Decode pass** — a DataFrame of chunk descriptors goes through
   ``mapInPandas``; each task opens its byte range, slices records, and calls
   the batch decoder (decode/parser.py). One chunk = one task = one-ish Arrow
   batch, so Python overhead is per-chunk, not per-packet.

Planning is the shared chunked-file planner (``sources/datasource.py``):
this module supplies the ``PCAP`` descriptor — exact index and chunk
decode — and the planner does the rest: the driver indexes a few files, a
many-file corpus is indexed one task per file on the executors, and
descriptors are cached per file identity. Decode parallelism = chunk
count, independent of file count. Every file takes the exact header walk,
whatever its size: with no sync markers, a record boundary guessed from
header plausibility can land inside a payload (zeroed timestamps, or
payloads that themselves carry pcap record headers).

Reference behavior mirrored (and two documented fixes):
- legacy pcap: frame_time = ts_sec*1e6 + ts_frac (µs files; main.rs:165-166);
  nanosecond-magic files divide the fraction by 1000 (the reference mishandles
  these; we do it right).
- pcapng EPB: ts = (ts_high<<32|ts_low) scaled by the **interface's**
  if_tsresol — fixing the reference's stale-linktype/global-tsresol quirk
  (main.rs:185-197); both power-of-10 and power-of-2 resolutions handled
  (the reference only handles power-of-10).
- pcapng SPB: frame_time epoch 0, linktype = first interface (main.rs:201-213).
- Truncated tails tolerated: the reader stops at the last complete record
  (main.rs:222-230) and counts nothing fatal.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from struct import Struct, unpack_from
from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pcap_converter_spark.schema import PACKETS_SCHEMA
from pcap_converter_spark.sources.datasource import (
    DEFAULT_CHUNK_BYTES,
    ChunkedFileDataSource,
    ChunkedFormat,
    read_chunked,
)

# Magic numbers for legacy pcap.
_MAGIC_US_BE = 0xA1B2C3D4
_MAGIC_NS_BE = 0xA1B23C4D

_SHB = 0x0A0D0D0A
_IDB = 0x00000001
_SPB = 0x00000003
_EPB = 0x00000006
_BYTE_ORDER_MAGIC = 0x1A2B3C4D

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("fmt", T.StringType()),  # 'pcap' | 'pcapng'
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("endian", T.StringType()),  # '<' | '>'
        T.StructField("linktype", T.IntegerType()),  # legacy global linktype
        T.StructField("ts_div", T.LongType()),  # legacy: 1 (µs) or 1000 (ns)
        T.StructField("interfaces", T.StringType()),  # pcapng: JSON [[lt, resol_code], ..]
        T.StructField("n_records", T.LongType()),
    ]
)

DECODE_OUTPUT_SCHEMA = T.StructType(PACKETS_SCHEMA.fields + [T.StructField("errors", T.LongType())])


@dataclass
class Chunk:
    path: str
    fmt: str
    offset: int
    length: int
    endian: str
    linktype: int
    ts_div: int
    interfaces: str
    n_records: int


# ------------------------------------------------------------------ indexing


def _read_legacy_header(f) -> tuple[str, int, int, int]:
    """Read the 24-byte global header → (endian, ts_div, linktype, snaplen)."""
    magic_raw = f.read(4)
    magic_le = int.from_bytes(magic_raw, "little")
    endian = "<" if magic_le in (_MAGIC_US_BE, _MAGIC_NS_BE) else ">"
    magic = int.from_bytes(magic_raw, "little" if endian == "<" else "big")
    ts_div = 1000 if magic == _MAGIC_NS_BE else 1
    hdr = f.read(20)
    snaplen = unpack_from(endian + "I", hdr, 12)[0]
    linktype = unpack_from(endian + "I", hdr, 16)[0]
    return endian, ts_div, linktype, snaplen


_INDEX_BLOCK = 4 << 20  # buffered header walk: sequential 4 MB reads


def _index_legacy(f, path: str, target: int, file_size: int) -> Iterator[Chunk]:
    endian, ts_div, linktype, _snaplen = _read_legacy_header(f)
    rec_hdr = Struct(endian + "IIII")

    pos = 24
    chunk_start = pos
    chunk_records = 0
    buf = b""
    buf_base = pos
    f.seek(pos)
    while pos + 16 <= file_size:
        if pos + 16 > buf_base + len(buf):
            # refill: one buffered read replaces a seek+read syscall pair
            # per record (the former per-record pattern was the index-pass
            # bottleneck on large files)
            f.seek(pos)
            buf = f.read(_INDEX_BLOCK)
            buf_base = pos
            if len(buf) < 16:
                break  # truncated tail tolerated (main.rs:222-230)
        _sec, _frac, caplen, _orig = rec_hdr.unpack_from(buf, pos - buf_base)
        end = pos + 16 + caplen
        if end > file_size:
            break  # truncated record body
        chunk_records += 1
        pos = end
        if pos - chunk_start >= target:
            yield Chunk(path, "pcap", chunk_start, pos - chunk_start, endian, linktype, ts_div, "[]", chunk_records)
            chunk_start, chunk_records = pos, 0
    if chunk_records:
        yield Chunk(path, "pcap", chunk_start, pos - chunk_start, endian, linktype, ts_div, "[]", chunk_records)


def _parse_idb(body: bytes, endian: str) -> tuple[int, int]:
    """IDB body → (linktype, tsresol_code); if_tsresol is option code 9,
    default 6 = microseconds (pcapng spec §4.2)."""
    lt = unpack_from(endian + "H", body, 0)[0]
    tsresol = 6
    opos = 8
    while opos + 4 <= len(body):
        code, olen = unpack_from(endian + "HH", body, opos)
        if code == 0:
            break
        if code == 9 and olen >= 1:
            tsresol = body[opos + 4]
        opos += 4 + ((olen + 3) & ~3)
    return lt, tsresol


def _index_ng(f, path: str, target: int, file_size: int) -> Iterator[Chunk]:
    # Interface table entries: (linktype, tsresol_code). SHB resets it
    # (main.rs:177-179); IDB appends (main.rs:180-183). Each emitted chunk
    # carries the interface table in effect at its START; IDB/SHB blocks
    # inside the chunk are replayed by the chunk reader.
    interfaces: list[tuple[int, int]] = []
    endian = "<"
    pos = 0
    chunk_start = 0
    chunk_records = 0
    start_ifaces = "[]"  # snapshot at chunk_start

    while pos + 12 <= file_size:
        f.seek(pos)
        head = f.read(12)
        if len(head) < 12:
            break
        if int.from_bytes(head[0:4], "little") == _SHB:
            bom = int.from_bytes(head[8:12], "little")
            endian = "<" if bom == _BYTE_ORDER_MAGIC else ">"
            interfaces = []
        btype, blen = unpack_from(endian + "II", head, 0)
        if blen < 12 or (blen & 3) or pos + blen > file_size:
            break  # truncated/corrupt tail tolerated
        if btype == _IDB:
            # IDB body starts at block offset 8 (linktype u16, reserved u16,
            # snaplen u32, options at body offset 8). The 12-byte head read
            # left the file at offset 12, so prepend head[8:12] — otherwise
            # linktype is read from snaplen bytes and every chunk after the
            # first carries a garbage interface snapshot.
            body = head[8:12] + f.read(min(blen - 16, 1 << 16))
            interfaces.append(_parse_idb(body, endian))
        elif btype in (_EPB, _SPB):
            chunk_records += 1
        pos += blen
        if pos - chunk_start >= target and chunk_records:
            yield Chunk(path, "pcapng", chunk_start, pos - chunk_start, endian, -1, 1, start_ifaces, chunk_records)
            chunk_start, chunk_records = pos, 0
            start_ifaces = json.dumps(interfaces)
    if pos > chunk_start and chunk_records:
        yield Chunk(path, "pcapng", chunk_start, pos - chunk_start, endian, -1, 1, start_ifaces, chunk_records)


def index_pcap(path: str, target_chunk_bytes: int = DEFAULT_CHUNK_BYTES) -> list[Chunk]:
    """Exact index pass: walk headers, emit chunk descriptors."""
    size = os.path.getsize(path)
    with open(path, "rb", buffering=4 * 1024 * 1024) as f:
        magic = f.read(4)
        f.seek(0)
        if int.from_bytes(magic, "little") == _SHB:
            return list(_index_ng(f, path, target_chunk_bytes, size))
        f.seek(0)
        return list(_index_legacy(f, path, target_chunk_bytes, size))


# ------------------------------------------------------------------ decoding


def _walk_legacy_packed(buf, endian: str, ts_div: int):
    """Offset-chain walk of a legacy chunk → packed NumPy arrays, no copies.

    The record chain is inherently sequential (each offset depends on the
    previous caplen), so the loop below does the absolute minimum per
    record: ONE u32 read + an append. Everything else — timestamps,
    lengths — is gathered vectorized from the offsets afterwards. Replaces
    the former per-record 4-field unpack + bytes() copy + tuple yield
    (VERDICT r2: the Python slicing loop in front of the vectorized decoder
    was the decode-throughput hot spot).

    Returns (ts_us, frame_len, data_off, data_len) with offsets into
    ``buf``.
    """
    import numpy as np

    n = len(buf)
    cap_at = Struct(endian + "I").unpack_from
    offs: list[int] = []
    append = offs.append
    pos = 0
    while pos + 16 <= n:
        end = pos + 16 + cap_at(buf, pos + 8)[0]
        if end > n:
            break
        append(pos)
        pos = end

    o = np.asarray(offs, dtype=np.int64)
    m = len(o)
    if m == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    b = np.frombuffer(buf, dtype=np.uint8)

    def u32(k: int):
        b0 = b[o + k].astype(np.int64)
        b1 = b[o + k + 1].astype(np.int64)
        b2 = b[o + k + 2].astype(np.int64)
        b3 = b[o + k + 3].astype(np.int64)
        if endian == "<":
            return b0 | b1 << 8 | b2 << 16 | b3 << 24
        return b0 << 24 | b1 << 16 | b2 << 8 | b3

    sec = u32(0)
    frac = u32(4)
    caplen = u32(8)
    orig = u32(12)
    ts_us = sec * 1_000_000 + frac // ts_div
    return ts_us, orig, o + 16, caplen


def _epb_time_us(ts_high: int, ts_low: int, tsresol_code: int) -> int:
    ts = (ts_high << 32) | ts_low
    if tsresol_code & 0x80:  # power-of-2 resolution (spec §4.2)
        denom = 1 << (tsresol_code & 0x7F)
        return ts * 1_000_000 // denom
    exp = tsresol_code
    if exp <= 6:
        return ts * (10 ** (6 - exp))
    return ts // (10 ** (exp - 6))


def _walk_ng_packed(buf, endian: str, interfaces: list[tuple[int, int]]):
    """pcapng block walk → packed arrays (ts, frame_len, data_off, data_len,
    linktype) addressing records in place — the pcapng twin of
    ``_walk_legacy_packed`` (no per-record bytes copies, no join). The
    walk itself stays sequential (block chain + interface-table state);
    per-record work is one header unpack + list appends."""
    import numpy as np

    ifaces = list(interfaces)
    pos, n = 0, len(buf)
    u32 = Struct(endian + "II").unpack_from
    epb_hdr = Struct(endian + "IIIII").unpack_from
    u32_1 = Struct(endian + "I").unpack_from
    ts_l: list[int] = []
    fl_l: list[int] = []
    off_l: list[int] = []
    len_l: list[int] = []
    lt_l: list[int] = []
    while pos + 12 <= n:
        btype, blen = u32(buf, pos)
        if blen < 12 or pos + blen > n:
            break
        if btype == _SHB:
            ifaces = []
        elif btype == _IDB:
            ifaces.append(_parse_idb(buf[pos + 8 : pos + blen - 4], endian))
        elif btype == _EPB:
            if_id, ts_high, ts_low, caplen, _origlen = epb_hdr(buf, pos + 8)
            lt, tsresol = ifaces[if_id] if if_id < len(ifaces) else (1, 6)
            ts_l.append(_epb_time_us(ts_high, ts_low, tsresol))
            # frame_len = caplen, as the reference does for EPB (main.rs:191)
            fl_l.append(caplen)
            off_l.append(pos + 28)
            # same clip the bytes-slice form applied implicitly at buffer end
            len_l.append(min(caplen, n - (pos + 28)))
            lt_l.append(lt)
        elif btype == _SPB:
            origlen = u32_1(buf, pos + 8)[0]
            caplen = blen - 16
            ts_l.append(0)  # frame_time epoch 0 (main.rs:206)
            fl_l.append(origlen)
            off_l.append(pos + 12)
            len_l.append(caplen)
            lt_l.append(ifaces[0][0] if ifaces else 1)
        pos += blen
    return (
        np.asarray(ts_l, dtype=np.int64),
        np.asarray(fl_l, dtype=np.int64),
        np.asarray(off_l, dtype=np.int64),
        np.asarray(len_l, dtype=np.int64),
        lt_l,
    )


def read_pcap_chunk(chunk: dict | Chunk) -> pd.DataFrame:
    """Decode one chunk descriptor → pandas DataFrame (31 cols + errors)."""
    c = chunk if isinstance(chunk, Chunk) else Chunk(**chunk)
    basename = os.path.basename(c.path)
    # vectorized decoder: bulk NumPy header slicing, scalar-parity tested
    from pcap_converter_spark.decode.vectorized import decode_packets_packed

    with open(c.path, "rb") as f:
        f.seek(c.offset)
        raw = f.read(c.length)
    if c.fmt == "pcap":
        ts, fl, doff, dlen = _walk_legacy_packed(raw, c.endian, c.ts_div)
        return decode_packets_packed(raw, doff, dlen, ts, fl, c.linktype, basename)
    interfaces = [tuple(x) for x in json.loads(c.interfaces)]
    ts, fl, doff, dlen, lts = _walk_ng_packed(raw, c.endian, interfaces)
    return decode_packets_packed(
        raw, doff, dlen, ts, fl, 1, basename, per_record_linktype=lts
    )


PCAP = ChunkedFormat(
    "pcap", DECODE_OUTPUT_SCHEMA, CHUNK_SCHEMA, index_pcap, read_pcap_chunk
)


class PcapDataSource(ChunkedFileDataSource):
    """``spark.read.format("pcap")`` / ``spark.readStream.format("pcap")``
    (register with ``sources.datasource.register``)."""

    format = PCAP


def read_pcap(
    spark: SparkSession,
    paths: str | list[str],
    target_chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    with_errors_column: bool = False,
):
    """The pcap source: paths → (packets DataFrame, stats Observation).

    Decode errors are tolerated per the reference's resilient loop (S3) and
    surfaced the way the reference's writer does (statswriter.rs:61-68),
    but through a plan ``Observation`` rather than an accumulator: metrics
    observed in the plan are collected exactly once per action and are
    immune to task-retry double-counting (ADVICE r2 — an accumulator
    updated inside mapInPandas re-adds on retries and on every subsequent
    action). After the first action on the returned DataFrame,
    ``observation.get`` yields ``{"packets": N, "errors": M}``.

    With ``with_errors_column=True`` the per-row ``errors`` column is kept
    in the output schema.

    Returns (DataFrame, Observation).
    """
    from pyspark.sql import Observation

    obs = Observation()
    decoded = read_chunked(spark, PCAP, paths, target_chunk_bytes).observe(
        obs,
        F.count(F.lit(1)).alias("packets"),
        F.coalesce(F.sum("errors"), F.lit(0)).alias("errors"),
    )
    if not with_errors_column:
        decoded = decoded.drop("errors")
    return decoded, obs
