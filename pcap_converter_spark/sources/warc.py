"""WARC source: chunk-indexed parallel reader for web-archive files.

WARC (ISO 28500) is the canonical LLM-corpus acquisition format
(CommonCrawl ships it): a chain of records, each a header block
(``WARC/1.x`` + named fields, CRLF-terminated, blank-line end) followed by
``Content-Length`` payload bytes and a ``\\r\\n\\r\\n`` separator. Like pcap,
the format is self-describing per record, so the same source architecture
applies verbatim:

1. an **index pass** walks record boundaries on the driver (metadata-cheap:
   header reads + Content-Length skips) and groups records into
   ~``target_chunk_bytes`` chunks;
2. executors decode their chunk independently through ``mapInPandas`` —
   one Arrow batch per chunk, no row-at-a-time Python between Spark and
   the parser.

Compression: real WARCs are usually **per-record gzip members**
(the WARC-recommended layout, exactly so that readers can split work at
member boundaries). The index pass detects the gzip magic and walks
members by decompressing the stream ONCE on the driver while recording
each member's compressed byte span; chunks are member-aligned, so
executors decompress only their own byte range. A monolithic
(non-member) gzip stream cannot be split — it is rejected with a clear
error rather than silently serialized onto one task.

At 100 TB: one sequential walk per file, whatever its size, is the same
cost contract as the exact pcap index; many-file corpora fan the index
pass out as a Spark job (one task per file). Boundaries are never guessed
from the record or gzip magic: a crawled page can embed either, down to a
whole well-formed archive. Both sources plan through the shared
chunked-file planner (``sources/datasource.py``); this module supplies the
``WARC`` descriptor.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pcap_converter_spark.session import apply_runtime_confs
from pcap_converter_spark.sources.datasource import (
    DEFAULT_CHUNK_BYTES,
    ChunkedFileDataSource,
    ChunkedFormat,
    read_chunked,
)

_GZ_MAGIC = b"\x1f\x8b"

WARC_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("warc_type", T.StringType()),
        T.StructField("warc_record_id", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("warc_file", T.StringType()),
        T.StructField("errors", T.LongType()),
    ]
)


@dataclass
class WarcChunk:
    path: str
    offset: int          # byte offset of the chunk's first record
    length: int          # compressed/raw byte length of the chunk
    gzipped: bool        # per-record gzip members vs plain WARC
    n_records: int


WARC_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("gzipped", T.BooleanType()),
        T.StructField("n_records", T.LongType()),
    ]
)


# ------------------------------------------------------------------ indexing


def _walk_plain_records(f, file_size: int) -> Iterator[tuple[int, int]]:
    """Yield (offset, total_record_len) for each record of a plain WARC.

    Record = header block ending in CRLFCRLF + Content-Length payload bytes
    + CRLFCRLF trailer. A truncated tail is tolerated (stop, like the pcap
    indexers); a malformed header mid-file stops the walk rather than
    guessing (corrupt archives should fail loudly at index time)."""
    pos = 0
    while pos < file_size:
        f.seek(pos)
        head = f.read(16)
        if not head.startswith(b"WARC/"):
            # clean EOF, or the file was cut inside the next record's magic
            # (fewer than 5 bytes remain and they prefix it) — both are
            # tail truncation, tolerated like any other (fuzz-caught)
            if not head or (
                pos + len(head) >= file_size and b"WARC/".startswith(head)
            ):
                return
            raise ValueError(
                f"WARC parse error at offset {pos}: expected record magic, "
                f"got {head[:8]!r}"
            )
        # read the header block (bounded: WARC headers are small; 64 KB cap)
        f.seek(pos)
        blob = f.read(64 << 10)
        hdr_end = blob.find(b"\r\n\r\n")
        if hdr_end < 0:
            if pos + len(blob) >= file_size:
                return  # truncated header at tail
            # an unterminated 64 KB header mid-file is corruption; silently
            # stopping here would drop every record after it
            raise ValueError(
                f"WARC parse error at offset {pos}: no header terminator "
                "within 64 KB and not at end of file"
            )
        clen = _content_length(blob[:hdr_end])
        total = hdr_end + 4 + clen + 4  # payload + CRLFCRLF trailer
        if pos + total > file_size:
            return  # truncated payload at tail
        yield pos, total
        pos += total


def _content_length(header_block: bytes) -> int:
    for line in header_block.split(b"\r\n"):
        if line.lower().startswith(b"content-length:"):
            return int(line.split(b":", 1)[1].strip())
    raise ValueError("WARC record without Content-Length")


def _walk_gzip_members(f, file_size: int) -> Iterator[tuple[int, int]]:
    """Yield (offset, compressed_len) for each gzip member (per-record
    compression, the WARC-recommended layout). ONE sequential pass over
    the file in 1 MB reads, the decompressor fed bounded 64 KB slices
    through a memoryview cursor: the r5 form handed each member the whole
    remaining buffer and re-materialized the tail via ``unused_data`` —
    one ~0.5 MB copy per ~10-50 KB member, ~20-100× write amplification
    that capped the walk at ~12 MB/s single-thread (a 1 GB CommonCrawl
    segment would take ~85 s to index). Bounded feeding leaves only the
    inflate itself, which is the irreducible cost of finding member
    boundaries in a format without a length header."""
    BLK = 1 << 20
    FEED = 64 << 10
    pos = 0
    f.seek(0)
    block = f.read(BLK)
    mv = memoryview(block)
    boff = 0
    while pos < file_size:
        if len(block) - boff < 2:
            block = bytes(mv[boff:]) + f.read(BLK)
            mv = memoryview(block)
            boff = 0
        if len(block) - boff < 2:
            return  # <2 trailing bytes at EOF: not a member
        if mv[boff : boff + 2] != _GZ_MAGIC:
            raise ValueError(
                f"expected gzip member at offset {pos}, got "
                f"{bytes(mv[boff:boff + 2])!r} — mixed plain/gzip WARC is "
                "not supported"
            )
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        consumed = 0
        while True:
            if len(block) - boff == 0:
                block = f.read(BLK)
                mv = memoryview(block)
                boff = 0
                if not block:
                    if not d.eof:
                        return  # truncated member at tail: tolerate
                    break
            feed = mv[boff : boff + FEED]
            try:
                d.decompress(feed)
            except zlib.error as exc:
                raise ValueError(
                    f"corrupt gzip member at offset {pos}: {exc}"
                ) from exc
            if d.eof:
                used = len(feed) - len(d.unused_data)
                consumed += used
                boff += used
                break
            consumed += len(feed)
            boff += len(feed)
        if consumed <= 0:
            return
        yield pos, consumed
        pos += consumed


def index_warc(
    path: str, target_chunk_bytes: int = DEFAULT_CHUNK_BYTES
) -> list[WarcChunk]:
    """Walk record (or gzip-member) boundaries and group into chunks of
    ~``target_chunk_bytes``; returns member-aligned chunk descriptors."""
    file_size = os.path.getsize(path)
    with open(path, "rb") as f:
        magic = f.read(2)
        gzipped = magic == _GZ_MAGIC
        if not gzipped:
            f.seek(0)
            if not f.read(5).startswith(b"WARC/"):
                raise ValueError(
                    f"{path}: neither WARC magic nor gzip magic at offset 0"
                )
        walker = _walk_gzip_members if gzipped else _walk_plain_records
        chunks: list[WarcChunk] = []
        start = None
        clen = 0
        n = 0
        for off, rec_len in walker(f, file_size):
            if start is None:
                start = off
            clen += rec_len
            n += 1
            if clen >= target_chunk_bytes:
                chunks.append(WarcChunk(path, start, clen, gzipped, n))
                start, clen, n = None, 0, 0
        if n:
            chunks.append(WarcChunk(path, start, clen, gzipped, n))
    return chunks


# ------------------------------------------------------------------ decoding


def _dechunk(data: bytes) -> tuple[bytes, bool]:
    """Decode a Transfer-Encoding: chunked HTTP body (hex-size-prefixed
    chunks, 0-chunk terminator; trailers ignored). Crawlers record the raw
    on-the-wire bytes, so chunked bodies are common in real WARCs — left
    encoded, the hex size lines and chunk CRLFs would corrupt the
    extracted text. Returns (decoded, well_formed); on malformation the
    bytes decoded so far are returned and the record's error count is
    bumped by the caller."""
    out: list[bytes] = []
    pos, n = 0, len(data)
    while True:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            return b"".join(out), False
        token = data[pos:eol].split(b";", 1)[0].strip()
        try:
            size = int(token, 16)
        except ValueError:
            return b"".join(out), False
        pos = eol + 2
        if size == 0:
            return b"".join(out), True
        if pos + size > n:
            out.append(data[pos:n])
            return b"".join(out), False
        out.append(data[pos : pos + size])
        pos += size + 2  # skip the chunk's trailing CRLF


def _parse_records(buf: bytes, basename: str) -> Iterator[dict]:
    """Parse every record in a decompressed/plain chunk buffer."""
    pos, n = 0, len(buf)
    while pos < n:
        if not buf.startswith(b"WARC/", pos):
            break  # chunk trailer / padding
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        header = buf[pos:hdr_end]
        fields: dict[bytes, bytes] = {}
        for line in header.split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            fields[k.strip().lower()] = v.strip()
        errors = 0
        try:
            clen = int(fields[b"content-length"])
        except (KeyError, ValueError):
            break  # cannot frame further records without a length
        if hdr_end + 4 + clen + 4 > n:
            # truncated tail record (payload or trailer cut by EOF): DROP
            # it, exactly as _walk_plain_records' index pass does — never
            # emit a clamped payload the index would not admit
            break
        body = buf[hdr_end + 4 : hdr_end + 4 + clen]
        status = None
        payload = body
        http_ctype = None
        ctype = fields.get(b"content-type", b"").decode("latin-1")
        if ctype.startswith("application/http"):
            # response record: split the HTTP head off the payload
            he = body.find(b"\r\n\r\n")
            if he >= 0:
                try:
                    # parse the STATUS LINE only: splitting the whole head
                    # breaks on a status line with no reason phrase
                    # ('HTTP/1.1 200\r\n' — legal, seen in real crawls),
                    # where the second space-token would swallow the next
                    # header line. split() (not split(b" ")) drops empty
                    # tokens, so consecutive spaces ('HTTP/1.1  200') still
                    # yield the status instead of int(b'')
                    first_line = body[:he].split(b"\r\n", 1)[0]
                    status = int(first_line.split()[1])
                except (IndexError, ValueError):
                    errors += 1
                chunked = False
                for hline in body[:he].split(b"\r\n")[1:]:
                    hk, _, hv = hline.partition(b":")
                    hk = hk.strip().lower()
                    if hk == b"content-type":
                        http_ctype = hv.strip().decode("latin-1")
                    elif hk == b"transfer-encoding":
                        chunked = b"chunked" in hv.lower()
                payload = body[he + 4 :]
                if chunked:
                    payload, ok = _dechunk(payload)
                    if not ok:
                        errors += 1
            else:
                errors += 1
        yield {
            "warc_type": fields.get(b"warc-type", b"").decode("latin-1"),
            "warc_record_id": fields.get(b"warc-record-id", b"").decode("latin-1"),
            "warc_date": fields.get(b"warc-date", b"").decode("latin-1"),
            "target_uri": fields.get(b"warc-target-uri", b"").decode("latin-1")
            or None,
            "content_type": ctype,
            "content_length": clen,
            "http_status": status,
            "http_content_type": http_ctype,
            "payload": payload,
            "warc_file": basename,
            "errors": errors,
        }
        pos = hdr_end + 4 + clen + 4


def _decompress_members(raw: bytes) -> bytes:
    """Decompress concatenated gzip members. A truncated FINAL member
    (an indexed chunk ends on a member boundary, so only a file cut after
    indexing has one) is dropped — parity with the index walk, which
    never admits it.
    Fed in bounded 64 KB slices through a memoryview cursor for the same
    reason as ``_walk_gzip_members``: handing each member the whole
    remaining chunk re-materializes the tail via ``unused_data`` per
    member — O(members × chunk_bytes) memcpy per executor task."""
    FEED = 64 << 10
    out = []
    pos, n = 0, len(raw)
    mv = memoryview(raw)
    while pos < n:
        d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
        member: list = []
        truncated = True
        try:
            while pos < n:
                feed = mv[pos : pos + FEED]
                member.append(d.decompress(feed))
                if d.eof:
                    pos += len(feed) - len(d.unused_data)
                    truncated = False
                    break
                pos += len(feed)
        except zlib.error:
            break
        if truncated:
            break  # truncated tail member: drop its partial output
        out.extend(member)
    return b"".join(out)


def read_warc_chunk(chunk: dict | WarcChunk) -> pd.DataFrame:
    c = WarcChunk(**chunk) if isinstance(chunk, dict) else chunk
    with open(c.path, "rb") as f:
        f.seek(c.offset)
        raw = f.read(c.length)
    if c.gzipped:
        buf = _decompress_members(raw)
    else:
        buf = raw
    rows = list(_parse_records(buf, os.path.basename(c.path)))
    if not rows:
        return pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in WARC_OUTPUT_SCHEMA}
        )
    return pd.DataFrame(rows)


def read_warc(
    spark: SparkSession,
    paths: str | list[str],
    target_chunk_bytes: int = DEFAULT_CHUNK_BYTES,
) -> DataFrame:
    """WARC corpus → DataFrame, one task per chunk (same fan-out contract
    as ``read_pcap``). Returns (warc_type, warc_record_id, warc_date,
    target_uri, content_type, content_length, http_status, payload,
    warc_file, errors)."""
    apply_runtime_confs(spark)
    return read_chunked(spark, WARC, paths, target_chunk_bytes)


def responses_as_documents(
    df: DataFrame, extract_text: bool | str = False
) -> DataFrame:
    """Bridge into the text pipeline: HTTP 200 response records →
    (doc_id, url, text) rows ready for the curation/dedup operators.
    doc_id is a deterministic 63-bit hash of the record id; payload is
    decoded per the HTTP ``Content-Type`` charset — the ISO-8859-1 /
    windows-1252 family via the single-byte Latin-1 map, everything else
    (incl. absent/UTF-8) as UTF-8 with replacement (lossy bytes count as
    content, not errors). The charset dispatch is a pure column CASE, so
    it stays JVM-side. With ``extract_text=True`` the payload additionally
    runs through ``functions.text.html_to_text`` (JVM regexp chain —
    markup stripped, entities decoded, whitespace collapsed) so the
    result feeds tokenize/quality/dedup directly.
    ``extract_text='main'`` (r11) instead runs MAIN-CONTENT extraction —
    block-level nav/footer/sidebar/link-farm pruning
    (functions/text.html_main_text_py, jusText/Arc90-class) — the
    standard stage between raw WARC responses and curation."""
    from pyspark.sql import functions as F

    from pcap_converter_spark.functions.text import html_to_text

    charset = F.lower(
        F.regexp_extract(
            F.coalesce(F.col("http_content_type"), F.lit("")),
            r"(?i)charset=[\"']?([A-Za-z0-9_\-]+)",
            1,
        )
    )
    # UTF-8 via cast + make_valid_utf8, NOT F.decode: Spark 4's decode is
    # ANSI-strict and THROWS on malformed bytes (MALFORMED_CHARACTER_
    # CODING) — one bad page would kill a 100 TB crawl job. The cast
    # reinterprets bytes without validating; make_valid_utf8 then
    # replaces each maximal invalid subpart with U+FFFD, byte-identical
    # to Python's errors='replace' (pinned by the fused-reader twin
    # test's malformed payloads). Latin-1 is single-byte — decode can
    # never throw there.
    body = F.when(
        charset.isin("iso-8859-1", "latin-1", "latin1", "windows-1252", "cp1252"),
        F.decode("payload", "ISO-8859-1"),
    ).otherwise(F.make_valid_utf8(F.col("payload").cast("string")))
    if extract_text == "main":
        # block-level boilerplate pruning (functions/text.py
        # html_main_text_py — jusText/Arc90-class, see its module
        # comment): block segmentation + link-density scoring is not a
        # column-expression shape, so this mode runs as ONE Arrow-batched
        # pandas UDF over the charset-decoded page. The fused reader
        # (warc_documents(extract_text='main')) is the throughput path —
        # there the page never crosses Arrow at all.
        import pandas as _pd
        from pyspark.sql.functions import pandas_udf as _pandas_udf

        from pcap_converter_spark.functions.text import html_main_text_py

        def _main(s):
            return s.map(lambda x: None if x is None else html_main_text_py(x))

        _main.__annotations__ = {"s": _pd.Series, "return": _pd.Series}
        body = _pandas_udf("string")(_main)(body)
    elif extract_text:
        body = html_to_text(body)
    return (
        df.filter(
            (F.col("warc_type") == "response") & (F.col("http_status") == 200)
        )
        .select(
            F.abs(F.xxhash64("warc_record_id")).alias("doc_id"),
            F.col("target_uri").alias("url"),
            body.alias("text"),
        )
    )


_CHARSET_RE = None  # compiled lazily in _chunk_documents
_LATIN_CHARSETS = frozenset(
    {"iso-8859-1", "latin-1", "latin1", "windows-1252", "cp1252"}
)
DOCS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("warc_record_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def _chunk_documents(chunk: dict | WarcChunk, extract: bool) -> pd.DataFrame:
    """Fused chunk decode for ``warc_documents``: parse records, keep
    HTTP-200 responses, charset-decode and (optionally) extract text —
    all before the Arrow boundary, so raw HTML never crosses it."""
    global _CHARSET_RE
    if _CHARSET_RE is None:
        import re

        # twin of responses_as_documents' JVM regexp_extract (the class
        # is explicit ASCII, so re.I needs no re.A here)
        _CHARSET_RE = re.compile(r"charset=[\"']?([A-Za-z0-9_\-]+)", re.I)
    from pcap_converter_spark.functions.text import (
        html_main_text_py,
        html_to_text_py,
    )

    c = WarcChunk(**chunk) if isinstance(chunk, dict) else chunk
    with open(c.path, "rb") as f:
        f.seek(c.offset)
        raw = f.read(c.length)
    buf = _decompress_members(raw) if c.gzipped else raw
    ids: list[str] = []
    urls: list = []
    texts: list[str] = []
    for rec in _parse_records(buf, os.path.basename(c.path)):
        if rec["warc_type"] != "response" or rec["http_status"] != 200:
            continue
        m = _CHARSET_RE.search(rec["http_content_type"] or "")
        cs = m.group(1).lower() if m else ""
        # decode twin of the JVM CASE: the Latin-1 family via the
        # single-byte map (exact in both engines), everything else UTF-8
        # with U+FFFD replacement (Java's REPLACE action and Python's
        # errors='replace' both substitute per maximal malformed subpart)
        if cs in _LATIN_CHARSETS:
            text = rec["payload"].decode("latin-1")
        else:
            text = rec["payload"].decode("utf-8", errors="replace")
        ids.append(rec["warc_record_id"])
        urls.append(rec["target_uri"])
        if extract == "main":
            text = html_main_text_py(text)
        elif extract:
            text = html_to_text_py(text)
        texts.append(text)
    return pd.DataFrame({"warc_record_id": ids, "url": urls, "text": texts})


def warc_documents(
    spark: SparkSession,
    paths: str | list[str],
    target_chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    extract_text: bool | str = True,
) -> DataFrame:
    """The corpus-acquisition FAST PATH:
    ``responses_as_documents(read_warc(...), extract_text=True)`` fused
    into the source's own Arrow batch. Identical rows (pinned by test +
    the ex_warc_docs hash gate), ~2× the throughput: the un-fused chain
    ships every raw HTML payload Python→Arrow→JVM only to regex it down
    to ~1/8 the volume there, while here the page is already a Python
    string when it is parsed, so charset decode + ``html_to_text_py``
    (byte-identical twin of the JVM chain) run in-place and only the
    extracted text crosses Arrow. Only doc_id (xxhash64 of the record
    id — a Spark-specific hash) is computed JVM-side, over short
    strings. At 100 TB this is the front door: one task per
    member-aligned chunk, no shuffle, output columnar.
    ``extract_text='main'`` swaps the extractor for the main-content
    pruner (html_main_text_py — nav/footer/sidebar/link-farm blocks
    dropped), same fused shape."""
    from functools import partial

    from pyspark.sql import functions as F

    apply_runtime_confs(spark)
    docs = read_chunked(
        spark, WARC, paths, target_chunk_bytes,
        partial(_chunk_documents, extract=extract_text), DOCS_OUTPUT_SCHEMA,
    )
    return docs.select(
        F.abs(F.xxhash64("warc_record_id")).alias("doc_id"), "url", "text"
    )


def conversions_as_documents(df: DataFrame) -> DataFrame:
    """WET bridge: pre-extracted text records → (doc_id, url, text).

    CommonCrawl ships three parallel archives per crawl; the ``*.wet.gz``
    ones are ordinary WARCs whose text lives in ``WARC-Type: conversion``
    records — the payload IS the extracted page text, UTF-8 by the WET
    convention (no HTTP envelope, no HTML). Most corpus builds start from
    WET rather than raw responses, so this is the cheap front door: filter
    + decode, no HTML extraction pass. Pure column expressions; doc_id is
    the same deterministic 63-bit record-id hash as
    ``responses_as_documents``, so downstream dedup/curation is identical
    whichever bridge produced the rows. ``warcinfo`` headers and any
    interleaved non-conversion records drop out at the (pushed-down)
    filter."""
    from pyspark.sql import functions as F

    return df.filter(F.col("warc_type") == "conversion").select(
        F.abs(F.xxhash64("warc_record_id")).alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.decode("payload", "UTF-8").alias("text"),
    )


def wat_metadata(df: DataFrame, schema=None) -> DataFrame:
    """WAT bridge: crawl-metadata records → (doc_id, url, meta).

    ``*.wat.gz`` archives carry one ``WARC-Type: metadata`` record per
    crawled URL with an ``application/json`` payload (link graph, HTTP
    header summary, title...). ``meta`` is the raw JSON string, or a typed
    struct when ``schema`` is given (parsed with ``from_json`` — an
    EXPLICIT schema, same contract as the JSONL source: no inference scan
    at 100 TB, unrequested fields never parsed; malformed JSON yields a
    NULL-fielded struct — PERMISSIVE — rather than an error)."""
    from pyspark.sql import functions as F

    meta = F.decode("payload", "UTF-8")
    if schema is not None:
        meta = F.from_json(meta, schema)
    return df.filter(
        (F.col("warc_type") == "metadata")
        & F.col("content_type").startswith("application/json")
    ).select(
        F.abs(F.xxhash64("warc_record_id")).alias("doc_id"),
        F.col("target_uri").alias("url"),
        meta.alias("meta"),
    )


WARC = ChunkedFormat(
    "warc", WARC_OUTPUT_SCHEMA, WARC_CHUNK_SCHEMA, index_warc, read_warc_chunk
)


class WarcDataSource(ChunkedFileDataSource):
    """``spark.read.format("warc")`` / ``spark.readStream.format("warc")``
    (register with ``register_datasource``)."""

    format = WARC


def register_datasource(spark: SparkSession) -> None:
    """Idempotently register ``spark.read.format("warc")`` on this session
    (same chunk indexer + parser as ``read_warc``; one InputPartition per
    chunk, Arrow RecordBatches out)."""
    spark.dataSource.register(WarcDataSource)
