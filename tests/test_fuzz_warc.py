"""Property/fuzz tests (hypothesis) for the WARC source: the index walk
and chunk parser must be total (complete or raise ValueError — never any
other exception, never a hang), every framing must agree between the
index and the chunked read, arbitrary truncation must degrade to a clean
prefix, and the HTTP dechunker must never raise on random bytes."""

from __future__ import annotations

import io
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fixtures import warcgen as wg
from pcap_converter_spark.sources.warc import (
    WarcChunk,
    _dechunk,
    index_warc,
    read_warc_chunk,
)

# payloads that deliberately contain the traps: record magic preceded by a
# fake trailer, gzip member magic, CRLF runs, binary soup
_payload = st.one_of(
    st.binary(min_size=0, max_size=400),
    st.just(b"prose \r\n\r\nWARC/1.0\r\nContent-Length: 999999\r\n\r\n x"),
    st.just(b"\x1f\x8b\x08\x00 fake gzip member magic inside a payload"),
    st.just(b"\r\n\r\n" * 30),
    st.binary(min_size=0, max_size=40).map(lambda b: b + b"\r\n\r\nWARC/"),
)


@st.composite
def _record(draw):
    kind = draw(st.sampled_from(["response", "request", "metadata", "warcinfo"]))
    body = draw(_payload)
    i = draw(st.integers(0, 1 << 30))
    if kind == "response":
        return wg.response_record(f"https://f.org/{i}", body, f"<urn:uuid:{i}>")
    return wg.record(kind, body, uri=f"https://f.org/{i}", rec_id=f"<urn:uuid:{i}>")


def _write(tmpdir: str, recs: list[bytes], gzipped: bool) -> str:
    p = os.path.join(tmpdir, "f.warc.gz" if gzipped else "f.warc")
    wg.write_warc(p, recs, gzipped=gzipped)
    return p


def _parse_all(path: str, chunks: list[WarcChunk]):
    import pandas as pd

    frames = [read_warc_chunk(c) for c in chunks]
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=["warc_record_id"])
    return pd.concat(frames, ignore_index=True)


@settings(max_examples=60, deadline=None)
@given(
    recs=st.lists(_record(), min_size=1, max_size=10),
    gzipped=st.booleans(),
    target=st.sampled_from([1, 512, 4096, 1 << 20]),
)
def test_index_chunk_parity(tmp_path_factory, recs, gzipped, target):
    """However the archive is laid out and however small the chunk target,
    the index and the chunked parse must each see every record exactly
    once."""
    tmpdir = str(tmp_path_factory.mktemp("fz"))
    p = _write(tmpdir, recs, gzipped)
    chunks = index_warc(p, target_chunk_bytes=target)
    assert sum(c.n_records for c in chunks) == len(recs)
    parsed = _parse_all(p, chunks)
    assert len(parsed) == len(recs)


@settings(max_examples=60, deadline=None)
@given(
    recs=st.lists(_record(), min_size=1, max_size=8),
    cut_frac=st.floats(0.01, 0.999),
)
def test_plain_truncation_degrades_to_prefix(tmp_path_factory, recs, cut_frac):
    """Truncating a plain archive at ANY byte yields exactly the records
    fully contained before the cut — never an exception, never a partial
    record."""
    tmpdir = str(tmp_path_factory.mktemp("fz"))
    p = _write(tmpdir, recs, gzipped=False)
    size = os.path.getsize(p)
    # cuts inside the leading magic leave a file the indexer cannot even
    # identify — that raises loudly by design, so cut past it
    cut = max(8, int(size * cut_frac))
    with open(p, "r+b") as f:
        f.truncate(cut)
    expected = 0
    acc = 0
    for r in recs:
        acc += len(r)
        if acc <= cut:
            expected += 1
    chunks = index_warc(p, target_chunk_bytes=512)
    assert sum(c.n_records for c in chunks) == expected
    assert len(_parse_all(p, chunks)) == expected


@settings(max_examples=40, deadline=None)
@given(
    recs=st.lists(_record(), min_size=1, max_size=6),
    cut_frac=st.floats(0.01, 0.999),
)
def test_gzip_truncation_tolerated(tmp_path_factory, recs, cut_frac):
    """Truncating a per-record-gzip archive anywhere yields a clean prefix
    of whole members (the cut member is dropped), never an exception."""
    tmpdir = str(tmp_path_factory.mktemp("fz"))
    p = _write(tmpdir, recs, gzipped=True)
    size = os.path.getsize(p)
    cut = max(8, int(size * cut_frac))  # past the magic (see plain twin)
    with open(p, "r+b") as f:
        f.truncate(cut)
    chunks = index_warc(p, target_chunk_bytes=512)
    n = sum(c.n_records for c in chunks)
    assert 0 <= n < len(recs) or (n == len(recs) and cut == size)
    assert len(_parse_all(p, chunks)) == n


@settings(max_examples=100, deadline=None)
@given(data=st.binary(min_size=0, max_size=600))
def test_dechunk_total_on_garbage(data):
    """_dechunk never raises; on garbage it reports not-well-formed."""
    out, ok = _dechunk(data)
    assert isinstance(out, bytes)
    assert isinstance(ok, bool)


@settings(max_examples=100, deadline=None)
@given(parts=st.lists(st.binary(min_size=1, max_size=120), min_size=0, max_size=6))
def test_dechunk_roundtrip(parts):
    """A well-formed chunked encoding decodes back to the exact body."""
    enc = b"".join(f"{len(p):x}\r\n".encode() + p + b"\r\n" for p in parts)
    enc += b"0\r\n\r\n"
    out, ok = _dechunk(enc)
    assert ok and out == b"".join(parts)


@settings(max_examples=60, deadline=None)
@given(
    recs=st.lists(_record(), min_size=2, max_size=6),
    where=st.floats(0.05, 0.9),
    junk=st.binary(min_size=1, max_size=64),
)
def test_midfile_corruption_is_total(tmp_path_factory, recs, where, junk):
    """Overwriting bytes mid-file must either still parse (the corruption
    landed inside a payload) or raise ValueError — never any other
    exception type and never a hang."""
    tmpdir = str(tmp_path_factory.mktemp("fz"))
    p = _write(tmpdir, recs, gzipped=False)
    size = os.path.getsize(p)
    off = max(0, min(size - len(junk), int(size * where)))
    with open(p, "r+b") as f:
        f.seek(off)
        f.write(junk)
    try:
        chunks = index_warc(p, target_chunk_bytes=512)
        _parse_all(p, chunks)
    except ValueError:
        pass
