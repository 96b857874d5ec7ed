"""The packets fixture's ground-truth contract (VERDICT r13 #4).

fixtures/data/packets.parquet is CONSTRUCTION-TIME expected rows
(fixtures/gen_packets.py emits the 31 columns from the fields it crafts),
not decoder output — PQ1-PQ7's Spark side decodes the fixture pcap live
(queries/declared.register_packets_view) while their oracle reads this
parquet, so every driver run hash-gates the decode stack end to end.
These tests keep the three legs of that contract pinned in pytest:

1. the committed parquet equals what the spec builder produces today;
2. the engine decode (scalar path; the generator proves the vectorized
   path at regeneration) matches the spec cell-for-cell;
3. the CANARY: a poisoned decoder trips the parity gate — the regression
   class the old decoder-derived fixture masked by construction.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from fixtures import gen_packets as gp


@pytest.fixture(scope="module")
def built():
    records, rows = gp.build_packets()
    return records, gp.spec_frame(rows)


def _canon(series) -> list:
    out = []
    for v in series.tolist():
        out.append(None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    return out


def test_committed_parquet_is_the_spec(built):
    """Regeneration drift guard: the parquet on disk must be exactly what
    build_packets' spec side produces — if the generator changes, the
    fixture must be regenerated (python fixtures/gen_packets.py)."""
    import pyarrow.parquet as pq

    _, spec = built
    disk = pq.read_table(gp.PARQUET_PATH).to_pandas()
    assert list(disk.columns) == list(spec.columns)
    assert len(disk) == len(spec) == 2500
    for c in spec.columns:
        assert _canon(disk[c]) == _canon(spec[c]), c


def test_scalar_decode_matches_spec(built):
    """Engine-vs-spec parity through the scalar decoder (the generator
    asserts the chunked/vectorized source path at regeneration time;
    scalar↔vectorized parity is fuzz-pinned elsewhere)."""
    from pcap_converter_spark.decode.parser import decode_packets_to_pandas

    records, spec = built
    recs = [(ft, len(d), len(d), d) for ft, d in records]
    decoded = decode_packets_to_pandas(recs, 1, gp.PCAP_BASENAME)
    assert int(decoded["errors"].sum()) == 0
    gp.assert_parity(spec, decoded.drop(columns=["errors"]))


def test_poisoned_decoder_trips_the_gate(built, monkeypatch):
    """The canary: a decode regression must FAIL parity against the spec.
    With the old decoder-derived fixture this exact poisoning would have
    passed silently — the fixture would have been generated WITH the bug
    on both sides of the comparison."""
    import pcap_converter_spark.decode.parser as parser

    records, spec = built
    recs = [(ft, len(d), len(d), d) for ft, d in records]

    real = parser.tcp_flags_string
    # a subtle, realistic regression: SYN and FIN render swapped
    monkeypatch.setattr(
        parser, "tcp_flags_string",
        lambda bits: real((bits & ~0x03) | ((bits & 1) << 1) | ((bits >> 1) & 1)),
    )
    poisoned = parser.decode_packets_to_pandas(recs, 1, gp.PCAP_BASENAME)
    with pytest.raises(AssertionError, match="tcp_flags"):
        gp.assert_parity(spec, poisoned.drop(columns=["errors"]))

    # and a second, independent family: IPv4 frame_len←total_len dropped
    monkeypatch.undo()
    real_ip = parser._decode_ip

    def no_total_len(row, pkt, errors):
        flen = row[parser._I_FRAME_LEN]
        e = real_ip(row, pkt, errors)
        row[parser._I_FRAME_LEN] = flen  # regress E2: keep capture length
        return e

    monkeypatch.setattr(parser, "_decode_ip", no_total_len)
    poisoned2 = parser.decode_packets_to_pandas(recs, 1, gp.PCAP_BASENAME)
    with pytest.raises(AssertionError, match="frame_len"):
        gp.assert_parity(spec, poisoned2.drop(columns=["errors"]))


def test_live_decode_view_feeds_pq_queries(spark):
    """register_packets_view registers engine-DECODED rows (not the spec
    parquet): the session-cached frame answers PQ-shaped SQL and matches
    the spec row count."""
    from pcap_converter_spark.queries.declared import (
        register_packets_view,
    )
    from pcap_converter_spark.session import session_memo

    def stored(session):
        """The session's memoized decode; a memo miss fails the test."""
        return session_memo(
            session, "packets", lambda: pytest.fail("no memoized decode")
        )

    register_packets_view(spark)
    n = spark.sql("SELECT count(*) AS n FROM packets").collect()[0]["n"]
    assert n == 2500
    # second registration reuses the session cache (same checkpointed plan)
    cached = stored(spark)
    register_packets_view(spark)
    assert stored(spark) is cached
    # a sibling session (same appId, ISOLATED temp-view catalog) gets its
    # own decode registered into ITS catalog (r14 review: an appId-keyed
    # cache registered the view into the wrong session)
    sib = spark.newSession()
    register_packets_view(sib)
    assert stored(sib) is not cached
    n2 = sib.sql("SELECT count(*) AS n FROM packets").collect()[0]["n"]
    assert n2 == 2500
