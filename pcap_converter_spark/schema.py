"""The normative 31-column packets schema (SURVEY.md §1.3).

Column order matches the reference's writer schema
(/root/reference/src/statscollector.rs:37-77). Four columns are non-null by
construction (defaults 0/false for non-IP rows): ip_proto, ip_frag_offset,
ip_id, ip_mf — the defrag predicates depend on that (main.rs:274).
"""

from __future__ import annotations

from pyspark.sql import types as T

# (name, spark type, never_null_default) — default is None for nullable cols.
PACKET_FIELDS: list[tuple[str, T.DataType, object]] = [
    ("frame_time", T.TimestampNTZType(), None),
    ("frame_len", T.LongType(), None),
    ("eth_type", T.IntegerType(), None),
    ("ip_src", T.StringType(), None),
    ("ip_dst", T.StringType(), None),
    ("ip_proto", T.IntegerType(), 0),
    ("ip_ttl", T.IntegerType(), None),
    ("ip_frag_offset", T.IntegerType(), 0),
    ("ip_id", T.IntegerType(), 0),
    ("ip_mf", T.BooleanType(), False),
    ("icmp_type", T.IntegerType(), None),
    ("udp_length", T.IntegerType(), None),
    ("udp_srcport", T.IntegerType(), None),
    ("udp_dstport", T.IntegerType(), None),
    ("tcp_flags", T.StringType(), None),
    ("tcp_srcport", T.IntegerType(), None),
    ("tcp_dstport", T.IntegerType(), None),
    ("col_info", T.StringType(), None),
    ("col_source", T.StringType(), None),
    ("col_destination", T.StringType(), None),
    ("col_protocol", T.StringType(), None),
    ("dns_qry_name", T.StringType(), None),
    ("dns_qry_type", T.IntegerType(), None),
    ("http_request_uri", T.StringType(), None),
    ("http_host", T.StringType(), None),
    ("http_request_method", T.StringType(), None),
    ("http_user_agent", T.StringType(), None),
    ("http_file_data", T.StringType(), None),
    ("ntp_priv_reqcode", T.IntegerType(), None),
    ("dhip_device", T.StringType(), None),
    ("pcap_file", T.StringType(), None),
]

PACKET_COLUMNS = [name for name, _, _ in PACKET_FIELDS]

PACKETS_SCHEMA = T.StructType(
    [T.StructField(name, dtype, nullable=True) for name, dtype, _ in PACKET_FIELDS]
)

# Columns the defrag pass propagates from the first fragment
# (main.rs:292-296): udp ports, NTP reqcode, DNS fields, protocol label.
DEFRAG_FILL_COLUMNS = [
    "udp_srcport",
    "udp_dstport",
    "ntp_priv_reqcode",
    "dns_qry_type",
    "dns_qry_name",
    "col_protocol",
]

# The 4-key identity of an IP datagram's fragments (main.rs:296).
DEFRAG_JOIN_KEYS = ["ip_src", "ip_dst", "ip_proto", "ip_id"]

# pandas dtypes used by the decode layer when building Arrow batches: nullable
# extension dtypes so NULLs survive the trip into Spark's schema.
_PANDAS_DTYPE = {
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.StringType: "object",
    T.BooleanType: "boolean",
    T.TimestampNTZType: "datetime64[us]",
}
PACKET_PANDAS_DTYPES = {
    name: _PANDAS_DTYPE[type(dtype)] for name, dtype, _ in PACKET_FIELDS
}
