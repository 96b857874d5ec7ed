"""Vectorized packet decode: NumPy columnar header slicing (SURVEY.md §4).

The per-packet Python loop in ``parser.decode_packets_to_pandas`` is the
90%-cost-center of the convert pipeline; this module replaces it for the
common shapes. All fixed-offset L2/L3/L4 fields (ethertype, the whole IPv4
header, UDP/TCP/ICMP headers, the IPv6 fixed header) are extracted with
bulk NumPy gathers over one concatenated byte buffer — no Python-level
per-packet work at all. Python only ever touches:

- app-layer tails (DNS/NTP/DHDiscover payload parses) — variable-length,
  minority of packets, each a single cheap call;
- IPv6 address formatting (RFC 5952 needs real logic; v6 rows only);
- genuinely rare shapes routed to the scalar decoder for exact parity:
  VLAN-tagged frames, non-Ethernet linktypes, IPv6 extension headers, and
  ICMP destination-unreachable inner-packet lifts.

Semantics are byte-for-byte identical to ``parser.decode_packet`` (the
scalar path remains the executable specification; the parity test decodes
the whole fixture through both and asserts frame equality).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pcap_converter_spark.decode import parser as P
from pcap_converter_spark.schema import PACKET_COLUMNS, PACKET_PANDAS_DTYPES

_TCP_FLAG_TABLE = np.array([P.tcp_flags_string(i) for i in range(256)], dtype=object)
_VLAN_TAGS = np.array(sorted(P.VLAN_TAGS), dtype=np.int64)
_V6_EXT_ARR = np.array(sorted(P._V6_EXT), dtype=np.int64)

# columns indexed as (values, null-mask) numeric stores
_INT_COLS = [
    "eth_type", "ip_ttl", "icmp_type", "udp_length", "udp_srcport",
    "udp_dstport", "tcp_srcport", "tcp_dstport", "dns_qry_type",
    "ntp_priv_reqcode", "ip_proto", "ip_frag_offset", "ip_id",
]
_STR_COLS = [
    "ip_src", "ip_dst", "tcp_flags", "col_source", "col_destination",
    "col_protocol", "dns_qry_name", "dhip_device",
]


def _ipv4_unique_strings(vals: np.ndarray) -> np.ndarray:
    """uint32 → dotted-quad object array, formatting each *unique* address
    once (real traffic reuses addresses heavily)."""
    uniq, inv = np.unique(vals, return_inverse=True)
    octets = uniq.astype(">u4").view(np.uint8).reshape(-1, 4)
    formatted = np.array(
        [f"{a}.{b}.{c}.{d}" for a, b, c, d in octets], dtype=object
    )
    return formatted[inv]


def decode_packets_vectorized(
    records: list[tuple[int, int, int, bytes]],
    linktype_default: int,
    pcap_file: str,
    per_record_linktype: list[int] | None = None,
) -> pd.DataFrame:
    """Record-tuple entry point for tests. Both pcap sources decode
    through ``decode_packets_packed`` instead (pcapng after
    ``sources/pcap._walk_ng_packed``), which skips the per-record bytes
    copies + join below by addressing the raw chunk buffer."""
    n = len(records)
    if n == 0:
        return P.decode_packets_to_pandas(records, linktype_default, pcap_file)

    ts = np.fromiter((r[0] for r in records), dtype=np.int64, count=n)
    frame_len = np.fromiter((r[1] for r in records), dtype=np.int64, count=n)
    datas = [r[3] for r in records]
    lens = np.fromiter((len(d) for d in datas), dtype=np.int64, count=n)
    joined = b"".join(datas)
    off = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=off[1:])
    return decode_packets_packed(
        joined, off, lens, ts, frame_len, linktype_default, pcap_file,
        per_record_linktype=per_record_linktype,
    )


def decode_packets_packed(
    raw,
    data_off: np.ndarray,
    data_len: np.ndarray,
    ts_arr: np.ndarray,
    frame_len_arr: np.ndarray,
    linktype_default: int,
    pcap_file: str,
    per_record_linktype: list[int] | None = None,
) -> pd.DataFrame:
    """Decode records addressed IN PLACE inside ``raw`` (bytes): record i's
    payload is raw[data_off[i] : data_off[i]+data_len[i]]. For a legacy pcap
    chunk ``raw`` is the chunk buffer itself — no per-record slicing, no
    join, zero copies before the columnar gathers."""
    n = len(data_off)
    if n == 0:
        return P.decode_packets_to_pandas([], linktype_default, pcap_file)

    ts = np.ascontiguousarray(ts_arr, dtype=np.int64)
    fl_orig = np.ascontiguousarray(frame_len_arr, dtype=np.int64)
    frame_len = fl_orig.copy()  # v4/v6 overwrite; fallback needs originals
    lens = np.ascontiguousarray(data_len, dtype=np.int64)
    joined = raw
    mv = memoryview(raw)
    buf = np.frombuffer(mv, dtype=np.uint8)
    bufn = len(buf)
    off = np.ascontiguousarray(data_off, dtype=np.int64)

    if per_record_linktype is not None:
        lt = np.asarray(per_record_linktype, dtype=np.int64)
    else:
        lt = np.full(n, linktype_default, dtype=np.int64)

    def B(base: np.ndarray, k: int) -> np.ndarray:
        """Guarded byte gather at base+k (masks keep invalid rows unused)."""
        if bufn == 0:
            return np.zeros(len(base), dtype=np.int64)
        return buf[np.minimum(base + k, bufn - 1)].astype(np.int64)

    errors = np.zeros(n, dtype=np.int64)
    ints = {c: (np.zeros(n, dtype=np.int64), np.ones(n, dtype=bool)) for c in _INT_COLS}
    strs = {c: np.full(n, None, dtype=object) for c in _STR_COLS}
    ip_mf = np.zeros(n, dtype=bool)
    # non-null-by-construction defaults (schema §1.2)
    for c in ("ip_proto", "ip_frag_offset", "ip_id"):
        ints[c][1][:] = False

    def set_int(col: str, mask: np.ndarray, values) -> None:
        vals, null = ints[col]
        vals[mask] = values
        null[mask] = False

    # ---------------------------------------------------------------- L2
    eth = (lt == P.LINKTYPE_ETHERNET) & (lens >= 14)
    eth_short = (lt == P.LINKTYPE_ETHERNET) & (lens < 14)
    errors[eth_short] += 1
    ethertype = np.where(eth, B(off, 12) << 8 | B(off, 13), 0)
    set_int("eth_type", eth, ethertype[eth])
    vlan = eth & np.isin(ethertype, _VLAN_TAGS)

    # rows the scalar decoder must handle for exact parity
    fallback = vlan | (~eth & ~eth_short)

    ip_off = off + 14
    is_ip = eth & ~vlan & np.isin(ethertype, (P.ETH_IPV4, P.ETH_IPV6))
    ip_len = lens - 14
    errors[is_ip & (ip_len < 1)] += 1
    has_byte = is_ip & (ip_len >= 1)
    version = np.where(has_byte, B(ip_off, 0) >> 4, 0)
    bad_version = has_byte & (version != 4) & (version != 6)
    errors[bad_version] += 1

    # --------------------------------------------------------------- IPv4
    v4 = has_byte & (version == 4)
    errors[v4 & (ip_len < 20)] += 1
    v4 = v4 & (ip_len >= 20)
    ihl = (B(ip_off, 0) & 0x0F) * 4
    bad_ihl = v4 & ((ihl < 20) | (ihl > ip_len))
    errors[bad_ihl] += 1
    v4 = v4 & ~bad_ihl
    if v4.any():
        strs["col_protocol"][v4] = "IPv4"
        total_len = B(ip_off, 2) << 8 | B(ip_off, 3)
        frame_len[v4] = total_len[v4]  # E2: total_len overwrites capture len
        set_int("ip_id", v4, (B(ip_off, 4) << 8 | B(ip_off, 5))[v4])
        flags_frag = B(ip_off, 6) << 8 | B(ip_off, 7)
        ip_mf[v4] = (flags_frag[v4] & 0x2000) != 0
        set_int("ip_frag_offset", v4, (flags_frag & 0x1FFF)[v4])
        set_int("ip_ttl", v4, B(ip_off, 8)[v4])
        proto4 = B(ip_off, 9)
        set_int("ip_proto", v4, proto4[v4])
        src_u32 = (
            (B(ip_off, 12) << 24) | (B(ip_off, 13) << 16)
            | (B(ip_off, 14) << 8) | B(ip_off, 15)
        )
        dst_u32 = (
            (B(ip_off, 16) << 24) | (B(ip_off, 17) << 16)
            | (B(ip_off, 18) << 8) | B(ip_off, 19)
        )
        both = np.concatenate([src_u32[v4], dst_u32[v4]]).astype(np.uint32)
        both_str = _ipv4_unique_strings(both)
        nv4 = int(v4.sum())
        strs["ip_src"][v4] = both_str[:nv4]
        strs["ip_dst"][v4] = both_str[nv4:]
        strs["col_source"][v4] = both_str[:nv4]
        strs["col_destination"][v4] = both_str[nv4:]

    # fragment gate (E3): continuation fragments stop at L3
    first4 = v4 & (ints["ip_frag_offset"][0] == 0)
    t_off4 = ip_off + ihl
    seg_len4 = ip_len - ihl

    # --------------------------------------------------------------- IPv6
    v6 = has_byte & (version == 6)
    errors[v6 & (ip_len < 40)] += 1
    v6 = v6 & (ip_len >= 40)
    next_hdr = B(ip_off, 6)
    # extension-header chains (incl. fragments) go to the scalar decoder
    v6_ext = v6 & np.isin(next_hdr, _V6_EXT_ARR)
    fallback |= v6_ext
    v6 = v6 & ~v6_ext
    if v6.any():
        strs["col_protocol"][v6] = "IPv6"
        payload_len = B(ip_off, 4) << 8 | B(ip_off, 5)
        frame_len[v6] = payload_len[v6] + 40
        set_int("ip_ttl", v6, B(ip_off, 7)[v6])
        set_int("ip_proto", v6, next_hdr[v6])
        v6_idx = np.nonzero(v6)[0]
        v6_offs = ip_off[v6_idx].tolist()
        src6 = np.array(
            [P.ipv6_str(joined[o + 8 : o + 24]) for o in v6_offs], dtype=object
        )
        dst6 = np.array(
            [P.ipv6_str(joined[o + 24 : o + 40]) for o in v6_offs], dtype=object
        )
        strs["ip_src"][v6_idx] = src6
        strs["ip_dst"][v6_idx] = dst6
        strs["col_source"][v6_idx] = src6
        strs["col_destination"][v6_idx] = dst6

    t_off = np.where(v6, ip_off + 40, t_off4)
    seg_len = np.where(v6, ip_len - 40, seg_len4)
    proto = np.where(v6, next_hdr, B(ip_off, 9))
    transport = first4 | v6

    # ---------------------------------------------------------------- UDP
    udp = transport & (proto == P.PROTO_UDP)
    errors[udp & (seg_len < 8)] += 1
    udp = udp & (seg_len >= 8)
    if udp.any():
        sport = B(t_off, 0) << 8 | B(t_off, 1)
        dport = B(t_off, 2) << 8 | B(t_off, 3)
        strs["col_protocol"][udp] = "UDP"
        set_int("udp_srcport", udp, sport[udp])
        set_int("udp_dstport", udp, dport[udp])
        set_int("udp_length", udp, (B(t_off, 4) << 8 | B(t_off, 5))[udp])
        # app-layer tails: per-row Python parses, but all column stores are
        # batch-assigned (per-row numpy fancy-indexing would dominate)
        dns = udp & ((sport == 53) | (dport == 53))
        ntp = udp & ~dns & ((sport == 123) | (dport == 123))
        dhip = udp & ~dns & ~ntp & (sport == 37810)

        def _app_rows(mask):
            idxs = np.nonzero(mask)[0]
            starts = (t_off[idxs] + 8).tolist()
            ends = (off[idxs] + lens[idxs]).tolist()
            return idxs, starts, ends

        idxs, starts, ends = _app_rows(dns)
        if len(idxs):
            parsed = [P.parse_dns_first_question(mv[s:e]) for s, e in zip(starts, ends)]
            strs["col_protocol"][idxs] = "DNS"
            strs["dns_qry_name"][idxs] = np.array([p[0] for p in parsed], dtype=object)
            qt = np.array([-1 if p[1] is None else p[1] for p in parsed], dtype=np.int64)
            vals, null = ints["dns_qry_type"]
            vals[idxs] = np.where(qt >= 0, qt, 0)
            null[idxs] = qt < 0
            errors[idxs] += np.fromiter((p[2] for p in parsed), dtype=np.int64, count=len(parsed))
        idxs, starts, ends = _app_rows(ntp)
        if len(idxs):
            parsed = [P.parse_ntp(mv[s:e]) for s, e in zip(starts, ends)]
            strs["col_protocol"][idxs] = "NTP"
            rq = np.array([-1 if p[0] is None else p[0] for p in parsed], dtype=np.int64)
            vals, null = ints["ntp_priv_reqcode"]
            vals[idxs] = np.where(rq >= 0, rq, 0)
            null[idxs] = rq < 0
            errors[idxs] += np.fromiter((p[1] for p in parsed), dtype=np.int64, count=len(parsed))
        idxs, starts, ends = _app_rows(dhip)
        if len(idxs):
            parsed = [P.parse_dhdiscover(mv[s:e]) for s, e in zip(starts, ends)]
            strs["col_protocol"][idxs] = "DHDiscover"
            strs["dhip_device"][idxs] = np.array([p[0] for p in parsed], dtype=object)
            errors[idxs] += np.fromiter((p[1] for p in parsed), dtype=np.int64, count=len(parsed))

    # ---------------------------------------------------------------- TCP
    tcp = transport & (proto == P.PROTO_TCP)
    errors[tcp & (seg_len < 20)] += 1
    tcp = tcp & (seg_len >= 20)
    if tcp.any():
        doff = (B(t_off, 12) >> 4) * 4
        bad_doff = tcp & ((doff < 20) | (doff > seg_len))
        errors[bad_doff] += 1
        tcp = tcp & ~bad_doff
        strs["col_protocol"][tcp] = "TCP"
        set_int("tcp_srcport", tcp, (B(t_off, 0) << 8 | B(t_off, 1))[tcp])
        set_int("tcp_dstport", tcp, (B(t_off, 2) << 8 | B(t_off, 3))[tcp])
        strs["tcp_flags"][tcp] = _TCP_FLAG_TABLE[B(t_off, 13)[tcp]]

    # --------------------------------------------------------------- ICMP
    icmp = transport & (proto == P.PROTO_ICMP)
    errors[icmp & (seg_len < 8)] += 1
    icmp = icmp & (seg_len >= 8)
    if icmp.any():
        itype = B(t_off, 0)
        strs["col_protocol"][icmp] = "ICMP"
        set_int("icmp_type", icmp, itype[icmp])
        # dest-unreachable inner-packet lift: rare; exact-parity fallback
        unreach = icmp & (itype == P.ICMP_DEST_UNREACH)
        if unreach.any():
            fallback |= unreach
    # ICMPv6 (58): recognized, no fields — nothing to do

    # ------------------------------------------------- scalar fallback rows
    fb_idx = np.nonzero(fallback)[0]
    for idx in fb_idx:
        row: list = [None] * len(PACKET_COLUMNS)
        row[P._I_FRAME_TIME] = int(ts[idx])
        row[P._I_FRAME_LEN] = int(fl_orig[idx])
        row[P._I_IP_PROTO] = 0
        row[P._I_IP_FRAG] = 0
        row[P._I_IP_ID] = 0
        row[P._I_IP_MF] = False
        e = P.decode_packet(row, mv[off[idx] : off[idx] + lens[idx]], int(lt[idx]))
        errors[idx] = e
        frame_len[idx] = row[P._I_FRAME_LEN]
        ip_mf[idx] = bool(row[P._I_IP_MF])
        for c in _INT_COLS:
            v = row[P._IDX[c]]
            vals, null = ints[c]
            if v is None:
                vals[idx] = 0
                null[idx] = c not in ("ip_proto", "ip_frag_offset", "ip_id")
            else:
                vals[idx] = v
                null[idx] = False
        for c in _STR_COLS:
            strs[c][idx] = row[P._IDX[c]]

    # ------------------------------------------------------------ assemble
    out: dict[str, pd.Series] = {}
    for name in PACKET_COLUMNS:
        if name == "frame_time":
            out[name] = pd.Series(ts.view("datetime64[us]"))
        elif name == "frame_len":
            out[name] = pd.Series(frame_len, dtype="Int64")
        elif name == "ip_mf":
            out[name] = pd.Series(
                pd.arrays.BooleanArray(ip_mf, np.zeros(n, dtype=bool))
            )
        elif name == "pcap_file":
            out[name] = pd.Series([pcap_file] * n, dtype="object")
        elif name in ints:
            vals, null = ints[name]
            width = PACKET_PANDAS_DTYPES[name]
            arr = vals.astype("int32" if width == "Int32" else "int64")
            out[name] = pd.Series(pd.arrays.IntegerArray(arr, null.copy()))
        elif name in strs:
            out[name] = pd.Series(strs[name], dtype="object")
        else:  # always-NULL schema-parity columns (col_info, http_*)
            out[name] = pd.Series([None] * n, dtype=PACKET_PANDAS_DTYPES[name])
    out["errors"] = pd.Series(errors, dtype="int64")
    return pd.DataFrame(out)
