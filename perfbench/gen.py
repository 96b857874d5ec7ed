"""Seeded, streaming input generators for the benchmark workloads.

Each generator writes its file block by block (a bounded list of encoded
records is flushed every ``_BLOCK`` records), so time and memory stay linear
in the input size, and returns the counts the correctness checks expect.
The same arguments always produce byte-identical files: all randomness comes
from one ``random.Random(seed)`` and every timestamp is synthetic.

Packets are built with ``fixtures/pcapgen``'s builders; WARC records with
``fixtures/warcgen``'s.
"""

from __future__ import annotations

import gzip
import io
import random
import struct

from fixtures import pcapgen as g
from fixtures import warcgen as wg

_BLOCK = 4096
_BASE_US = 1_700_000_000_000_000
_M1, _M2 = g.mac(1), g.mac(2)


def _eth4(payload: bytes) -> bytes:
    return g.ethernet(_M1, _M2, 0x0800, payload)


def _qname(rng: random.Random) -> str:
    label = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 10)))
    return f"{label}.{rng.choice(('com', 'net', 'org', 'example'))}"


class _Capture:
    """Block-buffered legacy pcap writer (µs timestamps, Ethernet)."""

    def __init__(self, path: str):
        self.f = open(path, "wb")
        self.buf: list[bytes] = []
        self.n = 0
        self.f.write(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1))

    def add(self, pkt: bytes) -> None:
        sec, us = divmod(_BASE_US + self.n * 10, 1_000_000)
        self.buf.append(struct.pack("<IIII", sec, us, len(pkt), len(pkt)) + pkt)
        self.n += 1
        if len(self.buf) >= _BLOCK:
            self.f.write(b"".join(self.buf))
            self.buf.clear()

    def close(self) -> None:
        self.f.write(b"".join(self.buf))
        self.f.close()


class _Fragmenter:
    """Emits fragmented UDP datagrams with a unique (src, dst, proto, id)
    identity each, and tallies what defrag should find."""

    def __init__(self, cap: _Capture, src_net: str):
        self.cap = cap
        self.src_net = src_net
        self.k = 0
        self.datagrams = 0  # datagrams whose first fragment is present
        self.continuations = 0
        self.orphans = 0  # continuation rows whose first fragment is missing

    def emit(self, sport: int, dport: int, app: bytes, dst: str, tail: int,
             pieces: int = 3, drop_first: bool = False) -> None:
        # 256 sources x 65536 ids keep every datagram identity distinct
        k, self.k = self.k, self.k + 1
        src = f"{self.src_net}.{k % 256}"
        ident = (k // 256) & 0xFFFF
        dgram = g.udp(sport, dport, app + bytes(tail))
        step = (-(-len(dgram) // pieces) + 7) // 8 * 8  # fragment size, 8-byte units
        for i in range(pieces):
            part = dgram[i * step:(i + 1) * step]
            if not part:
                break
            last = (i + 1) * step >= len(dgram)
            if i == 0:
                if drop_first:
                    continue
                self.datagrams += 1
            else:
                self.continuations += 1
                self.orphans += drop_first
            self.cap.add(_eth4(g.ipv4(src, dst, 17, part, ident=ident,
                                      frag_offset=i * step // 8, mf=not last)))


def _tcp_packet(rng: random.Random, i: int) -> bytes:
    sport = 20000 + rng.randrange(20000)
    seg = g.tcp(sport, 443, rng.choice((0x02, 0x10, 0x18, 0x11, 0x12, 0x04)), seq=i)
    src = f"172.20.{rng.randrange(64)}.{1 + rng.randrange(250)}"
    dst = f"151.101.{rng.randrange(4)}.{1 + rng.randrange(100)}"
    return _eth4(g.ipv4(src, dst, 6, seg, ttl=48 + i % 16))


def _expected(cap: _Capture, frag: _Fragmenter) -> dict:
    frag_rows = frag.datagrams + frag.continuations
    cont = frag.continuations
    return {
        "packets": cap.n,
        "fragmented_datagrams": frag.datagrams,
        "continuation_rows": cont,
        "orphan_fragments": frag.orphans,
        "fragment_rows": frag_rows,
        "filled_ratio": (cont - frag.orphans) / cont if cont else 1.0,
        # convert() rewrites when the rounded fragment share reaches 1 %
        "defragged": round(100.0 * frag_rows / cap.n) >= 1.0,
    }


def write_frag(path: str, n_packets: int, seed: int) -> dict:
    """Legacy pcap shaped like a DNS-ANY/NTP reflection capture: ~90 % of
    rows are 3-fragment response datagrams, ~1 % of datagrams lost their
    first fragment, ~10 % TCP background."""
    rng = random.Random(seed)
    cap = _Capture(path)
    frag = _Fragmenter(cap, "10.66.0")
    i = 0
    while cap.n < n_packets:
        # 1 in 4 draws is a single TCP packet, each other one 3 fragments
        if rng.random() < 0.25 or cap.n + 3 > n_packets:
            cap.add(_tcp_packet(rng, i))
        else:
            victim = f"192.0.2.{1 + rng.randrange(8)}"
            if rng.random() < 0.5:
                app = g.dns_query(_qname(rng), 255, txid=rng.randrange(65536), response=True)
                sport = 53
            else:
                app = g.ntp_v2_mode7(42)
                sport = 123
            frag.emit(sport, 1024 + rng.randrange(60000), app, victim,
                      tail=rng.randrange(300, 700), drop_first=rng.random() < 0.01)
        i += 1
    cap.close()
    return _expected(cap, frag)


# ------------------------------------------------------------------ WARC

_STOP = ("the", "a", "of", "and", "is", "to", "in")


def _vocab(rng: random.Random, n: int) -> list[str]:
    sy = ("ka", "lo", "mer", "tin", "sa", "vo", "ren", "qu", "del", "pa", "zor",
          "ni", "bel", "tu", "gra", "shi", "mo", "ver", "da", "lux")
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(sy) for _ in range(rng.randint(2, 4))))
    return sorted(out)


def _prose(rng: random.Random, vocab: list[str], n_words: int) -> list[str]:
    return [rng.choice(_STOP) if j % 4 == 1 else rng.choice(vocab) for j in range(n_words)]


def _html(words: list[str]) -> bytes:
    sentences = [" ".join(words[k:k + 12]) + "." for k in range(0, len(words), 12)]
    paras = "".join(f"<p>{' '.join(sentences[k:k + 3])}</p>" for k in range(0, len(sentences), 3))
    return f"<html><body>{paras}</body></html>".encode()


def write_warc(path: str, n_docs: int, seed: int) -> dict:
    """Per-record-gzip WARC: ``n_docs`` HTTP-200 pages (~15 % exact and
    ~15 % near duplicates of another page, ~3 % too short for the quality
    gate) plus a warcinfo record and ~2 % 404 responses, which are not
    documents. Returns the funnel counts ``curate`` must report and the
    URL groups of which exactly one member must be kept."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 4000)
    f = open(path, "wb")
    buf: list[bytes] = []

    def put(rec: bytes) -> None:
        out = io.BytesIO()
        with gzip.GzipFile(fileobj=out, mode="wb", mtime=0) as gz:
            gz.write(rec)
        buf.append(out.getvalue())
        if len(buf) >= _BLOCK:
            f.write(b"".join(buf))
            buf.clear()

    pages = 0

    def page(html: bytes, status: int = 200) -> str:
        nonlocal pages
        url = f"https://bench.example/{pages:07d}"
        put(wg.response_record(url, html, rec_id=f"<urn:uuid:bench-{pages}>", status=status))
        pages += 1
        return url

    put(wg.record("warcinfo", b"software: perfbench\r\n"))
    n = n_exact = n_near = 0
    short: list[str] = []
    groups: list[list[str]] = []  # exactly one url of each group survives
    while n < n_docs:
        r = rng.random()
        if r < 0.02:
            page(_html(_prose(rng, vocab, 40)), status=404)
            continue
        n += 1
        if r < 0.05:
            short.append(page(_html(_prose(rng, vocab, 8))))
            continue
        words = _prose(rng, vocab, rng.randint(60, 140))
        group = [page(_html(words))]
        if n < n_docs and r < 0.20:
            group.append(page(_html(words)))
            n_exact += 1
            n += 1
        elif n < n_docs and r < 0.35:
            # two edits among the last 12 words keep 3-word-shingle
            # Jaccard well above curate's 0.7 threshold
            near = list(words)
            for j in rng.sample(range(len(near) - 12, len(near)), 2):
                near[j] = "zorka" if near[j] in _STOP else near[j] + "s"
            group.append(page(_html(near)))
            n_near += 1
            n += 1
        groups.append(group)
    f.write(b"".join(buf))
    f.close()
    q_kept = n_docs - len(short)
    e_kept = q_kept - n_exact
    kept = e_kept - n_near
    return {
        "docs": n_docs,
        "exact_dups": n_exact,
        "near_dups": n_near,
        "short_docs": len(short),
        "funnel": {
            "quality": [n_docs, q_kept],
            "exact": [q_kept, e_kept],
            "neardup": [e_kept, kept],
            "decon": [kept, kept],
            "kept": [kept, kept],
        },
        "groups": groups,
        "short": short,
    }
