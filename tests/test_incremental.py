"""Incremental at-rest dedup index: write → probe → extend semantics,
snapshot-vs-one-shot parity, an independent NumPy replay of the MinHash
estimator, and the broadcast-probe plan contract (index side never
shuffles)."""

from __future__ import annotations

import zlib

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from pcap_converter_spark.operators import incremental as inc
from pcap_converter_spark.operators.dedup import (
    _MERSENNE31,
    _minhash_params,
    passage_table,
)


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_a(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "pack my box with five dozen liquor jugs for the annual county fair"),
        (3, "sphinx of black quartz judge my vow said the museum curator today"),
        (4, "a completely unrelated treatise on the migration of arctic terns"),
    ]
    return _mk_docs(spark, rows)


def _corpus_b(spark):
    rows = [
        # verbatim copy of A/1 → exact + near dup
        (11, "the quick brown fox jumps over the lazy dog near the river bank"),
        # near copy of A/2 (one word edited) → near dup, not exact
        (12, "pack my box with five dozen liquor jugs for the annual village fair"),
        # fresh content
        (13, "entirely novel sentences about deep sea hydrothermal vent fauna"),
        (14, "another new document describing alpine glacier mass balance trends"),
    ]
    return _mk_docs(spark, rows)


@pytest.fixture()
def index_path(spark, tmp_path):
    p = str(tmp_path / "cidx")
    inc.write_corpus_index(_corpus_a(spark), p)
    return p


def test_flag_exact_and_near(spark, index_path):
    handles = []
    flags = {
        r["doc_id"]: r
        for r in inc.flag_against_index(
            _corpus_b(spark), index_path, threshold=0.5, handles=handles
        ).collect()
    }
    assert flags[11]["dup_exact"] and flags[11]["dup_near"]
    assert flags[11]["near_est"] == 1.0
    assert not flags[12]["dup_exact"] and flags[12]["dup_near"]
    assert 0.5 <= flags[12]["near_est"] < 1.0
    for fresh in (13, 14):
        assert not flags[fresh]["dup_exact"] and not flags[fresh]["dup_near"]
        assert flags[fresh]["near_est"] is None
    for h in handles:
        h.unpersist()


def test_exact_parity_with_duckdb(spark, index_path, tmp_path):
    """dup_exact == 'digest appears in the indexed corpus', replayed
    independently in DuckDB over the raw texts."""
    a = _corpus_a(spark).toPandas()
    b = _corpus_b(spark).toPandas()
    con = duckdb.connect()
    con.register("a", a)
    con.register("b", b)
    expected = dict(
        con.execute(
            "SELECT b.doc_id, bool_or(a.text IS NOT NULL) FROM b "
            "LEFT JOIN a ON sha256(a.text) = sha256(b.text) "
            "GROUP BY b.doc_id"
        ).fetchall()
    )
    got = {
        r["doc_id"]: r["dup_exact"]
        for r in inc.flag_against_index(_corpus_b(spark), index_path).collect()
    }
    assert got == expected


def _ref_sig(text: str, k: int, num_hashes: int, seed: int) -> np.ndarray:
    """Independent NumPy replay of the signature the index stores."""
    ws = text.lower().split()
    if len(ws) < k:
        sh = [" ".join(ws)]
    else:
        sh = list({" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)})
    base = np.array([zlib.crc32(s.encode()) for s in sh], dtype=np.int64)
    params = _minhash_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    return ((A * (base[None, :] & _MERSENNE31) + B) % _MERSENNE31).min(axis=1)


def test_near_estimate_matches_numpy_replay(spark, index_path):
    """near_est for the edited doc equals the exact agreement fraction of
    the two signatures, recomputed from scratch outside the module."""
    meta = inc.read_index_meta(spark, index_path)
    sig_a = _ref_sig(
        "pack my box with five dozen liquor jugs for the annual county fair",
        meta["shingle_k"], meta["num_hashes"], meta["seed"],
    )
    sig_b = _ref_sig(
        "pack my box with five dozen liquor jugs for the annual village fair",
        meta["shingle_k"], meta["num_hashes"], meta["seed"],
    )
    expected = float((sig_a == sig_b).mean())
    got = {
        r["doc_id"]: r["near_est"]
        for r in inc.flag_against_index(
            _corpus_b(spark), index_path, threshold=0.3
        ).collect()
    }
    assert got[12] == pytest.approx(expected)


def _table_rows(spark, path, cols):
    return sorted(
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(path).select(*cols).collect()
    )


def test_extend_equals_one_shot(spark, tmp_path):
    """index(A) + extend(B) holds exactly the same key rows as
    index(A ∪ B) written in one shot — append is lossless and
    parameter-pinned."""
    p_inc = str(tmp_path / "inc")
    p_one = str(tmp_path / "one")
    a, b = _corpus_a(spark), _corpus_b(spark)
    inc.write_corpus_index(a, p_inc)
    inc.extend_corpus_index(b, p_inc)
    inc.write_corpus_index(a.unionByName(b), p_one)
    for sub, cols in (
        ("exact", ["content_hash", "doc_id"]),
        ("bands", ["band", "band_hash", "doc_id"]),
    ):
        assert _table_rows(spark, f"{p_inc}/{sub}", cols) == _table_rows(
            spark, f"{p_one}/{sub}", cols
        ), sub
    sigs_inc = {
        r["doc_id"]: list(r["sig"])
        for r in spark.read.parquet(f"{p_inc}/sigs").collect()
    }
    sigs_one = {
        r["doc_id"]: list(r["sig"])
        for r in spark.read.parquet(f"{p_one}/sigs").collect()
    }
    assert sigs_inc == sigs_one


def test_dedup_incremental_update_chains_snapshots(spark, tmp_path):
    """Snapshot chaining: B's survivors enter the index, so a C doc
    duplicating a *B* survivor is caught by the next probe."""
    p = str(tmp_path / "chain")
    inc.write_corpus_index(_corpus_a(spark), p)
    kept_b = inc.dedup_incremental(
        _corpus_b(spark), p, threshold=0.5, update=True
    )
    assert sorted(r["doc_id"] for r in kept_b.collect()) == [13, 14]
    c = _mk_docs(spark, [
        # copy of B/13 — only findable because update=True indexed it
        (21, "entirely novel sentences about deep sea hydrothermal vent fauna"),
        (22, "genuinely fresh text about the thermoregulation of desert beetles"),
    ])
    kept_c = inc.dedup_incremental(c, p, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept_c.collect()) == [22]


def test_exact_only_index_over_passages(spark, tmp_path):
    """An exact-only index over passage_table windows: passage digests
    cross snapshots, near tier absent → dup_near/near_est NULL."""
    p = str(tmp_path / "pidx")
    a_pas = passage_table(_corpus_a(spark), passage_words=4).withColumnRenamed(
        "passage", "text"
    )
    inc.write_corpus_index(a_pas, p, tiers=("exact",))
    b_pas = passage_table(_corpus_b(spark), passage_words=4).withColumnRenamed(
        "passage", "text"
    )
    flags = {r["doc_id"]: r for r in inc.flag_against_index(b_pas, p).collect()}
    assert flags[11]["dup_exact"]  # verbatim copy: every window indexed
    assert all(r["dup_near"] is None and r["near_est"] is None
               for r in flags.values())


def test_exact_matches_occurrence_semantics(spark, tmp_path):
    """exact_matches returns every occurrence on both sides of a shared
    digest, tagged by origin."""
    p = str(tmp_path / "occ")
    inc.write_corpus_index(_corpus_a(spark), p, tiers=("exact",))
    m = inc.exact_matches(_corpus_b(spark), p).collect()
    by_origin = {}
    for r in m:
        by_origin.setdefault(r["origin"], []).append(r["doc_id"])
    assert by_origin == {"index": [1], "snapshot": [11]}


def _first_join_or_exchange_above(plan: str, scan_needle: str) -> str:
    """Walk a physical-plan tree string from the scan line up its ancestor
    chain (nearest line above with strictly smaller indentation) and
    return the first ancestor that is a join or an exchange."""
    lines = plan.splitlines()

    def indent(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+|-*("))

    hits = [i for i, ln in enumerate(lines)
            if scan_needle in ln and "Scan parquet" in ln]
    assert hits, plan
    for i in hits:
        d = indent(lines[i])
        j = i
        while j > 0:
            j -= 1
            if indent(lines[j]) < d:
                d = indent(lines[j])
                if "Join" in lines[j] or "Exchange" in lines[j]:
                    return lines[j]
    raise AssertionError(f"no join/exchange ancestor for {scan_needle}")


def test_probe_plan_index_side_never_shuffles(spark, index_path):
    """The broadcast-probe contract: each index table's scan feeds its
    probe join DIRECTLY (BroadcastHashJoin, snapshot keys on the broadcast
    side) — no Exchange between the 100 TB scan and the join. Downstream
    exchanges only ever see matched/snapshot rows."""
    flags = inc.flag_against_index(
        _corpus_b(spark), index_path, broadcast_probe=True
    )
    plan = flags._jdf.queryExecution().executedPlan().toString()
    # each index scan is identified by its PRUNED column list (the
    # Location path is truncated in long plan strings) — which doubles as
    # the column-pruning assertion: the exact scan reads only the digest
    for sub, needle in (
        ("exact", "[content_hash#"),
        ("bands", "[band#"),
        ("sigs", ",sig#"),
    ):
        anc = _first_join_or_exchange_above(plan, needle)
        assert "BroadcastHashJoin" in anc, (sub, anc)


def test_meta_version_gate(spark, tmp_path):
    p = str(tmp_path / "vidx")
    inc.write_corpus_index(_corpus_a(spark), p, tiers=("exact",))
    bad = spark.read.parquet(f"{p}/meta").withColumn(
        "version", F.lit(99)
    )
    bad.write.mode("overwrite").parquet(f"{p}/meta2")
    import shutil

    shutil.rmtree(f"{p}/meta")
    shutil.move(f"{p}/meta2", f"{p}/meta")
    with pytest.raises(ValueError, match="version"):
        inc.read_index_meta(spark, p)


def test_compaction_preserves_content_and_shrinks_files(spark, tmp_path):
    """Many appends → many files; compaction rewrites the live tables to
    the target file count with identical rows, and the probe answers
    identically."""
    import glob

    p = str(tmp_path / "cmp")
    inc.write_corpus_index(_corpus_a(spark), p)
    for i in range(4):
        inc.extend_corpus_index(
            _mk_docs(spark, [(100 + i, f"filler snapshot number {i} content")]),
            p,
        )
    before = {
        sub: _table_rows(spark, f"{p}/{sub}", ["doc_id"])
        for sub in ("exact", "sigs", "bands")
    }
    flags_before = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    n_files = len(glob.glob(f"{p}/exact/*.parquet"))
    inc.compact_corpus_index_safe(spark, p, files_per_table=2)
    root = inc.resolve_index_root(spark, p)
    assert len(glob.glob(f"{root}/exact/*.parquet")) <= 2 < n_files
    for sub in ("exact", "sigs", "bands"):
        assert _table_rows(spark, f"{root}/{sub}", ["doc_id"]) == before[sub], sub
    flags_after = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    assert flags_after == flags_before


def test_probe_tiers_near_only_skips_exact(spark, index_path):
    """probe_tiers=("near",): the near columns equal the full probe's,
    dup_exact comes back NULL (not-checked, not not-duplicate), and the
    plan never computes snapshot digests (no sha256 node)."""
    full = {
        r["doc_id"]: r
        for r in inc.flag_against_index(
            _corpus_b(spark), index_path, threshold=0.5
        ).collect()
    }
    out = inc.flag_against_index(
        _corpus_b(spark), index_path, threshold=0.5, probe_tiers=("near",)
    )
    assert "sha2" not in out._jdf.queryExecution().executedPlan().toString()
    near = {r["doc_id"]: r for r in out.collect()}
    for d in full:
        assert near[d]["dup_exact"] is None, d
        assert near[d]["dup_near"] == full[d]["dup_near"], d
        assert near[d]["near_est"] == full[d]["near_est"], d


def test_safe_compaction_manifest_generations(spark, tmp_path):
    """compact_corpus_index_safe: content identical across generations,
    no rename window (the old generation's tables stay on disk until
    vacuum), appends land in the live generation, manifests round-trip,
    and vacuum removes only superseded generations."""
    import glob
    import json
    import os

    p = str(tmp_path / "safe")
    inc.write_corpus_index(_corpus_a(spark), p)
    for i in range(4):
        inc.extend_corpus_index(
            _mk_docs(spark, [(100 + i, f"filler snapshot number {i} content")]),
            p,
        )
    flags_before = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    n_files = len(glob.glob(f"{p}/exact/*.parquet"))

    inc.compact_corpus_index_safe(spark, p, files_per_table=2)
    # manifest round-trip: epoch-1 file names the live root as JSON
    m = json.loads(open(f"{p}/manifest-000001").read())
    assert m["root"] == "gen-000001" and m["epoch"] == 1
    assert inc.resolve_index_root(spark, p).endswith("gen-000001")
    # no rename window: legacy tables untouched, new generation complete
    assert len(glob.glob(f"{p}/exact/*.parquet")) == n_files
    assert len(glob.glob(f"{p}/gen-000001/exact/*.parquet")) <= 2
    flags_after = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    assert flags_after == flags_before

    # appends resolve into the live generation and are immediately visible
    inc.extend_corpus_index(
        _mk_docs(spark, [(200, _corpus_b(spark).collect()[2]["text"])]), p
    )
    exact_docs = {
        r["doc_id"]
        for r in spark.read.parquet(f"{p}/gen-000001/exact").collect()
    }
    assert 200 in exact_docs
    flags_appended = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    flags2 = {t[0]: t for t in flags_appended}
    assert flags2[13][1]  # dup_exact: doc 200 carried b/13's text

    # a second compaction supersedes the first generation
    inc.compact_corpus_index_safe(spark, p, files_per_table=2)
    assert inc.resolve_index_root(spark, p).endswith("gen-000002")

    # vacuum drops legacy tables + gen-1, keeps the live generation AND
    # any higher-epoch orphan (an in-flight/crashed compaction's staging
    # area must never be deleted out from under it)
    os.makedirs(f"{p}/gen-000007")
    inc.vacuum_corpus_index(spark, p)
    assert not os.path.exists(f"{p}/exact")
    assert not os.path.exists(f"{p}/gen-000001")
    assert os.path.exists(f"{p}/gen-000002/exact")
    assert os.path.exists(f"{p}/gen-000007")
    import shutil

    shutil.rmtree(f"{p}/gen-000007")
    flags3 = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    assert flags3 == flags_appended

    # a fresh overwrite of the same path clears every generation/manifest
    inc.write_corpus_index(_corpus_a(spark), p)
    assert inc._live_epoch(spark, p) == 0
    assert not os.path.exists(f"{p}/gen-000002")
    flags4 = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    assert flags4 == flags_before


def test_safe_compaction_skips_orphan_generation_slot(spark, tmp_path):
    """A crashed (or in-flight) compaction's orphan gen dir with no
    manifest must be SKIPPED, not overwritten or deleted: the next
    compaction claims the following slot and commits there, and the
    orphan's files are never touched (ADVICE r6 — a losing writer can
    never clobber files a winner's manifest points at)."""
    import json
    import os

    p = str(tmp_path / "orphan")
    inc.write_corpus_index(_corpus_a(spark), p)
    # simulate a crashed compaction that renamed its staging dir into
    # gen-000001 but died before the manifest PUT
    os.makedirs(f"{p}/gen-000001")
    open(f"{p}/gen-000001/sentinel", "w").write("orphan")

    inc.compact_corpus_index_safe(spark, p, files_per_table=2)

    # committed into the NEXT slot; orphan untouched; reads resolve there
    m = json.loads(open(f"{p}/manifest-000002").read())
    assert m["root"] == "gen-000002"
    assert inc.resolve_index_root(spark, p).endswith("gen-000002")
    assert open(f"{p}/gen-000001/sentinel").read() == "orphan"
    assert not os.path.exists(f"{p}/manifest-000001")
    # no staging debris left behind
    assert not [d for d in os.listdir(p) if d.startswith(".genstage.")]
    flags = sorted(
        map(tuple, inc.flag_against_index(_corpus_b(spark), p).collect())
    )
    assert flags  # probe still answers through the committed generation


def test_fuzz_exact_probe_is_set_membership(spark):
    """Property: dup_exact over random snapshots is exactly Python set
    membership of the text — for any split, any duplicate structure."""
    import random

    rng = random.Random(20260814)
    vocab = [f"t{i}" for i in range(30)]
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(1, 12))) for _ in range(60)
    ]
    # force duplicate structure across the split
    texts += texts[:15]
    rng.shuffle(texts)
    half = len(texts) // 2
    idx_rows = [(i, t) for i, t in enumerate(texts[:half])]
    snap_rows = [(1000 + i, t) for i, t in enumerate(texts[half:])]
    import tempfile

    p = tempfile.mkdtemp() + "/fuzzidx"
    inc.write_corpus_index(
        _mk_docs(spark, idx_rows), p, tiers=("exact",)
    )
    indexed = {t for _, t in idx_rows}
    got = {
        r["doc_id"]: r["dup_exact"]
        for r in inc.flag_against_index(_mk_docs(spark, snap_rows), p).collect()
    }
    assert got == {i: (t in indexed) for i, t in snap_rows}


def test_near_tier_sql_replay_with_md5_hash(spark, tmp_path):
    """Cross-ENGINE proof of the near tier: with shingle_hash='md5l32'
    DuckDB re-derives the stored signatures from scratch — shingling, the
    md5-low32 base hash, all 64 universal-hash minima — and the
    signature-agreement estimate for every cross pair; the operator's
    near_est must equal SQL's to the last bit, and dup_near must be the
    est ≥ τ verdict over SQL's pairs (band recall is saturated by using
    bands == num_hashes so candidates can't hide a mismatch)."""
    import duckdb

    nh, k, seed = 16, 3, 42
    p = str(tmp_path / "md5idx")
    inc.write_corpus_index(
        _corpus_a(spark), p,
        num_hashes=nh, bands=nh, shingle_k=k, seed=seed,
        shingle_hash="md5l32",
    )
    flags = {
        r["doc_id"]: r
        for r in inc.flag_against_index(
            _corpus_b(spark), p, threshold=0.4
        ).collect()
    }

    params = _minhash_params(nh, seed)
    hash_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a}::BIGINT + {b}) % "
        f"{_MERSENNE31}))"
        for a, b in params
    )
    sig_sql = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS lws
  FROM {{t}}),
s AS (
  SELECT doc_id,
         CASE WHEN len(lws) >= {k}
           THEN list_distinct(list_transform(
             range(1, len(lws) - {k - 1} + 1),
             i -> concat_ws(' ', lws[i], lws[i+1], lws[i+2])))
           ELSE [array_to_string(lws, ' ')] END AS sh
  FROM w),
hs AS (
  SELECT doc_id,
         list_transform(sh,
           x -> CAST(md5_number_lower(x) & 4294967295 AS BIGINT)
                & {_MERSENNE31}) AS hs
  FROM s)
SELECT doc_id, [{hash_exprs}] AS sig FROM hs
"""
    con = duckdb.connect()
    con.register("a_t", _corpus_a(spark).toPandas())
    con.register("b_t", _corpus_b(spark).toPandas())
    sig_a = dict(con.execute(sig_sql.format(t="a_t")).fetchall())
    sig_b = dict(con.execute(sig_sql.format(t="b_t")).fetchall())

    # 1) the STORED signatures equal SQL's
    stored = {
        r["doc_id"]: list(r["sig"])
        for r in spark.read.parquet(f"{p}/sigs").collect()
    }
    assert stored == {d: list(s) for d, s in sig_a.items()}

    # 2) the reported estimate equals SQL's best cross-pair agreement
    for bid, bsig in sig_b.items():
        ests = [
            sum(x == y for x, y in zip(asig, bsig)) / nh
            for asig in sig_a.values()
        ]
        best = max(ests)
        got = flags[bid]["near_est"]
        if got is not None:
            assert got == pytest.approx(best), bid
            assert flags[bid]["dup_near"] == (best >= 0.4), bid


def test_prep_signature_roundtrip_and_operator_checks(spark, tmp_path):
    """prep provenance at the OPERATOR level: signature round-trips,
    write records it, extend validates it, and curate(corpus_index=...)
    refuses a prelude the index was not built with (ADVICE r9)."""
    import pytest

    from pcap_converter_spark.operators import incremental as inc
    from pcap_converter_spark.operators.pipeline import curate

    sig = inc.prep_signature(True, 3, None)
    assert sig == "enc=1;line=3;sub="
    vals = inc.parse_prep_signature(sig)
    assert vals == {
        "fix_encoding": True,
        "line_dedup_min_docs": 3,
        "substring_dedup": None,
        "html_extract": "text",  # hx absent = the full-text default
        "c4_rules": False,       # c4 absent = off
        "normalize": None,       # norm absent = raw digests
    }
    # the r11 extraction-mode field: appended only for 'main' (so old
    # text-mode signatures stay string-equal), round-trips
    sig_m = inc.prep_signature(True, 3, None, html_extract="main")
    assert sig_m == "enc=1;line=3;sub=;hx=main"
    assert inc.parse_prep_signature(sig_m)["html_extract"] == "main"
    assert inc.prep_signature(**vals) == sig
    # the r12 C4-rules field: appended only when ON (old signatures stay
    # string-equal to new no-c4 probes), round-trips, and composes with
    # hx in canonical order
    sig_c = inc.prep_signature(True, 3, None, c4_rules=True)
    assert sig_c == "enc=1;line=3;sub=;c4=1"
    assert inc.parse_prep_signature(sig_c)["c4_rules"] is True
    assert inc.prep_signature(**inc.parse_prep_signature(sig_c)) == sig_c
    sig_cm = inc.prep_signature(
        True, 3, None, html_extract="main", c4_rules=True
    )
    assert sig_cm == "enc=1;line=3;sub=;c4=1;hx=main"
    assert inc.prep_signature(**inc.parse_prep_signature(sig_cm)) == sig_cm
    # the r12 digest-normalization field: appended only when set, slots
    # between c4 and hx in canonical order, round-trips
    sig_n = inc.prep_signature(
        True, 3, None, html_extract="main", c4_rules=True,
        normalize="ccnet",
    )
    assert sig_n == "enc=1;line=3;sub=;c4=1;norm=ccnet;hx=main"
    assert inc.prep_signature(**inc.parse_prep_signature(sig_n)) == sig_n
    assert inc.parse_prep_signature(sig_cm)["normalize"] is None
    # default (no prep) signature parses back to all-off
    assert inc.parse_prep_signature(inc.prep_signature()) == {
        "fix_encoding": False,
        "line_dedup_min_docs": None,
        "substring_dedup": None,
        "html_extract": "text",
        "c4_rules": False,
        "normalize": None,
    }

    p = str(tmp_path / "prov_idx")
    docs = _corpus_a(spark)
    inc.write_corpus_index(docs, p, prep=sig)
    assert inc.read_index_meta(spark, p)["prep"] == sig

    with pytest.raises(ValueError, match="text prep"):
        inc.extend_corpus_index(docs, p, prep=inc.prep_signature())
    inc.extend_corpus_index(docs, p, prep=sig)  # matching: fine
    inc.extend_corpus_index(docs, p)            # None: caller's business

    # curate's own prelude flags describe its prep; mismatch refuses
    with pytest.raises(ValueError, match="text prep"):
        curate(docs, corpus_index=p, substring_dedup=8)
    # index_prep override: externally-prepared text declared to match
    flags = curate(docs, corpus_index=p, index_prep=sig)
    assert flags.count() == docs.count()


def test_normalized_index_catches_reformatted_refetch(spark, tmp_path):
    """normalize='ccnet' (r12 second pass): an index built over
    normalized digests catches a refetch that differs only by case,
    accents, digits, or whitespace reflow — and the raw form does not,
    which is exactly why the signature records the knob."""
    from pcap_converter_spark.operators import incremental as inc

    day1 = spark.createDataFrame(
        [(1, "Élan  CAFÉ page one with words 2024"),
         (2, "a genuinely different second page here")],
        ["doc_id", "text"],
    )
    # the refetch: same page, accents stripped by some proxy, different
    # year, reflowed whitespace, lowercased
    refetch = spark.createDataFrame(
        [(11, "elan cafe page one with words 2025"),
         (12, "an entirely novel third page of text")],
        ["doc_id", "text"],
    )

    p_norm = str(tmp_path / "idx_norm")
    inc.write_corpus_index(
        day1, p_norm, tiers=("exact",),
        prep=inc.prep_signature(normalize="ccnet"), normalize="ccnet",
    )
    flags = {
        r["doc_id"]: r["dup_exact"]
        for r in inc.flag_against_index(
            refetch, p_norm, normalize="ccnet"
        ).collect()
    }
    assert flags == {11: True, 12: False}

    # raw digests miss the same refetch
    p_raw = str(tmp_path / "idx_raw")
    inc.write_corpus_index(
        day1, p_raw, tiers=("exact",), prep=inc.prep_signature(),
    )
    raw_flags = {
        r["doc_id"]: r["dup_exact"]
        for r in inc.flag_against_index(refetch, p_raw).collect()
    }
    assert raw_flags == {11: False, 12: False}

    # and the provenance check refuses mixing the two worlds
    import pytest as _pytest

    with _pytest.raises(ValueError, match="text prep"):
        inc.extend_corpus_index(
            refetch, p_norm, prep=inc.prep_signature()
        )


def test_dedup_incremental_update_appends_normalized_keys(spark, tmp_path):
    """update=True must append the survivors' NORMALIZED keys to a
    normalized index (review-caught: the append used raw digests, so a
    reformatted refetch of an appended doc was never flagged again —
    the silent poisoning the prep signature exists to prevent)."""
    p = str(tmp_path / "idx_nupd")
    day1 = _mk_docs(spark, [(1, "Seed Page with Words 2024")])
    inc.write_corpus_index(
        day1, p, tiers=("exact",),
        prep=inc.prep_signature(normalize="ccnet"), normalize="ccnet",
    )
    day2 = _mk_docs(spark, [(11, "A Brand New Page of day two 2024")])
    kept = inc.dedup_incremental(
        day2, p, update=True, normalize="ccnet"
    )
    assert [r["doc_id"] for r in kept.collect()] == [11]
    # day 3: a reformatted refetch of the day-2 SURVIVOR — caught only
    # if the append stored normalized keys
    day3 = _mk_docs(spark, [(21, "a brand  new page of DAY two 2025")])
    kept3 = inc.dedup_incremental(day3, p, normalize="ccnet")
    assert kept3.count() == 0


def test_extend_detects_compaction_race(spark, tmp_path):
    """ADVICE r13 (mirrored from the ANN layouts): an extend whose root
    resolved before a concurrent compact_corpus_index_safe commits lands
    in the superseded generation — the post-write epoch re-check raises
    with the remedy instead of letting vacuum drop the keys silently."""
    p = str(tmp_path / "race_cidx")
    inc.write_corpus_index(_corpus_a(spark), p)

    real_resolve = inc.resolve_index_root
    state = {"n": 0, "fired": False}

    def racing_resolve(spark_, path_):
        # fire on extend's DIRECT root resolution (call 2 — call 1 is
        # the meta read's), AFTER the stale root is computed: the exact
        # ADVICE scenario where the write then lands in a generation a
        # concurrent compaction has just superseded
        state["n"] += 1
        root = real_resolve(spark_, path_)
        if state["n"] == 2 and not state["fired"]:
            state["fired"] = True
            inc.compact_corpus_index_safe(spark_, path_)
        return root

    inc.resolve_index_root, saved = racing_resolve, real_resolve
    try:
        with pytest.raises(RuntimeError, match="raced a compaction"):
            inc.extend_corpus_index(
                _mk_docs(spark, [(50, "a genuinely new page of text")]), p
            )
    finally:
        inc.resolve_index_root = saved

    # the remedy works: re-run lands the keys in the live generation
    inc.extend_corpus_index(
        _mk_docs(spark, [(50, "a genuinely new page of text")]), p
    )
    root = inc.resolve_index_root(spark, p)
    ids = {r["doc_id"] for r in spark.read.parquet(f"{root}/exact").collect()}
    assert 50 in ids
