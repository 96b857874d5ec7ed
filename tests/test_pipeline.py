"""End-to-end curation pipeline: each stage of curate() must drop exactly
the documents designed to trip it, with funnel-semantics flags (a doc
dropped at stage k has NULL flags for stages > k)."""

from __future__ import annotations

import pytest

from pcap_converter_spark.operators.pipeline import curate

BASE = (
    "the quick brown fox jumps over the lazy dog and runs with great "
    "speed through the forest and fields today"
)

DOCS = [
    (0, BASE + " alpha beta gamma delta"),          # keeper
    (1, BASE + " alpha beta gamma delta"),          # exact dup of 0
    (2, BASE + " alpha beta gamma epsilon"),        # near dup of 0
    (3, "tiny doc"),                                # quality: too short
    (4, "a calm night settled over the harbor and the small boats "
        "rocked gently while the old keeper watched the light turn"),
    (5, "the friendly guard spoke zeta eta theta iota kappa words and "
        "the crowd listened with care every day for many hours"),  # decon hit
]

BENCH = [(100, "zeta eta theta iota kappa lambda special sequence marker")]


@pytest.fixture(scope="module")
def curated(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    bench = spark.createDataFrame(BENCH, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in curate(docs, bench).collect()}
    assert len(rows) == len(DOCS)
    return rows


def test_curate_funnel_flags(curated):
    r = curated
    assert r[3]["keep_quality"] is False
    assert r[3]["keep_exact"] is None          # never reached stage 2
    assert r[1]["keep_quality"] and r[1]["keep_exact"] is False
    assert r[1]["keep_neardup"] is None
    assert r[2]["keep_exact"] and r[2]["keep_neardup"] is False
    assert r[5]["keep_neardup"] and r[5]["keep_decon"] is False
    assert {d for d, row in r.items() if row["kept"]} == {0, 4}


def test_curate_packs_only_survivors(curated):
    for d, row in curated.items():
        if row["kept"]:
            assert row["pack_shard"] is not None
            assert row["pack_bin"] is not None and row["pack_offset"] is not None
        else:
            assert row["pack_shard"] is None


def test_curate_without_benchmark(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in curate(docs).collect()}
    # no decontamination stage: doc 5 survives, decon flag is all-true
    assert rows[5]["kept"] is True
    assert {d for d, row in rows.items() if row["kept"]} == {0, 4, 5}


def test_curation_report_matches_flags(spark):
    from pcap_converter_spark.operators.pipeline import curation_report

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    bench = spark.createDataFrame(BENCH, ["doc_id", "text"])
    flags = curate(docs, bench)
    rep = {r["stage"]: r for r in curation_report(flags).collect()}
    assert set(rep) == {"quality", "exact", "neardup", "decon", "kept"}
    # fixture funnel: 6 in -> 5 pass quality -> 4 pass exact -> 3 pass
    # near-dup -> 2 pass decon
    assert (rep["quality"]["n_entered"], rep["quality"]["n_kept"]) == (6, 5)
    assert (rep["exact"]["n_entered"], rep["exact"]["n_kept"]) == (5, 4)
    assert (rep["neardup"]["n_entered"], rep["neardup"]["n_kept"]) == (4, 3)
    assert (rep["decon"]["n_entered"], rep["decon"]["n_kept"]) == (3, 2)
    assert (rep["kept"]["n_entered"], rep["kept"]["n_kept"]) == (2, 2)
    for r in rep.values():
        assert r["n_dropped"] == r["n_entered"] - r["n_kept"]


def test_write_kept_materializes_pack_layout(spark, tmp_path):
    from pcap_converter_spark.operators.pipeline import write_kept

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    bench = spark.createDataFrame(BENCH, ["doc_id", "text"])
    flags = curate(docs, bench)
    out = str(tmp_path / "kept")
    back = write_kept(flags, docs, out)
    rows = {r["doc_id"]: r for r in back.collect()}
    assert set(rows) == {0, 4}  # exactly the kept docs, with their text
    assert all(r["text"] for r in rows.values())
    # directory layout IS the shard assignment
    import os

    shards = sorted(
        d for d in os.listdir(out) if d.startswith("pack_shard=")
    )
    assert shards, "expected pack_shard=N partition directories"
    assert {f"pack_shard={r['pack_shard']}" for r in rows.values()} == set(
        shards
    )


def test_curate_funnel_invariants_random_corpus(spark):
    """Structural invariants of the funnel on a seeded random corpus
    (beyond the hand-built fixture): flag nullability follows the funnel
    (a stage's flag is non-NULL exactly when the doc reached that stage),
    kept == conjunction of all four, pack positions exist exactly for
    kept docs, and within each shard the (bin, offset) sequence is the
    running token sum in doc_id order."""
    import random

    rng = random.Random(47)
    vocab = [f"w{i}" for i in range(500)]
    docs = []
    for i in range(80):
        if i % 11 == 3:
            text = "tiny"  # quality drop
        elif i % 13 == 5 and docs:
            text = docs[-1][1]  # exact dup of predecessor
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(25, 60)))
        docs.append((i, text))
    bench = [(1000, docs[7][1])]  # benchmark shares doc 7's grams
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    bdf = spark.createDataFrame(bench, ["doc_id", "text"])
    rows = {r["doc_id"]: r.asDict() for r in curate(df, bdf).collect()}
    assert set(rows) == {i for i, _ in docs}

    chain = ["keep_quality", "keep_exact", "keep_neardup", "keep_decon"]
    for r in rows.values():
        # funnel nullability: flag k+1 is present iff flag k is True
        for up, down in zip(chain, chain[1:]):
            if r[up] is True:
                assert r[down] is not None, r
            else:
                assert r[down] is None, r
        assert r["kept"] == all(r[c] is True for c in chain)
        for c in ("pack_shard", "pack_bin", "pack_offset"):
            assert (r[c] is not None) == r["kept"], r

    # pack layout: running token sums per shard in doc_id order
    kept = sorted(
        (d for d, r in rows.items() if r["kept"]),
    )
    ntok = {d: len(t.split()) for d, t in docs}
    starts: dict = {}
    for d in kept:
        r = rows[d]
        sh = r["pack_shard"]
        expect = starts.get(sh, 0)
        assert r["pack_bin"] * 256 + r["pack_offset"] == expect, (d, r)
        starts[sh] = expect + ntok[d]


def test_multi_source_crawl_to_mix_end_to_end(spark, tmp_path):
    """The full acquisition-to-artifact story across BOTH ingest formats:
    a WARC crawl segment and a JSONL dump union into one corpus; URL
    dedup deletes the refetched page; mix_sources downsamples the crawl
    side; the curation funnel runs on the survivors; the kept set ships
    as both the pack_shard Parquet artifact and a JSONL export that
    round-trips."""
    from fixtures import warcgen as wg
    from pcap_converter_spark.functions.urls import dedup_by_url
    from pcap_converter_spark.operators.pipeline import curate, write_kept
    from pcap_converter_spark.operators.sampling import mix_sources
    from pcap_converter_spark.sources.jsonl import (
        read_jsonl_docs,
        write_jsonl_docs,
    )
    from pcap_converter_spark.sources.warc import (
        read_warc,
        responses_as_documents,
    )
    import json as _json

    from pyspark.sql import functions as F

    # --- WARC side: 30 pages, one URL refetched under a messy variant
    def prose(tag: str, i: int) -> str:
        # passes the Gopher gate: >=20 tokens, mean word length in range,
        # stopword hits, low punctuation, DISTINCT bigrams (repeated
        # filler like 'word word word' trips the repetition filter)
        mids = " ".join(f"{tag}{i}w{j}" for j in range(18))
        return f"the {tag} doc {i} is a mix of {mids} in the end"

    recs = []
    for i in range(30):
        body = (
            f"<html><body><p>{prose('crawl', i)}</p></body></html>"
        ).encode()
        url = (
            "https://site.org/p/7?utm_source=feed" if i == 29
            else f"https://site.org/p/{i}"
        )
        recs.append(wg.response_record(url, body, f"<urn:uuid:c{i}>"))
    warc_p = str(tmp_path / "seg.warc.gz")
    wg.write_warc(warc_p, recs, gzipped=True)
    crawl = responses_as_documents(
        read_warc(spark, warc_p), extract_text=True
    ).withColumn("source", F.lit("crawl"))

    # --- JSONL side: 20 curated docs
    jl = str(tmp_path / "dump.jsonl.gz")
    import gzip

    with gzip.open(jl, "wt") as f:
        for i in range(20):
            f.write(_json.dumps({
                "text": prose("book", i),
                "url": f"https://books.org/{i}",
            }) + "\n")
    books = read_jsonl_docs(spark, jl).drop("errors").withColumn(
        "source", F.lit("books")
    )

    corpus = crawl.unionByName(books)
    assert corpus.count() == 50

    # URL dedup: doc 29's messy refetch of /p/7 collapses onto one keep
    flagged = dedup_by_url(corpus)
    assert flagged.filter("NOT keep_url").count() == 1
    corpus = flagged.filter("keep_url")

    # mix: halve the crawl side, keep books whole (deterministic)
    mixed = mix_sources(corpus, {"crawl": 0.5}).filter("keep_mix")
    n_crawl = mixed.filter("source = 'crawl'").count()
    assert mixed.filter("source = 'books'").count() == 20
    assert 5 <= n_crawl <= 24

    # funnel + both artifacts
    flags = curate(mixed.select("doc_id", "text"))
    out_pq = str(tmp_path / "kept_pq")
    kept = write_kept(flags, mixed.select("doc_id", "url", "text"), out_pq)
    n_kept = kept.count()
    assert n_kept > 0
    out_jl = str(tmp_path / "kept_jsonl")
    write_jsonl_docs(kept.select("doc_id", "url", "text"), out_jl)
    back = read_jsonl_docs(
        spark, out_jl + "/part-*.json.gz", id_field="doc_id"
    )
    assert back.count() == n_kept
    assert back.filter("errors != 0").count() == 0


def test_curate_substring_stage_edits_before_quality(spark):
    # doc 10 is a full copy of doc 0: with the span-editing stage ON it
    # edits down to nothing and exits at the QUALITY gate (too short),
    # not the digest stage — the later stages judge the cleaned text
    docs = spark.createDataFrame(
        DOCS + [(10, DOCS[0][1])], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in curate(docs, substring_dedup=4).collect()
    }
    assert rows[10]["keep_quality"] is False
    assert rows[10]["keep_exact"] is None
    assert rows[0]["kept"] is True            # first occurrence untouched
    assert "keep_semantic" not in rows[0].asDict()


def test_curate_semantic_stage(spark):
    from pcap_converter_spark.operators.pipeline import curation_report

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    # embeddings: 0 and 4 nearly parallel (cos ≈ 1) — 4 must drop at the
    # semantic stage; 5 orthogonal; doc 3 has no embedding row at all
    # (passes the stage by contract) but was already quality-dropped
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (4, [0.9999, 0.0141, 0.0, 0.0]),
            (5, [0.0, 0.0, 1.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id: long, embedding: array<float>",
    )
    flags = curate(docs, embeddings=embs, semantic_threshold=0.99)
    rows = {r["doc_id"]: r for r in flags.collect()}
    assert rows[4]["keep_semantic"] is False
    assert rows[4]["kept"] is False
    assert rows[0]["keep_semantic"] is True and rows[0]["kept"] is True
    assert rows[5]["keep_semantic"] is True and rows[5]["kept"] is True
    assert rows[3]["keep_semantic"] is None   # quality-dropped upstream
    rep = {r["stage"]: r for r in curation_report(flags).collect()}
    assert set(rep) == {
        "quality", "exact", "neardup", "semantic", "decon", "kept"
    }
    # no benchmark: 3 neardup survivors enter semantic, 2 leave
    assert (rep["semantic"]["n_entered"], rep["semantic"]["n_kept"]) == (3, 2)
    assert (rep["decon"]["n_entered"], rep["decon"]["n_kept"]) == (2, 2)


def test_rolling_snapshot_wet_incremental_end_to_end(spark, tmp_path):
    """The rolling-crawl story: day-1 WET text is curated and INDEXED at
    rest; day-2's snapshot probes the index — verbatim refetches and
    near-identical re-renders drop WITHOUT touching day-1's corpus again,
    and only the genuinely new pages extend the index for day 3."""
    from fixtures import warcgen as wg
    from pcap_converter_spark.operators import incremental as inc
    from pcap_converter_spark.sources.warc import (
        conversions_as_documents,
        read_warc,
    )

    def wet(path, pages):
        recs = [wg.record("warcinfo", b"software: wet\r\n")]
        for url, text in pages:
            recs.append(wg.record(
                "conversion", text.encode(), uri=url,
                rec_id=f"<urn:uuid:{url}>", content_type="text/plain",
            ))
        wg.write_warc(path, recs, gzipped=True)

    def prose(tag, i):
        mids = " ".join(f"{tag}{i}w{j}" for j in range(18))
        return f"the {tag} doc {i} is a mix of {mids} in the end"

    day1_pages = [(f"https://s.org/d1/{i}", prose("one", i)) for i in range(10)]
    p1 = str(tmp_path / "day1.wet.gz")
    wet(p1, day1_pages)
    day1 = conversions_as_documents(read_warc(spark, p1))

    idx = str(tmp_path / "corpus_index")
    inc.write_corpus_index(day1, idx)

    # day 2: 2 verbatim refetches, 1 near-rerender (one word differs in
    # ~16 shingles), 3 new pages
    rerender = prose("one", 3).replace("one3w9", "one3w9x")
    day2_pages = (
        [(u, t) for u, t in day1_pages[:2]]
        + [("https://s.org/d2/re3", rerender)]
        + [(f"https://s.org/d2/{i}", prose("two", i)) for i in range(3)]
    )
    p2 = str(tmp_path / "day2.wet.gz")
    wet(p2, day2_pages)
    day2 = conversions_as_documents(read_warc(spark, p2))

    kept = inc.dedup_incremental(day2, idx, threshold=0.5, update=True)
    kept_urls = sorted(r["url"] for r in kept.collect())
    assert kept_urls == [f"https://s.org/d2/{i}" for i in range(3)]

    # day 3 refetching a day-2 page is caught — the index rolled forward
    p3 = str(tmp_path / "day3.wet.gz")
    wet(p3, [("https://s.org/d3/re", prose("two", 1)),
             ("https://s.org/d3/new", prose("three", 0))])
    day3 = conversions_as_documents(read_warc(spark, p3))
    kept3 = sorted(
        r["url"]
        for r in inc.dedup_incremental(day3, idx, threshold=0.5).collect()
    )
    assert kept3 == ["https://s.org/d3/new"]


def test_curate_with_corpus_index_stage(spark, tmp_path):
    """corpus_index= inserts cross-snapshot dedup after the quality gate:
    a doc already in the at-rest index drops with keep_novel False, the
    report grows a 'novel' row, and the funnel arithmetic still chains."""
    from pcap_converter_spark.operators import incremental as inc
    from pcap_converter_spark.operators.pipeline import curate, curation_report

    def prose(tag, i):
        mids = " ".join(f"{tag}{i}w{j}" for j in range(18))
        return f"the {tag} doc {i} is a mix of {mids} in the end"

    yesterday = spark.createDataFrame(
        [(100 + i, prose("old", i)) for i in range(4)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "cidx")
    inc.write_corpus_index(yesterday, idx)

    today = spark.createDataFrame(
        [(0, prose("old", 1)),          # verbatim refetch → not novel
         (1, prose("new", 1)),
         (2, prose("new", 2)),
         (3, "short junk")],            # quality drop → novel flag NULL
        "doc_id long, text string",
    )
    handles = []
    flags = curate(today, corpus_index=idx, index_threshold=0.5,
                   handles=handles).collect()
    by_id = {r["doc_id"]: r for r in flags}
    assert not by_id[0]["keep_novel"] and not by_id[0]["kept"]
    assert by_id[1]["keep_novel"] and by_id[1]["kept"]
    assert by_id[3]["keep_quality"] is False
    assert by_id[3]["keep_novel"] is None  # never reached the stage

    rep = {r["stage"]: (r["n_entered"], r["n_kept"])
           for r in curation_report(
               curate(today, corpus_index=idx, index_threshold=0.5,
                      handles=handles)).collect()}
    assert rep["quality"] == (4, 3)
    assert rep["novel"] == (3, 2)
    assert rep["exact"][0] == 2
    assert rep["kept"][1] == 2
    for h in handles:
        h.unpersist()


def test_curate_language_gate(spark):
    from pcap_converter_spark.operators.pipeline import curate, curation_report

    en = "the is a of and to in that it was on for with as his " * 3
    de = "der die und das ist ein nicht mit sich auf er so wie " * 3
    rows = [(i, en + f"enword{i} " * 10) for i in range(6)] + [
        (10 + i, de + f"deword{i} " * 10) for i in range(3)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    flags = curate(docs, languages=("en",))
    got = {r["doc_id"]: r for r in flags.collect()}
    assert "keep_lang" in flags.columns
    for i in range(6):
        assert got[i]["keep_lang"], i
    for i in range(3):
        assert not got[10 + i]["keep_lang"]
        # funnel convention: lang-dropped docs have NULL downstream flags
        assert got[10 + i]["keep_quality"] is None
        assert got[10 + i]["kept"] is False
    # report puts the lang stage FIRST: its n_entered is the corpus size
    rep = {r["stage"]: r for r in curation_report(flags).collect()}
    assert rep["lang"]["n_entered"] == 9
    assert rep["lang"]["n_kept"] == 6
    assert rep["quality"]["n_entered"] == 6
    # default form unchanged: no keep_lang column when the gate is off
    assert "keep_lang" not in curate(docs).columns


def test_curate_language_gate_min_evidence_default(spark):
    """lang_min_evidence + lang_default: a doc whose stopword evidence
    falls under the bar gets a NULL guess, which the gate judges as
    lang_default — ('en','und') keeps it, ('en',) drops it."""
    from pcap_converter_spark.operators.pipeline import curate

    en = "the is a of and to in that it was on for with as his " * 3
    thin = "bonjour le monde " + "plainword " * 60  # 1 fr hit, < 3
    rows = [(0, en + "enword " * 10), (1, thin)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    keep = curate(docs, languages=("en", "und"), lang_min_evidence=3)
    got = {r["doc_id"]: r["keep_lang"] for r in keep.collect()}
    assert got == {0: True, 1: True}

    drop = curate(docs, languages=("en",), lang_min_evidence=3)
    got = {r["doc_id"]: r["keep_lang"] for r in drop.collect()}
    assert got == {0: True, 1: False}

    # explicit default routes the thin band into a named language
    adopt = curate(docs, languages=("fr",), lang_min_evidence=3,
                   lang_default="fr")
    got = {r["doc_id"]: r["keep_lang"] for r in adopt.collect()}
    assert got == {0: False, 1: True}


def test_prelude_checkpoint_escape_hatch_parity(spark):
    """prelude_checkpoint=False (the cluster-safe recomputable-persist
    mode — curate's escape hatch from the default localCheckpoint, and
    the CLI's --prelude-recomputable) must produce byte-identical flags
    to the default, so the durable mode cannot rot (VERDICT r10 stretch
    #7). The corpus exercises every prelude stage: mojibake damage
    (repair), a boilerplate line shared by 3 docs (line dedup), a
    repeated 8-word span (span dedup), plus the language gate."""
    from pcap_converter_spark.operators.pipeline import curate

    body = ("the quick brown fox jumps over the lazy dog and it was a "
            "fine day in the field with sun and wind for all of them")
    boiler = "Cookie Policy | Accept All"
    span = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, boiler + "\n" + body + "\n" + span),
        (1, boiler + "\n" + body.replace("fox", "cat") + "\n" + span),
        (2, boiler.lower() + "\n" + body.replace("fox", "owl")),
        (3, body.replace("fox", "hen") + " résumé"),
        # damaged twin of 3's accent: repairs to the same bytes
        (4, body.replace("fox", "hen") + " rÃ©sumÃ©"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    def run(checkpoint: bool):
        handles: list = []
        out = curate(
            docs,
            fix_encoding=True,
            line_dedup_min_docs=3,
            substring_dedup=8,
            languages=("en",),
            prelude_checkpoint=checkpoint,
            handles=handles,
        )
        got = sorted(tuple(r) for r in out.collect())
        for h in handles:
            h.unpersist()
        return got

    assert run(True) == run(False)


def test_curate_language_gate_scripts(spark):
    """The gate routes whitespace-free scripts (r11): zh/ja docs used to
    score 0 stopword hits and land in 'und' — languages=('ja',) must now
    keep Japanese and drop Chinese/English, not drop everything."""
    from pcap_converter_spark.operators.pipeline import curate

    ja = "これは日本語の文章です。" * 12
    zh = "这是一段中文的测试文本内容。" * 12
    en = ("the quick brown fox jumps over the lazy dog and it was a "
          "fine day in the field with sun and wind for all of them")
    docs = spark.createDataFrame(
        [(0, ja), (1, zh), (2, en)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["keep_lang"]
        for r in curate(docs, languages=("ja",)).collect()
    }
    assert got == {0: True, 1: False, 2: False}
    got = {
        r["doc_id"]: r["keep_lang"]
        for r in curate(docs, languages=("zh", "en")).collect()
    }
    assert got == {0: False, 1: True, 2: True}


def test_curate_exact_only_funnel(spark):
    """near_dedup=False — the CCNet/C4-class exact-only funnel: the
    keep_neardup column is absent, near-dups survive (only exact copies
    drop), and the report chain adapts."""
    from pcap_converter_spark.operators.pipeline import (
        curate,
        curation_report,
    )

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    flags = curate(docs, near_dedup=False)
    assert "keep_neardup" not in flags.columns
    r = {row["doc_id"]: row for row in flags.collect()}
    assert r[1]["keep_exact"] is False          # exact dup still drops
    assert r[2]["keep_exact"] and r[2]["kept"]  # near dup of 0 SURVIVES
    rep = {row["stage"]: row for row in curation_report(flags).collect()}
    assert "neardup" not in rep
    assert rep["exact"]["n_entered"] == rep["quality"]["n_kept"]
    assert rep["decon"]["n_entered"] == rep["exact"]["n_kept"]


def test_prepare_text_c4_rules_order_and_passthrough(spark):
    """c4_rules wiring (r12): prepare_text applies quality.c4_line_clean
    between encoding repair and line dedup, preserves non-text columns,
    and the composition ORDER is observable — repair first normalizes a
    clean/damaged line pair identical, so c4's keep-first dedup drops
    the second occurrence (unrepaired, both would survive)."""
    from pcap_converter_spark.operators.pipeline import prepare_text

    rows = [
        (1, "first line one with five words café.\n"
            "first line one with five words cafÃ©.\n"
            "second line two with five words here.\n"
            "third line three with five words here.",
         "keepme"),
        # every line violates a rule -> the min-lines gate empties it
        (2, "no terminal punct junk\nalso junk", "gone"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "extra"])
    out = prepare_text(df, fix_encoding=True, c4_rules=True, handles=[])
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["extra"] == "keepme" and got[2]["extra"] == "gone"
    assert got[1]["text"].count("five words café.") == 1
    assert "Ã©" not in got[1]["text"]
    assert got[2]["text"] == ""
    # without repair, the damaged variant is a distinct line and survives
    raw = prepare_text(df, c4_rules=True, handles=[])
    t1 = {r["doc_id"]: r["text"] for r in raw.collect()}[1]
    assert "Ã©" in t1


def test_curate_exact_salts_is_result_identical(spark):
    """exact_salts (r12 second pass, review-caught: the documented scale
    path was unreachable from the funnel): curate's flags must be
    byte-identical with the salted join-back on."""
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    plain = sorted(map(tuple, curate(df, handles=[]).collect()))
    salted = sorted(
        map(tuple, curate(df, exact_salts=4, handles=[]).collect())
    )
    assert plain == salted


def test_curate_reads_its_input_once(spark):
    """The funnel is rooted at the persisted quality boundary, so the
    caller's source runs once per curate() — a second read of ``docs``
    (for a WARC source: a second decode and HTML extraction) shows up as
    a doubled decode count."""
    decoded = spark.sparkContext.accumulator(0)

    def decode(batches):
        for pdf in batches:
            decoded.add(len(pdf))
            yield pdf

    src = spark.createDataFrame(DOCS, ["doc_id", "text"])
    docs = src.mapInPandas(decode, schema=src.schema)
    handles: list = []
    flags = curate(docs, handles=handles).localCheckpoint(eager=True)
    for h in handles:
        h.unpersist()
    assert flags.count() == len(DOCS)
    assert decoded.value == len(DOCS)
