"""Dedup operators vs pure-Python references: exact groups, n-gram Jaccard
pairs, MinHash recall against exact, SimHash pigeonhole completeness."""

from __future__ import annotations

import itertools

import pytest

from pcap_converter_spark.operators import dedup

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
DOCS = [
    (0, BASE),
    (1, BASE),  # exact dup of 0
    (2, BASE + " extra"),  # near dup of 0/1
    (3, "totally different words entirely here nothing shared at all ok"),
    (4, "ALPHA beta GAMMA delta epsilon zeta eta theta iota kappa"),  # case-dup
    (5, "one two three"),  # short doc
    (6, "alpha beta gamma delta epsilon zeta eta theta iota omega"),  # near
]


def py_shingles(t: str, k: int = 3) -> frozenset:
    ws = [w for w in t.lower().split() if w]
    if len(ws) < k:
        return frozenset({" ".join(ws)})
    return frozenset(" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1))


def py_jaccard_pairs(docs, threshold: float) -> dict[tuple[int, int], float]:
    sh = {d: py_shingles(t) for d, t in docs}
    out = {}
    for (a, sa), (b, sb) in itertools.combinations(sh.items(), 2):
        inter = len(sa & sb)
        if inter:
            j = round(inter / len(sa | sb), 4)
            if j >= threshold:
                out[(a, b)] = j
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicates(spark, docs_df):
    rows = dedup.exact_duplicates(docs_df).collect()
    assert len(rows) == 1
    assert rows[0]["dup_count"] == 2 and rows[0]["doc_ids"] == [0, 1]


def test_ngram_jaccard_matches_python(spark, docs_df):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, threshold=0.5).collect()
    }
    assert got == py_jaccard_pairs(DOCS, 0.5)


def test_ngram_jaccard_case_insensitive(spark, docs_df):
    got = dedup.ngram_jaccard_pairs(docs_df, threshold=0.99).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert (0, 1) in pairs and (0, 4) in pairs  # exact + case-only dup


def test_minhash_recall_vs_exact(spark, docs_df):
    exact = set(py_jaccard_pairs(DOCS, 0.7))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs_df, threshold=0.7).collect()
    }
    # precision is exact (verify step); recall on strong dups must be total
    assert got <= set(py_jaccard_pairs(DOCS, 0.7))
    strong = set(py_jaccard_pairs(DOCS, 0.9))
    assert strong <= got


def test_minhash_max_df_prefilter(spark, docs_df):
    # with a df cut of 1 every shared shingle is dropped → no pairs
    got = dedup.ngram_jaccard_pairs(docs_df, threshold=0.1, max_shingle_df=1).collect()
    assert got == []


def test_simhash_pairs_pigeonhole_complete(spark, docs_df):
    """Every pair within the hamming radius must be found (banding is
    exhaustive for ≤ max_hamming); verify against collected signatures."""
    from pyspark.sql import functions as F

    sig = {
        r["doc_id"]: r["s"]
        for r in docs_df.select(
            "doc_id", dedup.simhash64(F.col("text")).alias("s")
        ).collect()
    }
    expected = set()
    for a, b in itertools.combinations(sorted(sig), 2):
        if bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1") <= 3:
            expected.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(docs_df, max_hamming=3).collect()
    }
    assert got == expected
    # the multi-block (Manku) scheme is a different work layout for the
    # SAME exact answer: C(8,5)=56 tables on 40-bit keys vs 4 on 16-bit
    got8 = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(
            docs_df, max_hamming=3, n_blocks=8
        ).collect()
    }
    assert got8 == expected
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs_df, max_hamming=3, n_blocks=3)
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs_df, max_hamming=3, n_blocks=6)


def test_decontaminate_matches_python(spark, docs_df):
    """Corpus docs sharing any k-gram with the benchmark set, grouped by
    gram hash — vs a brute-force Python reference over the same fixture."""
    bench_ids = {0, 5}
    bench = docs_df.filter(docs_df.doc_id.isin(*bench_ids))
    corpus = docs_df.filter(~docs_df.doc_id.isin(*bench_ids))
    got = {
        r["gram_hash"]: (r["dup_count"], r["doc_ids"])
        for r in dedup.decontaminate(corpus, bench, k=3).collect()
    }
    bench_grams = set().union(
        *(py_shingles(t, 3) for d, t in DOCS if d in bench_ids)
    )
    expected: dict[str, list[int]] = {}
    for d, t in DOCS:
        if d in bench_ids:
            continue
        for g in py_shingles(t, 3) & bench_grams:
            expected.setdefault(g, []).append(d)
    import hashlib

    mask = (1 << 63) - 1
    exp_hashed = {
        int.from_bytes(hashlib.md5(g.encode()).digest()[8:16], "little") & mask:
            (len(ds), sorted(ds))
        for g, ds in expected.items()
    }
    assert got == exp_hashed
    assert got, "fixture must actually produce contamination hits"


def test_duplicate_groups_connected_components(spark, docs_df):
    """Pairs → transitive keep-lowest-id groups: chained near-dups must
    collapse into ONE component even when the endpoints share no pair —
    identical labels from the driver union-find fast path AND the
    distributed fixpoint loop (small_graph_limit=0 forces it)."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    expected = {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    for limit in (1_000_000, 0):
        got = {
            r["doc"]: r["root"]
            for r in dedup.duplicate_groups(
                pairs, nodes, small_graph_limit=limit
            ).collect()
        }
        assert got == expected, f"small_graph_limit={limit}"


def test_duplicate_groups_long_chain_converges(spark):
    """A diameter-9 chain needs multiple propagation rounds — the fixpoint
    loop must run them, not stop after one (fast path disabled)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["doc_a", "doc_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    got = {
        r["doc"]: r["root"]
        for r in dedup.duplicate_groups(
            pairs, nodes, small_graph_limit=0
        ).collect()
    }
    assert got == {i: 0 for i in range(10)}


def test_minhash_band_table_carries_shingles_once(spark, docs_df):
    """VERDICT r2: the persisted band table must not replicate each doc's
    shingle array ×bands — the array (the dominant payload) rides on band 0
    only, cutting the cached/shuffled bytes ~×bands at corpus scale."""
    t = dedup.minhash_band_table(docs_df, "text", "doc_id", 3, 64, 16)
    rows = t.collect()
    assert len(rows) == len(DOCS) * 16
    for r in rows:
        if r["band"] == 0:
            assert r["sh"], f"band 0 of doc {r['doc']} must carry shingles"
        else:
            assert r["sh"] is None, f"band {r['band']} must not carry shingles"


def test_runners_leave_no_cached_blocks(spark, docs_df):
    """ADVICE r2: handles + eager materialization must unpersist operator
    caches (no storage leak across a long-lived session)."""
    def persisted_ids() -> set:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # drop earlier tests' SQL caches so the operators below create FRESH
    # cache entries (the CacheManager would otherwise dedupe identical
    # plans and `added` would be empty); localCheckpoint RDDs survive
    # clearCache and are excluded via the id-set difference
    spark.catalog.clearCache()
    before = persisted_ids()
    handles: list = []
    dedup.minhash_lsh_pairs(docs_df, threshold=0.7, handles=handles).collect()
    dedup.simhash_pairs(docs_df, max_hamming=3, handles=handles).collect()
    added = persisted_ids() - before
    assert added, "operator caches should be live before release"
    for h in handles:
        h.unpersist(blocking=True)
    assert not (persisted_ids() & added), "handle unpersist must release them"


# ---------------------------------------------------------------------------
# tier 5: embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _planted_vectors(n_base: int = 40, dim: int = 32, seed: int = 7):
    """n_base random unit vectors plus, for every 4th one, a jittered copy
    with cosine ≥ ~0.99 — the planted near-duplicates."""
    import numpy as np

    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows, planted = [], []
    vid = 0
    for i in range(n_base):
        rows.append((vid, [float(x) for x in base[i]]))
        orig = vid
        vid += 1
        if i % 4 == 0:
            dup = base[i] + 0.02 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in dup]))
            planted.append((orig, vid))
            vid += 1
    return rows, planted


@pytest.fixture(scope="module")
def emb_df(spark):
    rows, planted = _planted_vectors()
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    return df, planted


def _py_neardup(rows, threshold):
    """Reference keep-lowest-similar-neighbour decision, brute force."""
    import numpy as np

    ids = [r[0] for r in rows]
    m = np.stack([np.asarray(r[1]) for r in rows])
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = np.round(m @ m.T, 4)
    out = {}
    for i, vid in enumerate(ids):
        nbrs = [ids[j] for j in range(len(ids))
                if ids[j] < vid and sims[i, j] >= threshold]
        out[vid] = min(nbrs) if nbrs else vid
    return out


def test_embedding_neardup_exact(spark, emb_df):
    df, planted = emb_df
    rows, _ = _planted_vectors()
    expect = _py_neardup(rows, 0.9)
    got = {r["vec_id"]: (r["keep_id"], r["is_dup"])
           for r in dedup.embedding_neardup(df, threshold=0.9, n_blocks=4).collect()}
    assert len(got) == len(rows)
    for vid, keep in expect.items():
        assert got[vid] == (keep, keep != vid), f"vec {vid}"
    # every planted duplicate was caught
    for orig, dup in planted:
        assert got[dup][1], f"planted dup {dup} of {orig} missed"


def test_embedding_neardup_lsh_auto_sizing(spark, emb_df):
    """Default (None) geometry sizes band width from n — the sub-quadratic
    guard — and band count from the recall budget; planted cos≥0.99 dups
    must still surface, and half-specified geometry is rejected."""
    df, planted = emb_df
    got = {r["vec_id"]: r["is_dup"]
           for r in dedup.embedding_neardup_lsh(df, threshold=0.9).collect()}
    caught = sum(1 for _, dup in planted if got[dup])
    assert caught >= 0.8 * len(planted), f"{caught}/{len(planted)}"
    with pytest.raises(ValueError):
        dedup.embedding_neardup_lsh(df, bands=8)


def test_embedding_neardup_lsh_recall(spark, emb_df):
    df, planted = emb_df
    got = {r["vec_id"]: r["is_dup"]
           for r in dedup.embedding_neardup_lsh(
               df, threshold=0.9, n_planes=16, bands=4).collect()}
    caught = sum(1 for _, dup in planted if got[dup])
    # 16 planes / 4 bands at cos≥0.99: per-pair recall ≈ 1-(1-p^4)^4 ≥ 0.97
    assert caught >= 0.8 * len(planted), f"{caught}/{len(planted)} planted dups found"
    # no false positives: verification is exact, so a flagged dup really has
    # a smaller cosine-similar neighbour
    rows, _ = _planted_vectors()
    expect = _py_neardup(rows, 0.9)
    for vid, is_dup in got.items():
        if is_dup:
            assert expect[vid] != vid, f"vec {vid} false positive"


class TestRemoveDuplicateSpans:
    def _run(self, spark, rows, w=4):
        from pcap_converter_spark.operators.dedup import remove_duplicate_spans

        df = spark.createDataFrame(rows, "doc_id: long, text: string")
        out = remove_duplicate_spans(df, min_words=w)
        return {r["doc_id"]: r for r in out.collect()}

    def test_cross_doc_span_removed_first_kept(self, spark):
        p = "alpha beta gamma delta epsilon"  # 5-word span, w=4
        rows = [
            (1, f"start one two {p} tail words here"),
            (2, f"other intro text {p} closing remarks now"),
            (3, "completely unrelated text with no duplicate run"),
        ]
        got = self._run(spark, rows)
        assert got[1]["clean_text"] == rows[0][1]  # first occurrence kept
        assert got[1]["n_removed"] == 0
        assert got[2]["clean_text"] == "other intro text closing remarks now"
        assert got[2]["n_removed"] == 5
        assert got[3]["clean_text"] == rows[2][1]
        assert got[3]["n_removed"] == 0

    def test_within_doc_repetition_removed(self, spark):
        p = "la li lu le lo"
        rows = [(7, f"{p} middle filler words {p}")]
        got = self._run(spark, rows)
        assert got[7]["clean_text"] == f"{p} middle filler words"
        assert got[7]["n_removed"] == 5

    def test_short_doc_and_whitespace_passthrough(self, spark):
        rows = [
            (1, "tiny doc"),
            (2, "spaced   out\twhitespace doc unique entirely"),
        ]
        got = self._run(spark, rows)
        # untouched docs come back byte-identical, whitespace preserved
        assert got[1]["clean_text"] == rows[0][1]
        assert got[2]["clean_text"] == rows[1][1]

    def test_overlapping_runs_merge(self, spark):
        # a duplicated 6-word run with w=4: grams at offsets 0,1,2 overlap;
        # the whole run must vanish from the copy, nothing more
        run = "one two three four five six"
        rows = [
            (1, f"{run} first doc tail"),
            (2, f"copy starts here {run} copy ends"),
        ]
        got = self._run(spark, rows)
        assert got[2]["clean_text"] == "copy starts here copy ends"
        assert got[2]["n_removed"] == 6
        assert got[1]["clean_text"] == rows[0][1]

    def test_string_ids(self, spark):
        from pcap_converter_spark.operators.dedup import remove_duplicate_spans

        p = "uno dos tres cuatro cinco"
        df = spark.createDataFrame(
            [("x", f"{p} first tail"), ("y", f"pre {p} post")],
            "doc_id: string, text: string",
        )
        got = {
            r["doc_id"]: r
            for r in remove_duplicate_spans(df, min_words=4).collect()
        }
        assert got["y"]["clean_text"] == "pre post"
        assert got["x"]["clean_text"] == f"{p} first tail"

    def test_nbsp_is_not_a_separator(self, spark):
        # U+00A0 must NOT split words: the DuckDB oracle's RE2 \s+ treats
        # 'a\xa0b' as ONE token, so the Python side must too (a str.split
        # tokenizer would shift every position after it)
        from pcap_converter_spark.functions.text import ws_tokens

        assert ws_tokens("a\xa0b c") == ["a\xa0b", "c"]
        span = "alpha\xa0beta gamma delta epsilon"
        rows = [(1, f"{span} one tail"), (2, f"lead {span} more words")]
        got = self._run(spark, rows, w=4)
        assert got[2]["clean_text"] == "lead more words"
        assert got[2]["n_removed"] == 4  # the NBSP pair counts as one word
        assert got[1]["clean_text"] == rows[0][1]


class TestLineDedup:
    """line_dedup: RefinedWeb/CCNet boilerplate-line removal by
    cross-document line frequency."""

    def _run(self, spark, rows, min_docs=2):
        from pcap_converter_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in line_dedup(df, min_docs=min_docs).collect()
        }

    def test_boilerplate_line_removed_everywhere(self, spark):
        got = self._run(spark, [
            (0, "unique alpha\nSubscribe to our newsletter\nunique beta"),
            (1, "other text\nsubscribe to our newsletter"),
            (2, "totally clean document"),
        ])
        # normalized (trim+lower) forms match across docs 0 and 1 -> both
        # occurrences removed (keep NONE, unlike span dedup's keep-first)
        assert got[0] == ("unique alpha\nunique beta", 1)
        assert got[1] == ("other text", 1)
        assert got[2] == ("totally clean document", 0)

    def test_untouched_docs_are_byte_identical(self, spark):
        texts = [
            "plain single line",
            "two\nlines here",
            "trailing newline\n",
            "\nleading blank",
            "inner\n\nblank line",
            "",
            "  spaced  \n\ttabbed\t",
        ]
        got = self._run(spark, list(enumerate(texts)), min_docs=2)
        for i, t in enumerate(texts):
            assert got[i] == (t, 0), (i, t, got[i])

    def test_blank_lines_never_counted_or_removed(self, spark):
        got = self._run(spark, [
            (0, "a\n\nb"),
            (1, "c\n\nd"),
            (2, "e\n\nf"),
        ])
        # the blank middle line appears in all three docs but is structure
        assert got[0] == ("a\n\nb", 0)

    def test_within_doc_repeats_count_one_doc(self, spark):
        got = self._run(spark, [
            (0, "same line\nsame line\nsame line"),
            (1, "different content"),
        ])
        # df('same line') == 1 distinct doc -> below min_docs=2, kept
        assert got[0] == ("same line\nsame line\nsame line", 0)

    def test_fully_boilerplate_doc_empties(self, spark):
        got = self._run(spark, [
            (0, "footer one\nfooter two"),
            (1, "footer one\nfooter two"),
            (2, "real text\nfooter one"),
        ])
        assert got[0] == ("", 2)
        assert got[1] == ("", 2)
        assert got[2] == ("real text", 1)

    def test_min_docs_threshold(self, spark):
        rows = [
            (0, "shared pair\nown zero"),
            (1, "shared pair\nown one"),
            (2, "own two"),
        ]
        # threshold 3: the pair-shared line survives
        got = self._run(spark, rows, min_docs=3)
        assert got[0] == ("shared pair\nown zero", 0)
        # threshold 2: removed from both
        got = self._run(spark, rows, min_docs=2)
        assert got[0] == ("own zero", 1)
        assert got[1] == ("own one", 1)

    def test_plan_broadcasts_boilerplate_and_stays_python_free(self, spark):
        from pcap_converter_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(0, "x\ny"), (1, "x\nz")], ["doc_id", "text"]
        )
        plan = line_dedup(df)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, node

    def test_shuffle_fallback_parity(self, spark):
        """The counted broadcast gate (VERDICT r9 #1): forcing the
        boilerplate table over the limit must take the shuffle-join path
        and produce output identical to the broadcast path — the fallback
        is a physical-strategy change only."""
        from pcap_converter_spark.operators.dedup import line_dedup

        rows = [
            (0, "unique alpha\nSubscribe now\nunique beta"),
            (1, "other text\nsubscribe now"),
            (2, "shared tail\nmore words"),
            (3, "shared tail\nown line"),
            (4, "totally clean document"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])

        def run(limit):
            return {
                r["doc_id"]: (r["clean_text"], r["n_removed"])
                for r in line_dedup(
                    df, min_docs=2, broadcast_limit=limit
                ).collect()
            }

        assert run(0) == run(4_000_000)

    def test_over_limit_plan_has_no_forced_broadcast(self, spark):
        """broadcast_limit=0 must not plant an explicit broadcast hint:
        with AQE's auto-broadcast disabled the join degrades to a
        shuffle join, proving the hint is gone (AQE may still pick
        broadcast at runtime in production — that is the point: AQE has
        a size gate, F.broadcast does not)."""
        from pcap_converter_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(0, "x\ny"), (1, "x\nz")], ["doc_id", "text"]
        )
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        try:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = (
                line_dedup(df, broadcast_limit=0)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastHashJoin" not in plan, plan[:2000]

    def test_explicit_whitespace_class_trim(self, spark):
        """ADVICE r9: tab-indented boilerplate joins its space-indented
        twin; a tabs/NBSP-only line is structure (never counted), exactly
        like a spaces-only line."""
        got = self._run(spark, [
            (0, "\tShared Footer\nown zero"),
            (1, "  shared footer \xa0\nown one"),
            (2, "\t\xa0\nown two"),
            (3, "\t\xa0\nown three"),
        ])
        assert got[0] == ("own zero", 1)
        assert got[1] == ("own one", 1)
        # the whitespace-only line appears in docs 2+3 but is blank after
        # the explicit-class trim -> never counted, never removed
        assert got[2] == ("\t\xa0\nown two", 0)

    def test_null_text_survives_as_empty(self, spark):
        """Review-caught data-loss path: posexplode of split(NULL) emits
        no rows, silently dropping the doc — NULL text must coalesce to
        an empty surviving document instead."""
        from pcap_converter_spark.operators.dedup import line_dedup

        df = spark.createDataFrame(
            [(0, None), (1, "a\nb"), (2, "a\nc")], ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in line_dedup(df, min_docs=2).collect()
        }
        assert got[0] == ("", 0)
        assert got[1] == ("b", 1)

    def test_min_docs_below_two_rejected(self, spark):
        import pytest as _pt

        from pcap_converter_spark.operators.dedup import line_dedup

        df = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
        with _pt.raises(ValueError, match="min_docs"):
            line_dedup(df, min_docs=1)


class TestLineDedupStreamingContract:
    def test_streaming_input_rejected_with_contract_message(
        self, spark, tmp_path
    ):
        """VERDICT r9 stretch: line_dedup is batch-only by contract — the
        cross-document df count has no incremental formulation; the guard
        raises BEFORE Spark's generic unsupported-operation errors."""
        import pytest as _pt

        from pcap_converter_spark.operators.dedup import line_dedup

        d = str(tmp_path / "stream_src")
        spark.createDataFrame(
            [(0, "a\nb")], "doc_id long, text string"
        ).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(d)
        with _pt.raises(ValueError, match="batch-only"):
            line_dedup(stream)


class TestLineDedupUnicodeTerminators:
    def test_dollar_anchor_divergence_fixed(self, spark):
        """Review-caught: Java '$' matches BEFORE a final U+2028/U+2029/
        U+0085, so a '[ws]+$' trim would strip whitespace ahead of such a
        terminator while DuckDB's trim(chars) and Python's strip(LINE_WS)
        would not. With \\z the engine keeps the space — the two variants
        normalize APART, stay under min_docs, and are preserved."""
        from pcap_converter_spark.operators.dedup import LINE_WS, line_dedup

        rows = [
            (0, "footer  \nown zero"),
            (1, "footer  \nown one"),
            (2, "footer \nown two"),
        ]
        got = {
            r["doc_id"]: (r["clean_text"], r["n_removed"])
            for r in line_dedup(
                spark.createDataFrame(rows, ["doc_id", "text"]), min_docs=3
            ).collect()
        }
        # python reference with the explicit class: 'footer  ' (df 2)
        # and 'footer ' (df 1) are DIFFERENT keys -> all kept
        assert "footer  ".strip(LINE_WS) != "footer ".strip(LINE_WS)
        for i, t in rows:
            assert got[i] == (t, 0), (i, got[i])


def test_line_dedup_handleless_broadcast_releases_cache(spark):
    """ADVICE r10: with handles=None on the broadcast path the boiler
    persist must be released right after the counted gate — no
    session-lifetime cached frame accrues per call."""
    from pcap_converter_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(i, "shared boiler line\nunique line %d" % i) for i in range(4)],
        ["doc_id", "text"],
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = line_dedup(df, min_docs=2)  # handles=None, tiny -> broadcast
    assert jsc.getPersistentRDDs().size() == before
    assert all("shared boiler line" not in r["clean_text"]
               for r in out.collect())


def test_jaccard_hot_key_guard_identical_and_prefilters(spark, monkeypatch):
    """r17 skew audit (guide 2.5): with the hot-key guard engaged, a
    boilerplate shingle shared corpus-wide is dropped BEFORE the
    postings collect_list (count agg + broadcast anti-join on the plan),
    and the pair results are identical to the single-pass shape — every
    pre-filtered key is one the size(docs) <= cut filter discards
    anyway."""
    from pyspark.sql import functions as F

    boiler = "shared boilerplate trailer"
    rows = [
        (i, f"unique words number{i} alpha{i} beta{i} gamma{i} " + boiler)
        for i in range(12)
    ]
    # two real near-duplicates so the result is non-empty
    rows.append((100, "the quick brown fox jumps over the lazy dog today"))
    rows.append((101, "the quick brown fox jumps over the lazy dog today"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def canon(res):
        return sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"]) for r in res.collect()
        )

    base = dedup.ngram_jaccard_pairs(
        df, threshold=0.5, max_shingle_df=4, hot_key_guard=False
    )
    handles: list = []
    guarded = dedup.ngram_jaccard_pairs(
        df, threshold=0.5, max_shingle_df=4, hot_key_guard=True,
        handles=handles,
    )
    assert canon(guarded) == canon(base) != []
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, "guard did not pre-filter before postings"
    for h in handles:
        h.unpersist()

    # the auto gate stays OFF for unknown size estimates (RDD-backed
    # local frames report Long.MaxValue): single-pass shape, no anti-join
    auto = dedup.ngram_jaccard_pairs(df, threshold=0.5, max_shingle_df=4)
    assert "LeftAnti" not in (
        auto._jdf.queryExecution().executedPlan().toString()
    )

    # on a parquet-backed frame the estimate is REAL: off below the
    # threshold, on past it (the scale-adaptive path the entry rides)
    from pcap_converter_spark.io.loader import load_table

    docs = load_table(
        df.sparkSession, "/root/testdata/sf0.001", "documents"
    )
    small = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=4)
    assert "LeftAnti" not in (
        small._jdf.queryExecution().executedPlan().toString()
    )
    monkeypatch.setattr(dedup, "HOT_KEY_GUARD_BYTES", 1)
    forced = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=4)
    assert "LeftAnti" in (
        forced._jdf.queryExecution().executedPlan().toString()
    )
