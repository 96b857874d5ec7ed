"""Text-analysis functions vs pure-Python reference implementations."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pcap_converter_spark.functions import text as TX

DOCS = [
    (0, "The quick brown fox jumps over the lazy dog"),
    (1, "der Hund und die Katze und das Pferd ist nicht da"),
    (2, "el perro y la casa que es una historia para todos"),
    (3, "key agg row scan slow fast table value part hash"),
    (4, "x"),
    (5, "  spaced    out   tokens  "),
    (6, "punct!!! heavy??? ###text$$$ %%%"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def py_tokens(t: str) -> list[str]:
    return [w for w in re.split(r"\s+", t.strip()) if w]


def test_token_count_matches_python(spark, docs_df):
    got = {
        r["doc_id"]: r["n"]
        for r in docs_df.select("doc_id", TX.token_count(F.col("text")).alias("n")).collect()
    }
    for doc_id, t in DOCS:
        assert got[doc_id] == len(py_tokens(t)), t


def test_bpe_token_count_matches_python(spark, docs_df):
    pat = re.compile(TX.BPE_TOKEN_RE)
    got = {
        r["doc_id"]: r["n"]
        for r in docs_df.select(
            "doc_id", TX.bpe_token_count(F.col("text")).alias("n")
        ).collect()
    }
    for doc_id, t in DOCS:
        assert got[doc_id] == len(pat.findall(t)), t


def test_punct_ratio_matches_python(spark, docs_df):
    got = {
        r["doc_id"]: r["p"]
        for r in docs_df.select(
            "doc_id", F.round(TX.punct_ratio(F.col("text")), 6).alias("p")
        ).collect()
    }
    for doc_id, t in DOCS:
        expected = sum(1 for c in t if not (c.isalnum() or c.isspace())) / len(t)
        # ASCII-only texts: Python isalnum ≡ the regex class used Spark-side
        assert got[doc_id] == pytest.approx(expected, abs=1e-6), t


def test_language_id_heuristic(spark, docs_df):
    got = {
        r["doc_id"]: r["lang"]
        for r in docs_df.select(
            "doc_id", TX.language_id(F.col("text")).alias("lang")
        ).collect()
    }
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "es"
    assert got[3] == "und"  # OLAP word-salad: no stopword hits
    assert got[4] == "und"


def test_quality_score_bounds_and_ordering(spark, docs_df):
    got = {
        r["doc_id"]: r["q"]
        for r in docs_df.select(
            "doc_id", TX.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    assert all(0.0 <= q <= 1.0 for q in got.values())
    # natural English sentence beats punctuation soup and a 1-char doc
    assert got[0] > got[6] and got[0] > got[4]


def test_fingerprint_normalization_collision(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "hello world"), (2, "different text")],
        ["doc_id", "text"],
    )
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", TX.fingerprint(F.col("text")).alias("fp")).collect()
    }
    assert fps[0] == fps[1]  # case/whitespace-insensitive
    assert fps[0] != fps[2]


def py_word_hash32(w: str) -> int:
    import hashlib

    return int.from_bytes(hashlib.md5(w.encode()).digest()[8:12], "little")


@pytest.mark.parametrize(
    "s", ["", "the quick fox", "naïve café", "日本語のテキスト", "emoji 🙂 ok"]
)
def test_md5_low_hashes_match_duckdb_md5_number_lower(s):
    """The Python md5-low hashes equal DuckDB's ``md5_number_lower`` (and
    its low 32 bits): the contract the dedup and index oracles replay."""
    import duckdb

    lo64, lo32 = duckdb.execute(
        "SELECT md5_number_lower($1), md5_number_lower($1) & 4294967295",
        [s],
    ).fetchone()
    assert TX.md5_low64(s) == lo64
    assert TX.md5_low32(s) == lo32


def py_rolling_fp(t: str, window: int = 8) -> list[int]:
    """Winnowing reference: sorted distinct minima of the sliding window,
    window clamped to the document length, empty doc → empty set."""
    ws = py_tokens(t.lower())
    if not ws:
        return []
    hs = [py_word_hash32(w) for w in ws]
    win = min(window, len(hs))
    return sorted({min(hs[i : i + win]) for i in range(len(hs) - win + 1)})


def test_rolling_fingerprint_matches_python_reference(spark, docs_df):
    got = {
        r["doc_id"]: r["rfp"]
        for r in docs_df.select(
            "doc_id", TX.rolling_fingerprint(F.col("text")).alias("rfp")
        ).collect()
    }
    for doc_id, t in DOCS:
        assert got[doc_id] == py_rolling_fp(t), t


def test_rolling_fingerprint_short_docs_hash_content(spark):
    """ADVICE r2: short docs must hash their actual words (clamped window),
    not collapse to a shared pad value."""
    df = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["rfp"]
        for r in df.select(
            "doc_id", TX.rolling_fingerprint(F.col("text")).alias("rfp")
        ).collect()
    }
    assert got[0] == [py_word_hash32("alpha")]
    assert got[1] == [py_word_hash32("beta")]
    assert got[0] != got[1]
    assert got[2] == []


def test_rolling_fingerprint_udf_agrees_with_expression(spark, docs_df):
    fp = TX.rolling_fingerprint_udf()
    got = {
        r["doc_id"]: (r["a"], r["b"])
        for r in docs_df.select(
            "doc_id",
            TX.rolling_fingerprint(F.col("text")).alias("a"),
            fp(F.col("text")).alias("b"),
        ).collect()
    }
    for doc_id, (a, b) in got.items():
        assert a == b, doc_id


def test_rolling_fingerprint_shift_robust(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    df = spark.createDataFrame(
        [(0, base), (1, "PREFIX " + base), (2, base + " SUFFIX")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: set(r["rfp"])
        for r in df.select(
            "doc_id", TX.rolling_fingerprint(F.col("text")).alias("rfp")
        ).collect()
    }
    # every interior window of the base survives a prefix/suffix edit, so
    # the base fingerprint set is contained in the edited versions' sets —
    # the overlap a winnowing near-dup detector keys on
    assert got[0] <= got[1]
    assert got[0] <= got[2]


def test_top_tfidf_terms_matches_python(spark, docs_df):
    """Corpus-level TF-IDF argmax vs a brute-force reference (smoothed
    idf = ln((N+1)/(df+1)) + 1; ties on the rounded score break by term)."""
    import math
    from collections import Counter

    from pcap_converter_spark.operators.tfidf import top_tfidf_terms

    corpus = {d: [w for w in t.lower().split() if w] for d, t in DOCS}
    n = len(corpus)
    df_t = Counter(term for ws in corpus.values() for term in set(ws))
    expect = {}
    for d, ws in corpus.items():
        if not ws:
            expect[d] = (None, None)
            continue
        tf = Counter(ws)
        scored = sorted(
            (
                (round(c * (math.log((n + 1) / (df_t[term] + 1)) + 1.0), 4), term)
                for term, c in tf.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )
        expect[d] = (scored[0][1], scored[0][0])
    got = {
        r["doc_id"]: (r["top_term"], r["top_tfidf"])
        for r in top_tfidf_terms(docs_df).collect()
    }
    assert got == expect


def test_hash_sampling_deterministic_and_balanced(spark):
    """Content-addressed sampling: membership depends only on the key (same
    flag across runs/partitionings), buckets are roughly uniform, and split
    assignment is disjoint-exhaustive with stable proportions."""
    from pcap_converter_spark.operators.sampling import (
        hash_bucket,
        sample_flag,
        split_assign,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    flagged = df.select(
        "doc_id",
        sample_flag(F.col("doc_id"), 20).alias("s"),
        split_assign(F.col("doc_id")).alias("split"),
        hash_bucket(F.col("doc_id")).alias("b"),
    )
    rows = flagged.collect()
    again = {r["doc_id"]: (r["s"], r["split"]) for r in
             flagged.repartition(7).collect()}
    for r in rows:
        assert again[r["doc_id"]] == (r["s"], r["split"])  # layout-invariant
    n = len(rows)
    n_sample = sum(1 for r in rows if r["s"])
    assert 0.15 < n_sample / n < 0.25
    splits = {"train": 0, "val": 0, "test": 0}
    for r in rows:
        splits[r["split"]] += 1
        assert r["s"] == (r["b"] < 20)
    assert 0.75 < splits["train"] / n < 0.85
    assert 0.05 < splits["val"] / n < 0.15
    assert 0.05 < splits["test"] / n < 0.15


def test_temperature_rates_rebalance_sources(spark):
    """Temperature mixing: rates follow n^alpha/n normalized so the head
    source gets the strongest downsampling, alpha=1 keeps everything, and
    weight_col switches sizing to a column sum."""
    import math

    from pcap_converter_spark.operators.sampling import temperature_rates

    rows = (
        [(i, "big", 10) for i in range(900)]
        + [(1000 + i, "mid", 10) for i in range(90)]
        + [(2000 + i, "small", 10) for i in range(9)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    r = temperature_rates(df, alpha=0.5)
    assert r["small"] == 1.0  # strongest upweight factor normalizes to 1
    # n^0.5/n ratios: big/small = sqrt(9/900) = 0.1, mid/small = sqrt(9/90)
    assert math.isclose(r["big"], math.sqrt(9 / 900), rel_tol=1e-9)
    assert math.isclose(r["mid"], math.sqrt(9 / 90), rel_tol=1e-9)
    assert temperature_rates(df, alpha=1.0) == {
        "big": 1.0, "mid": 1.0, "small": 1.0
    }
    # token-weighted sizing: doubling one source's doc LENGTHS changes its
    # rate exactly as if it had twice the docs
    rows2 = [(d, s, 20 if s == "big" else 10) for d, s, _ in rows]
    df2 = spark.createDataFrame(
        rows2, "doc_id long, source string, n_tokens int"
    )
    r2 = temperature_rates(df2, alpha=0.5, weight_col="n_tokens")
    assert math.isclose(r2["big"], math.sqrt(90 / 18000), rel_tol=1e-9)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_rates(df, alpha=0.0)


def test_token_budget_flag_prefix_semantics(spark):
    """token_budget_flag keeps a deterministic hash-ordered prefix whose
    START offsets fit the budget, per source; membership is stable under
    corpus growth (superset property) and partition layout."""
    from pcap_converter_spark.operators.sampling import (
        hash_bucket,
        token_budget_flag,
    )

    rows = [(i, "a" if i % 2 else "b", 10 + (i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    got = {
        r["doc_id"]: r["keep_budget"]
        for r in token_budget_flag(df, 300).collect()
    }
    # python replay: same hash order, same start-offset rule
    buckets = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", hash_bucket(F.col("doc_id")).alias("b")
        ).collect()
    }
    for src in ("a", "b"):
        docs = sorted(
            ((buckets[d], d, t) for d, s, t in rows if s == src)
        )
        acc = 0
        for b, d, t in docs:
            assert got[d] == (acc < 300), d
            acc += t
    assert 0 < sum(got.values()) < len(rows)
    # growth stability: adding docs never evicts... a kept doc may only be
    # evicted by NEW docs hashing EARLIER — the flag of docs whose prefix
    # is unchanged must not flip; verify the cheap invariant instead:
    # layout invariance
    got7 = {
        r["doc_id"]: r["keep_budget"]
        for r in token_budget_flag(df.repartition(7), 300).collect()
    }
    assert got7 == got
    # corpus-wide mode: one global prefix
    g = {
        r["doc_id"]: r["keep_budget"]
        for r in token_budget_flag(df, 500, per_source=False).collect()
    }
    all_docs = sorted(((buckets[d], d, t) for d, s, t in rows))
    acc = 0
    for b, d, t in all_docs:
        assert g[d] == (acc < 500), d
        acc += t


def test_html_to_text_no_entity_double_decode(spark):
    """&amp; must decode LAST: '&amp;lt;b&amp;gt;' is the literal text
    '&lt;b&gt;' on the rendered page, not '<b>' (ADVICE r4)."""
    df = spark.createDataFrame(
        [("escaped &amp;lt;b&amp;gt; then &amp; then real &lt;i&gt;",)],
        ["h"],
    )
    out = df.select(TX.html_to_text(F.col("h")).alias("t")).collect()[0]["t"]
    assert out == "escaped &lt;b&gt; then & then real <i>"


def test_comment_embedded_script_tag(spark):
    """A '<script>' INSIDE a comment is part of the comment, not a script
    opener: the one-pass leftmost alternation strips the comment and keeps
    the text after it. (The old script-pass-first chain consumed from the
    commented '<script>' through the first real '</script>', deleting
    'keep' — ADVICE r6 pinned the new, correct behavior.)"""
    df = spark.createDataFrame(
        [("<!-- <script> -->keep<script>x</script> after",)], ["h"]
    )
    out = df.select(TX.html_to_text(F.col("h")).alias("t")).collect()[0]["t"]
    assert out == "keep after"


def test_language_id_covers_seven_profiles(spark):
    samples = {
        "en": "the cat is in the house and a dog",
        "de": "der hund ist nicht das problem und ein",
        "es": "el perro es una mascota para la casa",
        "fr": "le chien est dans une maison et les chats",
        "it": "il cane non è che una bestia per sono",
        "pt": "o cão não é o problema do da casa em uma",
        "nl": "het huis is niet van dat zijn een hond op",
    }
    df = spark.createDataFrame(list(samples.items()), ["lang", "text"])
    got = {r["lang"]: r["g"] for r in df.select(
        "lang", TX.language_id(F.col("text")).alias("g")).collect()}
    assert got == {k: k for k in samples}, got


def test_mix_sources_deterministic_rates(spark):
    """mix_sources keeps ~rate per source, exactly reproducibly, with
    unlisted sources untouched and membership stable under growth."""
    from pcap_converter_spark.operators.sampling import mix_sources

    rows = [(i, ["crawl", "code", "books"][i % 3]) for i in range(6000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mix_sources(df, {"crawl": 0.10, "code": 0.75})
    kept = out.filter("keep_mix").groupBy("source").count().collect()
    by_src = {r["source"]: r["count"] for r in kept}
    assert by_src["books"] == 2000  # unlisted: kept whole
    assert 120 <= by_src["crawl"] <= 280  # ~10% of 2000
    assert 1380 <= by_src["code"] <= 1620  # ~75% of 2000
    # reproducible across runs and partition layouts
    k1 = {r["doc_id"] for r in out.filter("keep_mix").collect()}
    k2 = {r["doc_id"] for r in
          mix_sources(df.repartition(13), {"crawl": 0.10, "code": 0.75})
          .filter("keep_mix").collect()}
    assert k1 == k2
    # growth-stable: the decision for old ids never flips when rows appear
    bigger = spark.createDataFrame(
        rows + [(10_000 + i, "crawl") for i in range(500)],
        ["doc_id", "source"],
    )
    k3 = {r["doc_id"] for r in
          mix_sources(bigger, {"crawl": 0.10, "code": 0.75})
          .filter("keep_mix").collect()}
    assert k1 == {d for d in k3 if d < 10_000}


def test_bm25_topk_matches_python_reference(spark):
    """BM25 scoring == an exact Python Okapi replay, and retrieval
    ordering behaves (the on-topic doc wins, repeated-term saturation
    holds)."""
    import math

    from pcap_converter_spark.operators.tfidf import bm25_topk

    docs = [
        (1, "the fox jumped over the fence"),
        (2, "a fox and another fox discussed fox matters"),  # tf saturation
        (3, "gardening tips for the spring season"),
        (4, "fence maintenance guide for the summer"),
        (5, "completely unrelated text about quantum chromodynamics"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [(r["doc_id"], r["bm25"], r["n_terms_hit"])
           for r in bm25_topk(df, "fox fence", k=5).collect()]

    # python replay
    k1, b = 1.2, 0.75
    toks = {d: t.lower().split() for d, t in docs}
    n = len(docs)
    avgdl = sum(len(w) for w in toks.values()) / n
    q = ["fence", "fox"]
    dfreq = {t: sum(t in ws for ws in toks.values()) for t in q}
    exp = {}
    for d, ws in toks.items():
        s, hits = 0.0, 0
        for t in q:
            tf = ws.count(t)
            if not tf:
                continue
            hits += 1
            idf = math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ws) / avgdl))
        if hits:
            exp[d] = (round(s, 4), hits)
    exp_rows = sorted(
        ((d, s, h) for d, (s, h) in exp.items()),
        key=lambda r: (-r[1], r[0]),
    )
    assert got == exp_rows
    assert got[0][0] == 1  # both query terms → top


# --------------------------------------------------------------- mojibake
def test_mojibake_pairs_are_true_encoding_roundtrips():
    """The table is generated, but pin the CONTRACT: every damaged form is
    exactly good.encode('utf-8').decode('cp1252'), no pair's damaged form
    contains another's (replace order cannot eat a longer match), and the
    order is longest-first."""
    assert len(TX.MOJIBAKE_PAIRS) >= 60
    for bad, good in TX.MOJIBAKE_PAIRS:
        assert bad == good.encode("utf-8").decode("cp1252")
    bads = [b for b, _ in TX.MOJIBAKE_PAIRS]
    assert len(set(bads)) == len(bads)
    for i, a in enumerate(bads):
        for b in bads[:i] + bads[i + 1:]:
            assert a not in b, (a, b)
    lens = [len(b) for b in bads]
    assert lens == sorted(lens, reverse=True)


def test_fix_mojibake_repairs_and_passes_clean_text(spark):
    rows = [
        # (damaged, expected) — one per pair, plus clean controls
        *[(f"before {bad} after", f"before {good} after")
          for bad, good in TX.MOJIBAKE_PAIRS],
        ("plain ascii stays put", "plain ascii stays put"),
        ("déjà vu — already clean unicode…", "déjà vu — already clean unicode…"),
        ("", ""),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(rows)], ["i", "s"]
    )
    got = {
        r["i"]: r["f"]
        for r in df.select("i", TX.fix_mojibake_t(F.col("s")).alias("f")).collect()
    }
    for i, (_, want) in enumerate(rows):
        assert got[i] == want, (i, rows[i], got[i])


def test_fix_mojibake_double_encoding_is_out_of_scope_but_stable(spark):
    """Doubly-damaged text ('\u00e9' through two decode cycles) maps through
    cp1252 characters the single-cycle table deliberately does not key on
    — the documented out-of-scope case. Pin the SAFETY half of that
    contract: the fixer repairs the recoverable suffix, and a second
    application is a fixpoint (never corrupts further)."""
    twice = "\u00e9".encode("utf-8").decode("cp1252").encode("utf-8").decode("cp1252")
    df = spark.createDataFrame([(twice,)], ["s"])
    once = df.select(TX.fix_mojibake_t(F.col("s")).alias("f")).collect()[0]["f"]
    # the '\u00c2\u00a9'\u2192'\u00a9' pair fires (its damaged form IS present); the leading
    # '\u00c3\u0192' stays \u2014 partially repaired, not mangled
    assert once == "\u00c3\u0192\u00a9"
    again = df.select(
        TX.fix_mojibake_t(TX.fix_mojibake_t(F.col("s"))).alias("f")
    ).collect()[0]["f"]
    assert again == once


def test_language_id_covers_seventeen_profiles(spark):
    """r10 widening (ten high-resource profiles) + r11 widening (ar/hi/he
    — whitespace-tokenized non-Latin scripts ride the stopword tier; the
    space-FREE scripts have their own LANG_SCRIPTS tier): each profile
    wins on a sample built from its own function words (deterministic
    ties by dict order are part of the contract)."""
    samples = {
        "sv": "och att det som en är inte huset",
        "da": "og det at en til er ikke hunden",
        "no": "og det som er på til ikke huset",
        "pl": "i w nie na się jest to dom",
        "cs": "a je se na to že ale dům",
        "ro": "și de la cu un este pentru casa",
        "tr": "bir ve bu için çok ama gibi ev",
        "fi": "ja on ei että se mutta hän talo",
        "id": "yang dan di itu dengan untuk tidak rumah",
        "ru": "и в не на что это как дом",
        "ar": "في من على أن إلى عن هذا البيت",
        "hi": "के है में की और से का घर",
        "he": "של את על הוא עם זה כי בית",
        # r12 widening: vi (whitespace-tokenized Latin, diacritic-bearing
        # words), fa/ur (Arabic-script profiles the ar words cannot hit)
        "vi": "và của là có không được một nhà",
        "fa": "در به از که این را با خانه",
        "ur": "کے میں ہے اور سے کا ہیں گھر",
        # r12 second pass: uk (Cyrillic, token-disjoint from ru),
        # el (own script), hu (avoids the en/cs 'a'/'is' tokens)
        "uk": "і та що це як але його дім",
        "el": "και το της να είναι με που σπίτι",
        "hu": "és az hogy nem egy már csak ház",
        # r13: bn/ta/te (whitespace Brahmic, script-distinct) + sw
        # (Latin; the 'na' collision with pl/cs is outscored)
        "bn": "এবং এই করে থেকে তার একটি হয় বাড়ি",
        "ta": "மற்றும் இந்த என்று ஒரு அது இது என்ன வீடு",
        "te": "మరియు ఒక ఈ అని కూడా లో ఆ ఇల్లు",
        "sw": "ya wa na kwa katika kwamba za nyumba",
    }
    assert set(samples) | {"en", "de", "es", "fr", "it", "pt", "nl"} == set(
        TX.LANG_STOPWORDS
    )
    df = spark.createDataFrame(list(samples.items()), ["lang", "text"])
    got = {r["lang"]: r["g"] for r in df.select(
        "lang", TX.language_id(F.col("text")).alias("g")).collect()}
    assert got == {k: k for k in samples}, got


def test_language_id_min_evidence_band(spark):
    """VERDICT r9 #4: three-way verdict — confident guess at
    best >= min_evidence, NULL on thin evidence (0 < best < threshold),
    'und' only at zero hits; min_evidence=1 reproduces the historical
    two-way behavior."""
    rows = [
        (0, "le chien est dans une maison et les chats"),  # fr, 5 hits
        (1, "bonjour le monde"),                           # fr, 1 hit
        (2, "xyzzy qwerty plugh"),                         # zero hits
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def run(minev):
        return {
            r["doc_id"]: r["g"]
            for r in df.select(
                "doc_id",
                TX.language_id(F.col("text"), min_evidence=minev).alias("g"),
            ).collect()
        }

    assert run(1) == {0: "fr", 1: "fr", 2: "und"}
    assert run(3) == {0: "fr", 1: None, 2: "und"}


def test_fix_mojibake_double_encoding_converges_by_two_passes(spark):
    """r10 sharpening of the double-encoding contract: some forms ('‡')
    are NOT a one-pass fixpoint — the first pass reconstructs their
    single-damaged form, the second completes it; every form is a
    fixpoint after two passes and no pass corrupts (the generated
    MOJIBAKE_DOUBLE table carries the asserted fixpoints)."""
    twice = "‡".encode("utf-8").decode("cp1252").encode(
        "utf-8").decode("cp1252")
    df = spark.createDataFrame([(twice,)], ["s"])
    once = df.select(TX.fix_mojibake_t(F.col("s")).alias("f")).collect()[0]["f"]
    assert once == "â€¡"  # the single-damaged form of '‡'
    again = df.select(
        TX.fix_mojibake_t(TX.fix_mojibake_t(F.col("s"))).alias("f")
    ).collect()[0]["f"]
    assert again == "‡"  # second pass completes the repair
    third = df.select(
        TX.fix_mojibake_t(TX.fix_mojibake_t(
            TX.fix_mojibake_t(F.col("s")))).alias("f")
    ).collect()[0]["f"]
    assert third == again  # fixpoint by two
    # engine parity with the generated table across ALL forms
    dbls = [(d, f) for d, f in TX.MOJIBAKE_DOUBLE]
    dfa = spark.createDataFrame(dbls, ["dbl", "expected"])
    got = dfa.select(
        TX.fix_mojibake_t(TX.fix_mojibake_t(F.col("dbl"))).alias("g"),
        "expected",
    ).collect()
    assert all(r["g"] == r["expected"] for r in got)


def test_language_id_null_text_is_und(spark):
    """Review-caught: NULL text (NULL token array -> NULL scores/best)
    must guess 'und' like the historical two-way chain did, at every
    min_evidence — not fall into the insufficient-evidence NULL band."""
    df = spark.createDataFrame([(0, None), (1, "")], ["i", "text"])
    for minev in (1, 3):
        got = {
            r["i"]: r["g"]
            for r in df.select(
                "i",
                TX.language_id(F.col("text"), min_evidence=minev).alias("g"),
            ).collect()
        }
        assert got == {0: "und", 1: "und"}, (minev, got)


def test_language_id_script_tier_ground_truth(spark):
    """The whitespace-free SCRIPT tier (r11): zh/ja/ko/th have no
    stopword signal, so the old chain sent them all to 'und'. Ground
    truth per snippet is pinned HERE (the ex_text_all hash proves only
    cross-engine agreement); kana-before-Han ordering and the
    dominant-evidence rule get their own cases."""
    from pcap_converter_spark.operators.registry import _SCRIPT_SNIPPETS

    rows = [(i, s) for i, s in enumerate(_SCRIPT_SNIPPETS)] + [
        # Japanese with MORE kanji than kana: kana presence must win
        # (Chinese text never contains kana)
        (100, "日本国憲法第九条戦争放棄の条文です"),
        # Korean with hanja sprinkled in: hangul checked before Han
        (101, "대한민국 憲法 제1조 민주공화국"),
        # English quoting a short CJK phrase: 3 Han chars meet the char
        # floor but not the 8 stopword hits -> dominant evidence keeps en
        (102, "the cat and the dog of the house is in the garden 中文字"),
        # two stray CJK chars: below the 3-char floor -> stopword chain
        (103, "the cat and the dog 中文"),
        # Russian text must stay ru, not leak into the new uk profile
        # (the two Cyrillic profiles share zero tokens)
        (104, "и в доме не было никого на этот раз что это как всегда"),
    ]
    df = spark.createDataFrame(rows, ["i", "text"])
    got = {
        r["i"]: r["g"]
        for r in df.select(
            "i", TX.language_id(F.col("text")).alias("g")
        ).collect()
    }
    assert got[0] == "ja" and got[100] == "ja"
    assert got[1] == "ko" and got[101] == "ko"
    assert got[2] == "zh"
    assert got[3] == "th"
    assert got[4] == "en" and got[102] == "en" and got[103] == "en"
    assert got[5] == "und"
    # r12 profiles (VERDICT r11 #3): Vietnamese in the stopword tier
    # (whitespace-tokenized Latin, diacritic-bearing function words),
    # Persian and Urdu as Arabic-SCRIPT stopword profiles the ar chain
    # cannot hit
    assert got[6] == "vi"
    assert got[7] == "fa"
    assert got[8] == "ur"
    # PINNED POLICY (see text.LANG_SCRIPTS): kanji-only Japanese — Han
    # with zero kana — is labeled 'zh'; Han alone cannot separate ja
    # from zh without a lexicon, and kana-free pages are overwhelmingly
    # Chinese in crawl data
    assert got[9] == "zh"
    # r12 second-pass profiles: Ukrainian (Cyrillic, disjoint from the
    # ru profile's tokens), Greek (own script), Hungarian (words chosen
    # to dodge the en/cs 'a'/'is' collisions) — and ru text still says
    # ru with the uk profile present
    assert got[10] == "uk"
    assert got[11] == "el"
    assert got[12] == "hu"
    assert got[104] == "ru"
    # r13 profiles (VERDICT r12 stretch #8): Bengali / Tamil / Telugu
    # (whitespace-tokenized Brahmic — stopword tier, script-distinct)
    # and Swahili (Latin; its snippet's lone 'na' overlap with the
    # pl/cs profiles is outscored six-to-one by sw-only tokens)
    assert got[13] == "bn"
    assert got[14] == "ta"
    assert got[15] == "te"
    assert got[16] == "sw"


def test_script_hits_counts_bmp_chars(spark):
    """script_hits_t counts exactly the profile's codepoints (one per
    character, not per byte)."""
    df = spark.createDataFrame(
        [(0, "abcかなカナ漢字한xyz")], ["i", "text"]
    )
    got = df.select(
        TX.script_hits_t(F.col("text"), "ja").alias("ja"),
        TX.script_hits_t(F.col("text"), "zh").alias("zh"),
        TX.script_hits_t(F.col("text"), "ko").alias("ko"),
        TX.script_hits_t(F.col("text"), "th").alias("th"),
    ).collect()[0]
    assert (got["ja"], got["zh"], got["ko"], got["th"]) == (4, 2, 1, 0)


def test_sql_string_twins_match_column_builders(spark):
    """The r12 SQL-string twins (stopword_hits_sql, language_id_case_sql,
    fix_mojibake_sql — built for py4j round-trip economy) must produce the
    SAME values as the Column builders they replace, across the contract's
    edge band: NULL text, empty text, zero hits, the insufficient-evidence
    NULL band, stopword ties (dict-order win), script-vs-stopword
    arbitration, and mojibake forms adjacent to clean text."""
    rows = [
        (0, None),
        (1, ""),
        (2, "xqz 123 %%%"),                      # zero hits -> und
        (3, "the of and to in it is"),           # clear en
        (4, "el la de que los"),                 # clear es
        (5, "the el"),                           # thin evidence band
        (6, "これは日本語のテキストです"),          # script tier ja
        (7, "中文没有空格的句子在这里"),            # script tier zh (no kana)
        (8, "the quick brown fox 漢字 and the rest of it"),  # mixed keeps en
        (9, "a " + TX.MOJIBAKE_PAIRS[0][0] + " b " + TX.MOJIBAKE_PAIRS[-1][0]),
        (10, "i w na to"),                       # pl/cs collision band
    ]
    df = spark.createDataFrame(rows, ["i", "text"])
    ws = F.col("_ws")
    staged = df.select(
        "i", "text", TX.words(F.lower(F.col("text"))).alias("_ws")
    ).select(
        "i", "text", "_ws",
        *[
            TX.stopword_hits_t(ws, lang).alias(f"_c_{lang}")
            for lang in TX.LANG_STOPWORDS
        ],
        *[
            F.expr(TX.stopword_hits_sql("_ws", lang)).alias(f"_q_{lang}")
            for lang in TX.LANG_STOPWORDS
        ],
        *[
            TX.script_hits_t(F.col("text"), lang).alias(f"_sc_{lang}")
            for lang in TX.LANG_SCRIPTS
        ],
    ).withColumn(
        "_best",
        F.greatest(*[F.col(f"_c_{lang}") for lang in TX.LANG_STOPWORDS]),
    )
    for me in (1, 3):
        out = staged.select(
            "i",
            *[
                (F.col(f"_c_{lang}") == F.col(f"_q_{lang}")).alias(
                    f"eq_{lang}"
                )
                for lang in TX.LANG_STOPWORDS
            ],
            TX.language_id_t(
                {
                    lang: F.col(f"_c_{lang}")
                    for lang in TX.LANG_STOPWORDS
                },
                min_evidence=me,
                script_scores={
                    lang: F.col(f"_sc_{lang}")
                    for lang in TX.LANG_SCRIPTS
                },
                best=F.col("_best"),
            ).alias("col_form"),
            F.expr(
                TX.language_id_case_sql(
                    min_evidence=me,
                    scores_fmt="_c_{}",
                    script_fmt="_sc_{}",
                    best_col="_best",
                )
            ).alias("sql_form"),
        ).collect()
        for r in out:
            for lang in TX.LANG_STOPWORDS:
                # NULL text -> NULL counts on both sides
                assert r[f"eq_{lang}"] in (True, None), (r["i"], lang)
            assert r["col_form"] == r["sql_form"], (me, r["i"])
    moji = df.select(
        "i",
        TX.fix_mojibake_t(F.col("text")).alias("col_form"),
        F.expr(TX.fix_mojibake_sql("text")).alias("sql_form"),
    ).collect()
    for r in moji:
        assert r["col_form"] == r["sql_form"], r["i"]


def test_ccnet_normalize_cross_engine_and_reference(spark):
    """ccnet_normalize (r12 second pass): (1) the generated accent table
    re-derives independently from unicodedata NFD folding; (2) the Spark
    column form and the DuckDB SQL twin agree on EVERY table character
    (this sweep found U+0130 İ, the one Latin char where the engines'
    lower() disagree — now pre-folded) and on semantic probes; (3) the
    normalization does what CCNet needs: case, accents, digits and
    whitespace reflows collapse."""
    import unicodedata

    import duckdb

    # 1. independent re-derivation of the table
    for src, dst in zip(TX.ACCENT_SRC, TX.ACCENT_DST):
        base = "".join(
            c
            for c in unicodedata.normalize("NFD", src)
            if not unicodedata.combining(c)
        )
        assert base == dst and ord(dst) < 128, (src, dst)
    assert len(TX.ACCENT_SRC) > 200  # Latin-1 Sup + Ext-A/B coverage

    probes = [f"x {ch} No42\tÉLaN  straße" for ch in TX.ACCENT_SRC] + [
        "Élan  CAFÉ  No42\nderniére\tligne",
        "İstanbul II ıı",
        "  reformatted   COPY  of the SAME page 2024  ",
        "reformatted copy of the same PAGE 0000",
        "",
    ]
    rows = list(enumerate(probes))
    df = spark.createDataFrame(rows, ["i", "text"])
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", TX.ccnet_normalize_t(F.col("text")).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(
        con.execute(
            "SELECT i, "
            + TX.ccnet_normalize_sql("text", dialect="duckdb")
            + " FROM t"
        ).fetchall()
    )
    assert got == duck
    # 3. semantics
    assert got[len(TX.ACCENT_SRC)] == "elan cafe no00 derniere ligne"
    # İ pre-folds to I (the engines' one lower() disagreement); dotless
    # ı has NO decomposition so it passes through, like ß/æ/ø
    assert got[len(TX.ACCENT_SRC) + 1] == "istanbul ii ıı"
    # two reformatted copies of one page normalize identical
    assert got[len(TX.ACCENT_SRC) + 2] == got[len(TX.ACCENT_SRC) + 3]
    assert got[len(TX.ACCENT_SRC) + 4] == ""


def test_ccnet_normalize_sql_spark_dialect_matches_column_form(spark):
    """The SPARK dialect of the SQL twin must equal the Column form —
    Spark's string-literal unescaper consumes one backslash level, so
    the whitespace class needs doubled backslashes (review-caught: the
    single-backslash form turned \\f into a class member 'f', eating
    every letter f and keeping real form feeds)."""
    probes = [
        "flag off\fx",
        "Élan  CAFÉ  No42\nderniére\tligne",
        "İstanbul fifty five\r\n",
        "",
    ]
    df = spark.createDataFrame(list(enumerate(probes)), ["i", "text"])
    both = df.select(
        "i",
        TX.ccnet_normalize_t(F.col("text")).alias("col_form"),
        F.expr(TX.ccnet_normalize_sql("text", dialect="spark")).alias(
            "sql_form"
        ),
    ).collect()
    for r in both:
        assert r["col_form"] == r["sql_form"], (r["i"], probes[r["i"]])
    assert both[0]["col_form"] == "flag off x"


def test_no_raw_backslash_s_in_oracle_sql():
    """r13: RE2's \\s excludes VT while Java's includes it, so a literal
    '\\s' in any DuckDB oracle is a latent cross-engine hash mismatch on
    VT-bearing text (the c4 ADVICE generalized). Every oracle must carry
    the explicit shared classes from functions/text.py instead."""
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    offenders = {k for k, v in oracles.items() if "\\s" in v}
    assert not offenders, offenders
    # and the shared classes actually reach the SQL (interpolation ran)
    assert not {k for k, v in oracles.items() if "{_DUCK" in v}
    carriers = [k for k, v in oracles.items() if TX.WS_SPLIT in v]
    assert len(carriers) >= 5, carriers


def test_ws_split_class_matches_java_s_semantics(spark):
    """The explicit WS_SPLIT class must be \\s-equivalent for Java (the
    engine side keeps its exact old semantics) — including the VT case
    RE2 diverges on."""
    probe = "a\x0bb c\td\ne\ff\rg"
    df = spark.createDataFrame([(probe,)], ["text"])
    both = df.select(
        F.split(F.trim(F.col("text")), "\\s+").alias("old"),
        F.split(F.trim(F.col("text")), TX.WS_SPLIT).alias("new"),
    ).collect()[0]
    assert both["old"] == both["new"]
    assert both["new"] == ["a", "b", "c", "d", "e", "f", "g"]
