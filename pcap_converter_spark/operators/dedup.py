"""Deduplication operators for LLM-scale corpora.

Four tiers, cheapest first — the standard pre-training dedup ladder:

1. ``exact_duplicates``      — sha256-hash groupBy. One shuffle on a 64-char
   key; never a self-join on the text itself (the hash is the shuffle key,
   so 100 TB of text moves as 32-byte digests).
2. ``ngram_jaccard_pairs``   — exact word-shingle Jaccard via an equi-join
   on shingles. Exact but quadratic in the worst case: the correctness
   baseline the approximate tiers are validated against.
3. ``minhash_lsh_pairs``     — MinHash signatures + banded LSH. Candidate
   pairs come only from band-bucket collisions (equi-join on
   (band, band_hash)), then are verified with exact Jaccard. This is the
   scale path: cost ~ O(docs × num_hashes) + tiny candidate join.
4. ``simhash_pairs``         — 64-bit SimHash + pigeonhole banding for
   hamming-distance near-dups. Cheapest signature, coarsest recall.

Everything is built from built-in functions (xxhash64 / higher-order array
ops) — no Python UDFs, fully whole-stage-codegen. Signatures are computed
in one projection pass (no shuffle); only candidate generation shuffles,
keyed by band hashes which are uniform by construction (no skew).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pcap_converter_spark.functions.text import WS_SPLIT, md5_low64
from pcap_converter_spark.functions.text import ws_tokens as _ws_tokens


def _words(text: Column) -> Column:
    # WS_SPLIT: the explicit shared whitespace class (functions/text.py,
    # r13) — same Java semantics as \s+, oracle-alignable on VT
    return F.filter(F.split(F.trim(F.lower(text)), WS_SPLIT), lambda w: w != "")


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles; documents shorter than k words yield their
    whole text as the single shingle.

    Built from ``token_ngrams`` (zip_with over shifted slices): the
    tokenizer is referenced a constant number of times per ROW, never
    inside a per-element lambda — Catalyst inlines lambda-captured
    expressions per element and codegen subexpression elimination does not
    reach lambda bodies, so the ``element_at(tokenize(text), i)`` form
    re-tokenizes the document once per shingle (~k× document length)."""
    from pcap_converter_spark.operators.quality import token_ngrams

    return F.array_distinct(token_ngrams(_words(text), k))


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Tier 1: groups of byte-identical documents, keyed by sha256.

    Returns (content_hash, dup_count, doc_ids sorted) for groups of >1.
    The groupBy shuffles 32-byte digests, not document text — this is why
    hash-groupBy (and never a text self-join) is the only exact-dedup shape
    that survives 100 TB.
    """
    return (
        df.select(F.sha2(F.col(text_col).cast("binary"), 256).alias("content_hash"),
                  F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("dup_count") > 1)
    )


def passage_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_words: int = 32,
) -> DataFrame:
    """(id, passage) rows: each document split into fixed
    ``passage_words``-word windows, generated inline in the projection (no
    join, no Python). Shared by ``passage_duplicates`` and the incremental
    index (operators/incremental.py), which indexes passages exactly so
    that both sides of a snapshot probe chunk text identically."""
    # tokenize into a projected column first: the per-passage lambda below
    # references `_ws` as an attribute, so the tokenizer runs once per row
    # instead of once per passage (see `shingles` PERF note)
    toks = df.select(
        F.col(id_col), _words(F.col(text_col)).alias("_ws")
    )
    ws = F.col("_ws")
    n_pass = F.greatest(F.ceil(F.size(ws) / passage_words) - 1, F.lit(0))
    passages = F.transform(
        F.sequence(F.lit(0), n_pass),
        lambda i: F.concat_ws(
            " ", F.slice(ws, i * passage_words + 1, passage_words)
        ),
    )
    return toks.select(F.col(id_col), F.explode(passages).alias("passage"))


def chunk_table(
    df: DataFrame,
    size_words: int = 256,
    stride_words: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, chunk_id, chunk) — ``size_words``-word windows every
    ``stride_words`` words (default: no overlap, ``passage_table``'s
    tiling). ``stride_words < size_words`` gives the overlapping windows
    retrieval/embedding pipelines feed their encoders (context straddling
    a cut survives in the neighbor chunk). Same shape as the passage
    machinery: tokens projected once, windows generated inline, one
    explode — no join, no Python. The final window starts at the last
    stride position that still has content, so every word is covered."""
    stride = size_words if stride_words is None else int(stride_words)
    if stride <= 0 or size_words <= 0:
        raise ValueError("size_words and stride_words must be positive")
    # zero-token docs emit NO chunks (sequence(0, 0) would still yield one
    # start → an empty-string chunk handed to downstream encoders; the
    # same `_nt > 0` guard materialize_packed applies — ADVICE r5)
    toks = df.select(
        F.col(id_col), _words(F.col(text_col)).alias("_ws")
    ).filter(F.size("_ws") > 0)
    ws = F.col("_ws")
    n_chunks = F.greatest(
        F.ceil((F.size(ws) - size_words) / stride), F.lit(0)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks),
        lambda i: F.concat_ws(" ", F.slice(ws, i * stride + 1, size_words)),
    )
    return toks.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk"),
    )


def passage_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passage_words: int = 32,
) -> DataFrame:
    """Tier 1b: exact dedup at PASSAGE granularity — the chunk-level pass
    LLM pipelines run after document-level dedup (boilerplate paragraphs
    repeat across otherwise-distinct pages).

    Each document is split into fixed ``passage_words``-word windows; every
    window is hashed (sha256) and identical windows are grouped across the
    corpus. Same scale shape as ``exact_duplicates``: the shuffle key is
    the 64-char digest, never the passage text, and passages are generated
    inline in the projection (no join, no Python). Returns
    (content_hash, dup_count, doc_ids) for groups with >1 occurrence;
    ``doc_ids`` lists one entry per occurrence (a passage repeated inside
    one document appears twice).
    """
    return (
        passage_table(df, text_col=text_col, id_col=id_col,
                      passage_words=passage_words)
        .select(
            F.sha2(F.col("passage").cast("binary"), 256).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing any k-word
    n-gram with an evaluation/benchmark set — the overlap pass a training
    pipeline runs so eval data never leaks into the training corpus
    (production pipelines use k≈8-13 exact n-grams; the principle is
    identical at any k).

    Returns one row per leaked n-gram: ``(gram_hash, dup_count, doc_ids)``
    where ``dup_count`` is the number of corpus documents containing the
    gram and ``doc_ids`` lists them sorted. Aggregate ``doc_ids`` for the
    removal set; the per-gram form also answers *which* benchmark content
    leaked.

    Scale shape: the benchmark side is small (eval suites are MBs, the
    corpus is TBs), so its distinct gram-hash set is BROADCAST; the
    corpus-side gram table (md5-low63 BIGINT keys from the same
    Arrow-batched pass the Jaccard ladder uses — 8-byte keys, never gram
    text) streams through the broadcast hash join with no corpus-side
    shuffle, and only the matching (gram, doc) rows — a vanishing fraction
    of the corpus — reach the final groupBy.
    """
    bench_grams = (
        _shingle_table(benchmark, text_col, id_col, k).select("sh").distinct()
    )
    corpus_grams = _shingle_table(corpus, text_col, id_col, k)
    return (
        corpus_grams.join(F.broadcast(bench_grams), "sh")
        .groupBy("sh")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sort_array(F.collect_list("doc")).alias("doc_ids"),
        )
        .withColumnRenamed("sh", "gram_hash")
    )


def remove_duplicate_spans(
    df: DataFrame,
    min_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-span dedup: remove repeated ≥``min_words`` word
    spans, keeping the FIRST occurrence (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 — their
    ExactSubstr pass at 50 BPE tokens; same contract here at word
    granularity). Unlike document-level tiers this edits the text:
    boilerplate paragraphs, license headers, and quoted reposts disappear
    from every copy but one, instead of the whole document being dropped
    or kept.

    Semantics: a word w-gram occurring >1 time corpus-wide (across OR
    within documents) marks every occurrence except the
    (doc, pos)-lexicographic first; marked grams cover word positions
    [pos, pos+w) and covered words are removed. Overlapping duplicate
    spans merge through the position mask, so any duplicated run of
    length L ≥ w is removed whole (the run's grams are all duplicated).
    Whitespace inside an edited document is normalized to single spaces;
    untouched documents pass through byte-identical.

    Returns (id_col, clean_text, n_removed).

    Scale shape: the reference formulation is a single-node suffix array;
    this is the distributed hash-gram formulation. One Arrow-batched pass
    emits (doc, pos, md5-low63) gram occurrences — 16-byte rows, the only
    full-corpus-sized shuffle, keyed by uniform hashes. The canonical-
    occurrence aggregation is map-side combined; only DUPLICATED grams
    (a vanishing fraction of an already-deduped corpus) survive to the
    join and the per-doc span list, and the rebuild streams each edited
    document once. The DuckDB oracle applies the identical hash, so the
    comparison is exact (collisions would affect both engines alike).
    """
    from pyspark.sql import types as T

    w = int(min_words)
    mask = (1 << 63) - 1
    # the id column keeps the caller's type (every other funnel stage is
    # id-type-generic — digests, min(id), CC — so this one must be too)
    id_type = df.schema[id_col].dataType
    occ_schema = T.StructType(
        [
            T.StructField("doc", id_type),
            T.StructField("pos", T.IntegerType()),
            T.StructField("gh", T.LongType()),
        ]
    )

    def gen(pdfs):
        h = md5_low64
        for pdf in pdfs:
            docs_out: list = []
            pos_out: list[int] = []
            gh_out: list[int] = []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                ws = _ws_tokens(text)
                for i in range(max(len(ws) - w + 1, 0)):
                    docs_out.append(doc)
                    pos_out.append(i)
                    gh_out.append(h(" ".join(ws[i : i + w])) & mask)
            yield pd.DataFrame(
                {
                    "doc": pd.Series(docs_out, dtype=pdf[id_col].dtype),
                    "pos": pd.Series(pos_out, dtype="int32"),
                    "gh": pd.Series(gh_out, dtype="int64"),
                }
            )

    occ = df.select(id_col, text_col).mapInPandas(gen, schema=occ_schema)
    canon = (
        occ.groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct(F.col("doc"), F.col("pos"))).alias("first"),
        )
        .filter(F.col("cnt") > 1)
    )
    marked = (
        occ.join(canon, "gh")
        .filter(
            ~(
                (F.col("doc") == F.col("first.doc"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select("doc", "pos")
    )
    spans = (
        marked.groupBy("doc")
        .agg(F.collect_list("pos").alias("dup_starts"))
        .withColumnRenamed("doc", id_col)
    )
    joined = df.select(id_col, text_col).join(spans, id_col, "left")
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("clean_text", T.StringType()),
            T.StructField("n_removed", T.IntegerType()),
        ]
    )

    def rebuild(pdfs):
        for pdf in pdfs:
            ids: list = []
            texts: list[str] = []
            removed: list[int] = []
            for doc, text, starts in zip(
                pdf[id_col], pdf[text_col], pdf["dup_starts"]
            ):
                ids.append(doc)
                if starts is None or len(starts) == 0:
                    texts.append(text)
                    removed.append(0)
                    continue
                ws = _ws_tokens(text)
                cov = np.zeros(len(ws), dtype=bool)
                for p in starts:
                    cov[int(p) : int(p) + w] = True
                texts.append(" ".join(x for x, c in zip(ws, cov) if not c))
                removed.append(int(cov.sum()))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "clean_text": texts,
                    "n_removed": pd.Series(removed, dtype="int32"),
                }
            )

    return joined.mapInPandas(rebuild, schema=out_schema)


# the explicit horizontal-whitespace class line_dedup trims when
# normalizing a line — shared contract between the operator, the DuckDB
# oracle (registry._SUBSTR_ORACLE builds the same set via chr()), and the
# pure-Python fuzz reference. NOT F.trim: that trims ASCII space only, so
# a tab-indented boilerplate line would never join its space-indented
# twin and a tabs-only line would count as content (ADVICE r9). \n is
# absent by construction (lines come from split('\n')).
LINE_WS = " \t\r\f\x0b\xa0"


def line_dedup(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_limit: int = 4_000_000,
    handles: list | None = None,
) -> DataFrame:
    """Line-level boilerplate removal — the CCNet / RefinedWeb curation
    step between document dedup and span dedup: a LINE whose normalized
    form (trimmed, lowercased) appears in ≥ ``min_docs`` DISTINCT
    documents is navigation/footer/cookie-banner boilerplate and is
    removed from every document containing it; document order of the
    surviving lines is preserved and untouched documents pass through
    byte-identical. Blank lines are never counted or removed (they are
    structure, not content). Returns (id_col, clean_text, n_removed)
    with n_removed = lines removed from that document.

    Distinct from the other text-editing tier (remove_duplicate_spans):
    spans catch COPIED RUNS at word granularity and keep the first
    occurrence; line dedup catches TEMPLATED lines repeated across the
    site and keeps none (RefinedWeb's rule — a line shared by many pages
    is noise in all of them).

    Scale shape, all pure column expressions (no Python): one
    posexplode(split) per document; the doc-frequency aggregation is
    map-side combined on md5 keys; only boilerplate hashes survive to
    the join against the line table — broadcast when the counted gate
    says the table is small, shuffle hash join otherwise (see below);
    the rebuild is ONE shuffle of the line table by doc. Untouched documents
    come back byte-identical because split('\\n') → ordered join('\\n')
    is lossless (pinned by test) — no second "pass originals through"
    join is needed, which matters at web scale where MOST documents
    contain some boilerplate and an edited-docs-only path would save
    nothing while adding an unbounded semi-join side.

    NOT fully lazy (ADVICE r10): the counted broadcast gate runs the
    full explode+aggregate job AT CALL TIME (one count over the
    persisted boilerplate table). On the broadcast path with
    ``handles=None`` the boiler persist is released immediately after
    the count — the broadcast exchange re-derives the (already
    counted, cheap) aggregation once at execution instead of pinning a
    session-lifetime cache for handle-less callers; pass ``handles``
    to keep the cache until you unpersist it (the shuffle fallback
    keeps the persist either way: both join sides read it).
    """
    if df.isStreaming:
        raise ValueError(
            "line_dedup is batch-only by contract: the boilerplate rule "
            "is a cross-document distinct-doc frequency (df >= min_docs) "
            "over the WHOLE corpus, which has no incremental formulation "
            "— a line's df only grows, so a keep decision made at batch N "
            "can be invalidated at batch N+1, and un-removing text from "
            "an already-emitted document is impossible. Clean at rest "
            "before streaming ingest (the CLI's --line-dedup does), or "
            "maintain line-hash df counts in the at-rest corpus index "
            "and re-clean periodically."
        )
    if int(min_docs) < 2:
        raise ValueError(
            f"min_docs={min_docs}: a threshold below 2 removes EVERY "
            "non-blank line (df >= 1 holds for any line that exists) — "
            "reject loudly rather than silently empty the corpus"
        )
    # NULL text coalesces to '' so the document SURVIVES (as one blank,
    # never-removed line → clean_text ''): posexplode of split(NULL)
    # emits no rows, which would silently drop the doc from the output —
    # and from the corpus entirely once a caller inner-joins the result
    # back (review-caught data-loss path via pipeline.prepare_text)
    lines = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line"),
    )
    # \z, not $: Java's '$' also matches BEFORE a final line terminator
    # (U+2028/U+2029/U+0085 — which survive split('\n') and are outside
    # LINE_WS), so '$' would strip whitespace ahead of such a terminator
    # while the DuckDB twin's trim(chars) and Python's strip(LINE_WS)
    # would not — a cross-engine divergence off-fixture (review-caught)
    norm = F.lower(
        F.regexp_replace(
            F.col("line"), f"\\A[{LINE_WS}]+|[{LINE_WS}]+\\z", ""
        )
    )
    keyed = lines.withColumn(
        "_lk", F.when(norm != "", F.md5(norm.cast("binary")))
    )
    boiler = (
        keyed.filter(F.col("_lk").isNotNull())
        .groupBy("_lk")
        .agg(F.count_distinct("doc").alias("_df"))
        .filter(F.col("_df") >= int(min_docs))
        .select("_lk", F.lit(True).alias("_rm"))
    )
    # Counted broadcast gate (VERDICT r9 #1 — the duplicate_groups
    # pattern): the boilerplate table is bounded by template vocabulary
    # on a curated corpus but NOT in general — min_docs=2 over a raw web
    # crawl keeps EVERY line shared by any two pages, billions of
    # 16-byte keys (CCNet shards this very table by hash). A forced
    # F.broadcast has no size gate and OOMs driver and executors long
    # before 100 TB. So: persist the aggregated table, take one cheap
    # count over it, broadcast below the limit and fall back to a
    # shuffle hash join above it — both paths produce identical output
    # (pinned by test_shuffle_fallback_parity). The persisted handle
    # follows the module convention: appended to ``handles`` when given,
    # else left cached for the session (the count AND the join both read
    # it; unpersisting before the result materializes would re-run the
    # full explode+agg lineage).
    boiler = boiler.persist()
    if handles is not None:
        handles.append(boiler)
    small = boiler.count() <= int(broadcast_limit)
    if small and handles is None:
        # handle-less broadcast path: release the persist now (ADVICE
        # r10 — it would otherwise pin block storage for the session).
        # The broadcast exchange replays the explode+agg lineage once at
        # execution; with handles the cache serves it instead.
        boiler.unpersist()
    marked = keyed.join(
        F.broadcast(boiler) if small else boiler, "_lk", "left"
    )
    keep = F.col("_rm").isNull()
    return (
        marked.groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    # collect_list skips nulls, so the when() drops
                    # removed lines while array_sort on (pos, line)
                    # restores document order
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("pos", "line"))
                        )
                    ),
                    lambda s: s.line,
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(keep, 0).otherwise(1)).cast("int").alias(
                "n_removed"
            ),
        )
        .withColumnRenamed("doc", id_col)
    )


def _shingle_set(text: str | None, k: int) -> set[str]:
    """Distinct k-word shingles of the lowercased text — the Python twin
    of ``shingles()``, shared by every Arrow-batched shingle pass here and
    in incremental.py. A text shorter than k words is its own single
    shingle."""
    ws = _ws_tokens((text or "").lower())
    if len(ws) < k:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}


def _shingle_table(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """Exploded (doc, shingle-hash) table via one Arrow-batched pass.

    Two deliberate choices for the join-heavy consumers downstream:

    - built in pandas, not column expressions: the HOF form (transform +
      try_element_at×k + concat_ws + array_distinct + explode) is
      interpreted per element — measured 11.4 s for 260k shingles at sf0.1
      vs ~0.2 s here. Shingle semantics identical to ``shingles()`` (the
      SQL-expressible spec kept for the oracle twin).
    - shingles travel as md5-low63 BIGINT hashes, not strings: the
      self-join/groupBy shuffle 8-byte keys instead of ~30-byte text. The
      DuckDB oracle applies the identical hash (md5_number_lower & 2⁶³-1),
      so both engines see the same keys — any hash collision (≪1e-9 at
      corpus scale) would affect both identically, keeping the comparison
      exact."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc", T.LongType()), T.StructField("sh", T.LongType())]
    )
    mask = (1 << 63) - 1

    def gen(pdfs):
        h, shingle_set = md5_low64, _shingle_set
        for pdf in pdfs:
            docs_out: list[int] = []
            sh_out: list[int] = []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                uniq = shingle_set(text, k)
                docs_out.extend([int(doc)] * len(uniq))
                sh_out.extend(h(s) & mask for s in uniq)
            yield pd.DataFrame(
                {"doc": pd.Series(docs_out, dtype="int64"),
                 "sh": pd.Series(sh_out, dtype="int64")}
            )

    return df.select(id_col, text_col).mapInPandas(gen, schema=schema)


# input size estimate above which the hot-shingle pre-filter engages
HOT_KEY_GUARD_BYTES = 1 << 30


def _hot_key_guard_engaged(df: DataFrame, override: bool | None) -> bool:
    """Size gate for the hot-shingle pre-filter (r17 skew audit, guide
    §2.5): engage automatically when the INPUT's optimizer size estimate
    crosses ``HOT_KEY_GUARD_BYTES`` (1 GiB — the extra corpus pass
    starts paying for itself when a single hot key's doc list could no
    longer be assumed to fit one task comfortably). Reading the plan
    estimate costs no job. ``override`` pins the decision either way
    (tests; callers that know their data)."""
    if override is not None:
        return bool(override)
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return False  # no estimate: keep the single-pass shape
    if size <= 0 or size >= (1 << 62):
        # UNKNOWN estimate (RDD-backed frames report Long.MaxValue):
        # keep the single-pass shape — callers that know their input is
        # corpus-scale pin hot_key_guard=True explicitly
        return False
    return size > HOT_KEY_GUARD_BYTES


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
    max_shingle_df: int | None = None,
    handles: list | None = None,
    hot_key_guard: bool | None = None,
) -> DataFrame:
    """Tier 2: exact Jaccard over k-word shingles, as a shingle equi-join.

    (a ⋈ b on shingle) counts intersections; sizes give the union. Exact
    for the surviving shingles — but a shingle shared by m docs contributes
    m² join rows, so any corpus-scale run MUST pass ``max_shingle_df`` to
    drop boilerplate shingles (the standard stopword-shingle frequency cut;
    MinHash banding has the same rarity bias implicitly). The registered
    driver query applies the cut with a mirrored oracle; the uncut exact
    form is pytest-verified only.

    If ``handles`` is passed, the internally persisted postings table is
    appended for the caller to unpersist after materializing the result.

    Shape: postings-list pair generation, not a self-join. ONE shuffle
    groups the shingle table by shingle hash into sorted doc lists; the
    frequency cut is then a free `size(docs) <= m` filter; pairs are
    generated AFTER that shuffle from each ≤m-element list and partially
    aggregated map-side before the (doc_a, doc_b) shuffle. The old
    self-join pushed every one of the m² collision rows through a shuffle;
    here they are born post-shuffle and combine before moving — at corpus
    scale the pair traffic drops from O(Σ m²) rows to the distinct-pair
    count.
    """
    sh = _shingle_table(df, text_col, id_col, k)
    if max_shingle_df is not None and _hot_key_guard_engaged(df, hot_key_guard):
        # Hot-shingle PRE-filter (r17 skew audit; guide §2.5 "filter or
        # special-case the hot keys" + §3.2 pre-filter before the
        # shuffle). The collect_list below is the one skew point AQE
        # cannot fix — skew handling applies to joins, not aggregations
        # — and a boilerplate shingle shared by m documents would
        # otherwise materialize an m-element list in ONE reduce task
        # before the df-cut filter discards it. Compute df(sh) with a
        # plain count first (counts are skew-immune: partial map-side
        # aggregation collapses the hot key per task — a salted
        # two-level agg would be redundant machinery on top of what
        # HashAggregate partial→final already does), then drop the tiny
        # >cut key set with a broadcast anti-join BEFORE the postings
        # shuffle. Results are identical by construction: every key
        # dropped here is dropped by the size(docs) <= cut filter below
        # anyway. Cost: a second pass over the shingle table (persisted
        # when the caller manages handles), which is the standard §3.2
        # trade — pay a cheap extra scan to bound the shuffle.
        if handles is not None:
            sh = sh.persist()
            handles.append(sh)
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    postings = sh.groupBy("sh").agg(F.sort_array(F.collect_list("doc")).alias("docs"))
    if max_shingle_df is not None:
        postings = postings.filter(F.size("docs") <= max_shingle_df)
    # materialized once: feeds both the per-doc sizes and the pair explosion
    postings = postings.persist()
    if handles is not None:
        handles.append(postings)
    # per-doc count of SURVIVING shingles (post-cut Jaccard semantics,
    # mirrored by the oracle's post-cut `sz` CTE)
    sizes = (
        postings.select(F.explode("docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    docs_arr = F.col("docs")
    combos = F.flatten(
        F.transform(
            docs_arr,
            # 2-arg pyspark lambda = (element, 0-based index); slice is
            # 1-based and clamps at the array end
            lambda x, i: F.transform(
                F.slice(docs_arr, i + F.lit(2), F.size(docs_arr)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        postings.select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_MERSENNE31 = (1 << 31) - 1


def _minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the universal-hash family
    h_i(x) = (a_i·x + b_i) mod (2³¹−1)."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def _crc32(s: str) -> int:
    return zlib.crc32(s.encode())


def _minhash_kernel(num_hashes: int, bands: int, seed: int, base_hash=_crc32):
    """The per-document MinHash kernel: shingles → (signature, band
    hashes). ``base_hash`` maps each shingle to an unsigned int; the
    num_hashes seeded minima of (a·h + b) mod 2³¹−1 over it run in NumPy,
    and each band hash is the crc32 of its signature slice. One kernel
    serves the in-corpus LSH table and the at-rest index, so a doc
    indexed yesterday and probed today produces identical keys."""
    params = _minhash_params(num_hashes, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    r = num_hashes // bands

    def kernel(sh) -> tuple[np.ndarray, list[int]]:
        base = np.array([base_hash(s) for s in sh], dtype=np.int64)[None, :]
        sig = ((A * (base & _MERSENNE31) + B) % _MERSENNE31).min(axis=1)
        return sig, [
            zlib.crc32(sig[b * r : (b + 1) * r].tobytes()) for b in range(bands)
        ]

    return kernel


def minhash_band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    seed: int = 42,
) -> DataFrame:
    """(doc, shingles, band, band_hash) via one Arrow-batched mapInPandas.

    Shingling and the num_hashes seeded minima run vectorized in NumPy
    (universal hashing (a·h + b) mod 2³¹−1 over one crc32 pass per
    shingle); band hashes are crc32 of each signature slice. Interpreted
    JVM higher-order functions lose to this by ~3-5× — the exact-Jaccard
    verify step stays JVM-side where array_intersect IS the fast path.
    Deterministic: crc32 + seeded constants, identical across executors.
    """
    from pyspark.sql import types as T

    minhash = _minhash_kernel(num_hashes, bands, seed)

    out_schema = T.StructType(
        [
            T.StructField("doc", T.LongType()),
            T.StructField("sh", T.ArrayType(T.StringType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_hash", T.LongType()),
        ]
    )

    def build(pdfs):
        import pandas as pd

        for pdf in pdfs:
            rows = []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                sh = list(_shingle_set(text, k))
                _, band_hashes = minhash(sh)
                for b, bh in enumerate(band_hashes):
                    # the shingle array (the dominant payload — near the raw
                    # text size) rides along ONCE, on band 0; emitting it per
                    # band would amplify the persisted/shuffled table ×bands
                    rows.append((int(doc), sh if b == 0 else None, b, int(bh)))
            yield pd.DataFrame(rows, columns=["doc", "sh", "band", "band_hash"])

    return df.select(id_col, text_col).mapInPandas(build, schema=out_schema)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    handles: list | None = None,
) -> DataFrame:
    """Tier 3: banded MinHash LSH with exact-Jaccard verification.

    rows = num_hashes/bands per band; a pair becomes a candidate iff some
    band's row-slice matches exactly (hash collision on the band). With
    r=4, b=16 the S-curve passes ~99% at J=0.9 and ~24% at J=0.7 —
    candidates below threshold are discarded by the verify step, so
    precision is exact and only recall is probabilistic.

    Scale shape: signatures are a narrow projection (no shuffle); the only
    shuffles are the bucket groupBy (uniform 64-bit keys) and the candidate
    verify join, whose size is the collision count, not |docs|².
    """
    # signatures + band hashes in one vectorized pass; persisted because the
    # band self-join and both verify sides reuse it
    table = minhash_band_table(df, text_col, id_col, k, num_hashes, bands).persist()
    if handles is not None:
        handles.append(table)
    banded = table.select("doc", "band", "band_hash")
    sig = table.filter(F.col("band") == 0).select("doc", "sh")
    ba, bb = banded.alias("ba"), banded.alias("bb")
    candidates = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.band_hash") == F.col("bb.band_hash"))
            & (F.col("ba.doc") < F.col("bb.doc")),
        )
        .select(F.col("ba.doc").alias("doc_a"), F.col("bb.doc").alias("doc_b"))
        .distinct()
    )
    sh_a = sig.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sig.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(text: Column) -> Column:
    """Tier-4 signature: 64-bit SimHash over distinct lowercased words.
    Bit b of the result is 1 iff more words have bit b set than cleared.

    Word hash = low 8 bytes (little-endian) of md5 — chosen over xxhash64
    so DuckDB's ``md5_number_lower`` can recompute the identical signature
    for the oracle. Computed in ONE Arrow-batched pandas UDF: the per-bit
    counter aggregate is 64 branches/word as an interpreted higher-order
    expression (measured ~3.7 s at sf0.1), but a single vectorized NumPy
    bit-matrix per batch here."""

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        one = np.uint64(1)
        out = np.zeros(len(texts), dtype=np.int64)
        # per-batch word-hash cache: corpora are Zipfian, so the same
        # words recur across the batch's documents — hashing each UNIQUE
        # word once cuts the Python-side md5 count by ~the mean word
        # frequency (the md5 loop is this UDF's hot path; the bit matrix
        # below is already one vectorized NumPy op per doc). Lifetime is
        # ONE batch — the dict is local to this per-batch call, freed when
        # the call returns, never retained in the executor-cached closure.
        # Bound: on a degenerate all-unique batch, inserts STOP at 4M
        # entries (lookups keep working for already-cached words); with
        # Arrow batches of ~10k docs the bound is never approached on
        # real text (ADVICE r9: comment previously said "dropped
        # wholesale", which the code never did).
        cache: dict[str, int] = {}

        def _h(w: str) -> int:
            v = cache.get(w)
            if v is None:
                v = md5_low64(w)
                if len(cache) < 4_000_000:
                    cache[w] = v
            return v

        for i, t in enumerate(texts):
            ws = set(_ws_tokens((t or "").lower()))
            if not ws:
                continue
            hs = np.array([_h(w) for w in ws], dtype=np.uint64)
            bits = (hs[:, None] >> shifts[None, :]) & one  # (words, 64)
            counters = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            fp = np.bitwise_or.reduce(
                np.where(counters > 0, one << shifts, np.uint64(0))
            )
            out[i] = int(fp) - (1 << 64 if int(fp) >= 1 << 63 else 0)
        return pd.Series(out)

    return _simhash(text)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    handles: list | None = None,
) -> DataFrame:
    """Tier 4: near-dup pairs by SimHash hamming distance ≤ max_hamming.
    EXACT for the hamming criterion at any setting — the block scheme only
    changes how much work finds the same answer.

    Pigeonhole banding, generalized to multi-block tables (the Manku/
    Jain/Das Sarma WWW'07 construction): split the 64-bit hash into
    ``n_blocks`` equal blocks and build one candidate table per
    combination of ``n_blocks - max_hamming`` blocks, keyed on those
    blocks' bits. A pair within distance h differs in ≤ h blocks, so some
    combination of n_blocks-h blocks avoids every differing bit — the
    equi-join on that table's key finds the pair. Exactness is preserved
    under the xxhash64 key packing because equal block values always hash
    equal (a hash collision can only ADD a candidate, and every candidate
    is verified with the true hamming distance).

    SIZING: random-pair candidates ≈ C(n_blocks, n_blocks-h) · n² /
    2^(effective key bits), with effective key bits = (n_blocks-h)·64/
    n_blocks. The default n_blocks = h+1 (the classic one-block-agreement
    pigeonhole) keys on just 64/(h+1) bits — 16 bits at h=3, which goes
    quadratic past ~10⁵-10⁶ docs, exactly like a fixed-width LSH band. At
    corpus scale pass n_blocks=8 (h=3): C(8,5)=56 tables keyed on 40
    bits — 56× the table rows, but collision mass n²/2⁴⁰ stays linear out
    to ~10¹² docs. Table count is the price of exactness; the knob trades
    replication against bucket sparsity.

    If ``handles`` is passed, the internally persisted signature table is
    appended for the caller to unpersist after materializing the result.
    """
    sigs = df.select(
        F.col(id_col).alias("doc"), simhash64(F.col(text_col)).alias("sim")
    )
    return signature_hamming_pairs(
        sigs, sig_col="sim", id_col="doc", max_hamming=max_hamming,
        n_blocks=n_blocks, handles=handles,
    )


def signature_hamming_pairs(
    df: DataFrame,
    sig_col: str = "sig",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    handles: list | None = None,
) -> DataFrame:
    """Pairs within ``max_hamming`` of ANY precomputed 64-bit signature
    column, via the same Manku multi-block pigeonhole banding simhash_pairs
    documents (exactness and sizing analysis there). Factored out so every
    64-bit near-dup key — text SimHash, media blockhash
    (operators/multimodal.py payload_blockhash), any future perceptual
    hash — shares one banded-join implementation."""
    import itertools

    b = n_blocks if n_blocks is not None else max_hamming + 1
    if b < max_hamming + 1:
        raise ValueError("n_blocks must be > max_hamming")
    if 64 % b:
        raise ValueError("n_blocks must divide 64")
    width = 64 // b
    q = b - max_hamming
    mask = (1 << width) - 1
    # persisted because both self-join sides reuse the signatures
    sh = df.select(
        F.col(id_col).alias("doc"), F.col(sig_col).alias("sim")
    ).persist()
    if handles is not None:
        handles.append(sh)

    def block(i: int):
        return F.shiftrightunsigned("sim", i * width).bitwiseAND(F.lit(mask))

    keys = F.array(
        *[
            F.xxhash64(F.lit(ci), *[block(i) for i in combo])
            for ci, combo in enumerate(itertools.combinations(range(b), q))
        ]
    )
    banded = sh.select("doc", "sim", F.explode(keys).alias("bk"))
    a, bb = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            bb,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def duplicate_groups(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 15,
    small_graph_limit: int = 1_000_000,
    handles: list | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected components
    over the pair graph, each doc labeled with its component's minimum id
    (the keep-lowest-id dedup policy applied transitively).

    Distributed shape: iterative min-label propagation — each round every
    node takes the min of its own label and its neighbors' labels; a
    round is one shuffle join + aggregation, and the loop converges in
    graph-diameter rounds (near-dup components are shallow: dup clusters,
    not long chains). The per-round driver action is a single converged?
    count — the standard Pregel-style fixpoint check, not a data collect.
    At extreme scale the same loop with large-star/small-star edge
    rewriting bounds the round count to O(log n); the propagation core is
    identical.

    ``pairs`` must carry (doc_a, doc_b); ``nodes`` provides the full id
    domain (isolated docs label themselves). Returns (doc, root).

    Small-graph fast path (the adaptive move ``cosine_pairs`` makes for
    blocking): the pair graph is a vanishing fraction of the corpus —
    components are dup clusters, not the data. When the edge count (one
    cheap count on the already-needed pair table) is ≤
    ``small_graph_limit``, union-find runs on the driver in milliseconds
    and the labels broadcast back, replacing diameter-many scheduled
    rounds with one job. The distributed fixpoint below is the scale path
    and computes the identical labeling (tests assert parity).
    """
    from pyspark import StorageLevel

    # persist the PAIR table itself (not a derivative): the fast-path probe
    # is count-then-collect on it, and the scale path derives sym from it —
    # without this the expensive pair-generation lineage would run twice
    # (ADVICE r3). Skip if the caller already persisted it.
    own: list = []
    if pairs.storageLevel == StorageLevel.NONE:
        pairs = pairs.persist()
        own.append(pairs)
        if handles is not None:
            handles.append(pairs)

    def _cleanup() -> None:
        if handles is None:
            while own:
                own.pop().unpersist()

    if small_graph_limit and pairs.count() <= small_graph_limit:
        edges = [(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()]
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by min id keeps the keep-lowest-id policy exact
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        roots = [(x, find(x)) for x in parent] + [
            (x, x) for x in {e for p in edges for e in p} - parent.keys()
        ]
        spark = pairs.sparkSession
        _cleanup()
        if not roots:
            return nodes.select(
                F.col(id_col).alias("doc"), F.col(id_col).alias("root")
            )
        labels_df = spark.createDataFrame(roots, ["doc", "root"])
        return (
            nodes.select(F.col(id_col).alias("doc"))
            .join(F.broadcast(labels_df), "doc", "left")
            .select("doc", F.coalesce("root", F.col("doc")).alias("root"))
        )

    # scale path: build the symmetric edge list only now (the fast path
    # never needs it), persisted across the fixpoint rounds
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    sym = sym.persist()
    own.append(sym)
    if handles is not None:
        handles.append(sym)
    # localCheckpoint per round: each iteration's plan references the
    # previous labels TWICE (join + fixpoint compare), so without lineage
    # truncation the logical plan doubles per round — the analyzer OOMs
    # long before the data does. Checkpointing makes rounds O(1) plan size
    # (the same reason GraphX/Pregel checkpoint their iteration state).
    #
    # The iteration state is only the PAIR-TOUCHED nodes, not the full id
    # domain: near-dup graphs are sparse, so |V(pairs)| ≪ |docs| — each
    # round shuffles the dup subgraph, not the corpus. Isolated docs join
    # back in once at the end, labeled with themselves.
    labels = (
        sym.select(F.col("src").alias("doc")).distinct()
        .withColumn("root", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            nbr = (
                sym.join(labels, sym.dst == labels.doc)
                .groupBy(F.col("src").alias("doc"))
                .agg(F.min("root").alias("nbr_root"))
            )
            nxt = (
                labels.join(nbr, "doc", "left")
                .select(
                    "doc",
                    F.least(
                        F.col("root"), F.coalesce(F.col("nbr_root"), F.col("root"))
                    ).alias("root"),
                    (F.coalesce(F.col("nbr_root"), F.col("root")) < F.col("root"))
                    .alias("_changed"),
                )
                .localCheckpoint(eager=True)
            )
            changed = nxt.filter(F.col("_changed")).count()
            labels = nxt.drop("_changed")
            if changed == 0:
                break
        return (
            nodes.select(F.col(id_col).alias("doc"))
            .join(labels, "doc", "left")
            .select("doc", F.coalesce("root", F.col("doc")).alias("root"))
        )
    finally:
        _cleanup()


# ---------------------------------------------------------------------------
# tier 5: embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """Tier 5 (exact): embedding-cosine near-duplicate dedup decision.

    For every row, ``keep_id`` is the smallest id among its cosine-≥-
    threshold neighbours (including itself) and ``is_dup`` marks rows that
    would be dropped by a keep-lowest-id policy. The neighbour relation is
    one-hop (each duplicate points at its smallest similar neighbour, not
    the transitive-closure root) — deterministic and SQL-expressible, so
    the DuckDB oracle can hash-check it exactly.

    Candidate generation reuses ``similarity.cosine_pairs`` (blocked
    cogroup + one NumPy matmul per block pair): exact, with each row
    communicated O(n_blocks) times. The pair table is tiny relative to the
    corpus (only pairs over the threshold survive), so the min-neighbour
    aggregation and the left join back shuffle almost nothing.
    """
    from pcap_converter_spark.operators import similarity

    pairs = similarity.cosine_pairs(
        df, threshold=threshold, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
    )
    # id_a < id_b by construction, so the smallest similar neighbour of a
    # row can only appear on the id_a side of its pairs
    nbr = pairs.groupBy(F.col("id_b").alias(id_col)).agg(F.min("id_a").alias("_nbr"))
    return (
        df.select(F.col(id_col))
        .join(nbr, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_nbr"), F.col(id_col)).alias("keep_id"),
            F.col("_nbr").isNotNull().alias("is_dup"),
        )
    )


def embedding_neardup_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int | None = None,
    bands: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    recall_target: float = 0.95,
    handles: list | None = None,
) -> DataFrame:
    """Tier 5 (scale path): LSH-bucketed embedding near-dup.

    Random-hyperplane signatures are banded (n_planes / bands bits per
    band); only rows sharing a band bucket become candidate pairs, which
    are then verified with exact cosine — the standard signature→band→
    bucket-join shape that replaces the O(n²) scan with an equi-join on
    band keys. tests/test_dedup.py bounds recall on planted duplicates.
    Output schema matches ``embedding_neardup``.

    SIZING (the part that decides whether this survives scale): expected
    random-pair candidates are ≈ n²·bands/2^width, so the scheme is
    sub-quadratic only while 2^width ≳ n — a FIXED width silently goes
    quadratic once the corpus outgrows its bucket space (measured:
    25k→50k random vectors at width 8 scaled ×12.5, exponent 3.6). With
    the defaults (``n_planes=bands=None``) both knobs are therefore sized
    from the data with one count() job: width = ⌈log2 n⌉+1 (random
    collisions ≈ bands·n/2, i.e. linear), then bands from the recall
    budget: P(two cos-θ rows agree on one plane) = p = 1−θ/π, a band of
    `width` planes matches with p^width, so ``bands =
    ln(1−recall_target)/ln(1−p^width)`` (capped at 64) makes a
    ≥-threshold pair surface with probability ≥ recall_target. The cost
    of recall at scale is band count — the banded table is `bands`
    rows/vec; hyperplane LSH is only economical for HIGH thresholds
    (near-dup, cos ≥ 0.9): at low thresholds p^width collapses and the
    cap bites, so use the IVF/exact tiers there. Explicit
    n_planes+bands skip the count() and pin the geometry (the fixture
    entry pins 16×4-bit bands, recall-saturating at validation scale).

    The signature is computed in ONE Arrow-batched matmul per partition
    (pandas UDF) — per-plane higher-order-function expressions are
    interpreted and re-evaluate per reference, ~10× slower on this shape.
    Candidates travel as bare (id, id) pairs — vectors are joined back only
    for the surviving distinct pairs, and the cosine check itself is a
    vectorized Arrow-batched UDF, so neither the band self-join nor the
    distinct ever shuffles an embedding.
    """
    import math

    from pyspark.sql import types as T

    if n_planes is None or bands is None:
        if n_planes is not None or bands is not None:
            raise ValueError("pass both n_planes and bands, or neither")
        n = df.count()
        width = max(4, math.ceil(math.log2(max(n, 2))) + 1)
        p = 1.0 - math.acos(min(max(threshold, -1.0), 0.9999)) / math.pi
        band_hit = p**width
        bands = (
            64
            if band_hit >= 1.0 or band_hit <= 0.0
            else min(64, max(4, math.ceil(
                math.log(1.0 - recall_target) / math.log(1.0 - band_hit)
            )))
        )
        n_planes = width * bands
    if n_planes % bands:
        raise ValueError("n_planes must divide evenly into bands")
    width = n_planes // bands

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(v: pd.Series) -> pd.Series:
        if v.empty:
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy()).astype(np.float64)
        # planes depend only on (seed, dim): every batch derives the same
        # matrix, so no driver-side first() job is needed to size them
        pl = np.random.default_rng(seed).standard_normal((n_planes, m.shape[1]))
        bits = (m @ pl.T) >= 0.0  # (rows, n_planes)
        keys = np.zeros((m.shape[0], bands), dtype=np.int64)
        for b in range(bands):
            for j in range(width):
                keys[:, b] |= bits[:, b * width + j].astype(np.int64) << j
            keys[:, b] |= np.int64(b) << np.int64(56)  # band id in high bits
        return pd.Series(list(keys))

    @F.pandas_udf(T.DoubleType())
    def cos4(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        sims = np.einsum("ij,ij->i", ma, mb) / (
            np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        )
        return pd.Series(np.round(sims, 4))

    vecs = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")).persist()
    if handles is not None:
        handles.append(vecs)
    banded = vecs.select("vid", F.explode(band_keys(F.col("vec"))).alias("_bk"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a._bk") == F.col("b._bk")) & (F.col("a.vid") < F.col("b.vid")))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    scored = (
        cand.join(vecs.select(F.col("vid").alias("id_a"), F.col("vec").alias("va")), "id_a")
        .join(vecs.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb")), "id_b")
        .select("id_a", "id_b", cos4(F.col("va"), F.col("vb")).alias("cos_sim"))
    )
    verified = scored.filter(F.col("cos_sim") >= threshold)
    nbr = verified.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("_nbr")
    )
    return (
        df.select(F.col(id_col))
        .join(nbr, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_nbr"), F.col(id_col)).alias("keep_id"),
            F.col("_nbr").isNotNull().alias("is_dup"),
        )
    )
