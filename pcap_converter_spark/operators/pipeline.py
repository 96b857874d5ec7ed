"""End-to-end corpus curation: the standard LLM preprocessing chain as ONE
lazily-composed DataFrame transformation.

``curate(docs, benchmark)`` runs, in pipeline order:

1. quality gate   — Gopher-style keep/drop (operators/quality.py)
2. exact dedup    — keep the lowest doc_id of each sha256 group
3. near dedup     — shingle-Jaccard pairs → connected components → keep each
                    component's lowest id (operators/dedup.py)
4. decontaminate  — drop docs sharing any k-gram with the benchmark set
5. pack           — (shard, bin, offset) positions over the survivors

The funnel is ONE frame carried through the stages. It is rooted at the
persisted quality boundary (one row per input doc: id, text, the quality
flag, token count). Each later stage judges the docs whose flags so far
are all True, persists its (id, keep_*) verdict (appended to ``handles``
for caller cleanup) and left-joins that verdict onto the funnel once, so
a doc dropped upstream reads NULL in every later flag by construction.
Packing joins the same way, and ``kept`` is the conjunction of the flags.
Nothing re-reads the caller's input after the quality boundary — for a
WARC source a second read would be a second decode and HTML extraction.
Persisting the boundaries is what keeps composition cost additive: the
near-dup and decon stages reference their input several times, and
without materialized verdicts Spark re-derives the whole upstream
lineage per reference (measured at 100k docs, the unpersisted
composition ran ~30× slower than the sum of its stages, 457 s vs ~15 s).
The result carries per-stage drop flags so a curation report is one
aggregation — ``df.groupBy()`` over the booleans — instead of five jobs.
Stage order follows the standard pipeline economics: the quality gate is
a pure projection (run it first, it shrinks everything downstream),
exact dedup shuffles 32-byte digests, near-dup buckets only the
quality+exact survivors, and decontamination broadcasts the benchmark
gram set.

At 100 TB each stage keeps its documented scale shape — this wrapper adds
composition and the drop-flag bookkeeping, no new shuffles.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, functions as F

from pcap_converter_spark.functions import text as TX
from pcap_converter_spark.operators import dedup
from pcap_converter_spark.operators.packing import pack_documents
from pcap_converter_spark.operators.quality import (
    gopher_keep,
    mean_word_len,
    token_ngrams,
)


def prepare_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fix_encoding: bool = False,
    line_dedup_min_docs: int | None = None,
    substring_dedup: int | None = None,
    handles: list | None = None,
    checkpoint: bool = True,
    c4_rules: bool = False,
    streaming: bool = False,
) -> DataFrame:
    """The text-repair/editing prelude as a standalone step, in
    RefinedWeb order: repair encoding damage first (everything downstream
    judges repaired text), apply C4's page-local line rules second when
    ``c4_rules`` is on (``quality.c4_line_clean`` — map-only, so it sits
    before any shuffling stage and shrinks what they shuffle), drop
    templated lines third
    (``dedup.line_dedup``), cut copied spans fourth
    (``dedup.remove_duplicate_spans``). Returns ``docs`` with
    ``text_col`` replaced and EVERY OTHER COLUMN preserved — callers that
    write an artifact afterwards (``write_kept``, the CLI) must pass the
    PREPARED frame, or the artifact would carry the unedited text the
    funnel never judged. ``curate`` routes its own prelude through this
    function, so operator-level and CLI-level composition cannot drift.

    Editing stages that shuffle (line/span dedup) persist their boundary
    frame; handles are appended to ``handles`` when given (the curate
    contract), else left cached for the session.

    ``streaming=True`` (r14, the ingest CLI): the MAP-ONLY stages
    (encoding repair, C4 line rules) compose onto a streaming frame
    unchanged; the corpus-level stages (line/substring dedup) are
    rejected — their semantics are defined over the whole corpus, and a
    per-micro-batch application would silently mean something different
    (batch-local boilerplate counts). No persist/checkpoint either
    (illegal on streams, and each micro-batch plan is small)."""
    if streaming and (
        line_dedup_min_docs is not None or substring_dedup is not None
    ):
        raise ValueError(
            "line/substring dedup are CORPUS-level stages — per-micro-"
            "batch application would change their semantics; run them "
            "through batch curate, not a stream"
        )
    own_handles: list = handles if handles is not None else []

    def _stage(df: DataFrame) -> DataFrame:
        df = df.persist()
        own_handles.append(df)
        return df

    others = [c for c in docs.columns if c != text_col]
    edited = False
    if fix_encoding:
        from pcap_converter_spark.functions.text import fix_mojibake_sql

        # SQL-string twin of fix_mojibake_t (r12): the same ~75-replace
        # chain in ONE py4j round trip instead of ~700 — this runs on
        # every fix-encoding curate/index call
        docs = docs.withColumn(
            text_col, F.expr(fix_mojibake_sql(f"`{text_col}`"))
        )
        # the repair chain is ~90 stacked replaces: downstream stages
        # reference the text column many times (stats, digests,
        # shingles), and each reference re-carries the whole chain
        # through analysis — so a fix-only prelude gets the same
        # boundary materialization as the editing stages (measured:
        # a fix-only curate(corpus_index=...) call spent ~2× the funnel
        # in re-analysis without it)
        edited = True
    if c4_rules:
        from pcap_converter_spark.operators.quality import c4_line_clean

        # column-preserving and join-free: c4_line_clean carries every
        # input column through, so replacing the text is one more
        # projection on the same map-only pass
        docs = c4_line_clean(docs, text_col=text_col).select(
            *others, F.col("clean_text").alias(text_col)
        )
        edited = True
    if line_dedup_min_docs is not None:
        cleaned = dedup.line_dedup(
            docs, min_docs=int(line_dedup_min_docs),
            id_col=id_col, text_col=text_col, handles=own_handles,
        ).select(id_col, F.col("clean_text").alias(text_col))
        docs = _stage(docs.select(*others).join(cleaned, id_col))
        edited = True
    if substring_dedup is not None:
        cleaned = dedup.remove_duplicate_spans(
            docs, min_words=int(substring_dedup),
            id_col=id_col, text_col=text_col,
        ).select(id_col, F.col("clean_text").alias(text_col))
        docs = docs.select(*others).join(cleaned, id_col)
        edited = True
    if edited:
        if streaming:
            return docs  # map-only by construction; no materialization
        if checkpoint:
            # Truncate lineage at the prelude boundary (lazy
            # localCheckpoint: materializes with the caller's FIRST
            # action, then every later plan starts from a leaf).
            # Persisting alone caches DATA but not plan depth — each of
            # curate's ~25 downstream eager actions re-analyzes the full
            # prep lineage (two Arrow stages + joins), which measured
            # 40 s of fixed driver overhead at fixture scale regardless
            # of row count. Block-store cost equals a persist.
            # TRADEOFF: localCheckpoint blocks are NOT recomputable — on
            # a cluster with executor churn (dynamic allocation, spot
            # nodes) a lost block fails the job instead of recomputing;
            # pass checkpoint=False there (curate's prelude_checkpoint /
            # the CLI's --prelude-recomputable) to keep the recomputable
            # persist (and the per-action analysis cost).
            # LIFECYCLE (ADVICE r10): checkpoint blocks have no persist
            # handle — DataFrame.unpersist() does not apply to them, so
            # they are NOT appended to ``handles``; the JVM
            # ContextCleaner frees them when the returned frame's RDD is
            # garbage-collected. Long-lived sessions composing many
            # curate() calls should drop references to returned frames
            # (del / let them go out of scope) once materialized — or
            # run checkpoint=False, whose persist handle releases
            # deterministically through ``handles``.
            docs = docs.localCheckpoint(eager=False)
        else:
            docs = _stage(docs)
    return docs


def exact_keep_flags(
    digests: DataFrame,
    id_col: str = "doc_id",
    n_salts: int | None = None,
) -> DataFrame:
    """(id, keep_exact) from an (id, ``_digest``) frame — keep the lowest
    id of each digest group, as groupBy(min) + join-back.

    The r11 window form (min OVER PARTITION BY digest) halved the
    shuffles but lost MAP-SIDE partial aggregation: a mega-duplicate
    digest group (empty pages, boilerplate-identical templates — common
    at web scale) lands as full (id, 32-byte digest) rows in ONE window
    task, a straggler/OOM hot spot AQE cannot split (ADVICE r11). The
    aggregate form combiner-collapses such groups to one row per mapper.

    The JOIN-BACK's skew story, VERIFIED rather than assumed (r12
    second pass): AQE's skew-join does NOT split this join — Spark's
    OptimizeSkewedJoin only rewrites sort-merge joins whose children
    are plain ENSURE_REQUIREMENTS shuffles, and the keepers side has
    its final aggregate between the shuffle and the join (a
    user-specified repartition is also exempt from splitting, so
    re-exchanging keepers doesn't help). tests/test_plan_audit.py pins
    this both ways: the mega-group join-back stays skew=false while a
    classic two-shuffle join splits (skew=true) under identical confs.
    The scale path for a mega-digest class is therefore EXPLICIT
    salting — ``n_salts`` routes the join-back through
    ``skew.salted_join`` (keepers, one row per digest, replicate
    n_salts ways; digests tag deterministically; exact for this inner
    equi-join), spreading the hot digest over n_salts reducers. Default
    None keeps the two-shuffle pure form: the aggregation (the OOM
    risk) is already skew-immune, and the join-back's residual skew is
    a straggler, not a correctness or memory failure.

    The premium, measured honestly (r12, 4M-row digest frame with a 30%
    mega-group, local[32], min-of-3): window 1.25 s vs this form 1.93 s
    — at local scale the window's single-task group sort is cheap and
    one shuffle beats two. The form still wins BY DESIGN at corpus
    scale: the window must materialize the whole mega-group in ONE task
    (1% empty pages at 100 TB ≈ 10⁹ rows × 40 B ≈ 40 GB — an OOM, and
    AQE cannot split a window partition), while here the aggregate
    emits one row per digest per MAPPER. Funnel-level cost is
    noise either way (SCALE_SMOKE r12 curate note: exponents and
    fixture timings indistinguishable). Plan-audited:
    tests/test_plan_audit.py pins the partial min and the absence of
    any Window node."""
    did = F.col(id_col)
    if n_salts is not None and n_salts < 1:
        # 0/negative would either silently take the unsalted path or (in
        # salted_join) match nothing and flag EVERY doc a duplicate —
        # both are silent wrong answers, so reject (ADVICE r12)
        raise ValueError(f"n_salts must be >= 1 or None, got {n_salts}")
    keepers = digests.groupBy("_digest").agg(F.min(id_col).alias("_keep_id"))
    if n_salts:
        from pcap_converter_spark.operators.skew import salted_join

        joined = salted_join(digests, keepers, ["_digest"], n_salts=n_salts)
    else:
        joined = digests.join(keepers, "_digest")
    return joined.select(
        did, (did == F.col("_keep_id")).alias("keep_exact")
    )


def curate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    languages: tuple[str, ...] | None = None,
    lang_min_evidence: int = 1,
    lang_default: str = "und",
    handles: list | None = None,
    corpus_index: str | None = None,
    index_threshold: float = 0.7,
    index_prep: str | None = None,
    substring_dedup: int | None = None,
    fix_encoding: bool = False,
    line_dedup_min_docs: int | None = None,
    c4_rules: bool = False,
    digest_normalize: str | None = None,
    exact_salts: int | None = None,
    prelude_checkpoint: bool = True,
    near_dedup: bool = True,
    embeddings: DataFrame | None = None,
    semantic_threshold: float = 0.9,
) -> DataFrame:
    """Returns one row per input document:
    (doc_id, keep_quality, keep_exact, keep_neardup, keep_decon, kept,
    pack_shard, pack_bin, pack_offset) — pack_* are NULL for dropped docs.

    A doc is ``kept`` iff it survives every stage; each ``keep_*`` flag is
    computed on the docs that reached that stage, so the flags read as a
    funnel (a quality-dropped doc has NULL downstream flags).

    Three optional tiers extend the default funnel (all off by default —
    the hash-gated driver configuration is the five-stage form):

    - ``corpus_index=path`` inserts CROSS-SNAPSHOT dedup right after the
      quality gate: docs whose digest or MinHash signature already sits
      in the at-rest index (operators/incremental.py) drop with a
      ``keep_novel`` flag before any in-snapshot shuffle touches them —
      the rolling-crawl composition. The funnel does NOT update the
      index; call ``incremental.extend_corpus_index`` on the kept docs
      once the artifact is written (so a failed run never poisons it).
      The index's recorded text-prep signature is verified up front
      against this call's prelude flags — pass ``index_prep=`` when
      ``docs`` was prepared externally (the CLI does).

    - ``substring_dedup=w`` prepends the span-EDITING pass
      (``dedup.remove_duplicate_spans``): repeated ≥w-word spans vanish
      from all but their first occurrence BEFORE the quality gate, so
      quality, digests, and shingles all judge the cleaned text (an
      exact copy edits down to nothing and exits at the quality gate
      rather than the digest stage).
    - ``languages=('en', ...)`` inserts the LANGUAGE gate in front of the
      quality rules — the CCNet/RefinedWeb first cut: docs whose
      stopword-profile guess (functions/text.language_id_t) is not in the
      target set drop with a ``keep_lang`` flag (present ONLY when the
      gate runs; ``curation_report`` adapts, funnel-first). Zero extra
      scans or shuffles: the guess rides the SAME tokenized projection
      the quality stage already builds, so the gate is a few more
      columns in one existing select. ``lang_min_evidence`` raises the
      guess's evidence bar (language_id_t: fewer total stopword hits
      than this → NULL guess); NULL guesses are treated as
      ``lang_default`` (default ``'und'``), so
      ``languages=('en','und'), lang_min_evidence=3`` keeps English plus
      anything too thin to call, while ``('en',)`` drops both bands.
      Whitespace-free scripts route through the SCRIPT tier first (r11:
      zh/ja/ko/th by script-character count, text.LANG_SCRIPTS — such
      docs have no stopword signal and previously all landed in 'und'),
      so ``languages=('zh','ja')`` works as expected.
    - ``near_dedup=False`` skips stage 3 entirely — the CCNet/C4-class
      exact-only funnel (digest dedup but no MinHash pass); the
      ``keep_neardup`` column is then absent and the report adapts.
    - ``fix_encoding=True`` prepends mojibake repair
      (``functions/text.fix_mojibake_t`` — UTF-8-as-cp1252 damage) as
      the very first projection, BEFORE any text-editing or judging
      stage: encoding damage otherwise defeats both dedup (damaged and
      clean copies of the same page hash apart) and quality signals
      (damaged pages read as high-punctuation gibberish). Zero extra
      scans — it fuses into whichever stage scans text first.
    - ``line_dedup_min_docs=n`` prepends line-level boilerplate removal
      (``dedup.line_dedup`` — the CCNet/RefinedWeb rule) after encoding
      repair and before span dedup: templated lines shared by ≥n docs
      vanish everywhere, so span dedup and every downstream judge see
      content, not navigation chrome. The RefinedWeb stage order
      (fix encoding → drop template lines → cut copied spans → judge)
      is exactly this composition with all three tiers on.
    - ``exact_salts=N`` routes the exact-dedup join-back through
      ``skew.salted_join`` (exact_keep_flags' documented scale path for
      mega-digest classes — AQE cannot split that join; see the
      helper's verified skew story). Result-identical to the default;
      runtime tuning only, so it is NOT part of the prep signature.
    - ``digest_normalize='ccnet'`` digests NORMALIZED text (lowercase,
      accent-fold, digits→0, whitespace collapse —
      functions/text.ccnet_normalize_t) in the exact-dedup stage AND the
      corpus-index probe, so trivially-reformatted copies collapse; the
      artifact text itself stays untouched (unlike the editing prelude).
      Recorded in the prep signature as ``norm=ccnet`` — an index built
      raw refuses a normalized probe and vice versa.
    - ``c4_rules=True`` inserts C4's page-local line cleaning
      (``quality.c4_line_clean`` — terminal-punctuation lines only,
      >= 5 words, no javascript, intra-page keep-first dedup,
      lorem-ipsum/'{'/min-lines page gates) between encoding repair and
      corpus-level line dedup: map-only, so it runs before anything that
      shuffles and shrinks what they shuffle. A page the gates empty
      exits at the quality stage (0 tokens), same as a span-wiped copy.
    - ``embeddings=`` (a (vec_id, embedding) frame keyed by the same
      ids as ``docs``) inserts SEMANTIC dedup between near-dup CC and
      decontamination: auto-sized k-means + within-cluster prune
      (``semdedup.semantic_dedup``), adding a ``keep_semantic`` flag
      column — present ONLY when the stage runs; ``curation_report``
      adapts. Docs without an embedding row pass the stage.

    Internally persisted boundary frames are appended to ``handles`` when
    given (unpersist after materializing the result); without ``handles``
    they stay cached for the session."""
    own_handles: list = handles if handles is not None else []

    def _stage(df: DataFrame) -> DataFrame:
        df = df.persist()
        own_handles.append(df)
        return df

    did, t = F.col(id_col), F.col(text_col)

    # probe-vs-index prep provenance check, BEFORE any work: the index
    # must have been built over identically prepared text or the digest
    # comparison is meaningless (ADVICE r9). ``index_prep`` overrides the
    # signature for callers that prepared ``docs`` externally (the CLI);
    # by default the funnel's own prelude flags describe the preparation.
    if corpus_index is not None:
        from pcap_converter_spark.operators import incremental as INC

        INC.check_prep_compatible(
            docs.sparkSession,
            corpus_index,
            index_prep
            if index_prep is not None
            else INC.prep_signature(
                fix_encoding, line_dedup_min_docs, substring_dedup,
                c4_rules=c4_rules, normalize=digest_normalize,
            ),
        )

    # optional text-repair/editing prelude (stage 0): the text every
    # later stage sees is the repaired/deduplicated text.
    # prelude_checkpoint=False keeps the recomputable persist path for
    # clusters with executor churn (ADVICE r10 — the localCheckpoint
    # default trades recomputability for plan-depth control; see
    # prepare_text); the CLI exposes it as --prelude-recomputable.
    docs = prepare_text(
        docs,
        text_col=text_col,
        id_col=id_col,
        fix_encoding=fix_encoding,
        line_dedup_min_docs=line_dedup_min_docs,
        substring_dedup=substring_dedup,
        handles=own_handles,
        checkpoint=prelude_checkpoint,
        c4_rules=c4_rules,
    )

    # stage 1: quality — ONE pure projection, no shuffle. gopher_keep
    # needs only the dup-2-gram FRACTION, which is array algebra
    # (1 − array_distinct/size over the gram array, both JVM-native),
    # not the full per-gram frequency table ``repetition_stats`` builds —
    # computing it inline deletes that helper's two shuffles and the
    # doc_id join from the funnel's critical path (and matches the
    # oracle's unrounded ``count(DISTINCT gram)/count(*)`` form exactly).
    # Tokens land in a projected column first so the gram slices reference
    # an attribute (see quality.word_ngrams' PERF note).
    toks = docs.select(did, t, TX.words(F.lower(t)).alias("_ws"))
    ws = F.col("_ws")
    grams = token_ngrams(ws, 2)
    # language gate scores are STAGED as attribute columns before the
    # CASE chain reads them: language_id_t references every score 2-3
    # times (greatest + per-profile comparisons), and inlining the
    # interpreted HOF filter per reference re-evaluated ~35 token-array
    # passes per row (measured +5.5 s on the fixture funnel; the
    # ex_text_all runner has always used this staged shape — its
    # docstring explains why CollapseProject keeps multi-referenced
    # projections separate)
    lang_hits = (
        [
            # SQL-string twin (r12): identical plan, ~80× fewer py4j
            # round trips per profile — curate builds this projection on
            # every call and the Column form dominated construction
            F.expr(TX.stopword_hits_sql("_ws", lang)).alias(f"_s_{lang}")
            for lang in TX.LANG_STOPWORDS
        ]
        + [
            # whitespace-free script tier (r11): one regex count per
            # script, checked ahead of the stopword chain — without it
            # every zh/ja/ko/th document scores 0 stopword hits and the
            # gate routes three of a crawl's largest languages to 'und'
            TX.script_hits_t(t, lang).alias(f"_sc_{lang}")
            for lang in TX.LANG_SCRIPTS
        ]
        if languages is not None
        else []
    )
    stats = toks.select(
        did,
        t,
        F.size(ws).alias("_nt"),
        mean_word_len(t).alias("_mwl"),
        TX.punct_ratio(t).alias("_pr"),
        TX.stopword_hits_t(ws, "en").alias("_sh"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(grams)) / F.size(grams)
        ).alias("dup_ngram_frac"),
        *lang_hits,
    )
    if languages is not None:
        # the best score staged as an attribute first — the CASE chain
        # references it per arm (see language_id_t's ``best`` note)
        stats = stats.withColumn(
            "_lbest",
            F.greatest(
                *[F.col(f"_s_{lang}") for lang in TX.LANG_STOPWORDS]
            ),
        ).select(
            "*",
            # the generated CASE string is language_id_t's exact plan
            # over the staged scores (one py4j round trip, r12)
            F.expr(
                TX.language_id_case_sql(
                    min_evidence=lang_min_evidence,
                    scores_fmt="_s_{}",
                    script_fmt="_sc_{}",
                    best_col="_lbest",
                )
            ).alias("_lang"),
        )
    gop = gopher_keep(
        F.col("_nt"), F.col("_mwl"), F.col("_pr"), F.col("_sh"),
        F.col("dup_ngram_frac"),
    )
    if languages is not None:
        # NULL guess (insufficient evidence under lang_min_evidence) is
        # judged as lang_default — a too-thin-to-call doc's fate is the
        # caller's policy, never a silent NULL-propagating drop
        keep_lang = F.coalesce(
            F.col("_lang"), F.lit(lang_default)
        ).isin(list(languages))
        # funnel convention: a lang-dropped doc has NULL downstream flags
        q_flags = [keep_lang.alias("keep_lang"),
                   F.when(keep_lang, gop).alias("keep_quality")]
    else:
        q_flags = [gop.alias("keep_quality")]
    # the funnel frame: one row per input doc, rooted at the persisted
    # quality boundary; every later stage left-joins its verdict here once
    funnel = _stage(stats.select(
        did, t, *q_flags, F.col("_nt").alias("_tokens")
    ))
    cols = [c for c in funnel.columns if c.startswith("keep_")]

    def _all() -> Column:
        return reduce(and_, map(F.col, cols))

    def _passed() -> DataFrame:
        """The docs that reached the next stage: every flag so far True."""
        return funnel.filter(_all())

    def _join(verdict: DataFrame) -> None:
        """Persist a stage's (id, keep_*) verdict and join it onto the
        funnel; docs that never reached the stage read NULL."""
        nonlocal funnel
        verdict = _stage(verdict)
        funnel = funnel.join(verdict, id_col, "left")
        cols.append(verdict.columns[1])

    # stage 1b (optional): cross-snapshot dedup — probe the at-rest corpus
    # index (operators/incremental.py) so docs already ingested by earlier
    # snapshots drop BEFORE any in-snapshot shuffle work; runs after the
    # quality gate (pure projection, shrinks the probe) and before exact
    # dedup (no point digest-grouping rows the corpus already holds)
    if corpus_index is not None:
        verdict_n = INC.flag_against_index(
            _passed().select(did, t),
            corpus_index,
            text_col=text_col,
            id_col=id_col,
            threshold=index_threshold,
            handles=own_handles,
            normalize=digest_normalize,
        )
        _join(verdict_n.select(
            did,
            (
                ~(
                    F.col("dup_exact")
                    | F.coalesce(F.col("dup_near"), F.lit(False))
                )
            ).alias("keep_novel"),
        ))

    # stage 2: exact dedup — keep the lowest id of each digest group
    # (exact_keep_flags: groupBy+combiner+join-back, the skew-immune
    # shape; rationale and measurements on the helper's docstring).
    # digest_normalize applies HERE too: the in-snapshot digests must
    # group the same reformatted copies the index probe catches, or a
    # snapshot-internal case/accent refetch pair would slip the funnel
    # the index-side normalization was turned on to stop.
    _dt = t
    if digest_normalize not in (None, "none"):
        if digest_normalize != "ccnet":
            raise ValueError(
                f"unknown digest normalization {digest_normalize!r} "
                "(supported: ccnet)"
            )
        _dt = TX.ccnet_normalize_t(t)
    digests = _passed().select(
        did, F.sha2(_dt.cast("binary"), 256).alias("_digest")
    )
    _join(exact_keep_flags(digests, id_col=id_col, n_salts=exact_salts))

    # stage 3: near dedup — shingle-Jaccard pairs on the survivors, CC
    # keep-lowest-id.
    # ``near_dedup=False`` skips the stage entirely (the CCNet/C4-class
    # exact-only funnel — many production pipelines stop at digests);
    # like the other optional stages its flag column is then ABSENT and
    # curation_report adapts.
    if near_dedup:
        reached = _passed()
        pairs = dedup.ngram_jaccard_pairs(
            reached,
            text_col=text_col,
            id_col=id_col,
            max_shingle_df=8,
            handles=own_handles,
        )
        groups = dedup.duplicate_groups(pairs, reached, id_col=id_col,
                                        handles=own_handles)
        _join(groups.select(
            F.col("doc").alias(id_col),
            (F.col("doc") == F.col("root")).alias("keep_neardup"),
        ))

    # stage 3b (optional): semantic dedup over the near-dup survivors —
    # only surviving ids join their embeddings (the corpus text never
    # touches this stage), auto-sized k keeps the within-cluster
    # quadratic linear-total
    if embeddings is not None:
        from pcap_converter_spark.operators import semdedup as SD

        reached = _passed().select(did)
        # persisted: semantic_dedup drives several eager actions over its
        # input (count, dim probe, one collect per Lloyd iteration, the
        # prune) — unpersisted, each would re-run the join + assignment
        surv_vecs = _stage(
            embeddings.select(
                F.col("vec_id").alias(id_col), F.col("embedding")
            ).join(reached, id_col)
        )
        verdict = SD.semantic_dedup(
            surv_vecs, threshold=semantic_threshold, id_col=id_col,
        ).select(id_col, (~F.col("is_dup")).alias("_sem_keep"))
        _join(reached.join(verdict, id_col, "left").select(
            did,
            F.coalesce(F.col("_sem_keep"), F.lit(True)).alias("keep_semantic"),
        ))

    # stage 4: decontamination — drop docs overlapping the benchmark
    if benchmark is not None:
        reached = _passed()
        leaked = (
            dedup.decontaminate(
                reached, benchmark, text_col=text_col, id_col=id_col
            )
            .select(F.explode("doc_ids").alias(id_col))
            .distinct()
            .withColumn("_leaked", F.lit(True))
        )
        _join(reached.select(did).join(leaked, id_col, "left").select(
            did, F.coalesce(~F.col("_leaked"), F.lit(True)).alias("keep_decon")
        ))
    else:
        funnel = funnel.withColumn("keep_decon", F.when(_all(), True))
        cols.append("keep_decon")

    # stage 5: packing positions over the survivors
    packed = pack_documents(_passed(), "_tokens", id_col=id_col)
    return funnel.join(packed, id_col, "left").select(
        did,
        *cols,
        F.coalesce(_all(), F.lit(False)).alias("kept"),
        "pack_shard",
        "pack_bin",
        "pack_offset",
    )


def curation_report(flags: DataFrame, sort: bool = True) -> DataFrame:
    """Per-stage funnel summary from ``curate()``'s flags, as ONE
    aggregation (the flags were designed for exactly this): a row per stage
    with (stage, n_entered, n_kept, n_dropped). Each stage's ``n_entered``
    is the previous stage's ``n_kept`` — funnel flags are NULL downstream
    of a drop, so summing the booleans counts exactly the docs that reached
    the stage and survived it. The final 'kept' row restates the end-to-end
    survivor count (n_entered == n_kept by construction — a consistency
    proof, not new information).

    NOTE: rows are ordered ALPHABETICALLY by stage name (a hash-pinned
    driver-contract shape — both engines sort identically), not in
    funnel order; read the chain through the n_entered == previous
    n_kept linkage, or re-sort by pipeline position for display."""
    # stage chain assembled from whichever optional flags are present
    # (novel sits after quality, semantic between neardup and decon);
    # each stage's n_entered is the predecessor's n_kept — funnel flags
    # are NULL downstream of a drop, so summing the booleans counts
    # exactly the docs that reached the stage and survived it (optional
    # stages pass docs the stage could not judge — e.g. a missing
    # embedding row — as True: they entered and survived)
    present = flags.columns
    chain = [("quality", "keep_quality")]
    if "keep_lang" in present:
        chain.insert(0, ("lang", "keep_lang"))
    if "keep_novel" in present:
        chain.append(("novel", "keep_novel"))
    chain.append(("exact", "keep_exact"))
    if "keep_neardup" in present:  # absent under near_dedup=False
        chain.append(("neardup", "keep_neardup"))
    if "keep_semantic" in present:
        chain.append(("semantic", "keep_semantic"))
    chain.append(("decon", "keep_decon"))
    aggs = [F.count(F.lit(1)).alias("n_in")] + [
        F.coalesce(F.sum(F.col(col).cast("long")), F.lit(0)).alias(f"s{i}")
        for i, (_, col) in enumerate(chain)
    ] + [F.coalesce(F.sum(F.col("kept").cast("long")), F.lit(0)).alias("k")]
    a = flags.agg(*aggs)
    prev = "n_in"
    entries = []
    for i, (stage, _) in enumerate(chain):
        entries.append(f" '{stage}', {prev}, s{i}")
        prev = f"s{i}"
    entries.append(f" 'kept', {prev}, k")
    stack = (
        f"stack({len(entries)},"
        + ",".join(entries)
        + ") AS (stage, n_entered, n_kept)"
    )
    out = a.selectExpr(stack).withColumn(
        "n_dropped", F.col("n_entered") - F.col("n_kept")
    )
    # sort=False skips the presentation sort: its range-sampling job
    # re-runs the aggregation subtree (order-insensitive consumers —
    # the hash-gated entries — don't need it; the CLI keeps the default).
    return out.orderBy("stage") if sort else out


def write_kept(
    flags: DataFrame,
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the artifact a training job consumes: the kept documents
    with their packing positions, written as Parquet partitioned by
    ``pack_shard``. A downstream loader reads one shard directory per
    data-parallel worker and orders by (pack_bin, pack_offset) — directory
    layout IS the shard assignment, so no further shuffle is needed at
    train time. Returns the written frame re-read from ``path``."""
    kept = flags.filter("kept").select(
        id_col, "pack_shard", "pack_bin", "pack_offset"
    )
    out = docs.join(kept, id_col)
    out.write.mode("overwrite").partitionBy("pack_shard").parquet(path)
    # an all-dropped snapshot (everything deduped/gated away) writes an
    # artifact with no data files, which has no inferable schema — read
    # it back under the writer's own schema so the empty case round-trips
    # instead of crashing the caller (ADVICE r11 regression test)
    return docs.sparkSession.read.schema(out.schema).parquet(path)
