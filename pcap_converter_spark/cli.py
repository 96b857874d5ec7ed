"""Command-line entry point — the reference CLI, Spark-edition.

Mirrors /root/reference/src/main.rs:22-43 (`pcap-converter -f in.pcap -o
out.parquet [-n] [-j N] [-v]`)::

    python -m pcap_converter_spark -f in.pcap -o out.parquet
    python -m pcap_converter_spark -f 'captures/*.pcap' -o out.parquet -j 16 -n

Corpus subcommands (the LLM-data pipeline face; the bare form above stays
reference-compatible)::

    python -m pcap_converter_spark curate --input 'seg-*.warc.gz' \
        --format warc --out artifact/ [--benchmark eval.parquet] \
        [--index idx/ [--update-index]]
    python -m pcap_converter_spark index --input dump.jsonl.gz \
        --format jsonl --out idx/ [--append] [--exact-only]
    python -m pcap_converter_spark profile --input 'seg-*.warc.gz' \
        --format warc [--by src_col] [--exact-only] [--out prof/]
    python -m pcap_converter_spark pack --input artifact/ \
        --format parquet --out shards/ [--seq-len 2048] [--shards 16]
    python -m pcap_converter_spark mix --source crawl=a/ --source books=b/ \
        {--rate crawl=0.25 | --temperature 0.7 [--weight-col n_tokens]} \
        --out mixed/

Differences from the reference, by design:
- `-f` accepts globs / multiple files (the corpus case the reference lacks).
- `-j` sizes local-mode cores; under spark-submit the cluster master wins.
- `--single-file` coalesces output to one parquet part (D5 parity; default
  is N part-files, which downstream DuckDB/Spark read identically via glob).
"""

from __future__ import annotations

import argparse
import glob
import sys
import time


def _load_corpus(spark, fmt: str, paths: list[str],
                 html_extract: str = "text"):
    """Documents frame (doc_id, url?, text) from any acquisition format.
    ``html_extract`` applies to the warc format only: 'text' = the full
    HTML→text chain, 'main' = block-level main-content extraction
    (nav/footer/sidebar/link-farm pruning — the jusText-class stage a
    crawl pipeline runs between raw responses and curation)."""
    if fmt == "parquet":
        return spark.read.parquet(*paths)
    if fmt == "jsonl":
        from pcap_converter_spark.sources.jsonl import read_jsonl_docs

        return read_jsonl_docs(spark, paths)
    if fmt in ("warc", "wet"):
        from pcap_converter_spark.sources.warc import (
            conversions_as_documents,
            read_warc,
            warc_documents,
        )

        if fmt == "wet":
            return conversions_as_documents(read_warc(spark, paths))
        # the fused reader IS the production front door (charset decode
        # + extraction inside the source's Arrow batch; byte-identical
        # to responses_as_documents(read_warc(...)) by test + hash gate)
        return warc_documents(
            spark, paths,
            extract_text="main" if html_extract == "main" else True,
        )
    raise SystemExit(f"error: unknown --format {fmt!r}")


def _corpus_args(ap: argparse.ArgumentParser) -> None:
    ap.add_argument("--input", required=True, nargs="+",
                    help="corpus path(s); globs allowed")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "jsonl", "warc", "wet"])
    ap.add_argument("-j", type=int, default=None, metavar="N",
                    help="local-mode parallelism (default: all cores)")
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--html-extract", default="text",
                    choices=["text", "main"],
                    help="warc format only: 'text' = full HTML->text; "
                         "'main' = block-level main-content extraction "
                         "(nav/footer/sidebar/link-farm pruning)")


def _prep_args(ap: argparse.ArgumentParser) -> None:
    """Text-repair/editing prelude flags, shared by `curate` AND `index`:
    an index probed by a prep-enabled curate run must be built over
    IDENTICALLY prepared text, or the two sides chunk/digest different
    bytes and cross-snapshot dedup silently misses."""
    ap.add_argument("--fix-encoding", action="store_true",
                    help="repair UTF-8-as-cp1252 mojibake before any stage")
    ap.add_argument("--normalize-digests", default=None,
                    choices=["ccnet"],
                    help="digest NORMALIZED text in dedup/index probes "
                         "(ccnet: lowercase, accent-fold, digits to 0, "
                         "whitespace collapse) so reformatted copies "
                         "collapse; artifact text stays untouched")
    ap.add_argument("--c4-clean", action="store_true",
                    help="apply C4's page-local line rules (terminal "
                         "punctuation, >= 5 words, no javascript, "
                         "keep-first line dedup, lorem-ipsum/brace page "
                         "gates) after encoding repair")
    ap.add_argument("--line-dedup", type=int, default=None, metavar="N",
                    help="drop lines shared by >= N distinct docs "
                         "(boilerplate) before the funnel")
    ap.add_argument("--substring-dedup", type=int, default=None,
                    metavar="W",
                    help="remove repeated >= W-word spans (keep first "
                         "occurrence) before the funnel")
    ap.add_argument("--exact-salts", type=int, default=None, metavar="N",
                    help="salt the exact-dedup join-back N ways "
                         "(result-identical; for corpora with a "
                         "mega-duplicate digest class, e.g. empty "
                         "pages, where AQE cannot split the join)")
    ap.add_argument("--prelude-recomputable", action="store_true",
                    help="keep the prep output as a recomputable persist "
                         "instead of the default localCheckpoint: slower "
                         "driver-side per action, but an executor loss "
                         "(dynamic allocation, spot nodes) recomputes "
                         "instead of failing the job")


def _validate_prep(args) -> None:
    if args.line_dedup is not None and args.line_dedup < 2:
        raise SystemExit(
            "error: --line-dedup must be >= 2 (below 2 removes every "
            "non-blank line)"
        )
    if args.substring_dedup is not None and args.substring_dedup < 2:
        raise SystemExit(
            "error: --substring-dedup must be >= 2 (a 1-word 'span' "
            "removes every repeated word)"
        )
    exact_salts = getattr(args, "exact_salts", None)
    if exact_salts is not None and exact_salts < 1:
        raise SystemExit(
            "error: --exact-salts must be >= 1 (with an empty salt range "
            "the join-back matches nothing, every doc fails keep_exact, "
            "and the run would write an empty artifact with exit 0)"
        )


def _prep_enabled(args) -> bool:
    return bool(
        args.fix_encoding
        or args.c4_clean
        or args.normalize_digests
        or args.line_dedup is not None
        or args.substring_dedup is not None
    )


def _prep_sig(args) -> str:
    from pcap_converter_spark.operators.incremental import prep_signature

    return prep_signature(
        args.fix_encoding, args.line_dedup, args.substring_dedup,
        html_extract=getattr(args, "html_extract", "text"),
        c4_rules=args.c4_clean,
        normalize=args.normalize_digests,
    )


def _reconcile_prep(spark, args, index_path: str) -> str:
    """Compare the CLI prep flags to the index's recorded prep signature
    (ADVICE r9: a mismatched invocation silently digests different bytes
    and cross-snapshot dedup misses with no warning). No flags given →
    ADOPT the index's recorded values; conflicting flags → error. Returns
    the effective signature. Indexes from before the signature existed
    record nothing and pass unchecked."""
    from pcap_converter_spark.operators import incremental as inc

    mine = _prep_sig(args)
    recorded = inc.read_index_meta(spark, index_path).get("prep")
    if recorded is None or recorded == mine:
        return mine
    if not _prep_enabled(args) and args.html_extract == "text":
        vals = inc.parse_prep_signature(recorded)
        args.fix_encoding = vals["fix_encoding"]
        args.c4_clean = vals["c4_rules"]
        args.normalize_digests = vals["normalize"]
        args.line_dedup = vals["line_dedup_min_docs"]
        args.substring_dedup = vals["substring_dedup"]
        args.html_extract = vals["html_extract"]
        print(
            f"note: adopting the index's text-prep flags ({recorded})",
            file=sys.stderr,
        )
        return recorded
    raise SystemExit(
        f"error: index at {index_path} was built with text prep "
        f"'{recorded}' but this invocation specifies '{mine}' — the two "
        "sides would digest different bytes and dedup would silently "
        "miss; pass matching flags (or none, to adopt the index's) or "
        "rebuild the index"
    )


def _apply_prep(docs, args, handles: list):
    if not _prep_enabled(args):
        return docs
    from pcap_converter_spark.operators.pipeline import prepare_text

    return prepare_text(
        docs,
        fix_encoding=args.fix_encoding,
        line_dedup_min_docs=args.line_dedup,
        substring_dedup=args.substring_dedup,
        handles=handles,
        checkpoint=not args.prelude_recomputable,
        c4_rules=args.c4_clean,
    )


def _parse_languages(raw: str | None) -> tuple[str, ...] | None:
    """Split/strip/validate --languages (ADVICE r9: 'en, de' left ' de'
    unmatched and an unknown code silently dropped every doc of that
    language — the gate compares against stopword-profile guesses, so
    only known profile codes and 'und' can ever match)."""
    if raw is None:
        return None
    from pcap_converter_spark.functions.text import (
        LANG_SCRIPTS,
        LANG_STOPWORDS,
    )

    known = set(LANG_STOPWORDS) | set(LANG_SCRIPTS) | {"und"}
    langs = tuple(x.strip() for x in raw.split(",") if x.strip())
    if not langs:
        raise SystemExit("error: --languages is empty")
    bad = [x for x in langs if x not in known]
    if bad:
        raise SystemExit(
            f"error: unknown language code(s) {', '.join(map(repr, bad))} "
            f"in --languages; known: {', '.join(sorted(known))}"
        )
    return langs


def _validate_lang_default(code: str) -> None:
    """--lang-default is ONE code consumed verbatim by the gate's
    coalesce — validate it as such (the comma-list parser would accept
    'en,de' or ' en', which can never match and would silently drop the
    whole below-evidence band; review-caught)."""
    from pcap_converter_spark.functions.text import (
        LANG_SCRIPTS,
        LANG_STOPWORDS,
    )

    if code not in set(LANG_STOPWORDS) | set(LANG_SCRIPTS) | {"und"}:
        raise SystemExit(
            f"error: --lang-default {code!r} is not a single known "
            "language code (one profile code or 'und')"
        )


def _expand(patterns: list[str]) -> list[str]:
    paths: list[str] = []
    for pat in patterns:
        hits = sorted(glob.glob(pat))
        if not hits:
            raise SystemExit(f"error: no files match {pat!r}")
        paths.extend(hits)
    return paths


def _spark_for(args):
    from pcap_converter_spark.session import get_spark

    master = f"local[{args.j}]" if args.j else None
    spark = get_spark("pcap-converter", master=master)
    if not args.verbose:
        spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cmd_curate(argv: list[str]) -> int:
    """curate: acquisition file(s) → curation funnel → packed training
    artifact (+ funnel report), optionally probing/rolling the at-rest
    corpus index — the whole pipeline as one shell command."""
    ap = argparse.ArgumentParser(prog="pcap-converter-spark curate")
    _corpus_args(ap)
    ap.add_argument("--out", required=True,
                    help="output dir for the pack_shard-partitioned artifact")
    ap.add_argument("--benchmark", default=None,
                    help="parquet of held-out eval docs to decontaminate against")
    ap.add_argument("--index", default=None,
                    help="at-rest corpus index: drop docs earlier snapshots hold")
    ap.add_argument("--update-index", action="store_true",
                    help="append the kept docs' keys to --index afterwards")
    _prep_args(ap)
    ap.add_argument("--languages", default=None, metavar="L1,L2",
                    help="keep only docs whose stopword-profile language "
                         "guess is in this comma-separated set (e.g. en,de)")
    ap.add_argument("--lang-min-evidence", type=int, default=1, metavar="N",
                    help="language guesses need >= N stopword hits; docs "
                         "below the bar guess NULL and are judged as "
                         "--lang-default (default 1 = classic behavior)")
    ap.add_argument("--lang-default", default="und", metavar="CODE",
                    help="language assigned to below-evidence docs before "
                         "the gate (default 'und'; e.g. pass 'en' to keep "
                         "thin docs when filtering for en)")
    args = ap.parse_args(argv)
    if args.update_index and not args.index:
        raise SystemExit("error: --update-index requires --index")
    _validate_prep(args)
    # pure argument checks belong BEFORE any Spark work: a bad flag must
    # not first run the eager prep jobs (and leak their persists on the
    # SystemExit path — review-caught ordering bug)
    languages = _parse_languages(args.languages)
    if args.lang_min_evidence < 1:
        raise SystemExit("error: --lang-min-evidence must be >= 1")
    _validate_lang_default(args.lang_default)

    from pcap_converter_spark.operators.pipeline import (
        curate,
        curation_report,
        write_kept,
    )

    spark = _spark_for(args)
    # reconcile prep flags against the index's recorded signature BEFORE
    # loading the corpus: adoption may change html_extract, which applies
    # at corpus-LOAD time, not in prepare_text — reconciling after the
    # load would record the adopted signature while the corpus was
    # extracted the other way, silently digesting different bytes than
    # the index (the exact miss the signature exists to prevent)
    prep_sig = (
        _reconcile_prep(spark, args, args.index)
        if args.index
        else _prep_sig(args)
    )
    docs = _load_corpus(spark, args.format, _expand(args.input),
                        html_extract=args.html_extract)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    handles: list = []
    # prepare OUTSIDE curate so the artifact written below carries the
    # repaired/edited text the funnel judged, not the raw input
    docs = _apply_prep(docs, args, handles)
    flags = curate(
        docs, bench, corpus_index=args.index, handles=handles,
        index_prep=prep_sig,
        digest_normalize=args.normalize_digests,
        exact_salts=args.exact_salts,
        languages=languages,
        lang_min_evidence=args.lang_min_evidence,
        lang_default=args.lang_default,
    )
    flags = flags.localCheckpoint(eager=True)
    # handles (the prep + funnel boundary caches) stay persisted through
    # EVERY consumer of `docs` — the artifact write and the index
    # extension both read the PREPARED text, and releasing before them
    # would re-run the line/span dedup lineage per consumer (an extra
    # eager checkpoint of docs here would avoid that too, but costs a
    # second copy of the corpus in block storage for no benefit)
    kept = write_kept(flags, docs, args.out)
    for r in curation_report(flags).collect():
        print(f"{r['stage']:>9}: {r['n_entered']:>8} -> {r['n_kept']:>8} "
              f"(dropped {r['n_dropped']})", file=sys.stderr)
    if args.update_index:
        from pcap_converter_spark.operators.incremental import (
            extend_corpus_index,
        )

        extend_corpus_index(
            docs.join(kept.select("doc_id"), "doc_id"), args.index,
            prep=prep_sig,
            normalize=args.normalize_digests,
        )
    for h in handles:
        h.unpersist()
    print(f"Wrote {args.out}: {kept.count()} kept documents", file=sys.stderr)
    return 0


def _cmd_index(argv: list[str]) -> int:
    """index: build or extend the at-rest incremental-dedup corpus index
    from any acquisition format."""
    ap = argparse.ArgumentParser(prog="pcap-converter-spark index")
    _corpus_args(ap)
    ap.add_argument("--out", required=True, help="index directory")
    ap.add_argument("--append", action="store_true",
                    help="extend an existing index (params come from its meta)")
    ap.add_argument("--exact-only", action="store_true",
                    help="digest tier only (no MinHash signatures/bands)")
    _prep_args(ap)
    args = ap.parse_args(argv)
    _validate_prep(args)

    from pcap_converter_spark.operators import incremental as inc

    spark = _spark_for(args)
    # same prep flags as `curate` (see _prep_args): an index probed by a
    # prep-enabled curate run must be built over identically prepared
    # text, or the two sides digest different bytes and miss dups. On
    # --append the flags reconcile against the meta's recorded signature
    # (adopt when none given, error on conflict) BEFORE loading — the
    # adopted html_extract applies at corpus-load time.
    if args.append:
        prep_sig = _reconcile_prep(spark, args, args.out)
    docs = _load_corpus(spark, args.format, _expand(args.input),
                        html_extract=args.html_extract)
    handles: list = []
    docs = _apply_prep(docs, args, handles)
    if args.append:
        inc.extend_corpus_index(
            docs, args.out, prep=prep_sig,
            normalize=args.normalize_digests,
        )
    else:
        inc.write_corpus_index(
            docs, args.out,
            tiers=("exact",) if args.exact_only else ("exact", "near"),
            prep=_prep_sig(args),
            normalize=args.normalize_digests,
        )
    for h in handles:  # index files are written; drop prep caches
        h.unpersist()
    root = inc.resolve_index_root(spark, args.out)
    n = spark.read.parquet(f"{root}/exact").count()
    print(f"Index at {args.out}: {n} digest rows", file=sys.stderr)
    return 0


def _cmd_compact(argv: list[str]) -> int:
    """compact: rewrite the corpus index's accumulated small files into
    a new generation committed by an atomic manifest (any Hadoop
    filesystem, no rename window)."""
    ap = argparse.ArgumentParser(prog="pcap-converter-spark compact")
    ap.add_argument("--index", help="corpus index directory")
    ap.add_argument("--ann", metavar="DIR", default=None,
                    help="an IVF/IVF-PQ at-rest index directory instead "
                         "of a corpus index (r13): same generation + "
                         "manifest protocol over the cluster partitions")
    ap.add_argument("--files-per-table", type=int, default=None,
                    help="--index only: files per table after compaction "
                         "(default 32)")
    ap.add_argument("--files-per-cluster", type=int, default=None,
                    help="--ann only: files per cluster directory after "
                         "compaction (default 1)")
    ap.add_argument("--vacuum", action="store_true",
                    help="drop superseded generations once readers drained")
    ap.add_argument("-j", type=int, default=None, metavar="N",
                    help="local worker threads (default: all cores)")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args(argv)
    if bool(args.index) == bool(args.ann):
        ap.error("exactly one of --index / --ann is required")
    # reject the layout-mismatched file-count flag instead of silently
    # ignoring it and compacting with the other layout's default
    # (r13 review)
    if args.ann and args.files_per_table is not None:
        ap.error("--files-per-table applies to --index; "
                 "use --files-per-cluster with --ann")
    if args.index and args.files_per_cluster is not None:
        ap.error("--files-per-cluster applies to --ann; "
                 "use --files-per-table with --index")
    if args.files_per_table is None:
        args.files_per_table = 32
    if args.files_per_cluster is None:
        args.files_per_cluster = 1

    spark = _spark_for(args)
    if args.ann:
        from pcap_converter_spark.operators import similarity as sim

        sim.compact_ann_index_safe(
            spark, args.ann, files_per_cluster=args.files_per_cluster
        )
        if args.vacuum:
            sim.vacuum_ann_index(spark, args.ann)
        root = sim.resolve_ann_root(spark, args.ann)
        n = spark.read.parquet(root).count()
        print(f"Compacted {args.ann} (live root {root}): {n} vectors",
              file=sys.stderr)
        return 0

    from pcap_converter_spark.operators import incremental as inc

    inc.compact_corpus_index_safe(
        spark, args.index, files_per_table=args.files_per_table
    )
    if args.vacuum:
        inc.vacuum_corpus_index(spark, args.index)
    root = inc.resolve_index_root(spark, args.index)
    n = spark.read.parquet(f"{root}/exact").count()
    print(f"Compacted {args.index} (live root {root}): {n} digest rows",
          file=sys.stderr)
    return 0


def _cmd_ingest(argv: list[str]) -> int:
    """ingest: the continuous-acquisition front door (r14). Watch a
    directory for new document files, dedup each micro-batch against the
    at-rest corpus index (streaming/ingest.dedup_ingest_hook: probe →
    in-batch exact dedup → sink → index append), append the survivors to
    a parquet artifact, and exit when caught up (availableNow — cron it).
    A doc arriving today is deduplicated against every earlier drain AND
    every batch-built snapshot sharing the index.

    Prep: only the MAP-ONLY stages compose onto a stream (encoding
    repair, C4 line rules, digest normalization); an index whose
    recorded prep includes the corpus-level stages (line/substring
    dedup) cannot be streamed against — run batch `curate`. With no prep
    flags the recorded map-only prep is ADOPTed through
    `_reconcile_prep`."""
    import json as _json

    ap = argparse.ArgumentParser(prog="pcap-converter-spark ingest")
    ap.add_argument("--input", required=True,
                    help="directory watched for new document files")
    ap.add_argument("--format", default="jsonl",
                    choices=["jsonl", "parquet"],
                    help="document file format (WARC drops go through "
                         "batch `curate` — the stream face carries raw "
                         "records, not documents)")
    ap.add_argument("--index", required=True,
                    help="at-rest corpus index (write_corpus_index / "
                         "`index` subcommand), or the path to create "
                         "with --bootstrap")
    ap.add_argument("--out", required=True,
                    help="survivors parquet directory (append)")
    ap.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (default "
                         "{out}/_ingest_checkpoint — keep it stable "
                         "across cron runs for exactly-once drains)")
    ap.add_argument("--threshold", type=float, default=0.7,
                    help="near-dup Jaccard threshold for the index "
                         "probe (default 0.7)")
    ap.add_argument("--quarantine", action="store_true",
                    help="parquet mode: move unreadable or "
                         "schema-drifted drop files into "
                         "{input}/_quarantine/ (invisible to the "
                         "stream) and drain the rest, instead of "
                         "aborting — the cron-robust default for "
                         "unattended drains")
    ap.add_argument("--expect-schema", default=None,
                    metavar="FILE.parquet",
                    help="parquet mode: pin the pre-flight reference "
                         "schema to this exemplar file and record it as "
                         "the drain's durable anchor — the explicit "
                         "migration path (without it, the anchor "
                         "recorded on the first drain wins, and a "
                         "majority vote over the directory only when "
                         "neither exists)")
    ap.add_argument("--max-files-per-trigger", type=int, default=None,
                    metavar="N",
                    help="bound each micro-batch to N newly arrived "
                         "files (r15): without it an availableNow drain "
                         "plans the WHOLE backlog as one batch — "
                         "unbounded batch memory after an outage or on "
                         "the first drain of a large drop directory; "
                         "with it the drain still consumes everything, "
                         "committing in bounded batches")
    ap.add_argument("--no-update", action="store_true",
                    help="probe only: survivors are delivered but their "
                         "keys are NOT appended to the index")
    ap.add_argument("--bootstrap", action="store_true",
                    help="create the index from the first batch when "
                         "absent (records THIS invocation's prep flags "
                         "as the new index's contract)")
    ap.add_argument("--fix-encoding", action="store_true",
                    help="repair UTF-8-as-cp1252 mojibake (map-only)")
    ap.add_argument("--c4-clean", action="store_true",
                    help="C4 page-local line rules (map-only)")
    ap.add_argument("--normalize-digests", default=None,
                    choices=["ccnet"],
                    help="digest normalized text in probe/append")
    ap.add_argument("-j", type=int, default=None, metavar="N")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args(argv)

    if args.bootstrap and args.no_update:
        raise SystemExit(
            "error: --bootstrap with --no-update is contradictory — "
            "bootstrapping CREATES the index from the first batch, "
            "which is an index update"
        )
    if args.expect_schema and args.format != "parquet":
        raise SystemExit(
            "error: --expect-schema applies to the parquet pre-flight "
            "only (jsonl streams carry a fixed line schema)"
        )
    spark = _spark_for(args)
    from pcap_converter_spark.operators import incremental as inc
    from pcap_converter_spark.operators.pipeline import prepare_text
    from pcap_converter_spark.streaming.ingest import run_dedup_ingest

    exists = inc.corpus_index_exists(spark, args.index)
    if not exists and not args.bootstrap:
        raise SystemExit(
            f"error: no corpus index at {args.index} — build one first "
            "(`index` subcommand) or pass --bootstrap to create it from "
            "the first batch"
        )

    # ingest has no corpus-level or extraction flags; _reconcile_prep
    # may adopt them from the index's recorded signature
    args.line_dedup = args.substring_dedup = None
    args.html_extract = "text"
    if exists:
        # adopts the recorded signature verbatim (it may carry fields the
        # stream cannot re-derive, e.g. hx=main from a WARC-built index),
        # and rejects explicit flags that contradict it PRE-FLIGHT, before
        # the sink delivers anything
        prep_sig = _reconcile_prep(spark, args, args.index)
        if args.line_dedup or args.substring_dedup:
            raise SystemExit(
                f"error: index at {args.index} records corpus-level "
                f"prep ({prep_sig}) — line/substring dedup cannot be "
                "applied per micro-batch without changing their "
                "semantics; ingest this corpus through batch "
                "`curate` instead"
            )
    else:
        prep_sig = _prep_sig(args)

    if args.format == "jsonl":
        from pcap_converter_spark.sources.jsonl import read_jsonl_docs_stream

        stream = read_jsonl_docs_stream(
            spark, args.input,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        # text IS NOT NULL alongside the corrupt gate (r14 review): a
        # VALID JSON line missing the text key parses clean (errors=0)
        # with NULL text, whose NULL digest never equi-join-matches the
        # index — it would re-survive and re-append on EVERY drain
        stream = stream.filter(
            "errors = 0 AND text IS NOT NULL"
        ).drop("errors")
    else:
        import glob as _glob

        sample = sorted(_glob.glob(f"{args.input}/*.parquet")) or sorted(
            _glob.glob(f"{args.input}/*")
        )
        if not sample:
            raise SystemExit(
                f"error: {args.input} holds no files yet — the parquet "
                "stream needs at least one file to pin the schema"
            )
        # mixed-schema guard (VERDICT r14 #4): the stream pins ONE schema
        # for the whole drain, and Spark's schema-pinned parquet source
        # silently NULL-fills columns a drifted file lacks — for a dedup
        # ingest that nulls `text` and the hook's null-gate would then
        # silently drop the file's every row. Pre-flight the footers
        # (driver-side metadata reads, O(|files|), no data I/O) and make
        # drift a named error instead. Files landing between cron runs
        # are checked by the NEXT run's pre-flight before they stream.
        import os as _os
        from collections import Counter as _Counter

        import pyarrow.parquet as _papq

        schemas: dict[str, dict] = {}
        bad: dict[str, str] = {}
        for f in sample:
            if not _os.path.isfile(f):
                continue
            # Spark's parquet reader ignores _- and .-prefixed files
            # (_SUCCESS, _metadata, .crc) — the pre-flight must not be
            # stricter than the reader it protects (r15 review: a marker
            # file aborted a healthy extension-less drop directory)
            if _os.path.basename(f).startswith(("_", ".")):
                continue
            try:
                sch = _papq.read_schema(f)
            except Exception as exc:
                bad[f] = f"not readable parquet ({exc})"
                continue
            schemas[f] = {n: str(t) for n, t in zip(sch.names, sch.types)}
        # Reference-schema ladder (ADVICE r15 + VERDICT r15 #5). The
        # per-run MAJORITY vote is only the LAST resort: on an unattended
        # cron with --quarantine, a burst of drifted files would flip the
        # majority — the healthy original-schema files (possibly not yet
        # drained) get quarantined and the drift gets pinned. So:
        #   1. --expect-schema FILE — explicit operator intent (the
        #      migration path); becomes the new durable anchor.
        #   2. The anchor recorded beside the checkpoint by an earlier
        #      drain — the schema this drain has been ingesting all
        #      along, immune to directory composition.
        #   3. Majority over the directory (ties break to the
        #      sorted-first file), recorded as the anchor once the
        #      pre-flight SUCCEEDS — never when it aborts, so a
        #      drifted-burst abort cannot poison future runs.
        ckpt = args.checkpoint or f"{args.out}/_ingest_checkpoint"
        anchor = ckpt.rstrip("/") + "_ref_schema.json"
        ref_fields = None
        ref_src = "directory majority"
        if args.expect_schema:
            try:
                sch = _papq.read_schema(args.expect_schema)
            except Exception as exc:
                raise SystemExit(
                    f"error: --expect-schema {args.expect_schema} is "
                    f"not readable parquet ({exc})"
                )
            ref_fields = {n: str(t) for n, t in zip(sch.names, sch.types)}
            ref_src = f"--expect-schema {args.expect_schema}"
        elif _os.path.exists(anchor):
            with open(anchor) as fh:
                ref_fields = {
                    str(k): str(v) for k, v in _json.load(fh).items()
                }
            ref_src = f"recorded anchor {anchor}"
        ref_sig = None
        if ref_fields is not None:
            ref_sig = tuple(sorted(ref_fields.items()))
        if schemas:
            keyed = {
                f: tuple(sorted(flds.items()))
                for f, flds in schemas.items()
            }
            if ref_sig is None:
                counts = _Counter(keyed.values())
                maxn = max(counts.values())
                cands = {sig for sig, c in counts.items() if c == maxn}
                ref_sig = next(
                    keyed[f] for f in sorted(keyed) if keyed[f] in cands
                )
            for f in sorted(keyed):
                if keyed[f] != ref_sig:
                    diff = sorted(set(ref_sig) ^ set(keyed[f]))
                    bad[f] = (
                        f"schema drift vs the {ref_src} on "
                        f"{diff} — the schema-pinned stream would "
                        "silently null-fill the differing columns"
                    )
        if bad:
            if args.quarantine:
                from pcap_converter_spark.sources.datasource import (
                    quarantine_file,
                )

                qdir = _os.path.join(args.input, "_quarantine")
                for f, why in sorted(bad.items()):
                    dest = quarantine_file(f, qdir)
                    print(
                        f"ingest: quarantined {f} -> {dest} ({why})",
                        file=sys.stderr,
                    )
            else:
                details = "\n  ".join(
                    f"{f}: {why}" for f, why in sorted(bad.items())
                )
                raise SystemExit(
                    f"error: unfit files in {args.input}:\n  {details}\n"
                    "quarantine or rewrite them (or pass --quarantine "
                    "to set them aside into _quarantine/ and drain the "
                    "rest)"
                )
            if not (set(schemas) - set(bad)):
                raise SystemExit(
                    f"error: {args.input} holds no readable, "
                    "schema-consistent parquet files after quarantine"
                )
        if ref_sig is not None and (
            args.expect_schema or not _os.path.exists(anchor)
        ):
            # pre-flight succeeded: record/refresh the durable anchor
            # (atomic — a cron kill mid-write must not leave torn JSON)
            _os.makedirs(_os.path.dirname(anchor) or ".", exist_ok=True)
            tmp = f"{anchor}.tmp.{_os.getpid()}"
            with open(tmp, "w") as fh:
                _json.dump(dict(ref_sig), fh)
            _os.replace(tmp, anchor)
        schema = spark.read.parquet(args.input).schema
        reader = spark.readStream.schema(schema)
        if args.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", int(args.max_files_per_trigger)
            )
        stream = reader.parquet(args.input)
    stream = prepare_text(
        stream,
        fix_encoding=args.fix_encoding,
        c4_rules=args.c4_clean,
        streaming=True,
    )

    delivered = {"rows": 0, "batches": 0}

    def sink(df, batch_id):
        """Idempotent by batch_id (r14 review): each batch owns the
        Hive partition ``{out}/batch=<id>``. A blind append would
        duplicate survivors whenever anything between the append and
        the checkpoint commit fails (index-append raise, SIGKILL) and
        the batch replays — duplicates in the artifact, from the tool
        whose purpose is dedup. A completed partition (_SUCCESS marker)
        is SKIPPED on replay, never overwritten: after a crash that
        committed the index append but not the checkpoint, the replay's
        probe drops every row (they're indexed now) and an overwrite
        would WIPE the delivered partition with that empty frame."""
        from pcap_converter_spark.operators.incremental import _hadoop_fs

        part = f"{args.out}/batch={batch_id}"
        fs, jvm = _hadoop_fs(spark, part)
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{part}/_SUCCESS")):
            # replay skip is FREE (ADVICE/VERDICT r14): no count job
            # before the _SUCCESS check — a replayed batch used to pay
            # a full count just to print "skipping"
            print(
                f"ingest: batch {batch_id}: already delivered — "
                "skipping (replay)",
                file=sys.stderr,
            )
        else:
            n = df.count()
            df.write.mode("overwrite").parquet(part)
            delivered["rows"] += n
            delivered["batches"] += 1
            print(
                f"ingest: batch {batch_id}: {n} survivors appended",
                file=sys.stderr,
            )

    run_dedup_ingest(
        stream,
        args.index,
        sink,
        query_name="cli_ingest",
        checkpoint=args.checkpoint or f"{args.out}/_ingest_checkpoint",
        threshold=args.threshold,
        update=not args.no_update,
        normalize=args.normalize_digests,
        prep=prep_sig,
        bootstrap=args.bootstrap,
    )
    print(_json.dumps(
        {"survivors": delivered["rows"], "batches": delivered["batches"],
         "index": args.index, "out": args.out}
    ))
    return 0


def _cmd_retrain(argv: list[str]) -> int:
    """retrain: the drift remedy for an at-rest IVF index (VERDICT r13
    #2). --report-only prints the drift report and exits nonzero when
    drifted (cron-able: retrain only when the report says so); the full
    run retrains centroids on today's distribution and rewrites into a
    new manifest generation. Probes cut over atomically; --vacuum
    reclaims the superseded layout."""
    import json as _json

    ap = argparse.ArgumentParser(prog="pcap-converter-spark retrain")
    ap.add_argument("--ann", metavar="DIR", required=True,
                    help="IVF at-rest index directory (vectors at rest; "
                         "PQ layouts must rebuild from the source corpus)")
    ap.add_argument("--clusters", type=int, default=None,
                    help="new centroid count (default: keep the live "
                         "index's count)")
    ap.add_argument("--sample", type=int, default=4096,
                    help="training/report sample size (default 4096)")
    ap.add_argument("--iters", type=int, default=10,
                    help="Lloyd iterations (default 10)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--id-col", default="vec_id")
    ap.add_argument("--vec-col", default="embedding")
    ap.add_argument("--files-per-cluster", type=int, default=1)
    ap.add_argument("--report-only", action="store_true",
                    help="print the drift report without touching the "
                         "index (exit 1 when drifted, 0 when judged "
                         "clean, 2 when UNDETERMINED — the index has no "
                         "recorded baseline to judge against)")
    ap.add_argument("--vacuum", action="store_true",
                    help="drop the superseded generation after retrain")
    ap.add_argument("-j", type=int, default=None, metavar="N",
                    help="local worker threads (default: all cores)")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args(argv)

    spark = _spark_for(args)
    from pcap_converter_spark.operators import similarity as sim

    # the report is best-effort pre-flight (r14 review): the very
    # indexes retrain exists for — legacy layouts written before the
    # _centroids sidecar — have no recorded geometry to report against,
    # and a PQ layout fails on the missing vector column with a Spark
    # error less useful than retrain's curated one. A full retrain must
    # not be blocked by an unavailable report; --report-only, whose
    # whole output IS the report, still fails loudly.
    try:
        report = sim.ann_drift_report(
            spark, args.ann, vec_col=args.vec_col, id_col=args.id_col,
            sample_size=args.sample,
        )
        print(_json.dumps(report))
    except Exception as exc:
        if args.report_only:
            ap.error(f"drift report unavailable for {args.ann}: {exc}")
        print(_json.dumps({"report_unavailable": str(exc)[:300]}))
        report = None
    if args.report_only:
        # ADVICE r14: recorded=None means the report JUDGED NOTHING
        # (e.g. ivf_write on an initially-empty corpus recorded no
        # baseline) — drifted=False by construction. A cron gate keyed
        # on exit 1 would read that as "clean" forever; exit 2 keeps
        # "undetermined" distinct from both verdicts.
        if report["recorded"] is None:
            print(
                f"retrain --report-only: {args.ann} has no recorded "
                "fit-stats baseline — drift is UNDETERMINED (exit 2); "
                "run a full retrain (or re-write the index over a "
                "non-empty corpus) to record one",
                file=sys.stderr,
            )
            return 2
        return 1 if report["drifted"] else 0

    cents = sim.retrain_ann_index(
        spark, args.ann, n_clusters=args.clusters,
        sample_size=args.sample, n_iters=args.iters,
        id_col=args.id_col, vec_col=args.vec_col,
        files_per_cluster=args.files_per_cluster, seed=args.seed,
    )
    if args.vacuum:
        sim.vacuum_ann_index(spark, args.ann)
    root = sim.resolve_ann_root(spark, args.ann)
    n = spark.read.parquet(root).count()
    print(
        f"Retrained {args.ann} (live root {root}): {n} vectors, "
        f"{len(cents)} centroids",
        file=sys.stderr,
    )
    return 0


def _cmd_profile(argv: list[str]) -> int:
    """profile: the one-pass ingestion health check (operators/profile.py)
    from a shell — per-column count/nulls/distinct/range/moment stats over
    any acquisition format, optionally per GROUP (--by: the per-source
    pre-mix check, still one corpus scan), written as parquet or printed."""
    ap = argparse.ArgumentParser(prog="pcap-converter-spark profile")
    _corpus_args(ap)
    ap.add_argument("--by", default=None, metavar="COL",
                    help="group column: per-group stats in the same single "
                         "aggregation (e.g. a source/shard column)")
    ap.add_argument("--out", default=None,
                    help="write the profile as parquet (default: print)")
    ap.add_argument("--exact-only", action="store_true",
                    help="drop the HLL++ distinct_approx rows (exact "
                         "stats only — cross-engine comparable)")
    args = ap.parse_args(argv)

    from pcap_converter_spark.operators.profile import profile

    spark = _spark_for(args)
    docs = _load_corpus(spark, args.format, _expand(args.input),
                        html_extract=args.html_extract)
    if args.by is not None and args.by not in docs.columns:
        ap.error(
            f"--by {args.by!r}: no such column "
            f"(available: {', '.join(docs.columns)})"
        )
    prof = profile(
        docs, include_approx=not args.exact_only, by=args.by
    )
    if args.out:
        prof.write.mode("overwrite").parquet(args.out)
        print(f"Wrote {args.out}: {prof.count()} stat rows", file=sys.stderr)
    else:
        for r in prof.collect():
            d = r.asDict()
            key = f"{d.pop(args.by)}\t" if args.by else ""
            val = d["value"] if d["value"] is not None else d["value_str"]
            print(f"{key}{d['column']}\t{d['stat']}\t{val}")
    return 0


def _cmd_pack(argv: list[str]) -> int:
    """pack: the last mile — a (curated) corpus to TENSOR-READY training
    shards. Builds a corpus vocab (one bounded aggregation), encodes every
    document, concat-and-cut packs to --seq-len (operators/packing.py
    materialize_packed: one shuffle by shard + one bounded (shard,bin)
    aggregation), and writes parquet partitioned by pack_shard — one row
    per training sequence: (pack_shard, pack_bin, input_ids, doc_spans),
    doc_spans carrying the (doc_id, start, end) attention/loss boundaries
    a dataloader needs."""
    ap = argparse.ArgumentParser(prog="pcap-converter-spark pack")
    _corpus_args(ap)
    ap.add_argument("--out", required=True, help="shard directory")
    ap.add_argument("--seq-len", type=int, default=2048,
                    help="tokens per training sequence (default 2048)")
    ap.add_argument("--shards", type=int, default=16,
                    help="independent packing streams (default 16)")
    ap.add_argument("--vocab-size", type=int, default=50_000,
                    help="corpus vocab budget; OOV tokens encode to 0")
    ap.add_argument("--pad-id", type=int, default=0,
                    help="padding id for each shard's final sequence")
    args = ap.parse_args(argv)
    if args.seq_len <= 0 or args.shards <= 0 or args.vocab_size <= 0:
        ap.error("--seq-len/--shards/--vocab-size must be positive")

    from pyspark.sql import functions as F

    from pcap_converter_spark.operators.packing import materialize_packed
    from pcap_converter_spark.operators.vocab import build_vocab, encode_column

    spark = _spark_for(args)
    docs = _load_corpus(spark, args.format, _expand(args.input),
                        html_extract=args.html_extract)
    vocab = build_vocab(docs, size=args.vocab_size)
    encoded = docs.select(
        "doc_id", encode_column(F.col("text"), vocab).alias("ids")
    )
    packed = materialize_packed(
        encoded, "ids",
        budget=args.seq_len, n_shards=args.shards, pad_id=args.pad_id,
    )
    packed.write.mode("overwrite").partitionBy("pack_shard").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(
        f"Wrote {args.out}: {n} sequences x {args.seq_len} tokens "
        f"({args.shards} shards, vocab {len(vocab)})",
        file=sys.stderr,
    )
    return 0


def _cmd_mix(argv: list[str]) -> int:
    """mix: deterministic multi-source training mix (operators/sampling).
    Each --source is tagged, unioned, and downsampled by per-source keep
    rates — given explicitly (--rate NAME=R) or derived by temperature
    rebalancing (--temperature α: share ∝ n^α, the multilingual-mix
    exponent; --weight-col sizes sources by a column sum, e.g. token
    counts). Membership is content-addressed (no RNG, no shuffle), so a
    re-mix over a grown corpus never flips an old document's decision."""
    ap = argparse.ArgumentParser(prog="pcap-converter-spark mix")
    ap.add_argument("--source", required=True, action="append",
                    metavar="NAME=PATH",
                    help="a named corpus (repeatable); globs allowed")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "jsonl", "warc", "wet"],
                    help="acquisition format shared by all sources")
    ap.add_argument("--rate", action="append", default=[],
                    metavar="NAME=R",
                    help="explicit keep rate in [0,1] for a source "
                         "(unlisted sources keep everything)")
    ap.add_argument("--temperature", type=float, default=None,
                    help="derive rates: target share of source i ∝ n_i^α "
                         "(α in (0,1]; mutually exclusive with --rate)")
    ap.add_argument("--weight-col", default=None,
                    help="with --temperature: size sources by this "
                         "column's sum (e.g. n_tokens) instead of doc count")
    ap.add_argument("--out", required=True, help="mixed-corpus directory")
    ap.add_argument("--html-extract", default="text",
                    choices=["text", "main"])
    ap.add_argument("-j", type=int, default=None, metavar="N")
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args(argv)
    if args.temperature is not None and args.rate:
        ap.error("--temperature and --rate are mutually exclusive")
    if args.temperature is None and not args.rate:
        ap.error("give --rate NAME=R (repeatable) or --temperature α")

    def _split(kv: str, what: str) -> tuple[str, str]:
        if "=" not in kv:
            ap.error(f"--{what} wants NAME=VALUE, got {kv!r}")
        name, _, val = kv.partition("=")
        return name, val

    pairs = [_split(s, "source") for s in args.source]
    sources = dict(pairs)
    if len(sources) != len(pairs):
        ap.error("duplicate --source names")
    rates = {}
    for r in args.rate:
        name, val = _split(r, "rate")
        if name not in sources:
            ap.error(f"--rate {name}: no such --source")
        try:
            rates[name] = float(val)
        except ValueError:
            ap.error(f"--rate {name}: {val!r} is not a number")
        if not 0 <= rates[name] <= 1:
            ap.error(f"--rate {name}: must be in [0,1]")

    from pyspark.sql import functions as F

    from pcap_converter_spark.operators.sampling import (
        mix_sources,
        temperature_rates,
    )

    spark = _spark_for(args)
    parts = []
    for name, path in sources.items():
        d = _load_corpus(spark, args.format, _expand([path]),
                         html_extract=args.html_extract)
        cols = [F.lit(name).alias("source"), F.col("doc_id")]
        cols.append(
            F.col("url") if "url" in d.columns
            else F.lit(None).cast("string").alias("url")
        )
        cols.append(F.col("text"))
        parts.append(d.select(*cols))
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    if args.temperature is not None:
        if args.weight_col == "n_tokens":
            # the budget that actually matters for a training mix;
            # derived on the fly (the mixed frame carries only
            # source/doc_id/url/text)
            from pcap_converter_spark.functions.text import token_count

            union = union.withColumn("n_tokens", token_count(F.col("text")))
        elif args.weight_col is not None:
            ap.error("--weight-col: only n_tokens is derivable here")
        rates = temperature_rates(
            union, alpha=args.temperature, weight_col=args.weight_col
        )
        for name, rate in sorted(rates.items()):
            print(f"mix: {name} keep rate {rate:.4f}", file=sys.stderr)
    mixed = (
        mix_sources(union, rates)
        .filter("keep_mix")
        .drop("keep_mix", "n_tokens")  # drop is a no-op when absent
    )
    mixed.write.mode("overwrite").partitionBy("source").parquet(args.out)
    kept = spark.read.parquet(args.out).count()
    print(f"Wrote {args.out}: {kept} documents from {len(sources)} sources",
          file=sys.stderr)
    return 0


_SUBCOMMANDS = {
    "curate": _cmd_curate,
    "index": _cmd_index,
    "compact": _cmd_compact,
    "ingest": _cmd_ingest,
    "retrain": _cmd_retrain,
    "profile": _cmd_profile,
    "pack": _cmd_pack,
    "mix": _cmd_mix,
}


def main(argv: list[str] | None = None) -> int:
    args_in = sys.argv[1:] if argv is None else argv
    if args_in and args_in[0] in _SUBCOMMANDS:
        return _SUBCOMMANDS[args_in[0]](args_in[1:])
    ap = argparse.ArgumentParser(
        prog="pcap-converter-spark",
        description="Convert pcap/pcapng captures to analysis-ready Parquet "
        "(with UDP fragment repair, as the reference converter does).",
    )
    ap.add_argument("-f", "--file", required=True, nargs="+",
                    help="pcap/pcapng path(s); globs allowed")
    ap.add_argument("-o", "--out", required=True, help="output parquet path")
    ap.add_argument("-n", "--nodefrag", action="store_true",
                    help="do not combine fragments")
    ap.add_argument("-j", type=int, default=None, metavar="N",
                    help="local-mode parallelism (default: all cores)")
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--single-file", action="store_true",
                    help="write one parquet part-file instead of N")
    args = ap.parse_args(argv)
    paths = _expand(args.file)

    from pcap_converter_spark.operators.convert import convert

    spark = _spark_for(args)
    t0 = time.perf_counter()
    stats = convert(
        spark, paths, args.out,
        nodefrag=args.nodefrag, single_file=args.single_file,
    )
    dt = time.perf_counter() - t0
    pps = stats["packets"] / dt if dt > 0 else 0.0
    print(
        f"Wrote {args.out}: {stats['packets']} packets, "
        f"{stats['errors']} decode errors, "
        f"{stats['fragment_pct']:.0f}% fragmented"
        f"{' (defragmented)' if stats['defragged'] else ''} "
        f"in {dt:.2f}s ({pps / 1e3:.0f}k pkts/s)",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
