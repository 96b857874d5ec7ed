"""Incremental corpus dedup: an at-rest index a rolling pipeline probes.

A 100 TB pipeline does not re-shuffle the accumulated corpus every crawl
snapshot. It maintains a compact INDEX at rest and checks each NEW
snapshot against it — the operation behind "dedup snapshot N+1 against
snapshots 1..N". The index stores no document text, only fixed-width
keys, so it is ~100-1000× smaller than the corpus it summarizes:

    {path}/meta/    one row: (version, shingle_k, num_hashes, bands, seed,
                    shingle_hash, tiers, prep)
    {path}/exact/   (content_hash, doc_id)          — sha256 hex, ~75 B/doc
    {path}/sigs/    (doc_id, sig array<bigint>)     — 8·num_hashes B/doc
    {path}/bands/   (band, band_hash, doc_id)       — one row per LSH band

Probe economics — the part that matters at scale: the index is the BIG
side (the whole corpus so far) and the snapshot is the small side (one
crawl), so both probe joins broadcast the snapshot's keys and the index
is only ever *scanned*, column-pruned, never shuffled
(``broadcast_probe=True``, the default; set False past ~10 M snapshot
docs and let AQE pick a shuffle join — the index side then shuffles
fixed-width keys, still never text). Extending the index with a
snapshot's survivors is an append of new key rows — no rewrite, no read
of the existing index.

Tier semantics:

- exact — digest membership, identical to ``dedup.exact_duplicates``'s
  key (sha256 of the raw text), so in-snapshot and cross-snapshot exact
  dedup compose. Index any (id, text) rows — whole documents, or
  ``dedup.passage_table`` windows for passage-granularity probes.
- near — MinHash: the index keeps each doc's banded LSH keys (candidate
  generation) AND its full signature (verification). A probe estimates
  Jaccard as the fraction of agreeing signature components — the standard
  MinHash estimator (stderr ≈ 1/√num_hashes ≈ 0.125 at the default 64) —
  because the index deliberately stores no text to verify against. The
  in-corpus operator (``dedup.minhash_lsh_pairs``) verifies exact Jaccard
  and remains the right tool WITHIN one snapshot; this module answers the
  cross-snapshot question without touching old text. Both run the one
  shingle set and MinHash kernel (``dedup._shingle_set`` and
  ``dedup._minhash_kernel``), so a doc indexed yesterday and probed
  today produces identical keys.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from pcap_converter_spark.functions.text import md5_low32
from pcap_converter_spark.operators.dedup import (
    _crc32,
    _minhash_kernel,
    _shingle_set,
)
from pcap_converter_spark.session import session_memo

INDEX_VERSION = 1

_META_SCHEMA = T.StructType(
    [
        T.StructField("version", T.IntegerType()),
        T.StructField("shingle_k", T.IntegerType()),
        T.StructField("num_hashes", T.IntegerType()),
        T.StructField("bands", T.IntegerType()),
        T.StructField("seed", T.IntegerType()),
        T.StructField("shingle_hash", T.StringType()),
        T.StructField("tiers", T.StringType()),
        # text-prep provenance (prep_signature): an index probed by a
        # prep-enabled run must have been built over IDENTICALLY prepared
        # text, or the two sides digest different bytes and cross-snapshot
        # dedup silently misses (ADVICE r9). Same version (old indexes
        # simply lack the column and read as None = unrecorded).
        T.StructField("prep", T.StringType()),
    ]
)


def prep_signature(
    fix_encoding: bool = False,
    line_dedup_min_docs: int | None = None,
    substring_dedup: int | None = None,
    html_extract: str = "text",
    c4_rules: bool = False,
    normalize: str | None = None,
) -> str:
    """Canonical one-line encoding of the text-prep prelude an index (or
    probe) ran before digesting — ``pipeline.prepare_text``'s knobs
    plus (r11) the WARC extraction mode: 'main' extraction produces
    different bytes than the full HTML→text chain, so an index built from
    one and probed with the other would silently miss exactly like a prep
    mismatch. The ``hx`` field is appended ONLY for the non-default
    'main' mode, so signatures recorded before the field existed (always
    full-text) stay string-equal to new full-text probes; ``c4`` (r12 —
    C4 line-rule cleaning, quality.c4_line_clean) and ``norm`` (r12 —
    digest normalization, ``_apply_normalize``) are appended only when
    ON for the same back-compat reason. Canonical field order:
    enc;line;sub[;c4=1][;norm=...][;hx=main]."""
    sig = (
        f"enc={int(bool(fix_encoding))}"
        f";line={'' if line_dedup_min_docs is None else int(line_dedup_min_docs)}"
        f";sub={'' if substring_dedup is None else int(substring_dedup)}"
    )
    if c4_rules:
        sig += ";c4=1"
    if normalize not in (None, "none"):
        sig += f";norm={normalize}"
    if html_extract == "main":
        sig += ";hx=main"
    return sig


def parse_prep_signature(sig: str) -> dict:
    """Inverse of ``prep_signature`` → {fix_encoding, line_dedup_min_docs,
    substring_dedup, html_extract, c4_rules, normalize} (the
    adopt-the-meta's-values path on append; ``hx``/``c4``/``norm``
    absent = the defaults)."""
    vals = dict(part.split("=", 1) for part in sig.split(";"))
    return {
        "fix_encoding": vals.get("enc") == "1",
        "line_dedup_min_docs": int(vals["line"]) if vals.get("line") else None,
        "substring_dedup": int(vals["sub"]) if vals.get("sub") else None,
        "html_extract": vals.get("hx", "text"),
        "c4_rules": vals.get("c4") == "1",
        "normalize": vals.get("norm"),
    }


def check_prep_compatible(
    spark: SparkSession, path: str, prep: str
) -> None:
    """Raise if the index at ``path`` records a prep signature different
    from ``prep``. An index without a recorded signature (pre-prep builds)
    passes — there is nothing to compare against."""
    recorded = read_index_meta(spark, path).get("prep")
    if recorded is not None and recorded != prep:
        raise ValueError(
            f"corpus index at {path} was built with text prep "
            f"'{recorded}' but this run prepares '{prep}' — the two "
            "sides would digest different bytes and dedup would "
            "silently miss; re-run with the index's prep flags or "
            "rebuild the index"
        )


def _digests(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(content_hash, doc_id) — one row per input row (occurrence
    semantics: callers indexing passages keep repeats), digest identical
    to dedup.exact_duplicates' key."""
    return docs.select(
        F.sha2(F.col(text_col).cast("binary"), 256).alias("content_hash"),
        F.col(id_col).alias("doc_id"),
    )


def _apply_normalize(
    docs: DataFrame, text_col: str, normalize: str | None
) -> DataFrame:
    """Replace ``text_col`` with its digest-normalized form for the
    DURATION of an index build/probe (r12 second pass): 'ccnet' routes
    through functions/text.ccnet_normalize_t (lowercase, accent-fold,
    digits→0, whitespace collapse), so trivially-reformatted refetches
    digest AND shingle identically on both sides of a cross-snapshot
    dedup. This transformation is index-internal — the caller's frame
    and any written artifact keep the original text; like every other
    prep knob it must be recorded in the prep signature (norm=ccnet) so
    probes can never silently mix normalized and raw digests. Callers
    passing precomputed ``digests=`` frames own their normalization."""
    if normalize in (None, "none"):
        return docs
    if normalize == "ccnet":
        from pcap_converter_spark.functions.text import ccnet_normalize_t

        return docs.withColumn(text_col, ccnet_normalize_t(F.col(text_col)))
    raise ValueError(
        f"unknown digest normalization {normalize!r} (supported: ccnet)"
    )


def _sig_band_table(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    seed: int,
    shingle_hash: str = "crc32",
) -> DataFrame:
    """(doc_id, sig on band 0 else NULL, band, band_hash) via one
    Arrow-batched mapInPandas — the same ``dedup._minhash_kernel`` as
    ``dedup.minhash_band_table`` but carrying the SIGNATURE instead of the
    shingle set (an index probe verifies by signature agreement, never by
    shingles — the index stores no text-sized payloads).

    ``shingle_hash`` picks the base hash the universal family runs over:
    'crc32' (default — the fast path, shared with the in-corpus MinHash)
    or 'md5l32' (``functions/text.md5_low32``, the Python twin of
    ``functions/text.word_hash32``) — the md5 form has an
    exact DuckDB twin (``md5_number_lower & 0xFFFFFFFF``), so a
    cross-engine SQL replay can re-derive the whole signature path
    (tests/test_incremental.py)."""
    base_hash = {"crc32": _crc32, "md5l32": md5_low32}.get(shingle_hash)
    if base_hash is None:
        raise ValueError(f"unknown shingle_hash {shingle_hash!r}")
    minhash = _minhash_kernel(num_hashes, bands, seed, base_hash)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
            T.StructField("band", T.IntegerType()),
            T.StructField("band_hash", T.LongType()),
        ]
    )

    def build(pdfs):
        import pandas as pd

        for pdf in pdfs:
            rows = []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                sig, band_hashes = minhash(_shingle_set(text, k))
                sig_list = [int(x) for x in sig]
                for b, bh in enumerate(band_hashes):
                    # the signature rides along ONCE, on band 0 — emitting
                    # it per band would amplify the written table ×bands
                    rows.append(
                        (int(doc), sig_list if b == 0 else None, b, int(bh))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "sig", "band", "band_hash"]
            )

    return docs.select(
        F.col(id_col), F.col(text_col)
    ).mapInPandas(build, schema=out_schema)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, jvm) for ``path`` — works on any scheme Spark can
    reach (file://, hdfs://, s3a://), unlike driver-local os/shutil."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _read_json(spark: SparkSession, path: str):
    """Parse the small JSON file at ``path`` (manifests, ANN sidecars)
    over the Hadoop FS. Callers that tolerate a missing file check
    existence first."""
    fs, jvm = _hadoop_fs(spark, path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        body = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(body)


def _write_json(spark: SparkSession, path: str, obj) -> None:
    """Write ``obj`` as one small JSON file at ``path`` (create+close,
    overwriting). Callers that need an atomic commit write a tmp name and
    rename it themselves."""
    fs, jvm = _hadoop_fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(json.dumps(obj).encode())
    finally:
        out.close()


def _live_epoch(
    spark: SparkSession, path: str, manifest_prefix: str = "manifest-"
) -> int:
    """Highest committed manifest epoch, or 0 when the index uses the
    legacy flat layout (tables directly under ``path``). The prefix is
    parameterized because the ANN layouts (similarity.py) share this
    protocol with HIDDEN names (``_manifest-``/``_gen-``): their flat
    readers LIST the path root, so an uncommitted generation must be
    invisible to Spark's file index — unlike this module's readers,
    which only ever open named subdirectories (r13 review)."""
    fs, jvm = _hadoop_fs(spark, path)
    statuses = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(f"{path}/{manifest_prefix}*")
    )
    if statuses is None or len(statuses) == 0:
        return 0
    return max(
        int(s.getPath().getName().rsplit("-", 1)[1]) for s in statuses
    )


def _read_manifest(
    spark: SparkSession, path: str, epoch: int,
    manifest_prefix: str = "manifest-",
) -> dict:
    """Parse the committed manifest body for ``epoch`` (shared by the
    corpus-index and ANN resolvers)."""
    return _read_json(spark, f"{path}/{manifest_prefix}{epoch:06d}")


def _claim_generation_slot(
    spark: SparkSession, path: str, stage_root: str, live: int,
    gen_prefix: str = "gen-",
) -> int:
    """Rename the staged tmp dir into the first unclaimed generation slot
    above ``live`` and return its epoch. An orphan gen dir with no
    manifest is SKIPPED, not overwritten or deleted — deleting it could
    pull files out from under a writer between its dir rename and its
    manifest PUT. exists-check before rename because Hadoop rename onto
    an existing DIRECTORY moves the source INTO it instead of failing,
    which would nest the generation."""
    fs, jvm = _hadoop_fs(spark, path)
    stage_p = jvm.org.apache.hadoop.fs.Path(stage_root)
    epoch = live + 1
    while True:
        dest_p = jvm.org.apache.hadoop.fs.Path(
            f"{path}/{gen_prefix}{epoch:06d}"
        )
        if not fs.exists(dest_p) and fs.rename(stage_p, dest_p):
            return epoch
        epoch += 1
        if epoch > live + 1000:
            fs.delete(stage_p, True)
            # epoch has already been incremented past the last slot we
            # actually probed, so the range end is epoch - 1 (ADVICE r13).
            raise IOError(
                f"could not claim a generation slot at {path} "
                f"({gen_prefix}{live + 1:06d}..{gen_prefix}{epoch - 1:06d} "
                "all taken)"
            )


def _commit_manifest(
    spark: SparkSession, path: str, epoch: int, body: dict,
    manifest_prefix: str = "manifest-",
) -> None:
    """Commit = write the JSON body to a dot-tmp name, then RENAME to the
    final manifest name: a plain create() is visible as an empty file
    before close() on HDFS/local (a reader's json.loads('') would crash
    mid-commit); the tmp name starts with '.' so manifest globs never see
    it, and the rename is atomic on HDFS/local. On S3A the rename is a
    single-object copy+delete of a tiny file — a reader can briefly see
    both old and new manifests, which is harmless because max-epoch wins
    and both are complete."""
    fs, jvm = _hadoop_fs(spark, path)
    tmp = f"{path}/.{manifest_prefix}{epoch:06d}.tmp"
    final = jvm.org.apache.hadoop.fs.Path(
        f"{path}/{manifest_prefix}{epoch:06d}"
    )
    _write_json(spark, tmp, body)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), final):
        raise IOError(
            f"could not commit {manifest_prefix}{epoch:06d} at {path} "
            "(rename failed — concurrent compaction?)"
        )


def _commit_generation(
    spark: SparkSession, path: str, fill, version: int, tables: list[str],
    gen_prefix: str = "gen-", manifest_prefix: str = "manifest-",
    root_table: str | None = None,
) -> None:
    """Stage → claim → commit a new generation of the index at ``path``:
    the one sequence behind ``compact_corpus_index_safe`` and the ANN
    layouts' compaction and retrains (similarity.py, hidden prefixes).
    ``fill(root)`` writes the generation's tables under the root the
    manifest names: the generation dir, or ``{gen}/{root_table}`` when
    readers open that one table as the root."""
    live = _live_epoch(spark, path, manifest_prefix=manifest_prefix)
    # Stage into a UNIQUE tmp dir, then rename it to an unclaimed gen-N
    # before the manifest commit (ADVICE r6): staging straight into
    # gen-(live+1) would let a concurrent compaction's mode('overwrite')
    # writes partially clobber tables this writer's manifest ends up
    # pointing at. With a per-writer tmp dir each writer only ever
    # touches its own staging area until the all-or-nothing dir rename.
    # The dot-prefix keeps readers' gen-*/manifest-* globs blind to
    # in-flight staging.
    stage_root = f"{path}/.genstage.{uuid.uuid4().hex}.tmp"
    fill(f"{stage_root}/{root_table}" if root_table else stage_root)
    # claim a slot (orphans skipped — _claim_generation_slot), then the
    # single-object manifest commit (_commit_manifest); the crash-safety
    # rationale lives on those helpers
    epoch = _claim_generation_slot(
        spark, path, stage_root, live, gen_prefix=gen_prefix
    )
    root = f"{gen_prefix}{epoch:06d}"
    _commit_manifest(
        spark, path, epoch,
        {
            "version": version,
            "epoch": epoch,
            "root": f"{root}/{root_table}" if root_table else root,
            "tables": tables,
        },
        manifest_prefix=manifest_prefix,
    )


def _vacuum_generations(
    spark: SparkSession, path: str, epoch: int,
    manifest_prefix: str = "manifest-", gen_prefix: str = "gen-",
) -> None:
    """Delete every manifest/generation strictly BELOW ``epoch``; higher
    epochs are in-flight (or crashed) compactions and stay (shared by
    both vacuum faces — see vacuum_corpus_index for the contract)."""
    fs, jvm = _hadoop_fs(spark, path)
    for pat in (f"{path}/{manifest_prefix}*", f"{path}/{gen_prefix}*"):
        for s in fs.globStatus(jvm.org.apache.hadoop.fs.Path(pat)) or []:
            name = s.getPath().getName()
            try:
                e = int(name.rsplit("-", 1)[1])
            except (IndexError, ValueError):
                continue
            if e < epoch:
                fs.delete(s.getPath(), True)


def _drop_generations(
    spark: SparkSession, path: str,
    manifest_prefix: str = "manifest-", gen_prefix: str = "gen-",
) -> None:
    """A fresh write is an OVERWRITE of the whole index: drop every
    manifest and generation from a previous life of ``path``, or the new
    flat tables would be shadowed by a stale generation dir (shared with
    the ANN layouts' writes, which pass their hidden prefixes)."""
    fs, jvm = _hadoop_fs(spark, path)
    for pat in (f"{path}/{manifest_prefix}*", f"{path}/{gen_prefix}*"):
        for st in fs.globStatus(jvm.org.apache.hadoop.fs.Path(pat)) or []:
            fs.delete(st.getPath(), True)


def _root_epoch(path: str, root: str, gen_prefix: str = "gen-") -> int:
    """Which generation a resolved root belongs to: the epoch parsed
    from its ``{gen_prefix}NNNNNN`` path component, or 0 for the flat
    layout (root == path). Shared by the corpus index and (via import)
    the ANN layouts' append-race checks — one parse, not two drifting
    copies (r14 review)."""
    rel = root[len(path):].strip("/")
    head = rel.split("/")[0] if rel else ""
    if head.startswith(gen_prefix):
        return int(head[len(gen_prefix):])
    return 0


def resolve_index_root(spark: SparkSession, path: str) -> str:
    """The directory holding the LIVE table dirs. A freshly written index
    is flat (``{path}/exact`` …); after ``compact_corpus_index_safe`` the
    live generation is ``{path}/gen-<epoch>`` and a single-file
    ``{path}/manifest-<epoch>`` names it — committed by one object PUT
    (atomic on S3 and on HDFS at close), so readers see the old
    generation or the new one, never a missing directory. The manifest
    body is JSON naming the root; the epoch in the filename decides which
    manifest is live (max wins — no rename, no read-modify-write)."""
    epoch = _live_epoch(spark, path)
    if epoch == 0:
        return path
    m = _read_manifest(spark, path, epoch)
    if m.get("version") != INDEX_VERSION:
        raise ValueError(
            f"corpus index manifest at {path} has version "
            f"{m.get('version')}; this build reads {INDEX_VERSION}"
        )
    return f"{path}/{m['root']}"


def corpus_index_exists(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds a corpus index this build can open: a
    committed manifest generation, or the legacy flat layout's
    ``{path}/meta`` table. The streaming ingest hook's cold-start check
    (VERDICT r13 #3) — one globStatus + at most one exists() call, no
    Spark job — so an absent index is a clean pre-flight decision
    (bootstrap or raise) instead of a parquet-read crash inside
    ``foreachBatch``."""
    if _live_epoch(spark, path) > 0:
        return True
    fs, jvm = _hadoop_fs(spark, path)
    return bool(
        fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/meta"))
    )


def _meta_mtime(spark: SparkSession, root: str) -> int:
    fs, jvm = _hadoop_fs(spark, root)
    return int(
        fs.getFileStatus(
            jvm.org.apache.hadoop.fs.Path(f"{root}/meta")
        ).getModificationTime()
    )


def read_index_meta(spark: SparkSession, path: str) -> dict:
    """The index's pinned parameters. Probes and appends take every
    constant from here — a probe with different shingling than the write
    would silently miss everything, so the parameters live WITH the data
    (a one-row Parquet: portable to any Hadoop filesystem, unlike a
    driver-local JSON side file)."""
    root = resolve_index_root(spark, path)

    def build() -> dict:
        meta = spark.read.parquet(f"{root}/meta").collect()[0].asDict()
        if meta["version"] != INDEX_VERSION:
            raise ValueError(
                f"corpus index at {path} has version {meta['version']}; "
                f"this build reads version {INDEX_VERSION}"
            )
        return meta

    # memoized per (session, resolved root), versioned by the meta-dir
    # mtime: the parameters are IMMUTABLE for an index generation's life,
    # so re-collecting the one-row parquet on every probe/append — a full
    # Spark job each — is pure overhead (a streaming ingest hook would pay
    # it once per micro-batch). The mtime version keeps the memo safe
    # against rewrites this process cannot see (another driver re-running
    # write_corpus_index, or the same path spelled 'file:///...'): an
    # overwrite replaces the meta directory's children, bumping its
    # modification time, so the entry is rebuilt. One getFileStatus per
    # call — a namenode round trip, not a Spark job.
    return dict(session_memo(
        spark, ("index_meta", root), build,
        version=_meta_mtime(spark, root),
    ))


def write_corpus_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    tiers: tuple[str, ...] = ("exact", "near"),
    shingle_hash: str = "crc32",
    prep: str | None = None,
    normalize: str | None = None,
) -> None:
    """Materialize the index from scratch (overwrite). ``tiers`` controls
    what is stored: ("exact",) for digest-only indexes (e.g. passage
    digests, where MinHash over a 4-word window is meaningless) skips the
    signature pass entirely. The exact tier is mandatory — digests cost
    ~75 B/doc and every probe reads them unconditionally.

    ``prep`` is the ``prep_signature`` of the text preparation ``docs``
    went through before this call — recorded in the meta so appends and
    probes can verify they digest identically prepared bytes. Default
    None records NOTHING (reads back as NULL = unrecorded, checks skip):
    a library caller who prepared text themselves and never says so must
    not get the no-prep signature asserted on their behalf — that would
    hard-fail their own matching prep-enabled probes (review-caught).
    The CLI always passes an explicit signature, including the no-prep
    one, so CLI-built indexes are always self-describing."""
    if "exact" not in tiers:
        raise ValueError('tiers must include "exact"')
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    docs = _apply_normalize(docs, text_col, normalize)
    spark = docs.sparkSession
    _drop_generations(spark, path)
    spark.createDataFrame(
        [(INDEX_VERSION, shingle_k, num_hashes, bands, seed, shingle_hash,
          ",".join(tiers), prep)],
        schema=_META_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    if "exact" in tiers:
        _digests(docs, text_col, id_col).write.mode("overwrite").parquet(
            f"{path}/exact"
        )
    if "near" in tiers:
        sb = _sig_band_table(
            docs, text_col, id_col, shingle_k, num_hashes, bands, seed,
            shingle_hash,
        )
        sb.filter("sig IS NOT NULL").select("doc_id", "sig").write.mode(
            "overwrite"
        ).parquet(f"{path}/sigs")
        sb.select("band", "band_hash", "doc_id").write.mode(
            "overwrite"
        ).parquet(f"{path}/bands")


def extend_corpus_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    prep: str | None = None,
    normalize: str | None = None,
) -> None:
    """Append a snapshot's rows under the index's OWN pinned parameters —
    an append of new key files, never a rewrite or read of what's there.
    Appends land in the LIVE generation (manifest-resolved), so they stay
    visible across ``compact_corpus_index_safe`` generations — but do not
    race a compaction: an append landing in the old generation after the
    new one was sealed is lost at vacuum (run compaction during an append
    pause, as documented there). A violation is DETECTED, not silent: the
    live epoch is re-checked after the writes and a raise names the race
    and the remedy (verify-then-re-append — ADVICE r13/r14, mirrored from
    the ANN layouts).

    ``prep``: the ``prep_signature`` of the preparation ``docs`` went
    through; when given, it is verified against the meta's recorded
    signature (raises on mismatch — a mismatched append would poison the
    index with differently-digested bytes). None skips the check for
    callers that manage preparation themselves."""
    docs = _apply_normalize(docs, text_col, normalize)
    spark = docs.sparkSession
    if prep is not None:
        check_prep_compatible(spark, path, prep)
    meta = read_index_meta(spark, path)
    root = resolve_index_root(spark, path)
    tiers = meta["tiers"].split(",")
    if "exact" in tiers:
        _digests(docs, text_col, id_col).write.mode("append").parquet(
            f"{root}/exact"
        )
    if "near" in tiers:
        sb = _sig_band_table(
            docs,
            text_col,
            id_col,
            meta["shingle_k"],
            meta["num_hashes"],
            meta["bands"],
            meta["seed"],
            meta["shingle_hash"],
        )
        sb.filter("sig IS NOT NULL").select("doc_id", "sig").write.mode(
            "append"
        ).parquet(f"{root}/sigs")
        sb.select("band", "band_hash", "doc_id").write.mode("append").parquet(
            f"{root}/bands"
        )
    # race check compares the generation we actually WROTE INTO against
    # the post-write live epoch (not before/after samples — r14 review:
    # a commit landing between an epoch sample and the root resolution
    # would otherwise falsely raise on a write that reached the NEW
    # generation, and the re-run remedy would duplicate the keys)
    wrote = _root_epoch(path, root)
    live = _live_epoch(spark, path)
    if wrote != live:
        raise RuntimeError(
            f"corpus index append at {path} raced a compaction: the keys "
            f"were written into generation {wrote} but the live "
            f"generation is now {live} — a SUPERSEDED layout that the "
            "next vacuum drops. Verify the live generation does not "
            "ALREADY contain these keys before re-running the append: a "
            "concurrent compaction that listed the old generation's "
            "files AFTER these keys landed carried them into the new "
            "layout, and a blind re-run would then duplicate them (the "
            "detection window cannot distinguish the two interleavings "
            "— ADVICE r14; duplicate exact-digest keys degrade nothing "
            "but index size, so a re-append is safe when in doubt for "
            "the exact tier, while MinHash band rows duplicate probe "
            "candidates)"
        )


def compact_corpus_index_safe(
    spark: SparkSession,
    path: str,
    files_per_table: int = 32,
) -> None:
    """Object-store-safe compaction: write the compacted tables into a
    NEW generation directory (``{path}/gen-<epoch>``), then commit it by
    PUTting a single ``{path}/manifest-<epoch>`` file naming the live
    root. Readers resolve through the highest-epoch manifest
    (``resolve_index_root``), so there is NO window where a table
    directory is missing — they see the previous generation until the
    manifest lands, the new one after; a crashed compaction leaves an
    orphan staging/gen dir and no manifest, which later generations skip
    over and vacuum reclaims. Works on any Hadoop filesystem (local,
    HDFS, S3A — the manifest PUT is a single-object create, atomic on S3
    and at close() on HDFS). Previous generations stay on disk for
    in-flight readers; ``vacuum_corpus_index`` removes them once readers
    have drained. Do not run concurrent ``extend_corpus_index`` appends
    across the commit point — an append sealed into the old generation
    is lost at vacuum. Concurrent compactions are safe but wasteful:
    each stages into its own tmp dir, claims its own generation slot,
    and commits its own manifest — the higher epoch wins at read time,
    both generations are complete, and neither writer ever touches the
    other's files (ADVICE r6)."""
    meta = read_index_meta(spark, path)
    root = resolve_index_root(spark, path)
    tiers = meta["tiers"].split(",")
    tables = (["exact"] if "exact" in tiers else []) + (
        ["sigs", "bands"] if "near" in tiers else []
    )

    def fill(stage_root: str) -> None:
        # meta copied verbatim (parameters are immutable for the index's
        # life)
        spark.read.parquet(f"{root}/meta").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{stage_root}/meta")
        for sub in tables:
            spark.read.parquet(f"{root}/{sub}").repartition(
                files_per_table
            ).write.mode("overwrite").parquet(f"{stage_root}/{sub}")

    _commit_generation(spark, path, fill, INDEX_VERSION, tables + ["meta"])


def vacuum_corpus_index(spark: SparkSession, path: str) -> None:
    """Remove every generation BELOW the live epoch (and its manifest) —
    run after ``compact_corpus_index_safe`` once in-flight readers have
    drained. The live generation and manifest are untouched, and so is
    any generation with an epoch ABOVE the live one: that is an
    in-flight (or crashed) compaction's staging area — deleting it out
    from under a running compaction would let the compaction commit a
    manifest pointing at half-deleted tables. A crashed orphan is
    reclaimed by the NEXT successful compact+vacuum cycle, whose higher
    epoch supersedes it. A flat legacy layout's tables (epoch 0) are
    removed only if a manifest generation has superseded them."""
    epoch = _live_epoch(spark, path)
    if epoch == 0:
        return
    _vacuum_generations(spark, path, epoch)
    # legacy flat tables superseded by the live generation
    fs, jvm = _hadoop_fs(spark, path)
    for sub in ("meta", "exact", "sigs", "bands"):
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        if fs.exists(p):
            fs.delete(p, True)


def _maybe_broadcast(df: DataFrame, broadcast_probe: bool) -> DataFrame:
    return F.broadcast(df) if broadcast_probe else df


def exact_matches(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_probe: bool = True,
    handles: list | None = None,
    digests: DataFrame | None = None,
    normalize: str | None = None,
) -> DataFrame:
    """(content_hash, doc_id, origin) for every occurrence — indexed or in
    the snapshot — of a digest present on BOTH sides. The grouped view of
    cross-snapshot exact duplication (the driver's hash-checked 'incr'
    tier builds on this). Plan shape: the index scan reads two pruned
    columns and joins against the BROADCAST distinct snapshot digests —
    no index-side Exchange (plan-audit-tested).

    The snapshot digest frame is referenced three times (the broadcast key
    build and both union branches), so it is persisted AND materialized
    eagerly — lazily-persisted, the two union branches of one downstream
    job can race to compute it before any block is cached, re-running the
    snapshot lineage per branch. Appended to ``handles`` for caller
    cleanup, session-cached without; digest rows only, never text.
    Callers that already hold a persisted (content_hash, doc_id) frame
    (e.g. one shared with an in-snapshot passage dedup) pass it via
    ``digests`` and keep ownership of its lifecycle."""
    spark = docs.sparkSession
    if digests is not None:
        snap = digests  # caller-normalized (see _apply_normalize)
    else:
        docs = _apply_normalize(docs, text_col, normalize)
        snap = _digests(docs, text_col, id_col).persist()
        if handles is not None:
            handles.append(snap)
        snap.count()  # materialize the cache before branches fan out
    idx = spark.read.parquet(f"{resolve_index_root(spark, path)}/exact")
    # no pre-distinct on the snapshot keys: the semi join can't multiply
    # index rows and the post-join distinct canonicalizes anyway — a
    # distinct before the broadcast build would add a whole shuffle round
    # just to shrink the broadcast by the snapshot's internal dup factor
    snap_keys = snap.select("content_hash")
    # digests on both sides: small by construction (bounded by the overlap)
    common = (
        idx.join(
            _maybe_broadcast(snap_keys, broadcast_probe),
            "content_hash",
            "left_semi",
        )
        .select("content_hash")
        .distinct()
    )
    common_b = _maybe_broadcast(common, broadcast_probe)
    return idx.join(common_b, "content_hash").select(
        "content_hash", "doc_id", F.lit("index").alias("origin")
    ).unionByName(
        snap.join(common_b, "content_hash").select(
            "content_hash", "doc_id", F.lit("snapshot").alias("origin")
        )
    )


def flag_against_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    broadcast_probe: bool = True,
    handles: list | None = None,
    probe_tiers: tuple[str, ...] | None = None,
    normalize: str | None = None,
) -> DataFrame:
    """One row per snapshot doc: (id, dup_exact, dup_near, near_est).

    ``dup_exact`` — the doc's digest is already indexed. ``dup_near`` —
    some indexed doc shares an LSH band AND the signature-estimated
    Jaccard reaches ``threshold``; ``near_est`` is the best such estimate
    (NULL when no band candidate). On an exact-only index the near
    columns are NULL. Candidate verification is pure column algebra:
    ``zip_with`` equality over the two signatures — candidates are
    LSH-bounded, so the arrays compared are a vanishing fraction of n².

    ``probe_tiers`` restricts which index tiers the probe RUNS (default:
    every tier the index stores): a caller that only wants the near
    verdict passes ("near",) and skips the snapshot digest pass and both
    exact joins entirely — the skipped tier's columns come back NULL.
    (``dedup_incremental`` always probes everything; treat a skipped
    tier's NULL as "not checked", not "not a duplicate".)

    The snapshot's digest frame and signature/band frame are persisted
    (each is referenced by more than one join); the handles are appended
    to ``handles`` for caller cleanup, or stay session-cached without.
    ``broadcast_probe=False`` applies to EVERY snapshot-derived side —
    keys, bands, candidates and signatures — so an oversized snapshot
    degrades to shuffle joins instead of blowing the broadcast limit."""
    docs = _apply_normalize(docs, text_col, normalize)
    spark = docs.sparkSession
    meta = read_index_meta(spark, path)
    root = resolve_index_root(spark, path)
    tiers = [
        t
        for t in meta["tiers"].split(",")
        if probe_tiers is None or t in probe_tiers
    ]
    out = docs.select(F.col(id_col))

    if "exact" in tiers:
        snap = _digests(docs, text_col, id_col).persist()
        if handles is not None:
            handles.append(snap)
        idx = spark.read.parquet(f"{root}/exact")
        snap_keys = snap.select("content_hash").distinct()
        hit = (
            idx.join(
                _maybe_broadcast(snap_keys, broadcast_probe), "content_hash"
            )
            .select("content_hash")
            .distinct()
            .withColumn("_hit", F.lit(True))
        )
        exact_flags = snap.join(
            _maybe_broadcast(hit, broadcast_probe), "content_hash", "left"
        ).select(
            F.col("doc_id").alias(id_col),
            F.coalesce("_hit", F.lit(False)).alias("dup_exact"),
        )
        out = out.join(exact_flags, id_col, "left")
    else:
        out = out.withColumn("dup_exact", F.lit(None).cast("boolean"))

    if "near" in tiers:
        nh = meta["num_hashes"]
        sb = _sig_band_table(
            docs,
            text_col,
            id_col,
            meta["shingle_k"],
            nh,
            meta["bands"],
            meta["seed"],
            meta["shingle_hash"],
        ).persist()
        if handles is not None:
            handles.append(sb)
        snap_sigs = sb.filter("sig IS NOT NULL").select(
            F.col("doc_id").alias("_snap"), F.col("sig").alias("_ssig")
        )
        snap_bands = sb.select(
            "band", "band_hash", F.col("doc_id").alias("_snap")
        )
        idx_bands = spark.read.parquet(f"{root}/bands")
        # candidates: index bands scanned against the broadcast snapshot
        # band keys — the only index-wide pass, three pruned columns
        cands = (
            idx_bands.join(
                _maybe_broadcast(snap_bands, broadcast_probe),
                ["band", "band_hash"],
            )
            .select(F.col("doc_id").alias("_idx"), "_snap")
            .distinct()
        )
        idx_sigs = spark.read.parquet(f"{root}/sigs").select(
            F.col("doc_id").alias("_idx"), "sig"
        )
        est = (
            idx_sigs.join(_maybe_broadcast(cands, broadcast_probe), "_idx")
            .join(_maybe_broadcast(snap_sigs, broadcast_probe), "_snap")
            .select(
                "_snap",
                (
                    F.size(
                        F.filter(
                            F.zip_with(
                                "sig", "_ssig", lambda a, b: a == b
                            ),
                            lambda x: x,
                        )
                    )
                    / F.lit(nh)
                ).alias("_est"),
            )
            .groupBy("_snap")
            .agg(F.max("_est").alias("near_est"))
        )
        near = est.select(
            F.col("_snap").alias(id_col),
            (F.col("near_est") >= threshold).alias("dup_near"),
            "near_est",
        )
        out = out.join(near, id_col, "left").withColumn(
            "dup_near", F.coalesce("dup_near", F.lit(False))
        )
    else:
        out = out.withColumn("dup_near", F.lit(None).cast("boolean"))
        out = out.withColumn("near_est", F.lit(None).cast("double"))
    return out


def dedup_incremental(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    broadcast_probe: bool = True,
    update: bool = False,
    handles: list | None = None,
    normalize: str | None = None,
) -> DataFrame:
    """The composed snapshot step: keep only docs that duplicate nothing
    already indexed; with ``update=True`` the survivors' keys are appended
    so the NEXT snapshot probes against them too. In-snapshot duplicates
    are deliberately out of scope — run the in-corpus operators
    (exact_duplicates / minhash_lsh_pairs / curate) within the snapshot
    first; this operator answers only the cross-snapshot question."""
    flags = flag_against_index(
        docs,
        path,
        text_col=text_col,
        id_col=id_col,
        threshold=threshold,
        broadcast_probe=broadcast_probe,
        handles=handles,
        normalize=normalize,
    )
    keep = flags.filter(
        ~F.col("dup_exact") & ~F.coalesce(F.col("dup_near"), F.lit(False))
    ).select(id_col)
    survivors = docs.join(keep, id_col)
    if update:
        survivors = survivors.localCheckpoint(eager=True)
        # the append digests with the SAME normalization as the probe —
        # an un-normalized append to a normalized index would store raw
        # keys the next snapshot's normalized probe can never hit
        # (review-caught: the exact silent-poisoning the prep signature
        # exists to prevent)
        extend_corpus_index(
            survivors, path, text_col=text_col, id_col=id_col,
            normalize=normalize,
        )
    return survivors
