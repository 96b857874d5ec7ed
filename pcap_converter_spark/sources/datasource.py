"""Chunk-indexed file sources: the one planner and the Spark 4 Python
DataSource faces shared by pcap (``sources/pcap.py``) and WARC
(``sources/warc.py``) — SURVEY.md §7.3's chunk indexer plus per-chunk
``mapInPandas`` decode.

A format supplies one ``ChunkedFormat`` descriptor: its name, row schema,
chunk-descriptor schema, an exact ``index(path, target)`` header walk and
``decode(chunk) -> pandas``. Every file, whatever its size, is indexed by
that exact walk: the formats carry no sync markers, so record boundaries
are never guessed. Everything else lives here, once:

- ``index_file``: ``fmt.index`` behind a descriptor cache keyed by file
  identity and ``target_chunk_bytes``;
- ``chunk_frame``: the descriptor DataFrame — the driver indexes up to
  ``_DRIVER_INDEX_MAX_FILES`` files and plans one partition per chunk;
  larger corpora index on the executors (one task per file) and
  repartition, so driver memory stays O(|paths|);
- ``read_chunked``: ``chunk_frame`` + the ``mapInPandas`` decode loop
  (``read_pcap``, ``read_warc``, ``warc_documents``);
- ``ChunkedFileDataSource``: ``spark.read.format(name)`` (one
  ``InputPartition`` per chunk, Arrow RecordBatches out) and
  ``spark.readStream.format(name)`` (``FileChunkStreamReader``).

DataSource options (all strings, per the DataSource options contract):

- ``path`` (or the ``.load(path)`` argument); globs allowed
- ``target_chunk_bytes``: split granularity (default 64 MiB)
- stream faces only: ``settle_seconds``, ``max_chunks_per_trigger``,
  ``max_chunks_state``, ``quarantine_dir`` (see ``FileChunkStreamReader``)

Above ``_MAX_PLANNED_CHUNKS`` estimated chunks (a size-only stat pass) and
with at least ``_MIN_COARSE_FILES`` files, the batch face plans one
partition per FILE and each task indexes its own file at read time: the
descriptor list the DataSource API forces through the driver stays
|files| long. A single colossal file keeps fine chunks — coarse
parallelism is the file count.

The pcap face keeps the per-row ``errors`` column (the DataSource API has
no hook for ``read_pcap``'s plan ``Observation``), so ``sum(errors)``
recovers the reference's "Packets: N Errors: M" accounting
(statswriter.rs:61-68).

Register once per session::

    from pcap_converter_spark.sources.datasource import register
    register(spark)
    df = spark.read.format("pcap").load("/captures/*.pcap")

(WARC: ``sources.warc.register_datasource``.)
"""

from __future__ import annotations

import glob
import logging
import os
from dataclasses import dataclass
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

DEFAULT_CHUNK_BYTES = 64 << 20

# few-files threshold: at or below this the driver walks headers itself
# (interactive/bench shape — exact one-chunk-per-partition fan-out);
# above it indexing AND the descriptor frame stay on the executors
_DRIVER_INDEX_MAX_FILES = 4
# batch DataSource face: coarsen to one partition per file above this
# many estimated chunks, given at least this many files
_MAX_PLANNED_CHUNKS = 65536
_MIN_COARSE_FILES = 16


@dataclass(frozen=True)
class ChunkedFormat:
    """What a chunk-indexed file format supplies to the shared planner."""

    name: str
    schema: StructType  # decoded rows
    chunk_schema: StructType  # fields of the chunk-descriptor dataclass
    index: Callable[[str, int], list]  # exact header walk -> descriptors
    decode: Callable[[dict], pd.DataFrame]  # descriptor dict -> rows


# chunk-descriptor cache keyed by file identity (path, size, mtime_ns) +
# target_chunk_bytes: the exact index is a full sequential header walk of
# the file, and re-deriving it for an unchanged file on every read is pure
# waste — interactive sessions and benchmarks read the same file
# repeatedly (the same move as Spark's own file-listing/footer caches).
# Descriptors are ~100 B per chunk; the cap bounds worst-case growth over
# a long session.
_INDEX_CACHE: dict[tuple, list] = {}
_INDEX_CACHE_MAX_FILES = 256


def index_file(fmt: ChunkedFormat, path: str, target_chunk_bytes: int) -> list:
    """``fmt.index(path, target_chunk_bytes)``, cached per (format, file
    identity, target); any size or mtime change invalidates."""
    st = os.stat(path)
    key = (
        fmt.name, os.path.abspath(path), st.st_size, st.st_mtime_ns,
        target_chunk_bytes,
    )
    cached = _INDEX_CACHE.get(key)
    if cached is not None:
        return cached
    chunks = fmt.index(path, target_chunk_bytes)
    if len(_INDEX_CACHE) >= _INDEX_CACHE_MAX_FILES:
        _INDEX_CACHE.clear()
    _INDEX_CACHE[key] = chunks
    return chunks


def _expand_paths(fmt: ChunkedFormat, paths) -> list[str]:
    """A glob string expands (sorted); a plain string or a list is taken
    as given. No files is an error, never a silently empty read."""
    if isinstance(paths, str):
        found = sorted(glob.glob(paths)) if glob.has_magic(paths) else [paths]
    else:
        found = list(paths)
    if not found:
        raise FileNotFoundError(f"{fmt.name} source: no files match {paths!r}")
    return found


def _target_bytes(options: dict) -> int:
    """``target_chunk_bytes`` from string-typed reader options."""
    return int(options.get("target_chunk_bytes", DEFAULT_CHUNK_BYTES))


def chunk_frame(spark, fmt: ChunkedFormat, paths, target_chunk_bytes: int):
    """Chunk-descriptor DataFrame for ``paths`` (a glob, a path or a
    list), or None when there are no chunks — WITHOUT materializing a
    corpus's descriptor list on the driver (VERDICT r10 #6: at 100 TB
    index-then-collect held ~1.6M descriptor dicts on the driver).

    Few files (≤ _DRIVER_INDEX_MAX_FILES): driver indexing, exactly one
    chunk per partition, and the descriptor cache keeps repeat reads
    free. Corpora: one index task per file emits its own descriptors,
    which flow straight into the decode stage through a shuffle of
    ~100-byte rows. The repartition spreads multi-chunk files
    across the cluster (a per-file partition would serialize each file's
    decode); descriptor rows are tiny, so the shuffle is noise next to
    one chunk's decode."""
    paths = _expand_paths(fmt, paths)
    if len(paths) <= _DRIVER_INDEX_MAX_FILES:
        rows = [
            c.__dict__
            for p in paths
            for c in index_file(fmt, p, target_chunk_bytes)
        ]
        if not rows:
            return None
        # through pandas, not a list: a local list becomes a
        # defaultParallelism-slice Python RDD, one Python task per slice.
        # Range-partitioned on the chunk ordinal: round-robin
        # repartition(n) starts at a random partition and leaves some of
        # the n partitions empty while others get two chunks
        schema = StructType(
            fmt.chunk_schema.fields + [StructField("_ord", LongType())]
        )
        pdf = pd.DataFrame(rows).assign(_ord=range(len(rows)))
        return (
            spark.createDataFrame(pdf, schema)
            .repartitionByRange(len(rows), "_ord")
            .drop("_ord")
        )
    fields = fmt.chunk_schema.fieldNames()
    rdd = spark.sparkContext.parallelize(paths, len(paths)).flatMap(
        lambda p: [
            tuple(c.__dict__[f] for f in fields)
            for c in index_file(fmt, p, target_chunk_bytes)
        ]
    )
    n_parts = max(spark.sparkContext.defaultParallelism * 4, len(paths))
    return spark.createDataFrame(rdd, fmt.chunk_schema).repartition(n_parts)


def read_chunked(spark, fmt: ChunkedFormat, paths, target_chunk_bytes: int):
    """``chunk_frame`` decoded one task per chunk through ``mapInPandas``
    with ``fmt.decode`` into ``fmt.schema``. A fused reader passes a
    ``dataclasses.replace`` of its format with its own decode and schema
    (``warc_documents``)."""
    frame = chunk_frame(spark, fmt, paths, target_chunk_bytes)
    if frame is None:
        return spark.createDataFrame([], fmt.schema)
    decode = fmt.decode

    def decode_partition(batches):
        for pdf in batches:
            for rec in pdf.to_dict("records"):
                yield decode(rec)

    return frame.mapInPandas(decode_partition, fmt.schema)


def _arrow_batches(pdf, schema) -> Iterator:
    """A decoded chunk's pandas frame → Arrow RecordBatches under the
    Spark schema (the DataSource faces hand Spark Arrow, no row-by-row
    Python)."""
    if not len(pdf):
        return
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    yield from pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(schema), preserve_index=False
    ).to_batches()


class ChunkedFileDataSource(DataSource):
    """``spark.read.format(name)`` / ``spark.readStream.format(name)`` for
    a ``ChunkedFormat``; a format's subclass only sets ``format``."""

    format: ChunkedFormat

    @classmethod
    def name(cls) -> str:
        return cls.format.name

    def schema(self):
        return self.format.schema

    def reader(self, schema) -> "ChunkedFileReader":
        return ChunkedFileReader(self.format, dict(self.options), schema)

    def streamReader(self, schema) -> "FileChunkStreamReader":
        return FileChunkStreamReader(self.format, dict(self.options), schema)


class ChunkedFileReader(DataSourceReader):
    """Batch face: one InputPartition per chunk descriptor, indexed at
    planning time on the driver, so decode parallelism equals chunk count
    exactly as in ``read_chunked``; per-file partitions above the
    module's coarse-plan constants (module docstring)."""

    def __init__(self, fmt: ChunkedFormat, options: dict, schema) -> None:
        self._fmt = fmt
        self._options = options
        self._schema = schema

    def partitions(self) -> list[InputPartition]:
        path = self._options.get("path")
        if not path:
            raise ValueError(
                f"{self._fmt.name} source requires a path: .load('/file')"
            )
        paths = _expand_paths(self._fmt, path)
        target = _target_bytes(self._options)
        est = sum(os.path.getsize(p) // target + 1 for p in paths)
        if est > _MAX_PLANNED_CHUNKS and len(paths) >= _MIN_COARSE_FILES:
            return [
                InputPartition({"coarse_path": p, "target": target})
                for p in paths
            ]
        return [
            InputPartition(c.__dict__)
            for p in paths
            for c in index_file(self._fmt, p, target)
        ]

    def read(self, partition: InputPartition) -> Iterator:
        v = partition.value
        if "coarse_path" in v:
            # coarse partition: index the file HERE, executor side
            chunks = [
                c.__dict__
                for c in index_file(self._fmt, v["coarse_path"], v["target"])
            ]
        else:
            chunks = [v]
        for c in chunks:
            yield from _arrow_batches(self._fmt.decode(c), self._schema)


def quarantine_file(path: str, qdir: str) -> str:
    """Move ``path`` into ``qdir`` (created on demand) and return where
    it landed. The destination is unique — ``name``, ``name.1``,
    ``name.2``, ... — so a same-named file quarantined by an earlier run
    keeps its bytes (ADVICE r15)."""
    os.makedirs(qdir, exist_ok=True)
    base = os.path.basename(path)
    dest = os.path.join(qdir, base)
    n = 0
    while os.path.exists(dest):
        n += 1
        dest = os.path.join(qdir, f"{base}.{n}")
    os.replace(path, dest)
    return dest


class FileChunkStreamReader(DataSourceStreamReader):
    """Shared Structured-Streaming machinery for chunk-indexed file
    formats (pcap, WARC): a landing directory micro-batched by file
    arrival.

    Offset model (file-source semantics): a file is data once it APPEARS
    in the directory and is treated as immutable from then on.
    **Producers MUST land files atomically** (write to a temp name in the
    same filesystem, then rename into the watched directory — what
    rotating capture tools and distcp-style movers do): a file is indexed
    the moment the glob first sees it, so bytes appended to an
    in-place-created file after first sight are NEVER ingested. For
    producers that cannot rename, set the ``settle_seconds`` option
    (e.g. ``"5"``): a file is then only admitted into the offset once it
    has gone unmodified (same size+mtime) for at least that long, trading
    per-file latency for safety against mid-write indexing. Indexing
    errors on a recently-modified file (truncated header race) defer the
    file to the next poll instead of killing the query; errors on a
    quiescent file still raise — unless ``quarantine_dir`` (option) is
    set, in which case a quiescent-but-unindexable file with NO committed
    progress is moved there (unique name, never overwriting an earlier
    quarantine) and the drain continues, the event logged as a WARNING — the
    CLI parquet pre-flight's set-aside contract applied to the custom
    faces, so one corrupt file cannot wedge a 100-TB drop. A corrupt
    file WITH committed progress still raises: quarantining it would
    silently lose its uncommitted span.

    The offset is ``{path: chunk_count_consumed}``; ``latestOffset``
    globs the directory and indexes only NEW files (the index is a
    metadata-cheap walk, cached on the reader), so each micro-batch plans
    one InputPartition per new chunk and executors decode exactly as in
    the batch reader. Checkpoint recovery replans ``partitions(start,
    end)`` from the chunk index, re-derived deterministically from the
    immutable files — exactly-once output without reader-side state. A
    file deleted AFTER its span was fully committed is tolerated on
    recovery (its ``start == end`` span plans nothing, so the index is
    never re-derived); a missing file with an uncommitted span raises a
    clear data-loss error rather than a confusing parse failure.

    **Bounded micro-batches** (VERDICT r14 #1): ``max_chunks_per_trigger``
    (option, int; 0/absent = unbounded) caps how many NEW chunks each
    ``latestOffset`` call admits beyond the last offset this reader
    returned — the ``maxFilesPerTrigger`` idea at chunk granularity, the
    unit executor memory actually scales with. Without it, a cron-able
    drain of a large drop directory is a scale hazard twice over: a live
    trigger's FIRST batch spans the whole backlog, and PySpark's
    PythonMicroBatchStream does not support ``Trigger.AvailableNow`` at
    all — Spark logs "falling back to single batch execution" and plans
    the ENTIRE directory as ONE micro-batch (unbounded state/sink memory
    at a 100-TB drop). With the cap, both the fallback and live triggers
    drain in bounded chunks. Contract under the AvailableNow fallback:
    one ``start()`` invocation drains at most ``cap`` chunks (the
    fallback snapshots ONE latestOffset) — re-invoke until the final
    offsets stop advancing, exactly the cron pattern the ingest CLI
    documents; a live trigger (processingTime) needs no re-invocation
    and ``processAllAvailable()`` drains the backlog fully in ≤cap-chunk
    batches. Results are cap-invariant (pytest-pinned: same final rows,
    >1 batch).

    **The cap must never rewind the checkpoint.** An offset this reader
    returns becomes Spark's committed truth for the NEXT batch's start,
    so offering anything BEHIND what an earlier incarnation already
    committed would re-plan committed chunks — duplicate rows from an
    exactly-once source (caught in this round's own review). And the
    reader cannot tell fresh from restarted at the decisive moment:
    Spark's PythonMicroBatchStream asks for ``latestOffset()`` BEFORE
    ``initialOffset()`` even on a brand-new query (observed; the offset
    runner protocol passes no start offset). The floor-trust ladder:

    1. A floor restored from ``max_chunks_state`` (option: path to a
       tiny JSON the reader maintains write-BEFORE-return, atomic
       rename). The recorded floor dominates every offset ever
       returned, hence every committed offset — capped drains stay
       bounded ACROSS restarts and cron invocations. One state path per
       query; for a genuinely fresh query, seed it with ``{}`` to cap
       from the very first batch (the ingest pattern: create it
       together with a new checkpoint dir).
    2. ``partitions(start, end)``/``commit(end)``/``initialOffset()``
       bootstrap the floor mid-life — an incomplete last batch is
       replayed through ``partitions`` before any new offset, and a
       fresh query's ``initialOffset`` lands right after its first
       ``latestOffset`` — so from the SECOND trigger on, every query
       is capped even with no state file.
    3. Otherwise the first ``latestOffset`` of an incarnation returns
       FULL availability — one uncapped batch, the pre-cap behavior,
       because full availability is the one offset provably ≥ any
       committed offset. Consequence for cron availableNow drains
       (one batch per invocation): set ``max_chunks_state`` or the cap
       never engages across invocations.

    The ``ChunkedFormat`` supplies indexing (through ``index_file``,
    honoring ``target_chunk_bytes``) and decoding.
    """

    # a file modified this recently may still be mid-write: indexing errors
    # on it defer to the next poll rather than failing the stream
    _RECENT_WRITE_S = 5.0

    def __init__(self, fmt: ChunkedFormat, options: dict, schema) -> None:
        self._fmt = fmt
        self._options = options
        self._schema = schema
        self._target = _target_bytes(options)
        self._chunks: dict[str, list[dict]] = {}  # path -> chunk dicts
        self._settle = float(self._options.get("settle_seconds", 0) or 0)
        self._seen: dict[str, tuple[int, float]] = {}  # path -> (size, mtime)
        self._cap = int(self._options.get("max_chunks_per_trigger", 0) or 0)
        if self._cap < 0:
            raise ValueError(
                f"max_chunks_per_trigger must be >= 0, got {self._cap} "
                "(0 means unbounded)"
            )
        # the highest offsets this reader has returned/observed: the base
        # the per-trigger cap advances from. _floor_trusted says whether
        # capping from it is SAFE (see the class docstring's rewind
        # contract) — capping from an untrusted floor could offer Spark
        # an offset behind the checkpoint and replay committed chunks.
        self._floor: dict[str, int] = {}
        self._floor_trusted = False
        self._state_path = self._options.get("max_chunks_state") or None
        if self._state_path:
            restored = self._load_floor_state()
            if restored is not None:
                self._floor = restored
                self._floor_trusted = True
        # option-gated corrupt-file set-aside (VERDICT r15 #4): without
        # it a quiescent-but-unindexable file raises out of latestOffset
        # and wedges the WHOLE drain — at a 100-TB drop one corrupt file
        # must be quarantine-able like the CLI parquet pre-flight.
        self._qdir = self._options.get("quarantine_dir") or None
        self._n_quarantined = 0

    def _path_glob(self) -> str:
        path = self._options.get("path")
        if not path:
            raise ValueError(
                f"{self._fmt.name} stream requires a path: "
                ".load('/landing-dir')"
            )
        if os.path.isdir(path):
            return os.path.join(path, "*")
        return path

    def _index_file(self, p: str) -> list[dict]:
        if p not in self._chunks:
            self._chunks[p] = [
                c.__dict__ for c in index_file(self._fmt, p, self._target)
            ]
        return self._chunks[p]

    def _load_floor_state(self) -> dict | None:
        import json

        try:
            with open(self._state_path) as f:
                raw = json.load(f)
            return {str(k): int(v) for k, v in raw.items()}
        except FileNotFoundError:
            return None
        except Exception:
            # torn/corrupt state (crash mid-write pre-rename cannot cause
            # this, but a manual edit can): fall back to the safe path —
            # one full-availability offset re-trusts the floor
            return None

    def _save_floor_state(self) -> None:
        """Write-BEFORE-return ordering: the state file must dominate
        every offset Spark ever sees, or a crash could leave it behind a
        committed offset and a later capped drain would rewind. Atomic
        tmp+rename, and DURABLE (r15 review): fsync the tmp file before
        the rename and the directory after it — without both, a power
        loss can durably commit Spark's checkpoint while the rename
        still sits in the page cache, leaving the floor behind a
        committed offset, which is precisely the rewind this file
        exists to prevent."""
        import json

        tmp = f"{self._state_path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self._floor, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._state_path)
        dfd = os.open(
            os.path.dirname(os.path.abspath(self._state_path)) or ".",
            os.O_RDONLY,
        )
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def initialOffset(self) -> dict:
        # Spark calls this ONLY when no checkpoint exists — a fresh query,
        # whose true floor IS zero: the cap may engage immediately
        self._floor_trusted = True
        return {}

    def _admissible(self, p: str) -> bool:
        """settle_seconds gate for non-atomic producers: admit only once
        the file has gone unmodified for the settle window."""
        import time

        try:
            st = os.stat(p)
        except OSError:
            return False  # vanished between glob and stat
        now = time.time()
        if self._settle <= 0:
            return True
        sig = (st.st_size, st.st_mtime)
        if self._seen.get(p) != sig:
            self._seen[p] = sig  # first sight or still growing: wait
            return False
        return now - st.st_mtime >= self._settle

    def _try_quarantine(self, p: str, exc: Exception) -> bool:
        """Move a quiescent-but-unindexable file into ``quarantine_dir``
        (option-gated; False = option unset or the move itself failed,
        caller re-raises). Unique destination (``quarantine_file``,
        shared with the CLI pre-flight) — and the event
        is logged as a WARNING (Python's last-resort handler writes it
        to stderr when no logging is configured) so an unattended cron's
        log says WHICH file was set aside and why."""
        import time as _t

        if not self._qdir:
            return False
        try:
            dest = quarantine_file(p, self._qdir)
        except OSError:
            return False  # cross-device / permissions: fail loudly instead
        self._n_quarantined += 1
        self._seen.pop(p, None)
        logging.getLogger(__name__).warning(
            f"{self._fmt.name} stream: quarantined {p} -> {dest} "
            f"(won't index after {_t.time() - os.stat(dest).st_mtime:.0f}s "
            f"quiescent: {type(exc).__name__}: {exc}) — "
            f"{self._n_quarantined} quarantined this reader"
        )
        return True

    def latestOffset(self) -> dict:
        import time

        out: dict[str, int] = {}
        # None = unbounded; otherwise the chunk budget left this trigger.
        # An UNTRUSTED floor (restart with a completed last batch, no
        # state file) forces one full-availability offset — the only
        # value provably ≥ whatever the checkpoint committed (rewind
        # contract, class docstring); the cap engages from the next call.
        budget = (
            self._cap if self._cap > 0 and self._floor_trusted else None
        )
        files = sorted(
            p for p in glob.glob(self._path_glob()) if os.path.isfile(p)
        )
        for p in files:
            floor = self._floor.get(p, 0)
            if p not in self._chunks:
                # EVERY skip path below must still emit the file's known
                # floor (ADVICE r15): after a restart with settle_seconds
                # the first sight of an already-committed file is
                # inadmissible, and omitting it from the offered offset
                # would let Spark commit an end offset WITHOUT the file —
                # a later batch's start.get(p, 0) is then 0 and
                # partitions() replans chunks [0, floor): duplicate rows,
                # the exact rewind the floor machinery exists to prevent.
                if budget is not None and budget <= 0:
                    # budget spent: do not even INDEX further new files —
                    # per-poll driver work stays bounded too
                    if floor:
                        out[p] = floor
                    continue
                if not self._admissible(p):
                    if floor:
                        out[p] = floor
                    continue
                try:
                    self._index_file(p)
                    self._seen.pop(p, None)
                except Exception as exc:
                    try:
                        age = time.time() - os.stat(p).st_mtime
                    except OSError:
                        if floor:
                            out[p] = floor
                        continue  # deleted mid-index: not data yet, skip
                    if age < max(self._settle, self._RECENT_WRITE_S):
                        if floor:
                            out[p] = floor
                        continue  # mid-write truncation race: retry later
                    if floor == 0 and self._try_quarantine(p, exc):
                        continue  # set aside; nothing of it was committed
                    # quiescent file that still won't index: corrupt. With
                    # committed progress (floor > 0) quarantining would
                    # HIDE unrecoverable loss of the uncommitted span, so
                    # the stream fails loudly either way.
                    raise
            n_avail = len(self._chunks[p])
            if budget is None:
                out[p] = n_avail
            else:
                adv = min(max(n_avail - floor, 0), budget)
                out[p] = floor + adv
                budget -= adv
        # remember what we offered: the next trigger advances from here
        # (monotonic per file — a glob miss never rolls an entry back),
        # and a full-availability offset re-trusts the floor
        for p, n in out.items():
            if n > self._floor.get(p, 0):
                self._floor[p] = n
        self._floor_trusted = True
        if self._state_path:
            self._save_floor_state()  # durable BEFORE Spark sees it
        return out

    def partitions(self, start: dict, end: dict):
        # checkpointed offsets are ground truth ≥ anything committed so
        # far: bootstrap the cap's floor from them (this is the call a
        # restart with an INCOMPLETE last batch replays before any
        # latestOffset, so that restart path caps immediately)
        for src in (start, end):
            for p, n in src.items():
                if int(n) > self._floor.get(p, 0):
                    self._floor[p] = int(n)
        self._floor_trusted = True
        parts: list[InputPartition] = []
        for p, n_end in end.items():
            n_start = int(start.get(p, 0))
            if int(n_end) <= n_start:
                # fully-committed span: plans nothing, so never re-derive
                # the index — tolerates files deleted after commit
                continue
            if p not in self._chunks and not os.path.exists(p):
                raise FileNotFoundError(
                    f"{self._fmt.name} stream: {p} has an unread span "
                    f"[{n_start}, {int(n_end)}) in the checkpointed offsets "
                    "but the file is gone — unrecoverable data loss (files "
                    "may only be deleted after their span is committed)"
                )
            for c in self._index_file(p)[n_start : int(n_end)]:
                parts.append(InputPartition(c))
        # Spark requires ≥1 partition per batch; an empty batch still plans
        return parts or [InputPartition(None)]

    def read(self, partition: InputPartition) -> Iterator:
        if partition.value is None:
            return iter(())
        return _arrow_batches(self._fmt.decode(partition.value), self._schema)

    def commit(self, end: dict) -> None:
        # the chunk cache is retained past commit: a restarted query may
        # replan any committed span, and (with the floor) it is the only
        # state this reader holds. Fast-forward the cap's floor to the
        # committed end so a restarted capped reader catches up to the
        # checkpoint in ONE step instead of ⌈committed/cap⌉ empty batches.
        for p, n in end.items():
            if int(n) > self._floor.get(p, 0):
                self._floor[p] = int(n)
        self._floor_trusted = True


def register(spark) -> None:
    """Idempotently register the ``pcap`` format on this session."""
    from pcap_converter_spark.sources.pcap import PcapDataSource

    spark.dataSource.register(PcapDataSource)
