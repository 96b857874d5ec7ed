"""The benchmark workloads: input generation, the timed operation, the
per-operation correctness check, and the per-layer probes of a traced run.

Every workload drives the package only through its public functions.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import gen

FRAG_PACKETS = 100_000
WARC_DOCS = 1_000

QUERIES = (
    "pq1_frag_pct",
    "pq2_first_fragments",
    "pq3_defrag",
    "pq5_tcp_flags",
    "pq6_top_talkers",
    "pq7_dns_shape",
)


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    )


def part_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def canonical(table: pa.Table) -> pa.Table:
    """Engine-neutral form of a query result: columns by name, integers as
    int64, floats as float64, timestamps as int64 microseconds, rows sorted."""
    cols, arrays = [], []
    for name in sorted(table.column_names):
        col = table.column(name)
        t = col.type
        if pa.types.is_timestamp(t):
            col = pc.cast(pc.cast(col, pa.timestamp("us", t.tz)), pa.int64())
        elif pa.types.is_integer(t):
            col = pc.cast(col, pa.int64())
        elif pa.types.is_floating(t) or pa.types.is_decimal(t):
            col = pc.cast(col, pa.float64())
        elif pa.types.is_large_string(t):
            col = pc.cast(col, pa.string())
        cols.append(name)
        arrays.append(col)
    out = pa.table(arrays, names=cols)
    return out.sort_by([(c, "ascending") for c in cols]) if cols else out


class Workload:
    """One benchmark workload. ``op`` is timed by the caller; everything
    else runs outside the timed window."""

    name = ""

    def __init__(self, work: str, seed: int, cores: int):
        self.work = work
        self.seed = seed
        self.cores = cores
        self.expected: dict = {}
        self.items = 0  # input items one operation covers
        self.in_bytes = 0
        self.out_bytes = 0
        self.probe_errors: list[str] = []  # wrong results of the layer probes

    def generate(self) -> None:
        raise NotImplementedError

    def op(self, spark, tracer):
        raise NotImplementedError

    def check(self, spark, result) -> list[str]:
        raise NotImplementedError

    def layers(self, spark, tracer, op_s: float) -> dict:
        """Per-layer probes of the traced run (each layer's public function
        timed on its own) -> metric values. ``op_s`` is the median steady
        operation time of the same run."""
        return {}

    def op_layers(self, tracer) -> dict:
        """Per-layer metrics read off the spans of the steady operations."""
        return {}


def _oracle_sql(spark_sql: str, duck_sql: str | None, parquet_dir: str) -> str:
    """The declared query's DuckDB text over ``parquet_dir``, with the
    ``packets`` CTE merged into the query's own WITH list."""
    cte = f"WITH packets AS (SELECT * FROM read_parquet('{parquet_dir}/*.parquet'))"
    body = (duck_sql or spark_sql).lstrip()
    if body[:5].upper() == "WITH ":
        return cte + ", " + body[5:]
    return cte + " " + body


# ------------------------------------------------------------- convert_frag


class ConvertFrag(Workload):
    """``operators.convert.convert()`` on a reflection-attack-shaped legacy
    pcap: the decode, the Python-worker boundary, the stage-1 Parquet write
    and the defrag rewrite all do real work. The traced run also times the
    Dissector-style declared queries over the conversion's Parquet, with
    DuckDB over the same files as the oracle."""

    name = "convert_frag"

    def generate(self) -> None:
        self.capture = os.path.join(self.work, "capture.pcap")
        self.expected = gen.write_frag(self.capture, FRAG_PACKETS, self.seed)
        self.items = self.expected["packets"]
        self.in_bytes = os.path.getsize(self.capture)
        self.out = os.path.join(self.work, "packets")

    def op(self, spark, tracer):
        from pcap_converter_spark.operators.convert import convert

        return convert(spark, self.capture, self.out)

    def check(self, spark, result) -> list[str]:
        from pcap_converter_spark.schema import PACKETS_SCHEMA

        e = self.expected
        errs = []
        if result["packets"] != e["packets"]:
            errs.append(f"packets {result['packets']} != {e['packets']}")
        if result["errors"] != 0:
            errs.append(f"decode errors {result['errors']}")
        if result["defragged"] != e["defragged"]:
            errs.append(f"defragged {result['defragged']} != {e['defragged']}")
        got = [(f.name, f.dataType) for f in spark.read.parquet(self.out).schema.fields]
        if got != [(f.name, f.dataType) for f in PACKETS_SCHEMA.fields]:
            errs.append("output schema differs from PACKETS_SCHEMA")
        n, cont, filled = duckdb.sql(
            "SELECT count(*), count(*) FILTER (ip_frag_offset > 0), "
            "count(*) FILTER (ip_frag_offset > 0 AND udp_srcport IS NOT NULL) "
            f"FROM read_parquet('{self.out}/*.parquet')"
        ).fetchone()
        if n != e["packets"]:
            errs.append(f"output rows {n} != {e['packets']}")
        if cont != e["continuation_rows"] or filled != cont - e["orphan_fragments"]:
            errs.append(f"defrag filled {filled}/{cont}, expected "
                        f"{e['continuation_rows'] - e['orphan_fragments']}/{e['continuation_rows']}")
        self.filled_ratio = filled / cont if cont else 1.0
        self.out_bytes = dir_bytes(self.out)
        self.out_files = part_files(self.out)
        return errs

    def layers(self, spark, tracer, op_s: float) -> dict:
        import pandas as pd

        from pcap_converter_spark.operators.defrag import (
            defrag,
            first_fragments,
            fragmentation_pct,
        )
        from pcap_converter_spark.sources.pcap import index_pcap, read_pcap, read_pcap_chunk

        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        with tracer.span("pcap.index"):
            chunks = index_pcap(self.capture)
        with tracer.span("decode.chunk"):
            pdf = read_pcap_chunk(chunks[0])
        decode_s = tracer.last("decode.chunk")
        with tracer.span("pcap.read_noop"):
            noop(read_pcap(spark, self.capture)[0])
        tmp = os.path.join(self.work, "layers.stage1")
        final = os.path.join(self.work, "layers.out")
        with tracer.span("convert.stage1"):
            read_pcap(spark, self.capture)[0].write.mode("overwrite").parquet(tmp)
        stage1 = spark.read.parquet(tmp)
        with tracer.span("defrag.pct"):
            pct = fragmentation_pct(stage1)
        with tracer.span("defrag.ff"):
            ff_rows = first_fragments(stage1).count()
        with tracer.span("defrag.rewrite"):
            noop(defrag(stage1))
        with tracer.span("convert.finalize"):
            if pct >= 1.0:
                defrag(stage1).write.mode("overwrite").parquet(final)
            else:
                shutil.move(tmp, final)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(final, ignore_errors=True)
        queries = self._query_probes(spark, tracer)
        stage1_s = tracer.last("convert.stage1")
        finalize_s = tracer.last("convert.finalize")
        pct_s = tracer.last("defrag.pct")
        return {
            "pcap.index_s": tracer.last("pcap.index"),
            "pcap.chunks": len(chunks),
            "pcap.tasks_per_core": len(chunks) / self.cores,
            "pcap.read_noop_s": tracer.last("pcap.read_noop"),
            "decode.chunk_pkts_per_s": len(pdf) / decode_s,
            "decode.errors": int(pd.Series(pdf["errors"]).sum()),
            "convert.stage1_s": stage1_s,
            "convert.sink_s": stage1_s - tracer.last("pcap.read_noop"),
            "convert.finalize_s": finalize_s,
            "convert.out_files": self.out_files,
            "convert.unattributed_s": op_s - (stage1_s + pct_s + finalize_s),
            "defrag.pct_s": pct_s,
            "defrag.ff_rows": ff_rows,
            "defrag.rewrite_s": tracer.last("defrag.rewrite"),
            "defrag.filled_ratio": self.filled_ratio,
            **queries,
        }

    def _query_probes(self, spark, tracer) -> dict:
        """The declared queries as Spark SQL over the last operation's
        Parquet: one cold pass, then a timed pass under the ``queries`` job
        group, each result checked against DuckDB."""
        from pcap_converter_spark.queries.declared import DECLARED_QUERIES

        spark.read.parquet(self.out).createOrReplaceTempView("packets")
        for span in ("queries.cold", "queries"):
            with tracer.span(span):
                for n in QUERIES:
                    with tracer.span(f"query.{n}"):
                        got = spark.sql(DECLARED_QUERIES[n].spark_sql).toArrow()
                    q = DECLARED_QUERIES[n]
                    want = duckdb.sql(_oracle_sql(q.spark_sql, q.duck_sql, self.out)).arrow()
                    if not canonical(got).equals(canonical(want)):
                        self.probe_errors.append(f"{span}/{n}: result differs from DuckDB")
        return {f"query.{n}_s": tracer.last(f"queries/query.{n}") for n in QUERIES}


# ------------------------------------------------------------- curate_warc


class CurateWarc(Workload):
    """WARC -> curation funnel -> packed artifact, as the ``curate`` CLI
    command runs it: no pcap code at all."""

    name = "curate_warc"

    def generate(self) -> None:
        self.warc = os.path.join(self.work, "crawl.warc.gz")
        self.expected = gen.write_warc(self.warc, WARC_DOCS, self.seed)
        self.items = self.expected["docs"]
        self.in_bytes = os.path.getsize(self.warc)
        self.out = os.path.join(self.work, "artifact")
        self.kept_hash = None

    def op(self, spark, tracer):
        from pcap_converter_spark.operators.pipeline import curate, curation_report, write_kept
        from pcap_converter_spark.sources.warc import warc_documents

        docs = warc_documents(spark, self.warc)
        handles: list = []
        with tracer.span("curate.flags"):
            flags = curate(docs, handles=handles).localCheckpoint(eager=True)
        with tracer.span("curate.write"):
            write_kept(flags, docs, self.out)
        with tracer.span("curate.report"):
            report = curation_report(flags, sort=False).collect()
        for h in handles:
            h.unpersist()
        return {r["stage"]: [r["n_entered"], r["n_kept"]] for r in report}

    def check(self, spark, result) -> list[str]:
        e = self.expected
        errs = []
        if result != e["funnel"]:
            errs.append(f"funnel {result} != {e['funnel']}")
        rows = duckdb.sql(
            f"SELECT url, doc_id FROM read_parquet('{self.out}/*/*.parquet')"
        ).fetchall()
        kept = {u for u, _ in rows}
        if len(kept) != len(rows) or len(rows) != e["funnel"]["kept"][1]:
            errs.append(f"{len(rows)} kept rows, expected {e['funnel']['kept'][1]}")
        bad = sum(len(kept.intersection(g)) != 1 for g in e["groups"])
        if bad:
            errs.append(f"{bad} duplicate groups do not keep exactly one page")
        if kept.intersection(e["short"]):
            errs.append("a page below the quality bar was kept")
        digest = hashlib.sha256(",".join(str(i) for _, i in sorted(rows, key=lambda r: r[1])).encode()).hexdigest()
        if self.kept_hash is None:
            self.kept_hash = digest
        elif digest != self.kept_hash:
            errs.append("kept ids differ from the first operation's")
        self.out_bytes = dir_bytes(self.out)
        self.funnel = result
        return errs

    def layers(self, spark, tracer, op_s: float) -> dict:
        from pcap_converter_spark.sources.warc import warc_documents

        with tracer.span("warc.read_noop"):
            warc_documents(spark, self.warc).write.format("noop").mode("overwrite").save()
        return {"warc.read_noop_s": tracer.last("warc.read_noop")}

    def op_layers(self, tracer) -> dict:
        out = {
            "curate.flags_s": statistics.median(tracer.durations("op/curate.flags")),
            "curate.write_s": statistics.median(tracer.durations("op/curate.write")),
        }
        for stage in ("quality", "exact", "neardup", "decon"):
            out[f"curate.n_{stage}_kept"] = self.funnel[stage][1]
        out["curate.n_kept"] = self.funnel["kept"][1]
        return out


WORKLOADS = {w.name: w for w in (ConvertFrag, CurateWarc)}
