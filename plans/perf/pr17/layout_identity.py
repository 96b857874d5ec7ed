#!/usr/bin/env python
"""Dump every at-rest ANN layout and corpus-index generation that the
write paths produce, step by step, so two trees can be compared byte for
byte.

Usage: python plans/perf/pr17/layout_identity.py WORKDIR > out.txt

WORKDIR is emptied and reused; the dump names paths relative to it
(``<work>``), so runs in different trees over the same code print the
same text. Chains, on one fixed 600-row embeddings frame (two batches):

- IVF: ivf_write -> ivf_append -> compact_ann_index_safe -> retrain_ann_index
- PQ:  pq_write(source=...) -> pq_append -> compact -> retrain
- corpus index: write_corpus_index -> extend_corpus_index
  -> compact_corpus_index_safe(files_per_table=2)

``files_per_cluster=2`` is passed to the IVF append, compaction and
retrain and to the PQ write and compaction, so every salt is covered.

After each step: the relative directory tree with the part-file count per
directory (part names carry random ids), every manifest body, the JSON
sidecars, sha256 of the centroid and codebook arrays and of the sorted
rows of every live table.
"""
from __future__ import annotations

import hashlib
import os
import shutil
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))))
sys.path.insert(0, _REPO)

import numpy as np  # noqa: E402

WORK = ""


def rel(s: str) -> str:
    return s.replace(WORK, "<work>")


def tree(path: str) -> list[str]:
    out = []
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        parts = [f for f in files if f.startswith("part-")]
        other = sorted(f for f in files
                       if not f.startswith("part-") and not f.endswith(".crc"))
        r = os.path.relpath(d, path)
        out.append(f"  {r}: parts={len(parts)} other={other}")
    return out


def sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:16]


def rows_hash(df) -> str:
    rows = sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    )
    return f"{df.schema.simpleString()} n={len(rows)} sha={sha(repr(rows).encode())}"


def dump_ann(spark, step: str, path: str) -> None:
    from pcap_converter_spark.operators import similarity as S

    print(f"== {step}")
    print("\n".join(tree(path)))
    for name in sorted(os.listdir(path)):
        if name.startswith("_manifest-"):
            print(f"  manifest {name}: {open(os.path.join(path, name)).read()}")
    root = S.resolve_ann_root(spark, path)
    print(f"  root: {rel(root)}")
    for name in (S.ANN_STATS_FILE, S.ANN_SOURCE_FILE):
        p = os.path.join(root, name)
        body = rel(open(p).read()) if os.path.exists(p) else None
        print(f"  {name}: {body}")
    c = S.read_ann_centroids(spark, path)
    cb = S.read_ann_codebooks(spark, path)
    print(f"  centroids: {None if c is None else (c.shape, sha(c.tobytes()))}")
    print(f"  codebooks: {None if cb is None else (cb.shape, sha(cb.tobytes()))}")
    print(f"  rows: {rows_hash(spark.read.parquet(root))}")


def dump_corpus(spark, step: str, path: str) -> None:
    from pcap_converter_spark.operators import incremental as inc

    print(f"== {step}")
    print("\n".join(tree(path)))
    for name in sorted(os.listdir(path)):
        if name.startswith("manifest-"):
            print(f"  manifest {name}: {open(os.path.join(path, name)).read()}")
    root = inc.resolve_index_root(spark, path)
    print(f"  root: {rel(root)}")
    for t in ("meta", "exact", "sigs", "bands"):
        print(f"  {t}: {rows_hash(spark.read.parquet(f'{root}/{t}'))}")


def main() -> int:
    global WORK
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    WORK = os.path.abspath(sys.argv[1])
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    from pyspark.sql import types as T

    from pcap_converter_spark.operators import incremental as inc
    from pcap_converter_spark.operators import similarity as S
    from pcap_converter_spark.session import get_spark

    spark = get_spark("layout-identity", master="local[2]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # keep every shuffle partition a task, so the file count per cluster
    # directory shows how the co-location salt spread the rows
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    rng = np.random.default_rng(17)
    modes = rng.standard_normal((6, 16))
    vecs = np.concatenate([
        modes[i % 6] + 0.3 * rng.standard_normal(16) for i in range(600)
    ]).reshape(600, 16)
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])

    def frame(lo, hi):
        return spark.createDataFrame(
            [(i, [float(np.float32(x)) for x in vecs[i]])
             for i in range(lo, hi)], schema)

    batch_a, batch_b = frame(0, 400), frame(400, 600)
    centroids = S.ivf_train(batch_a, n_clusters=6, id_col="vec_id")
    codebooks = S.pq_train(batch_a, m=4, ks=8)

    ivf = f"{WORK}/ivf"
    S.ivf_write(batch_a, centroids, ivf, id_col="vec_id")
    dump_ann(spark, "ivf_write", ivf)
    S.ivf_append(batch_b, centroids, ivf, files_per_cluster=2)
    dump_ann(spark, "ivf_append files_per_cluster=2", ivf)
    S.compact_ann_index_safe(spark, ivf, files_per_cluster=2)
    dump_ann(spark, "ivf compact files_per_cluster=2", ivf)
    S.retrain_ann_index(spark, ivf, files_per_cluster=2)
    dump_ann(spark, "ivf retrain files_per_cluster=2", ivf)

    src = f"{WORK}/source"
    batch_a.write.parquet(src)
    pq = f"{WORK}/pq"
    S.pq_write(batch_a, centroids, codebooks, pq, source=src,
               source_prep="fixed-v1", files_per_cluster=2)
    dump_ann(spark, "pq_write files_per_cluster=2", pq)
    batch_b.write.mode("append").parquet(src)
    S.pq_append(batch_b, centroids, codebooks, pq)
    dump_ann(spark, "pq_append", pq)
    S.compact_ann_index_safe(spark, pq, files_per_cluster=2)
    dump_ann(spark, "pq compact files_per_cluster=2", pq)
    S.retrain_ann_index(spark, pq)
    dump_ann(spark, "pq retrain", pq)

    docs_schema = "doc_id long, text string"
    words = [f"w{i}" for i in range(40)]
    texts = [" ".join(words[(i * 7 + j) % 40] for j in range(12))
             for i in range(60)]
    corpus = f"{WORK}/corpus"
    inc.write_corpus_index(
        spark.createDataFrame(list(enumerate(texts[:40])), docs_schema), corpus)
    inc.extend_corpus_index(
        spark.createDataFrame([(i + 40, t) for i, t in enumerate(texts[40:])],
                              docs_schema), corpus)
    inc.compact_corpus_index_safe(spark, corpus, files_per_table=2)
    dump_corpus(spark, "corpus compact files_per_table=2", corpus)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
