"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``       : brute-force top-k against a literal query vector.
  The vector is embedded in the plan (no join, no broadcast exchange, no
  shuffle); execution is scan → project(cosine) → TakeOrderedAndProject.
  That plan is already optimal at 100 TB: the only cross-partition traffic
  is k rows per partition.
- ``cosine_pairs``      : exact all-pairs ≥ threshold (block-nested cross
  join). The correctness baseline — quadratic, for validation scale only.
- ``lsh_bucket_topk``   : the scale path for repeated queries. Random-
  hyperplane signatures bucket the corpus once (signature = projection
  pass); a query probes only its own bucket (+ optional multi-probe
  neighbors at hamming distance 1), turning top-k into a bucket-local
  scan. Approximate (recall < 1), rows-only checked.

Hyperplanes are generated from a seeded NumPy RNG on the driver and enter
the plan as literals — deterministic across runs and executors.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at runtime
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pcap_converter_spark.functions.vectors import (
    cosine,
    dot,
    literal_matrix,
    literal_vector,
    norm,
)
from pcap_converter_spark.io.sinks import write_partitioned
from pcap_converter_spark.operators.incremental import (
    _commit_generation,
    _drop_generations,
    _hadoop_fs,
    _live_epoch,
    _read_json,
    _read_manifest,
    _root_epoch,
    _vacuum_generations,
    _write_json,
)


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``."""
    qv = literal_vector(query_vec)
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qv), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_int8(vec_col):
    """Symmetric int8 quantization of a float vector column: per-vector
    scale = max|x|/127, elements truncated toward zero to [-127, 127].

    Returns (scale, qvec) column expressions. This is the at-rest
    compression tier for a 100 TB embedding corpus: 4× smaller than
    float32, and cosine is scale-invariant so quantized cosine needs no
    rescale. The math is pinned to IEEE-double ops (abs → max → /127 →
    divide → truncate) so the DuckDB oracle and a Python reference
    reproduce it bit-for-bit."""
    amax = F.array_max(F.transform(vec_col, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    qvec = F.when(
        scale > 0,
        # ANSI cast double→int truncates toward zero (== SQL trunc)
        F.transform(vec_col, lambda x: (x / scale).cast("int")),
    ).otherwise(F.transform(vec_col, lambda x: F.lit(0)))
    return scale, qvec


def _quantize_query_int8(v: list[float]) -> list[int]:
    """Driver-side twin of ``quantize_int8`` for the literal query vector —
    same IEEE-double operation sequence, so values match the column form."""
    import math

    amax = max(abs(float(x)) for x in v) if v else 0.0
    if amax == 0.0:
        return [0] * len(v)
    s = amax / 127.0
    return [int(math.trunc(float(x) / s)) for x in v]


def quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine over int8-QUANTIZED vectors (both sides quantized).

    Same plan shape as ``cosine_topk`` (scan → project → TakeOrdered), but
    the similarity runs on the compressed representation: integer dot
    products in long arithmetic. The answer differs from exact cosine only
    by quantization error — the oracle re-derives the identical
    quantization, so what is hash-checked is the quantizer + integer
    scoring, not a lucky agreement with exact."""
    qq = _quantize_query_int8(query_vec)
    # one parsed expression, not len(qq) Py4J lit calls (literal_vector's
    # rationale; int literals round-trip trivially)
    qql = F.expr("array(" + ",".join(str(int(x)) for x in qq) + ")")

    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    _, qvec = quantize_int8(F.col(vec_col))
    # materialize the quantized array once: higher-order fns re-evaluate
    # their input per reference, so the three dots below must see a real
    # column, not the quantization expression
    quant = df.select(F.col(id_col), qvec.alias("q"))
    dq = int_dot(F.col("q"), F.col("q"))
    # the query's self-dot is a CONSTANT — integer arithmetic, so the
    # driver-side sum is bit-identical to the per-row fold it replaces
    dd = F.lit(int(sum(int(x) * int(x) for x in qq))).cast("long")
    dot_qq = int_dot(F.col("q"), qql)
    return (
        quant.select(
            F.col(id_col),
            F.round(
                F.when(
                    (dq > 0) & (dd > 0),
                    dot_qq / (F.sqrt(dq) * F.sqrt(dd)),
                ).otherwise(F.lit(-2.0)),
                4,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    rows_per_block: int = 8192,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, as a blocked block-nested join.

    Rows are hashed into ``n_blocks`` buckets; each of the
    n_blocks·(n_blocks+1)/2 unordered block pairs is cogrouped and scored
    with one vectorized NumPy matmul (Arrow-batched, float64). Compute stays
    O(n²) — it is an *exact* operator — but each row is communicated only
    O(n_blocks) times and every flop runs vectorized instead of through
    interpreted per-element expressions.

    ``n_blocks=None`` sizes the blocking from the data (the AQE move, done
    once with a metadata-cheap count): ceil(n / rows_per_block), so a
    validation-scale corpus runs as a single matmul instead of 36
    scheduling-overhead-bound cogroup tasks, while a corpus-scale run gets
    however many blocks keep a block inside executor memory. The result is
    identical for any blocking (tests assert it); at real corpus scale
    prefer the LSH variant outright.
    """
    import math

    import pandas as pd
    from pyspark.sql import types as T

    spark = df.sparkSession
    if n_blocks is None:
        n_blocks = max(1, math.ceil(df.count() / rows_per_block))
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)], ["bi", "bj"]
    )
    base = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # replicate each row to every block-pair it participates in (aliased
    # projections keep the two derivations of `base` unambiguous)
    left = (
        base.alias("L")
        .join(F.broadcast(block_pairs.alias("P1")), F.col("L.blk") == F.col("P1.bi"))
        .select(
            F.col("P1.bi").alias("bi"), F.col("P1.bj").alias("bj"),
            F.col("L.vid").alias("vid"), F.col("L.vec").alias("vec"),
        )
    )
    right = (
        base.alias("R")
        .join(F.broadcast(block_pairs.alias("P2")), F.col("R.blk") == F.col("P2.bj"))
        .select(
            F.col("P2.bi").alias("bi"), F.col("P2.bj").alias("bj"),
            F.col("R.vid").alias("vid"), F.col("R.vec").alias("vec"),
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score(key, la: pd.DataFrame, rb: pd.DataFrame) -> pd.DataFrame:
        if la.empty or rb.empty:
            return pd.DataFrame(columns=["id_a", "id_b", "cos_sim"])
        ma = np.stack(la["vec"].to_numpy()).astype(np.float64)
        mb = np.stack(rb["vec"].to_numpy()).astype(np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = np.round(ma @ mb.T, 4)
        ia = la["vid"].to_numpy()
        ib = rb["vid"].to_numpy()
        if key[0] == key[1]:
            # same block on both sides: the cross product contains both
            # orientations — keep the canonical one only
            mask = (sims >= threshold) & (ia[:, None] < ib[None, :])
        else:
            # distinct blocks: each unordered pair appears exactly once;
            # canonicalize ids below instead of filtering by order
            mask = sims >= threshold
        ai, bi_ = np.nonzero(mask)
        lo = np.minimum(ia[ai], ib[bi_])
        hi = np.maximum(ia[ai], ib[bi_])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": sims[ai, bi_]})

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(score, schema=out_schema)
    )


def ivf_train(
    df: DataFrame,
    n_clusters: int = 16,
    sample_size: int = 4096,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_order: str = "id",
) -> np.ndarray:
    """Train spherical-kmeans centroids for an IVF index.

    The standard IVF build path: a bounded, deterministic SAMPLE of the
    corpus comes to the driver (a few thousand rows regardless of corpus
    size) and Lloyd iterations run in NumPy. Returns L2-normalized
    centroids (n_clusters × dim); assignment by max dot product is then
    cosine assignment.

    ``sample_order`` picks the deterministic sample: ``"id"`` (lowest
    ids — the original contract, kept as the default because the
    oracle-gated entries pin its exact centroids) or ``"hash"``
    (xxhash64-ordered — a REPRESENTATIVE pseudo-random sample; on a
    corpus whose ids correlate with arrival time, id-order trains on
    the OLDEST vectors only, which is exactly wrong for retraining a
    drifted index — see ``retrain_ann_index``, r14 review)."""
    m = _sample_vectors(
        df, vec_col, sample_size, id_col=id_col, order=sample_order
    )
    return _kmeans(m, n_clusters, n_iters, seed)


def _kmeans(
    m: np.ndarray, n_clusters: int, n_iters: int, seed: int
) -> np.ndarray:
    """The Lloyd core over an already-collected sample matrix — split out
    (r14 review) so retrain_ann_index can sample ONCE and feed both the
    training and the recorded fit stats, instead of running two identical
    TakeOrdered scans of the index."""
    if not len(m):
        raise ValueError("no vectors to train on: the sample is empty")
    m = np.array(m, dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    centroids = m[rng.choice(len(m), size=min(n_clusters, len(m)), replace=False)]
    for _ in range(n_iters):
        assign = np.argmax(m @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = m[assign == c]
            if len(members):
                v = members.sum(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    centroids[c] = v / n
    return centroids


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding") -> DataFrame:
    """Attach the nearest-centroid cluster id as ``_cluster`` — a pure
    projection over plan-literal centroids (no shuffle, no join). At rest,
    write the corpus partitioned by ``_cluster`` (io.sinks.write_partitioned)
    so probes become partition-pruned scans.

    PERF: the per-centroid dot expressions are higher-order functions
    Catalyst interprets per element — O(k·dim) interpreter steps per row.
    Fine at probe-sized k (the oracle-parity path); for corpus-sized
    ASSIGNMENT passes at larger k use ``assign_clusters``, which switches
    to one Arrow-batched matmul per batch (same argmax contract)."""
    norm_v = norm(F.col(vec_col))
    dots = F.array(
        *[
            F.when(norm_v > 0, dot(F.col(vec_col), literal_vector(list(c))) / norm_v)
            .otherwise(F.lit(-2.0))
            for c in centroids
        ]
    )
    cluster = (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    return df.withColumn("_cluster", cluster)


def assign_arrow(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched matmul per batch.

    Same contract as ``ivf_assign`` (argmax cosine against
    broadcast-by-value centroids, ties → lowest cluster id, zero-norm
    rows → cluster 0) but vectorized: the per-centroid HOF expressions
    ivf_assign plans are interpreted per element — measured 51 s for 3
    assignment passes at 50k×64 with k≈100, vs ~2 s here (the r5
    SemDeDup scale-smoke catch). Still a projection: no join, no
    shuffle — the centroid matrix rides into the UDF closure."""
    from pyspark.sql.functions import pandas_udf

    b = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        m = np.stack(vs.to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        return pd.Series(np.argmax((m / nrm) @ b.T, axis=1).astype("int32"))

    return df.withColumn("_cluster", assign(F.col(vec_col)))


ASSIGN_ARROW_MIN_K = 17  # ≤16 centroids: expression path (oracle parity)


def assign_clusters(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """The corpus-assignment dispatcher: plan-literal expressions for
    probe-sized k (pure JVM, zero Python — the driver-oracle path),
    Arrow matmul once k makes the interpreted HOF cost dominate. Index
    BUILDS go through this — at 100 TB with k ≈ √n clusters the
    expression path would be quadratic-feeling in practice."""
    if len(centroids) >= ASSIGN_ARROW_MIN_K:
        return assign_arrow(df, centroids, vec_col)
    return ivf_assign(df, centroids, vec_col)


def ivf_topk(
    df: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: score only the ``nprobe`` clusters nearest the query.

    With C clusters the probe scans ~nprobe/C of the corpus; the cluster
    filter is a plan-literal IN (partition-prunable when the corpus is
    stored partitioned by cluster). Approximate — recall governed by
    nprobe; tests bound it against exact top-k.
    """
    probes = _nearest_clusters(centroids, query_vec, nprobe)
    score = cosine(F.col(vec_col), literal_vector(query_vec))
    assigned = assign_clusters(df, centroids, vec_col)
    return _scan_top_k(assigned, probes, score, k, id_col)


def _nearest_clusters(
    centroids: np.ndarray, query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` clusters whose centroids rank highest against the
    L2-normalized query — the probe set of every single-query IVF and PQ
    probe."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    return [int(p) for p in np.argsort(-(centroids @ q))[:nprobe]]


def _scan_top_k(
    index: DataFrame, probes: list[int], score, k: int, id_col: str
) -> DataFrame:
    """Score the rows of the probed clusters only (a plan-literal IN on
    ``_cluster``, partition-prunable at rest) and take the k best by
    (cos_sim desc, id)."""
    return (
        index.filter(F.col("_cluster").isin(probes))
        .select(F.col(id_col), F.round(score, 4).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def _scan_top_k_many(
    spark, tagged_indexes, probes: list[int], score, k: int, id_col: str,
    tag_col: str,
) -> DataFrame:
    """``_scan_top_k`` over SEVERAL indexes in one plan: the pruned scans
    union under a tag and one window takes per-tag top-k."""
    cos_sim = F.round(score, 4).alias("cos_sim")
    both = None
    for tag, idx in tagged_indexes:
        part = _open_index(spark, idx).filter(
            F.col("_cluster").isin(probes)
        ).select(F.lit(tag).alias(tag_col), F.col(id_col), cos_sim)
        both = part if both is None else both.unionByName(part)
    return _top_k_per(both, tag_col, id_col, k, "_rk").drop("_rk")


def _top_k_per(
    scored: DataFrame, part_col: str, id_col: str, k: int, rank_col: str
) -> DataFrame:
    """Per-``part_col`` top-k: ``rank_col`` = row_number under (cos_sim
    desc, id), the order ``_scan_top_k`` takes its k under, so both give
    identical rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(part_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    ranked = scored.withColumn(rank_col, F.row_number().over(w))
    return ranked.filter(F.col(rank_col) <= k)


def _explode_probes(
    queries: DataFrame, centroids: np.ndarray, nprobe: int, q_id_col: str,
    q_vec_col: str, broadcast_probe: bool,
) -> DataFrame:
    """(q_id_col, _qv, _cluster): each query ranks the literal centroids
    (a pure projection; the struct sort (−dot, cluster) keeps the
    single-query tie-break) and explodes into its ``nprobe`` probe
    clusters — broadcast unless ``broadcast_probe=False``."""
    qv = F.col("_qv")
    entries = [
        F.struct(
            (-dot(qv, literal_vector([float(x) for x in c]))).alias("nd"),
            F.lit(i).alias("cl"),
        )
        for i, c in enumerate(centroids)
    ]
    probe_arr = F.transform(
        F.slice(F.array_sort(F.array(*entries)), 1, nprobe),
        lambda s: s["cl"].cast("int"),
    )
    probed = queries.select(
        F.col(q_id_col), F.col(q_vec_col).alias("_qv")
    ).select(q_id_col, "_qv", F.explode(probe_arr).alias("_cluster"))
    return F.broadcast(probed) if broadcast_probe else probed


def _append_clusters(
    spark, path: str, rows: DataFrame, salt_cols: list[str],
    files_per_cluster: int = 1,
) -> None:
    """Append ``rows`` into the LIVE generation of the layout at
    ``path``, then detect the append-vs-compaction race the layout's
    docstrings forbid (ADVICE r13): if the generation we actually WROTE
    INTO is no longer the live one, the rows landed in a superseded
    layout — vacuum would drop them SILENTLY. Raising turns that into a visible,
    retryable failure — but the remedy needs a check first (ADVICE r14):
    if the concurrent commit listed the old generation's files AFTER
    this append's part-files landed, the new generation already carries
    the rows and a blind re-run would duplicate them.

    The comparison is written-root-epoch vs post-write live epoch (NOT
    before/after epoch samples — r14 review: a compaction committing
    between an epoch sample and the root resolution makes the append
    land correctly in the NEW generation, and a before/after check would
    falsely raise and its re-run remedy would then DUPLICATE the rows)."""
    root = resolve_ann_root(spark, path)
    _write_clusters(rows, root, salt_cols, files_per_cluster, mode="append")
    wrote = _root_epoch(path, root, _ANN_GEN)
    live = _live_epoch(spark, path, manifest_prefix=_ANN_MANIFEST)
    if wrote != live:
        raise RuntimeError(
            f"ANN append at {path} raced a compaction/retrain: the rows "
            f"were written into generation {wrote} but the live "
            f"generation is now {live} — a SUPERSEDED layout that the "
            "next vacuum drops. Verify the live generation does not "
            "ALREADY contain these ids before re-running the append: a "
            "concurrent commit that listed the old generation's files "
            "AFTER these rows landed carried them into the new layout, "
            "and a blind re-run would then duplicate them (the detection "
            "window cannot distinguish the two interleavings — ADVICE "
            "r14)"
        )


def _write_clusters(
    df: DataFrame, root: str, salt_cols: list[str],
    files_per_cluster: int = 1, mode: str = "overwrite",
) -> None:
    """The one partitioned write of every ANN layout. Co-locating each
    cluster before the partitioned write stops every upstream task
    opening a writer per cluster it touches (m tasks × C clusters small
    files). The default hashes on ``_cluster`` alone — one task and one
    file per cluster, the layout a pruned probe wants — which caps write
    parallelism at C and makes a hot cluster a straggler. At corpus
    scale set ``files_per_cluster`` > 1: rows are additionally salted on
    ``xxhash64(salt_cols)`` (deterministic, no extra column), spreading
    each cluster over that many tasks/files while the probe's directory
    pruning is untouched (VERDICT r4 #7). Each layout salts on what
    identifies a row: the vector (IVF), the code (PQ), every data column
    (compaction). The salted shuffle names its partition count
    (``spark.sql.shuffle.partitions``) because AQE coalesces a column
    repartition that has none, which would merge a small layout's
    salted partitions back into one file per cluster."""
    if files_per_cluster <= 1:
        df = df.repartition(F.col("_cluster"))
    else:
        salt = F.pmod(F.xxhash64(*salt_cols), F.lit(int(files_per_cluster)))
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartition(n, F.col("_cluster"), salt)
    write_partitioned(df, root, ["_cluster"], mode=mode)


def _pq_rows(
    df: DataFrame, centroids: np.ndarray, codebooks: np.ndarray,
    id_col: str, vec_col: str,
) -> DataFrame:
    """The IVF-PQ layout's rows: ``(id, vnorm, pq_code, _cluster)`` —
    the coarse cluster, the product code, and the vector norm the ADC
    score normalizes by; the vector itself does not ride along."""
    coded = pq_assign(assign_clusters(df, centroids, vec_col), codebooks, vec_col)
    return coded.select(
        id_col, norm(F.col(vec_col)).alias("vnorm"), "pq_code", "_cluster"
    )


def ivf_write(
    df: DataFrame,
    centroids: np.ndarray,
    out: str,
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    id_col: str | None = None,
) -> None:
    """Materialize the IVF index AT REST: assign each row its nearest
    centroid and write Hive-partitioned by ``_cluster``. This is the write
    half of the docstring claim on ``ivf_topk`` — once at rest, a probe is
    a partition-PRUNED scan (nprobe directories opened, the rest never
    read; tests/test_plan_audit.py asserts PartitionFilters on the scan).

    The rows are co-located per cluster before the write
    (``_write_clusters``); ``files_per_cluster`` > 1 salts on the vector.

    The write also records two underscore-hidden sidecars inside the
    data root (invisible to Spark's file listing, so probes are
    unchanged): the centroid matrix (``_centroids`` parquet — the index
    becomes self-describing; ``read_ann_centroids`` recovers the probe
    geometry without the driver-held array) and the training-sample fit
    stats (``_ann_stats.json`` — the baseline ``ann_drift_report``
    compares against to say when to ``retrain_ann_index``)."""
    # id_col contract (r14 review): an EXPLICIT id_col that is absent is
    # a caller error, not a silent fallback to the one-data-mode
    # unordered sample that round fixed; the default (None) auto-uses
    # 'vec_id' when present and warns when no id exists at all, so the
    # degraded baseline is at least visible. Validated PRE-FLIGHT
    # (ADVICE r14): a caller typo must raise BEFORE the partitioned
    # write, not after the index is already materialized with no stats
    # sidecar recorded.
    if id_col is not None and id_col not in df.columns:
        raise ValueError(
            f"ivf_write: id_col={id_col!r} not in {df.columns} — pass a "
            "real id column (or omit it to auto-detect 'vec_id')"
        )
    eff_id = id_col or ("vec_id" if "vec_id" in df.columns else None)
    if eff_id is None:
        import warnings

        warnings.warn(
            "ivf_write: no id column — the recorded drift baseline comes "
            "from an UNORDERED sample (often a single data mode); pass "
            "id_col= for the representative hash-ordered baseline the "
            "drift report compares against",
            stacklevel=2,
        )
    _drop_generations(df.sparkSession, out, _ANN_MANIFEST, _ANN_GEN)
    _write_clusters(
        assign_clusters(df, centroids, vec_col), out, [vec_col],
        files_per_cluster,
    )
    # baseline stats from the SAME hash-ordered sampling the drift
    # report uses (r14 review: an unordered limit() collects whatever
    # partitions answer first — typically ONE data mode — and comparing
    # a one-mode baseline with the report's representative sample makes
    # the drift verdict unreliable in both directions). Falls back to
    # unordered when the frame has no id column; an empty corpus writes
    # no stats (nothing to baseline) rather than crashing post-write.
    sample = _sample_vectors(
        df, vec_col, 4096, id_col=eff_id,
        order="hash" if eff_id else "id",
    )
    _write_sidecars(
        df.sparkSession, out, centroids=centroids,
        stats=centroid_fit_stats(sample, centroids) if len(sample) else None,
    )


def ivf_append(
    df: DataFrame,
    centroids: np.ndarray,
    out: str,
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
) -> None:
    """Extend a materialized IVF index with new vectors — the rolling-
    corpus path: assign against the EXISTING centroids (they are the
    index's pinned geometry, like the corpus index's meta parameters) and
    append to the cluster directories; probes see old + new rows with no
    rewrite. Partition quality degrades only if the embedding
    distribution drifts from the training sample — ``retrain_ann_index``
    is the (rare, explicit) remedy, not something appends do silently;
    ``ann_drift_report`` says when.

    Concurrent compactions: the docstring contract forbids appends
    across a ``compact_ann_index_safe``/``retrain_ann_index`` commit,
    and the post-write epoch re-check below DETECTS a violation (ADVICE
    r13): an append whose root resolved before a concurrent commit
    writes into the superseded generation and would be silently dropped
    at the next vacuum — now it raises, and the remedy is simply to
    re-run the append (the new live generation never saw these rows)."""
    _append_clusters(
        df.sparkSession, out, assign_clusters(df, centroids, vec_col),
        [vec_col], files_per_cluster,
    )


def pq_append(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    out: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Extend a materialized IVF-PQ index: encode the new vectors under
    the EXISTING codebooks and append their (id, vnorm, code) rows —
    byte-compatible with every earlier row, so the ADC probe needs no
    version logic. Post-write epoch re-check as in ``ivf_append``."""
    # one file per cluster: pq_append takes no files_per_cluster
    _append_clusters(
        df.sparkSession, out,
        _pq_rows(df, centroids, codebooks, id_col, vec_col), ["pq_code"],
    )


def ivf_topk_at_rest(
    spark,
    index_path: str,
    centroids: np.ndarray | None,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a materialized IVF index: rank the literal centroids against
    the query, scan ONLY the nprobe nearest cluster directories (the
    ``_cluster IN (...)`` filter is a static partition filter — Catalyst
    prunes the other directories before any I/O), score, take k.

    ``centroids=None`` recovers the probe geometry from the index's own
    ``_centroids`` sidecar (r14) — a new session, a crash, or a
    different team probes the index with nothing but its path."""
    index, centroids = _open_with_geometry(spark, index_path, centroids)
    probes = _nearest_clusters(centroids, query_vec, nprobe)
    score = cosine(F.col(vec_col), literal_vector(query_vec))
    return _scan_top_k(index, probes, score, k, id_col)


def ivf_topk_at_rest_many(
    spark,
    tagged_indexes,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tag_col: str = "tier",
) -> DataFrame:
    """The same at-rest IVF probe against SEVERAL index generations in
    ONE plan (VERDICT r7 #2: the rest/append tiers each ran their own
    ~2 s single-query job; here the pruned scans union under a tag and
    one window takes per-tag top-k — identical rows to the per-index
    ``ivf_topk_at_rest``, since row_number under the same (score desc,
    id) order equals orderBy().limit(k)). The scoring expression is also
    built once, not per index — plan-construction Py4J chatter halves.
    ``tagged_indexes``: [(tag, path-or-DataFrame), ...]."""
    probes = _nearest_clusters(centroids, query_vec, nprobe)
    score = cosine(F.col(vec_col), literal_vector(query_vec))
    return _scan_top_k_many(
        spark, tagged_indexes, probes, score, k, id_col, tag_col
    )


def ivf_topk_batch(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    q_id_col: str = "query_id",
    q_vec_col: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_corpus: bool = True,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Top-k for MANY queries in one job — the batch-retrieval shape
    (embedding-dedup joins, RAG eval sweeps) where looping
    ``ivf_topk`` per query would schedule |Q| jobs.

    ``broadcast_probe=False`` degrades the exploded-query side to a
    shuffle join (AQE picks the strategy) instead of failing at the
    broadcast size limit — the same escape hatch as
    ``incremental.flag_against_index``, for query batches past ~1M rows
    (each exploded row carries the full query vector).

    Plan: each query ranks the literal centroids (pure projection; struct
    sort (−dot, cluster) keeps the single-query tie-break) and EXPLODES
    into its ``nprobe`` probe clusters; the corpus/index side joins that
    small exploded frame BROADCAST on ``_cluster`` — the corpus is only
    scanned, and when ``corpus`` is the materialized IVF index
    (``ivf_write`` output, ``assign_corpus=False``) the broadcast join on
    the partition column lets dynamic partition pruning skip unprobed
    cluster directories entirely (plan-audit-tested). Per-query top-k is
    a row_number window over the LSH-bounded candidate set (|Q|·nprobe/C
    of the corpus — the output-bound stage; AQE handles query skew).

    Returns (q_id_col, vec_id, cos_sim, rank), rank 1..k per query."""
    probed = _explode_probes(
        queries, centroids, nprobe, q_id_col, q_vec_col, broadcast_probe
    )
    side = assign_clusters(corpus, centroids, vec_col) if assign_corpus else corpus
    scored = side.join(probed, "_cluster").select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("_qv")), 4).alias("cos_sim"),
    )
    return _top_k_per(scored, q_id_col, id_col, k, "rank")


def pq_topk_batch(
    queries: DataFrame,
    index: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    q_id_col: str = "query_id",
    q_vec_col: str = "embedding",
    id_col: str = "vec_id",
    broadcast_probe: bool = True,
) -> DataFrame:
    """Batch ADC retrieval against the materialized IVF-PQ index — the
    ``ivf_topk_batch`` shape with PQ scoring: queries explode into their
    probe clusters and broadcast onto the code table (dynamic partition
    pruning skips unprobed directories); each candidate scores as
    Σⱼ qⱼ·codebook[j][codeⱼ] / (vnorm·|q|), with the query SLICE taken
    from the riding query column (the literal codebook row is still
    selected by the stored byte). Per-query top-k via the same bounded
    row_number window. ``broadcast_probe=False`` degrades to a shuffle
    join for oversized query batches (see ``ivf_topk_batch``). Returns
    (q_id_col, vec_id, cos_sim, rank)."""
    m, ks, dsub = codebooks.shape
    qv = F.col("_qv")
    probed = _explode_probes(
        queries, centroids, nprobe, q_id_col, q_vec_col, broadcast_probe
    )
    terms = []
    for j in range(m):
        # one parsed array-of-arrays literal per codebook (m Py4J round
        # trips total) — the F.array-of-literal_vector form cost ~1 s of
        # driver time per plan CONSTRUCTION (VERDICT r7 #2)
        cbj = literal_matrix(codebooks[j])
        sel = F.element_at(cbj, F.col("pq_code").getItem(j) + 1)
        terms.append(dot(F.slice(qv, j * dsub + 1, dsub), sel))
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    score = F.when(
        F.col("vnorm") > 0, adc / (F.col("vnorm") * norm(qv))
    )
    scored = index.join(probed, "_cluster").select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(score, 4).alias("cos_sim"),
    )
    return _top_k_per(scored, q_id_col, id_col, k, "rank")


def fixed_codebooks(
    dim: int, m: int = 8, ks: int = 16, seed: int = 42
) -> np.ndarray:
    """Deterministic PQ codebooks (m × ks × dim/m) from a seeded RNG — the
    'given codebooks' form of the product-quantization path, the same
    contract as ``fixed_centroids``: encode/probe are pure functions of
    (codebooks, data), so the driver oracle can bake these as SQL literals
    and re-derive the whole IVF-PQ mechanics; ``pq_train`` quality is
    pytest-verified separately via recall bounds."""
    if dim % m:
        raise ValueError("m must divide dim")
    return np.random.default_rng(seed).standard_normal((m, ks, dim // m))


def pq_train(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    sample_size: int = 4096,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Train product-quantization codebooks: dim splits into ``m``
    subvectors, each quantized to ``ks`` centroids by L2 k-means — the
    IVF-PQ index stores ⌈log2 ks⌉·m bits per vector instead of 4·dim
    bytes (dim=64, m=8, ks=16: 8 bytes vs 256, a 32× compression).

    Same build contract as ``ivf_train``: a bounded deterministic sample
    to the driver, NumPy Lloyd per subvector (argmin tie-break = lowest
    index, the same rule the encode expression uses). Returns
    (m, ks, dim/m) codebooks."""
    X = _sample_vectors(df, vec_col, sample_size, id_col=id_col, order="id")
    return _pq_kmeans(X, m, ks, n_iters, seed)


def _pq_kmeans(
    X: np.ndarray, m: int, ks: int, n_iters: int, seed: int
) -> np.ndarray:
    """The per-subvector L2 Lloyd core of ``pq_train``, factored out so
    ``retrain_ann_index`` can retrain codebooks from a sample it already
    holds (r15) instead of re-collecting through a DataFrame."""
    if not len(X):
        raise ValueError("no vectors to train on: the sample is empty")
    dim = X.shape[1]
    if dim % m:
        raise ValueError("m must divide dim")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ks, len(S)), replace=False)].copy()
        for _ in range(n_iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            a = d2.argmin(1)
            for c in range(len(C)):
                members = S[a == c]
                if len(members):
                    C[c] = members.mean(0)
        books.append(C)
    return np.stack(books)


def _sq_l2(sub, centroid: list[float]):
    """Σ (aᵢ−cᵢ)² in double, left-to-right — the encode metric, written so
    a SQL twin ((e[d]−c[d])*(e[d]−c[d]) summed in order) folds the floats
    identically."""
    return F.aggregate(
        F.zip_with(
            sub,
            literal_vector(centroid),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_assign(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-entry code array (``array<int>``, values 0..ks−1): per
    subvector, the L2-nearest codebook entry, lowest index on ties — a
    pure JVM projection over plan-literal codebooks (the ``ivf_assign``
    pattern: no shuffle, no Python, exactly reproducible in SQL)."""
    m, ks, dsub = codebooks.shape
    codes = []
    for j in range(m):
        sub = F.slice(F.col(vec_col), j * dsub + 1, dsub)
        d2s = F.array(
            *[_sq_l2(sub, [float(x) for x in codebooks[j][c]]) for c in range(ks)]
        )
        codes.append((F.array_position(d2s, F.array_min(d2s)) - 1).cast("int"))
    return df.withColumn(out_col, F.array(*codes))


def pq_write(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    out: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    source: str | None = None,
    source_prep: str | None = None,
) -> None:
    """Materialize an IVF-PQ index AT REST — the standard web-scale ANN
    layout (coarse quantizer prunes directories, product codes replace the
    vectors): one row per vector holding ONLY (id, vnorm, pq_code),
    Hive-partitioned by the IVF ``_cluster``. The raw embedding does NOT
    ride along — at 100 TB that is the point: the index is ~32× smaller
    than the corpus vectors, and a probe reads nprobe directories of
    byte-codes. ``vnorm`` (one double) is kept so ADC scores normalize to
    a cosine estimate. Same co-location/salting story as ``ivf_write``.

    ``source`` (VERDICT r14 #3): the parquet path ``df``'s vectors live
    at — recorded in a ``_ann_source.json`` sidecar so the rebuild remedy
    the PQ layout's errors name stops being a manual archaeology
    exercise: codes at rest cannot be retrained from themselves, and
    with the provenance recorded ``retrain_ann_index`` drives the whole
    rebuild (new centroids + codebooks + re-encode) from the source when
    it is still reachable. Point it at the LIVE corpus location (e.g. a
    growing directory that ``pq_append`` batches also land in), not a
    frozen snapshot, and the retrain rebuilds today's corpus.
    ``source_prep`` is a free-form signature of the preparation the
    vectors went through (model name, normalization, …) — recorded
    verbatim so a rebuild can verify it is re-encoding like with like.

    Also records the train-time fit stats (the ``ivf_write`` baseline):
    the vectors are IN HAND here even though they are not stored, so the
    drift report keeps working for PQ layouts by sampling the recorded
    source instead of the (vector-less) index."""
    if id_col not in df.columns:
        raise ValueError(
            f"pq_write: id_col={id_col!r} not in {df.columns}"
        )
    _drop_generations(df.sparkSession, out, _ANN_MANIFEST, _ANN_GEN)
    _write_clusters(
        _pq_rows(df, centroids, codebooks, id_col, vec_col), out,
        ["pq_code"], files_per_cluster,
    )
    sample = _sample_vectors(df, vec_col, 4096, id_col=id_col, order="hash")
    # self-description (r14): the PQ layout is DOUBLY dependent on
    # driver-held geometry (coarse centroids AND codebooks — codes are
    # meaningless without them), so both ride as hidden sidecars
    _write_sidecars(
        df.sparkSession, out, centroids=centroids, codebooks=codebooks,
        stats=centroid_fit_stats(sample, centroids) if len(sample) else None,
        source=None if source is None else {
            "path": source, "format": "parquet", "id_col": id_col,
            "vec_col": vec_col, "prep": source_prep,
        },
    )


def pq_topk_at_rest(
    spark,
    index_path: str,
    centroids: np.ndarray | None,
    codebooks: np.ndarray | None,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC probe of a materialized IVF-PQ index: scan only the ``nprobe``
    nearest cluster directories (static partition filter, directories
    pruned before I/O), score each row as
    Σⱼ qⱼ·codebook[j][codeⱼ] / (vnorm·|q|) — the asymmetric-distance
    cosine estimate — and take k. Scoring is a pure column expression:
    the per-subvector term selects a literal codebook row by the stored
    byte (``element_at`` over an array-of-arrays literal) and dots it
    against the literal query slice; no raw vectors are read because none
    are stored. Approximate on two axes (cluster pruning + quantization);
    recall is pytest-bounded with trained codebooks, while the driver
    oracle re-derives these exact mechanics.

    ``centroids=None`` / ``codebooks=None`` recover the geometry from
    the layout's own sidecars (r14) — PQ codes are meaningless without
    their codebooks, so the at-rest layout carries both."""
    index, centroids, codebooks = _open_with_geometry(
        spark, index_path, centroids, codebooks
    )
    probes, score = _pq_probe_score(centroids, codebooks, query_vec, nprobe)
    return _scan_top_k(index, probes, score, k, id_col)


def _pq_probe_score(
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec: list[float],
    nprobe: int,
):
    """The (probed clusters, ADC score column) pair shared by the single-
    and many-index PQ probes."""
    probes = _nearest_clusters(centroids, query_vec, nprobe)
    m, ks, dsub = codebooks.shape
    terms = []
    for j in range(m):
        # one parsed array-of-arrays literal per codebook (m Py4J round
        # trips total) — the F.array-of-literal_vector form cost ~1 s of
        # driver time per plan CONSTRUCTION (VERDICT r7 #2)
        cbj = literal_matrix(codebooks[j])
        sel = F.element_at(cbj, F.col("pq_code").getItem(j) + 1)
        qsub = [float(x) for x in query_vec[j * dsub : (j + 1) * dsub]]
        terms.append(dot(literal_vector(qsub), sel))
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    qnorm = norm(literal_vector([float(x) for x in query_vec]))
    return probes, F.when(F.col("vnorm") > 0, adc / (F.col("vnorm") * qnorm))


def pq_topk_at_rest_many(
    spark,
    tagged_indexes,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    tag_col: str = "tier",
) -> DataFrame:
    """ADC probe of SEVERAL materialized IVF-PQ index generations in ONE
    plan (the ``ivf_topk_at_rest_many`` move): pruned scans union under a
    tag, one window takes per-tag top-k — identical rows to per-index
    ``pq_topk_at_rest`` — and the expensive literal-codebook scoring
    expression is constructed once instead of per index."""
    probes, score = _pq_probe_score(centroids, codebooks, query_vec, nprobe)
    return _scan_top_k_many(
        spark, tagged_indexes, probes, score, k, id_col, tag_col
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def fixed_centroids(dim: int, n_clusters: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic L2-normalized centroids from a seeded RNG — the
    'given centroids' form of the IVF probe path. ``ivf_assign``/``ivf_topk``
    are pure functions of (centroids, data), so with fixed centroids the
    whole probe pipeline is exactly reproducible in SQL (the driver oracle
    bakes these as literals); ``ivf_train`` quality is pytest-verified
    separately against exact top-k recall."""
    c = np.random.default_rng(seed).standard_normal((n_clusters, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def rh_signature(vec_col, planes: np.ndarray):
    """Random-hyperplane signature: bit i = sign(v · plane_i), packed into a
    long. Pure column expression — the planes are literals in the plan."""
    bits = []
    for i, plane in enumerate(planes):
        d = dot(vec_col, literal_vector(list(plane)))
        bits.append(
            F.when(d >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = F.lit(0).cast("long")
    for b in bits:
        sig = sig.bitwiseOR(b)
    return sig


def lsh_bucket_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors whose random-hyperplane bucket
    matches the query's (or differs by one bit with ``multiprobe``).

    With p planes the corpus shards into 2^p buckets; the probe scans
    ~(1+p)/2^p of the data instead of all of it. The bucket filter is a
    plan-literal IN — predicate-pushable, no join.
    """
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    q = np.asarray(query_vec, dtype=np.float64)
    qsig = 0
    for i, plane in enumerate(planes):
        if float(q @ plane) >= 0:
            qsig |= 1 << i
    probes = [qsig] + ([qsig ^ (1 << i) for i in range(n_planes)] if multiprobe else [])
    bucketed = df.withColumn("_sig", rh_signature(F.col(vec_col), planes))
    return (
        bucketed.filter(F.col("_sig").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), literal_vector(query_vec)), 4).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# at-rest index generations (r13, VERDICT r12 #5)
#
# ivf_append/pq_append accumulate one small parquet file per cluster per
# append — a year of daily appends leaves every cluster directory a pile
# of tiny files, while the probes' partition pruning still has to open
# all of them. The fix is incremental.py's object-store-safe manifest
# protocol: every compaction and retrain, of the corpus index and of the
# ANN layouts, commits through ONE function, _commit_generation (stage →
# _claim_generation_slot → _commit_manifest), and vacuums through
# _vacuum_generations — ONE copy of the crash-safety logic — with one
# ANN-specific twist: generation dirs and manifests use HIDDEN names
# (``_gen-<epoch>``/``_manifest-<epoch>``). The corpus index's readers
# only ever open NAMED subdirectories ({root}/exact), so a crashed
# compaction's orphan plain-named gen dir is naturally invisible to
# them — but the ANN flat layout's readers list the path root itself
# (spark.read.parquet(path) over _cluster=* dirs), where a populated
# plain-named orphan raises CONFLICTING_DIRECTORY_STRUCTURES (r13
# review, reproduced). Spark's file index skips '_'/'.'-prefixed names
# without '=' during listing, so the hidden names make an uncommitted
# generation literally unreadable by accident while staying explicitly
# addressable; partition dirs (_cluster=7) contain '=' and stay listed.
# ---------------------------------------------------------------------------

ANN_MANIFEST_VERSION = 1
_ANN_GEN = "_gen-"
_ANN_MANIFEST = "_manifest-"
# a new ANN layout generation under the hidden names: ``fill(data_root)``
# writes the layout and its sidecars into the staged generation's
# ``data`` dir, which the manifest names as the root
_commit_ann_generation = functools.partial(
    _commit_generation, version=ANN_MANIFEST_VERSION, tables=["data"],
    gen_prefix=_ANN_GEN, manifest_prefix=_ANN_MANIFEST, root_table="data",
)


def resolve_ann_root(spark, path: str) -> str:
    """The directory holding the LIVE cluster partitions: ``path`` itself
    for a freshly written (flat) index, ``{path}/_gen-<epoch>/data``
    after a ``compact_ann_index_safe`` — the corpus index's manifest
    protocol (same epoch-max rule, same single-object commit) under the
    hidden names the module banner explains."""
    epoch = _live_epoch(spark, path, manifest_prefix=_ANN_MANIFEST)
    if epoch == 0:
        return path
    m = _read_manifest(spark, path, epoch, manifest_prefix=_ANN_MANIFEST)
    if m.get("version") != ANN_MANIFEST_VERSION:
        raise ValueError(
            f"ANN index manifest at {path} has version {m.get('version')}; "
            f"this build reads {ANN_MANIFEST_VERSION}"
        )
    return f"{path}/{m['root']}"


def _open_index(spark, index_path) -> DataFrame:
    """Path-or-DataFrame reader every at-rest probe goes through: strings
    resolve the live generation first, so probes keep working across
    compactions with no caller change."""
    if isinstance(index_path, DataFrame):
        return index_path
    return spark.read.parquet(resolve_ann_root(spark, index_path))


def compact_ann_index_safe(
    spark,
    path: str,
    files_per_cluster: int = 1,
) -> None:
    """Rewrite the live generation's cluster partitions as
    ``files_per_cluster`` files each inside a new generation, then commit
    it with one manifest object (the ``compact_corpus_index_safe``
    protocol through the shared helpers — see their docstrings for the
    staging/slot-claim/commit rationale). The data is ONE Hive-
    partitioned table, so the stage is a single partitioned write; rows,
    schema, and the probe's partition pruning are unchanged (answer
    invariance and pruning are both pytest-pinned). Do not run concurrent
    appends across the commit point — an append sealed into the old
    generation is lost at vacuum, exactly as for the corpus index. A
    compaction that crashes after its slot-claim rename leaves a hidden
    ``_gen-*`` orphan: flat readers never list it (pytest-pinned with a
    POPULATED orphan), later compactions skip its slot, and vacuum after
    the next successful commit reclaims it."""
    root = resolve_ann_root(spark, path)

    def fill(data: str) -> None:
        df = spark.read.parquet(root)
        _write_clusters(
            df, data, [c for c in df.columns if c != "_cluster"],
            files_per_cluster,
        )
        # carry the self-description sidecars (centroids, codebooks, fit
        # stats, source) into the new generation — compaction changes
        # file layout, not geometry
        _write_sidecars(
            spark, data,
            centroids=_read_centroids_at(spark, root),
            codebooks=_read_codebooks_at(spark, root),
            stats=_read_ann_json(spark, root, ANN_STATS_FILE),
            source=_read_ann_json(spark, root, ANN_SOURCE_FILE),
        )

    _commit_ann_generation(spark, path, fill)


def _live_cluster_count(spark, root: str) -> int:
    """A retrain's default cluster count: the live centroid sidecar's,
    else the assignment's own ``max(_cluster) + 1``."""
    prior = _read_centroids_at(spark, root)
    if prior is not None:
        return len(prior)
    return int(
        spark.read.parquet(root).agg(F.max("_cluster").alias("m"))
        .collect()[0]["m"]
    ) + 1


def vacuum_ann_index(spark, path: str) -> None:
    """Remove every generation BELOW the live epoch (and its manifest),
    plus the legacy flat layout's cluster partitions once a generation
    has superseded them. Generations ABOVE the live epoch are in-flight
    (or crashed) compactions and stay — the corpus index's vacuum
    contract verbatim, through the shared helper."""
    epoch = _live_epoch(spark, path, manifest_prefix=_ANN_MANIFEST)
    if epoch == 0:
        return
    _vacuum_generations(
        spark, path, epoch,
        manifest_prefix=_ANN_MANIFEST, gen_prefix=_ANN_GEN,
    )
    # the legacy flat layout: cluster partition dirs directly under path,
    # plus its sidecars (the live generation carries its own copies)
    fs, jvm = _hadoop_fs(spark, path)
    for pat in (
        f"{path}/_cluster=*",
        f"{path}/_SUCCESS",
        f"{path}/{ANN_CENTROIDS_DIR}",
        f"{path}/{ANN_CODEBOOKS_DIR}",
        f"{path}/{ANN_STATS_FILE}",
        f"{path}/{ANN_SOURCE_FILE}",
    ):
        for st in fs.globStatus(jvm.org.apache.hadoop.fs.Path(pat)) or []:
            fs.delete(st.getPath(), True)


# ---------------------------------------------------------------------------
# Centroid drift: stats sidecars, drift report, retrain into a new generation
# (VERDICT r13 #2: ivf_append's docstring names "retrain + rewrite" as the
# remedy for distribution drift, but no such operator existed — a year of
# drifting appends silently degraded recall with no metric and no recovery
# path short of a manual rebuild.)
# ---------------------------------------------------------------------------

ANN_STATS_FILE = "_ann_stats.json"     # underscore-prefixed: Spark's file
ANN_CENTROIDS_DIR = "_centroids"       # listing skips both sidecars
ANN_SOURCE_FILE = "_ann_source.json"   # PQ source provenance (r15)


def centroid_fit_stats(m: np.ndarray, centroids: np.ndarray) -> dict:
    """How well ``centroids`` cover the (row-normalized) sample ``m`` —
    pure NumPy, driver-side, O(sample × k).

    - ``mean_max_dot``: mean over rows of the best cosine to any
      centroid. Drops as the live distribution drifts away from the
      training sample (the recall-degradation mechanism: a query near a
      drifted mode ranks the wrong clusters).
    - ``cluster_size_cv``: coefficient of variation of the sample's
      cluster occupancy. Grows as appends pile into few clusters
      (the probe-cost-skew mechanism: nprobe directories stop holding
      ~nprobe/k of the corpus)."""
    m = np.asarray(m, dtype=np.float64)
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    nrm[nrm == 0] = 1.0
    m = m / nrm
    dots = m @ np.asarray(centroids, dtype=np.float64).T
    best = np.argmax(dots, axis=1)
    sizes = np.bincount(best, minlength=len(centroids)).astype(np.float64)
    mean = sizes.mean()
    return {
        "n_sample": int(len(m)),
        "n_clusters": int(len(centroids)),
        "mean_max_dot": float(np.max(dots, axis=1).mean()),
        "cluster_size_cv": float(sizes.std() / mean) if mean > 0 else 0.0,
    }


def _sample_vectors(
    df: DataFrame,
    vec_col: str,
    n: int,
    id_col: str | None = None,
    order: str = "id",
) -> np.ndarray:
    """Bounded driver-side sample (the ivf_train contract: a few
    thousand rows regardless of corpus size; deterministic when an
    ``id_col`` gives an order).

    ``order="hash"`` sorts by ``xxhash64(id)`` instead of raw id — a
    deterministic PSEUDO-RANDOM sample. This matters whenever ids
    correlate with arrival time: the id-ordered sample is the OLDEST
    n vectors, i.e. the original training distribution, so a drift
    report built on it is structurally blind to drifted APPENDS (high
    ids) and a retrain fed by it re-learns yesterday's centroids
    (r14 review — caught before release by the biased-sample test)."""
    if order not in ("id", "hash"):
        raise ValueError(f"sample_order must be 'id' or 'hash', got {order!r}")
    if id_col is not None:
        key = F.xxhash64(F.col(id_col)) if order == "hash" else F.col(id_col)
        s = df.orderBy(key)
    else:
        s = df
    rows = s.limit(n).select(vec_col).collect()
    if not rows:
        return np.zeros((0, 0))
    return np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])


def _write_sidecars(
    spark, root: str, centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None, stats: dict | None = None,
    source: dict | None = None,
) -> None:
    """Write the given self-description sidecars into the data root
    ``root``; None skips one. All are underscore-hidden from Spark's file
    listing, so probes are unchanged.

    - ``centroids``: the centroid matrix WITH the data it indexes (one
      tiny parquet, ``ANN_CENTROIDS_DIR``, one row per centroid), so the
      index is self-describing: a reader that lost the driver-held array
      — a new session, a crash, a different team — recovers the exact
      probe geometry from disk.
    - ``codebooks``: the PQ codebooks (m × ks × dsub) with the codes they
      decode — one row per (subspace, code) pair, ``ANN_CODEBOOKS_DIR``.
    - ``stats``: the fit stats (``ANN_STATS_FILE``).
    - ``source``: the source-corpus provenance (``ANN_SOURCE_FILE``,
      VERDICT r14 #3: ``{path, format, id_col, vec_col, prep}`` — what a
      codes-at-rest layout needs to rebuild itself).

    The JSON sidecars are written create+close (no rename dance — a
    sidecar is not a commit point)."""
    if centroids is not None:
        rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
        spark.createDataFrame(
            rows, "cluster int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/{ANN_CENTROIDS_DIR}"
        )
    if codebooks is not None:
        m, ks, _ = codebooks.shape
        rows = [
            (j, k, [float(x) for x in codebooks[j][k]])
            for j in range(m)
            for k in range(ks)
        ]
        spark.createDataFrame(
            rows, "sub int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{root}/{ANN_CODEBOOKS_DIR}"
        )
    for name, obj in ((ANN_STATS_FILE, stats), (ANN_SOURCE_FILE, source)):
        if obj is not None:
            _write_json(spark, f"{root}/{name}", obj)


def _read_ann_json(spark, root: str, name: str) -> dict | None:
    """The JSON sidecar ``name`` inside the data root ``root``, or None
    when it was never written."""
    fs, jvm = _hadoop_fs(spark, root)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{root}/{name}")):
        return None
    return _read_json(spark, f"{root}/{name}")


def read_ann_stats(spark, path: str) -> dict | None:
    """The training-time fit stats recorded with the LIVE generation, or
    None for an index written before stats existed."""
    return _read_ann_json(spark, resolve_ann_root(spark, path), ANN_STATS_FILE)


def read_ann_source(spark, path: str) -> dict | None:
    """The source-corpus provenance recorded with the LIVE generation
    (``pq_write(source=...)``), or None when never recorded."""
    return _read_ann_json(
        spark, resolve_ann_root(spark, path), ANN_SOURCE_FILE
    )


ANN_CODEBOOKS_DIR = "_codebooks"


def _open_with_geometry(spark, index_path, centroids, codebooks=...):
    """Resolve the live generation ONCE and read the data frame plus any
    missing geometry from that SAME root (r14 review: resolving per
    artifact could hand a probe gen-N centroids with gen-N+1 data across
    a concurrent retrain commit — silently wrong partition choices).
    Explicit geometry wins and skips the sidecar reads entirely.

    Returns (index_df, centroids[, codebooks]). ``codebooks=...`` means
    the caller is an IVF probe and no codebooks are returned."""
    want_cb = codebooks is not ...
    if centroids is not None and (not want_cb or codebooks is not None):
        return (
            (_open_index(spark, index_path), centroids, codebooks)
            if want_cb
            else (_open_index(spark, index_path), centroids)
        )
    if not isinstance(index_path, str):
        raise ValueError(
            "recovering geometry from sidecars requires a PATH index; "
            "pass centroids/codebooks explicitly for a DataFrame index"
        )
    root = resolve_ann_root(spark, index_path)
    if centroids is None:
        centroids = _read_centroids_at(spark, root)
        if centroids is None:
            raise ValueError(
                f"no centroids recorded at {index_path} and none were "
                "passed — pass the probe centroids explicitly"
            )
    if want_cb and codebooks is None:
        codebooks = _read_codebooks_at(spark, root)
        if codebooks is None:
            raise ValueError(
                f"no codebooks recorded at {index_path} and none were "
                "passed — pass the PQ codebooks explicitly"
            )
    df = spark.read.parquet(root)
    return (df, centroids, codebooks) if want_cb else (df, centroids)


def _read_codebooks_at(spark, root: str) -> np.ndarray | None:
    """Codebook sidecar read from an ALREADY-RESOLVED root (probes that
    recover their geometry resolve the live generation once and read the
    sidecars AND the data from that same root — resolving per artifact
    could mix generations across a concurrent retrain commit, r14
    review)."""
    fs, jvm = _hadoop_fs(spark, root)
    if not fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{root}/{ANN_CODEBOOKS_DIR}")
    ):
        return None
    rows = (
        spark.read.parquet(f"{root}/{ANN_CODEBOOKS_DIR}")
        .orderBy("sub", "code")
        .collect()
    )
    m = max(r["sub"] for r in rows) + 1
    ks = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["centroid"])
    out = np.zeros((m, ks, dsub))
    for r in rows:
        out[r["sub"]][r["code"]] = np.asarray(r["centroid"], dtype=np.float64)
    return out


def read_ann_codebooks(spark, path: str) -> np.ndarray | None:
    """The codebooks recorded with the LIVE generation (m × ks × dsub),
    or None for a layout written before the sidecar existed."""
    return _read_codebooks_at(spark, resolve_ann_root(spark, path))


def read_ann_centroids(spark, path: str) -> np.ndarray | None:
    """The centroids recorded with the LIVE generation (ordered by
    cluster id), or None for an index written before the sidecar
    existed."""
    return _read_centroids_at(spark, resolve_ann_root(spark, path))


def _read_centroids_at(spark, root: str) -> np.ndarray | None:
    """Centroid sidecar read from an ALREADY-RESOLVED root (see
    _read_codebooks_at for why probes resolve once)."""
    fs, jvm = _hadoop_fs(spark, root)
    if not fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{root}/{ANN_CENTROIDS_DIR}")
    ):
        return None
    rows = (
        spark.read.parquet(f"{root}/{ANN_CENTROIDS_DIR}")
        .orderBy("cluster")
        .collect()
    )
    return np.stack([np.asarray(r["centroid"], dtype=np.float64) for r in rows])


def ann_drift_report(
    spark,
    path: str,
    centroids: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_size: int = 4096,
) -> dict:
    """Cheap answer to "is it time to retrain?": sample the LIVE
    generation, fit it against the probe centroids, and compare with the
    fit recorded at train/retrain time. Cost shape: ONE column-pruned
    pass over (id, vector) with a per-partition top-n heap and a bounded
    driver collect — no shuffle, no full sort, nothing proportional to
    row count comes to the driver. (It does READ the two columns once;
    "cheap" means bounded memory and no shuffle, not a metadata-only
    operation — r14 review.)

    Returns ``{current, recorded, mean_max_dot_drop, size_cv_ratio,
    drifted}``; ``recorded`` is None (and ``drifted`` judges nothing)
    for indexes written before stats existed. The decision rule is
    deliberately simple and visible: drifted when the sample's
    mean-max-dot fell more than 0.05 below the recorded value, or the
    occupancy CV grew beyond 2× recorded — both directly observable
    mechanisms of recall/probe-cost degradation, not black-box scores."""
    if centroids is None:
        centroids = read_ann_centroids(spark, path)
        if centroids is None:
            raise ValueError(
                f"no centroids recorded at {path} and none were passed — "
                "pass the probe centroids explicitly"
            )
    root = resolve_ann_root(spark, path)
    live = spark.read.parquet(root)
    sampled_from = "index"
    if vec_col not in live.columns and "pq_code" in live.columns:
        # PQ layout: codes at rest carry no vectors to fit — sample the
        # RECORDED source corpus instead (r15, with pq_write(source=...)
        # provenance and its train-time stats baseline). The contract is
        # that the source points at the live corpus location, so the
        # sample sees today's distribution like the IVF path does.
        src = _read_ann_json(spark, root, ANN_SOURCE_FILE)
        if src is None:
            raise ValueError(
                f"PQ layout at {path} stores codes, not vectors, and "
                "records no source provenance — re-write it with "
                "pq_write(source=<corpus parquet path>) to enable drift "
                "reporting"
            )
        try:
            live = spark.read.parquet(src["path"])
        except Exception as exc:
            raise ValueError(
                f"PQ layout at {path} records its source corpus at "
                f"{src['path']} but it is unreachable ({exc})"
            ) from None
        vec_col, id_col = src["vec_col"], src["id_col"]
        missing = [c for c in (id_col, vec_col) if c not in live.columns]
        if missing:
            # the same curated stale-provenance error the retrain gives
            # (r15 review: the report used to die inside _sample_vectors
            # with a raw AnalysisException on the renamed column)
            raise ValueError(
                f"source corpus at {src['path']} no longer carries the "
                f"recorded column(s) {missing} (has {live.columns}) — "
                "the provenance is stale; rebuild manually and re-record"
            )
        sampled_from = "source"
    # hash-ordered: a drift report sampled in id order would see only
    # the OLDEST vectors — the training distribution itself — and stay
    # structurally blind to drifted appends (r14 review)
    m = _sample_vectors(
        live, vec_col, sample_size, id_col=id_col, order="hash"
    )
    if len(m) == 0:
        raise ValueError(
            f"ANN index at {path} holds no vectors — nothing to report"
        )
    current = centroid_fit_stats(m, centroids)
    recorded = read_ann_stats(spark, path)
    report = {
        "current": current,
        "recorded": recorded,
        "sampled_from": sampled_from,
        "mean_max_dot_drop": None,
        "size_cv_ratio": None,
        "drifted": False,
    }
    if recorded is not None:
        drop = recorded["mean_max_dot"] - current["mean_max_dot"]
        base_cv = recorded["cluster_size_cv"]
        ratio = (
            current["cluster_size_cv"] / base_cv if base_cv > 1e-9 else None
        )
        report["mean_max_dot_drop"] = round(drop, 6)
        report["size_cv_ratio"] = (
            round(ratio, 4) if ratio is not None else None
        )
        report["drifted"] = bool(
            drop > 0.05 or (ratio is not None and ratio > 2.0)
        )
    return report


def retrain_ann_index(
    spark,
    path: str,
    n_clusters: int | None = None,
    sample_size: int = 4096,
    n_iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    files_per_cluster: int = 1,
    seed: int = 42,
    sample_order: str = "hash",
) -> np.ndarray:
    """Retrain + rebalance a drifted at-rest IVF index into a NEW
    generation and return the new centroids.

    ``sample_order`` defaults to ``"hash"`` — the whole point of a
    retrain is to learn TODAY'S distribution, and on any index whose
    ids correlate with arrival time the id-ordered sample is exactly
    yesterday's (r14 review): it would re-learn the stale centroids
    and declare victory. ``"id"`` remains available for exact-
    reproduction scenarios (tests pin it).

    The drift remedy ``ivf_append`` documents but could not perform:
    ``compact_ann_index_safe`` rewrites *files* under the OLD centroids,
    so a year of drifting appends kept degrading recall with no recovery
    path. This operator (1) samples the LIVE generation (the
    ``ivf_train`` sampling contract — bounded driver collect), (2)
    retrains spherical-kmeans centroids on today's distribution, (3)
    re-assigns EVERY row and rewrites Hive-partitioned by the new
    ``_cluster`` into a staged generation, and (4) commits it through
    the shared slot-claim + manifest protocol, alongside the new
    centroid sidecar and fit stats, so probes cut over atomically and
    ``ann_drift_report`` has a fresh baseline. ``vacuum_ann_index``
    reclaims the superseded generation afterwards.

    One full read + one ``_cluster`` shuffle + one partitioned write —
    the same cost shape as ``compact_ann_index_safe``, which is the
    floor for any rebalance. Same concurrency contract too: do not run
    concurrent appends across the commit point (``ivf_append`` now
    detects that race and raises instead of losing rows silently).

    ``n_clusters`` defaults to the live centroid count (sidecar or the
    assignment's own distinct ``_cluster`` span when no sidecar exists).
    """
    root = resolve_ann_root(spark, path)
    live = spark.read.parquet(root)
    if vec_col not in live.columns:
        if "pq_code" in live.columns:
            # PQ layout: codes cannot be retrained from themselves, but
            # with recorded source provenance (pq_write(source=...)) the
            # rebuild is driveable end-to-end (VERDICT r14 #3)
            return _retrain_pq_from_source(
                spark, path, root,
                n_clusters=n_clusters, sample_size=sample_size,
                n_iters=n_iters, files_per_cluster=files_per_cluster,
                seed=seed, sample_order=sample_order,
            )
        raise ValueError(
            f"no '{vec_col}' column at {path} and no PQ codes either — "
            "not a recognized ANN layout (ivf_write stores vectors, "
            "pq_write stores pq_code rows)"
        )
    if n_clusters is None:
        n_clusters = _live_cluster_count(spark, root)
    data_cols = [c for c in live.columns if c != "_cluster"]
    body = live.select(*data_cols)
    # ONE bounded sample feeds both the training and the recorded fit
    # stats (r14 review: ivf_train re-collecting the identical sample
    # doubled the dominant read cost of a large-index retrain)
    sample = _sample_vectors(
        body, vec_col, sample_size, id_col=id_col, order=sample_order
    )
    centroids = _kmeans(sample, n_clusters, n_iters, seed)

    def fill(data: str) -> None:
        _write_clusters(
            assign_clusters(body, centroids, vec_col), data, [vec_col],
            files_per_cluster,
        )
        _write_sidecars(
            spark, data, centroids=centroids,
            stats=centroid_fit_stats(sample, centroids),
        )

    _commit_ann_generation(spark, path, fill)
    return centroids


def _retrain_pq_from_source(
    spark,
    path: str,
    root: str,
    n_clusters: int | None,
    sample_size: int,
    n_iters: int,
    files_per_cluster: int,
    seed: int,
    sample_order: str,
) -> np.ndarray:
    """Rebuild a drifted IVF-PQ layout from its RECORDED source corpus
    (VERDICT r14 #3): the codes at rest are meaningless without the
    centroids/codebooks that produced them, so a PQ retrain is a full
    re-encode — sample the source (the ``ivf_train``/``pq_train``
    bounded-sample contract), retrain coarse centroids AND codebooks on
    today's distribution, re-encode EVERY source row, and commit the new
    layout through the same generation+manifest protocol as the IVF
    retrain, so probes cut over atomically. The source sidecar (path +
    prep signature, ``pq_write(source=...)``) makes this driveable; a
    layout without one gets the manual-rebuild raise, now WITH the
    remedy for next time. Cost shape: one full source read + one
    ``_cluster`` shuffle + one partitioned write — the floor for any
    re-encode.

    Geometry defaults come from the live sidecars: ``n_clusters`` from
    the centroid count, (m, ks) always from the recorded codebooks (a
    PQ rebuild keeps its compression geometry unless the caller rebuilds
    manually with new (m, ks) via pq_train + pq_write)."""
    src = _read_ann_json(spark, root, ANN_SOURCE_FILE)
    if src is None:
        raise ValueError(
            f"PQ layout at {path} has codes at rest, not vectors, and "
            "records no source provenance — it cannot be retrained from "
            "its own files. Rebuild manually from the source corpus "
            "(pq_train + pq_write), and pass pq_write(source=<corpus "
            "parquet path>) this time so the next retrain can drive the "
            "rebuild itself"
        )
    try:
        source_df = spark.read.parquet(src["path"])
    except Exception as exc:
        raise ValueError(
            f"PQ layout at {path} records its source corpus at "
            f"{src['path']} but it is unreachable ({exc}) — restore the "
            "source (or rebuild manually with pq_train + pq_write and "
            "re-record the new location)"
        ) from None
    s_id, s_vec = src["id_col"], src["vec_col"]
    missing = [c for c in (s_id, s_vec) if c not in source_df.columns]
    if missing:
        raise ValueError(
            f"source corpus at {src['path']} no longer carries the "
            f"recorded column(s) {missing} (has {source_df.columns}) — "
            "the provenance is stale; rebuild manually and re-record"
        )
    cbs_old = _read_codebooks_at(spark, root)
    if cbs_old is None:
        raise ValueError(
            f"PQ layout at {path} has no recorded codebooks — codes are "
            "not decodable; rebuild manually (pq_train + pq_write)"
        )
    m, ks, _ = cbs_old.shape
    if n_clusters is None:
        n_clusters = _live_cluster_count(spark, root)
    # ONE bounded sample feeds the coarse retrain, the codebook retrain,
    # and the recorded fit stats (the IVF retrain's r14 single-sample rule)
    sample = _sample_vectors(
        source_df, s_vec, sample_size, id_col=s_id, order=sample_order
    )
    if len(sample) == 0:
        raise ValueError(
            f"source corpus at {src['path']} holds no rows — nothing to "
            "retrain from"
        )
    centroids = _kmeans(sample, n_clusters, n_iters, seed)
    codebooks = _pq_kmeans(sample, m, ks, n_iters, seed)

    def fill(data: str) -> None:
        _write_clusters(
            _pq_rows(source_df, centroids, codebooks, s_id, s_vec), data,
            ["pq_code"], files_per_cluster,
        )
        _write_sidecars(
            spark, data, centroids=centroids, codebooks=codebooks,
            stats=centroid_fit_stats(sample, centroids), source=src,
        )

    _commit_ann_generation(spark, path, fill)
    return centroids
