"""Similarity search vs NumPy references (SURVEY.md §7.5: 1e-6 tolerance
checked via round(4) equality on double-precision cosines)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from pcap_converter_spark.operators import similarity

RNG = np.random.default_rng(7)
N, DIM = 60, 16
VECS = RNG.standard_normal((N, DIM))
VECS[1] = VECS[0] * 2.0  # cosine 1.0 with vec 0
VECS[2] = VECS[0] + RNG.standard_normal(DIM) * 0.05  # near


@pytest.fixture(scope="module")
def emb_df(spark):
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [(i, [float(np.float32(x)) for x in VECS[i]]) for i in range(N)]
    return spark.createDataFrame(rows, schema)


def np_cosines(q: np.ndarray) -> np.ndarray:
    m = VECS.astype(np.float32).astype(np.float64)
    qq = q.astype(np.float32).astype(np.float64)
    return (m @ qq) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qq))


def test_cosine_topk_matches_numpy(spark, emb_df):
    q = VECS[0]
    cos = np_cosines(q)
    order = sorted(range(N), key=lambda i: (-round(cos[i], 4), i))[:10]
    got = similarity.cosine_topk(emb_df, [float(x) for x in np.float32(q)], k=10).collect()
    assert [r["vec_id"] for r in got] == order
    for r in got:
        assert r["cos_sim"] == pytest.approx(round(cos[r["vec_id"]], 4), abs=1e-4)


def test_cosine_pairs_threshold(spark, emb_df):
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
           similarity.cosine_pairs(emb_df, threshold=0.9).collect()}
    assert (0, 1) in got and got[(0, 1)] == pytest.approx(1.0, abs=1e-4)
    assert (0, 2) in got
    m = VECS.astype(np.float32).astype(np.float64)
    norm = m / np.linalg.norm(m, axis=1, keepdims=True)
    S = norm @ norm.T
    expected = {
        (a, b)
        for a in range(N)
        for b in range(a + 1, N)
        if round(S[a, b], 4) >= 0.9
    }
    assert set(got) == expected


def test_lsh_bucket_topk_finds_strong_neighbors(spark, emb_df):
    q = [float(x) for x in np.float32(VECS[0])]
    got = [r["vec_id"] for r in similarity.lsh_bucket_topk(emb_df, q, k=5).collect()]
    # identical-direction vectors land in the query's own bucket: guaranteed
    assert got[0] in (0, 1) and set(got[:2]) == {0, 1}


def test_ivf_recall_on_clustered_data(spark):
    """On genuinely clustered vectors, IVF with a couple of probes must
    recover (almost all of) the exact top-k."""
    from pyspark.sql import types as T

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((6, DIM)) * 4
    vecs = np.vstack([c + rng.standard_normal((40, DIM)) * 0.3 for c in centers])
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in np.float32(v)]) for i, v in enumerate(vecs)], schema
    )
    q = [float(x) for x in np.float32(vecs[0])]
    exact = [r["vec_id"] for r in similarity.cosine_topk(df, q, k=10).collect()]
    cents = similarity.ivf_train(df, n_clusters=6, sample_size=240)
    approx = [
        r["vec_id"]
        for r in similarity.ivf_topk(df, cents, q, k=10, nprobe=2).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_ivf_assignment_covers_all_rows(spark, emb_df):
    cents = similarity.ivf_train(emb_df, n_clusters=4, sample_size=60)
    assigned = similarity.ivf_assign(emb_df, cents)
    from pyspark.sql import functions as F

    n_null = assigned.filter(F.col("_cluster").isNull()).count()
    n_clusters = assigned.select("_cluster").distinct().count()
    assert n_null == 0 and 1 < n_clusters <= 4


def test_lsh_scans_fewer_rows_than_bruteforce(spark, emb_df):
    q = [float(x) for x in np.float32(VECS[0])]
    from pyspark.sql import functions as F

    planes = similarity._hyperplanes(DIM, 8, 42)
    bucketed = emb_df.withColumn("_sig", similarity.rh_signature(F.col("embedding"), planes))
    n_buckets = bucketed.select("_sig").distinct().count()
    assert n_buckets > 8  # corpus genuinely shards across buckets


def test_ivf_write_salted_matches_unsalted(spark, emb_df, tmp_path):
    """files_per_cluster > 1 spreads each cluster over several files (the
    hot-cluster de-straggler) without changing the probe's answer or the
    partition layout."""
    import os

    from pyspark.sql import functions as F

    cents = similarity.fixed_centroids(DIM, 4, seed=7)
    q = [float(x) for x in np.float32(VECS[3])]
    p1, p4 = str(tmp_path / "ivf1"), str(tmp_path / "ivf4")
    similarity.ivf_write(emb_df, cents, p1)
    # AQE off: this case checks the salt alone; the next test checks it
    # under the session's AQE confs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        similarity.ivf_write(emb_df, cents, p4, files_per_cluster=4)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    a = similarity.ivf_topk_at_rest(spark, p1, cents, q, k=5, nprobe=2)
    b = similarity.ivf_topk_at_rest(spark, p4, cents, q, k=5, nprobe=2)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    # same directory partitioning, more files inside at least one cluster
    dirs1 = {d for d in os.listdir(p1) if d.startswith("_cluster=")}
    dirs4 = {d for d in os.listdir(p4) if d.startswith("_cluster=")}
    assert dirs1 == dirs4
    def nfiles(root, dirs):
        return sum(
            len([f for f in os.listdir(os.path.join(root, d))
                 if f.endswith(".parquet")])
            for d in dirs
        )
    assert nfiles(p4, dirs4) > nfiles(p1, dirs1)


def test_salted_clusters_stay_split_under_aqe(spark, emb_df, tmp_path):
    """files_per_cluster > 1 spreads a small layout's clusters over
    several files with the session's own AQE coalescing on, which
    merges a salted repartition that has no partition count back into
    one task and so one file per cluster dir."""
    import glob

    from pcap_converter_spark.session import RUNTIME_CONFS

    for k in ("spark.sql.adaptive.enabled",
              "spark.sql.adaptive.coalescePartitions.enabled"):
        assert spark.conf.get(k) == RUNTIME_CONFS[k] == "true"
    cents = similarity.fixed_centroids(DIM, 4, seed=7)
    p = str(tmp_path / "ivf2")
    similarity.ivf_write(emb_df, cents, p, files_per_cluster=2)
    files = [len(glob.glob(f"{d}/*.parquet"))
             for d in glob.glob(f"{p}/_cluster=*")]
    assert max(files) == 2


def test_pq_assign_matches_numpy_argmin(spark, emb_df):
    """Encode codes == NumPy per-subvector L2 argmin (lowest-index ties)."""
    cbs = similarity.fixed_codebooks(DIM, m=4, ks=8, seed=3)
    rows = similarity.pq_assign(emb_df, cbs).select(
        "vec_id", "embedding", "pq_code"
    ).collect()
    dsub = DIM // 4
    for r in rows:
        x = np.asarray(r["embedding"], dtype=np.float64)
        exp = [
            int(((x[j * dsub : (j + 1) * dsub][None, :] - cbs[j]) ** 2)
                .sum(1).argmin())
            for j in range(4)
        ]
        assert exp == list(r["pq_code"]), r["vec_id"]


def test_pq_train_deterministic_and_shaped(spark, emb_df):
    a = similarity.pq_train(emb_df, m=4, ks=8, sample_size=50)
    b = similarity.pq_train(emb_df, m=4, ks=8, sample_size=50)
    assert a.shape == (4, 8, DIM // 4)
    assert np.array_equal(a, b)


@pytest.mark.parametrize("train", [similarity.ivf_train, similarity.pq_train])
def test_train_on_empty_sample_names_the_cause(spark, emb_df, train):
    with pytest.raises(ValueError, match="no vectors to train on"):
        train(emb_df.limit(0))


def test_pq_at_rest_layout_and_recall(spark, emb_df, tmp_path):
    """The IVF-PQ index stores codes + norm only (no raw vectors); a
    full-probe ADC top-k with TRAINED codebooks recovers the planted
    exact-duplicate family and a usable share of the true top-10."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    cbs = similarity.pq_train(emb_df, m=4, ks=16, sample_size=60)
    p = str(tmp_path / "pqidx")
    similarity.pq_write(emb_df, cents, cbs, p)
    stored = spark.read.parquet(p)
    assert set(stored.columns) == {"vec_id", "vnorm", "pq_code", "_cluster"}
    q = [float(np.float32(x)) for x in VECS[0]]
    got = similarity.pq_topk_at_rest(
        spark, p, cents, cbs, q, k=10, nprobe=4
    ).collect()
    ids = [r["vec_id"] for r in got]
    # vec 1 is vec 0 scaled (identical codes, cosine 1) — ADC must rank the
    # duplicate family at the top
    assert {0, 1} <= set(ids[:4])
    exact = {r["vec_id"]
             for r in similarity.cosine_topk(emb_df, q, k=10).collect()}
    assert len(exact & set(ids)) >= 3


def test_pq_probe_prunes_partitions(spark, emb_df, tmp_path):
    """nprobe < C: the probe's scan carries a _cluster partition filter
    and reads fewer directories than exist."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    cbs = similarity.fixed_codebooks(DIM, m=4, ks=8, seed=3)
    p = str(tmp_path / "pqpr")
    similarity.pq_write(emb_df, cents, cbs, p)
    q = [float(np.float32(x)) for x in VECS[5]]
    probe = similarity.pq_topk_at_rest(spark, p, cents, cbs, q, k=5, nprobe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "_cluster" in m.group(1), plan
    # the pruning must survive a generation compaction (r13): the probe
    # resolves the manifest root, and the gen layout is the same
    # Hive-partitioned table one directory deeper
    similarity.compact_ann_index_safe(spark, p)
    probe2 = similarity.pq_topk_at_rest(spark, p, cents, cbs, q, k=5, nprobe=2)
    plan2 = probe2._jdf.queryExecution().executedPlan().toString()
    m2 = re.search(r"PartitionFilters: \[([^\]]*)", plan2)
    assert m2 and "_cluster" in m2.group(1), plan2
    assert sorted(map(tuple, probe2.collect())) == sorted(
        map(tuple, probe.collect())
    )


def test_ivf_topk_batch_matches_per_query_loop(spark, emb_df):
    """One batched job == looping ivf_topk per query (same probes, same
    scores, same tie-breaks)."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    queries = emb_df.filter("vec_id < 3").withColumnRenamed(
        "vec_id", "query_id"
    )
    batch = similarity.ivf_topk_batch(
        queries, emb_df, cents, k=5, nprobe=2
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    for qid in (0, 1, 2):
        q = [float(np.float32(x)) for x in VECS[qid]]
        exp = [(r["vec_id"], r["cos_sim"]) for r in similarity.ivf_topk(
            emb_df, cents, q, k=5, nprobe=2).collect()]
        assert got[qid] == exp, qid


def test_assign_clusters_arrow_matches_expression_path(spark, emb_df):
    """The k-dispatched assignment: the Arrow matmul kernel and the
    plan-literal expression path agree row-for-row (same argmax, same
    lowest-id tie-break, zero-norm → cluster 0), and the dispatcher
    routes big-k to Arrow."""
    import numpy as np

    cents = similarity.fixed_centroids(DIM, 20, seed=5)  # ≥ ASSIGN_ARROW_MIN_K
    with_zero = emb_df.union(
        spark.createDataFrame(
            [(999, [0.0] * DIM)], "vec_id long, embedding array<float>"
        )
    )
    expr = {
        r["vec_id"]: r["_cluster"]
        for r in similarity.ivf_assign(with_zero, cents).collect()
    }
    arrow = {
        r["vec_id"]: r["_cluster"]
        for r in similarity.assign_arrow(with_zero, cents).collect()
    }
    assert expr == arrow
    assert arrow[999] == 0
    via_dispatch = {
        r["vec_id"]: r["_cluster"]
        for r in similarity.assign_clusters(with_zero, cents).collect()
    }
    assert via_dispatch == expr
    # small k keeps the pure-JVM expression plan (no Python eval node)
    small = similarity.assign_clusters(
        emb_df, similarity.fixed_centroids(DIM, 4, seed=5)
    )
    assert "ArrowEvalPython" not in small._jdf.queryExecution().executedPlan().toString()


def test_topk_batch_broadcast_escape_hatch(spark, emb_df):
    """broadcast_probe=False degrades the exploded-query side to a
    shuffle join with identical answers — the oversized-batch escape
    hatch mirroring incremental.flag_against_index (ADVICE r5)."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    queries = emb_df.filter("vec_id < 3").withColumnRenamed(
        "vec_id", "query_id"
    )
    a = sorted(map(tuple, similarity.ivf_topk_batch(
        queries, emb_df, cents, k=5, nprobe=2).collect()))
    b = sorted(map(tuple, similarity.ivf_topk_batch(
        queries, emb_df, cents, k=5, nprobe=2, broadcast_probe=False
    ).collect()))
    assert a == b


def test_ivf_topk_batch_at_rest_prunes_dynamically(spark, emb_df, tmp_path):
    """Against the materialized index, the broadcast join on the partition
    column triggers dynamic partition pruning — the index scan carries a
    dynamicpruning partition filter, so unprobed cluster directories are
    never read."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    p = str(tmp_path / "ivf_batch")
    similarity.ivf_write(emb_df, cents, p)
    queries = emb_df.filter("vec_id IN (0, 7)").withColumnRenamed(
        "vec_id", "query_id"
    )
    out = similarity.ivf_topk_batch(
        queries, spark.read.parquet(p), cents, k=3, nprobe=1,
        assign_corpus=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the answers match the assign-on-the-fly path
    rows_rest = sorted(map(tuple, out.collect()))
    rows_mem = sorted(map(tuple, similarity.ivf_topk_batch(
        queries, emb_df, cents, k=3, nprobe=1).collect()))
    assert rows_rest == rows_mem


def test_pq_topk_batch_matches_per_query_probe(spark, emb_df, tmp_path):
    """Batched ADC == looping pq_topk_at_rest per query (probe sets,
    scores, tie-breaks), and the batch plan dynamically prunes the
    cluster directories."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    cbs = similarity.fixed_codebooks(DIM, m=4, ks=8, seed=3)
    p = str(tmp_path / "pqb")
    similarity.pq_write(emb_df, cents, cbs, p)
    queries = emb_df.filter("vec_id < 3").withColumnRenamed(
        "vec_id", "query_id"
    )
    out = similarity.pq_topk_batch(
        queries, spark.read.parquet(p), cents, cbs, k=5, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_sim"]))
    for qid in (0, 1, 2):
        q = [float(np.float32(x)) for x in VECS[qid]]
        exp = [(r["vec_id"], r["cos_sim"])
               for r in similarity.pq_topk_at_rest(
                   spark, p, cents, cbs, q, k=5, nprobe=2).collect()]
        assert got[qid] == exp, qid
    # the shuffle-join escape hatch answers identically (ADVICE r5)
    no_b = sorted(map(tuple, similarity.pq_topk_batch(
        queries, spark.read.parquet(p), cents, cbs, k=5, nprobe=2,
        broadcast_probe=False,
    ).collect()))
    assert no_b == sorted(map(tuple, out.collect()))


def test_ivf_and_pq_append_equal_one_shot(spark, emb_df, tmp_path):
    """index(A) + append(B) answers identically to index(A ∪ B): the
    rolling-corpus path for both at-rest ANN layouts."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    cbs = similarity.fixed_codebooks(DIM, m=4, ks=8, seed=3)
    a = emb_df.filter("vec_id < 40")
    b = emb_df.filter("vec_id >= 40")
    q = [float(np.float32(x)) for x in VECS[0]]

    p_inc, p_one = str(tmp_path / "ivf_i"), str(tmp_path / "ivf_o")
    similarity.ivf_write(a, cents, p_inc)
    similarity.ivf_append(b, cents, p_inc)
    similarity.ivf_write(emb_df, cents, p_one)
    r_inc = similarity.ivf_topk_at_rest(spark, p_inc, cents, q, k=8, nprobe=4)
    r_one = similarity.ivf_topk_at_rest(spark, p_one, cents, q, k=8, nprobe=4)
    assert sorted(map(tuple, r_inc.collect())) == sorted(
        map(tuple, r_one.collect())
    )

    q_inc, q_one = str(tmp_path / "pq_i"), str(tmp_path / "pq_o")
    similarity.pq_write(a, cents, cbs, q_inc)
    similarity.pq_append(b, cents, cbs, q_inc)
    similarity.pq_write(emb_df, cents, cbs, q_one)
    s_inc = similarity.pq_topk_at_rest(
        spark, q_inc, cents, cbs, q, k=8, nprobe=4
    )
    s_one = similarity.pq_topk_at_rest(
        spark, q_one, cents, cbs, q, k=8, nprobe=4
    )
    assert sorted(map(tuple, s_inc.collect())) == sorted(
        map(tuple, s_one.collect())
    )


def test_ann_compaction_generations_answer_invariant(spark, emb_df, tmp_path):
    """compact_ann_index_safe (r13, VERDICT r12 #5): rolling appends
    leave a pile of per-append files; compaction rewrites the live
    cluster partitions into a new generation behind a single-object
    manifest commit — probe answers identical across generations,
    appends land in the live generation, vacuum removes only superseded
    layouts, a fresh write clears every generation. The corpus index's
    safe-compaction contract applied to both ANN layouts."""
    import glob
    import json
    import os

    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    q = [float(np.float32(x)) for x in VECS[0]]
    p = str(tmp_path / "ivf_gen")
    similarity.ivf_write(emb_df.filter("vec_id < 30"), cents, p)
    for lo in (30, 40, 50):
        similarity.ivf_append(
            emb_df.filter(f"vec_id >= {lo} AND vec_id < {lo + 10}"), cents, p
        )
    before = sorted(map(tuple, similarity.ivf_topk_at_rest(
        spark, p, cents, q, k=8, nprobe=4).collect()))
    n_flat = len(glob.glob(f"{p}/_cluster=*/*.parquet"))
    assert n_flat >= 8  # the small-files pile compaction exists for

    similarity.compact_ann_index_safe(spark, p)
    m = json.loads(open(f"{p}/_manifest-000001").read())
    assert m["root"] == "_gen-000001/data" and m["epoch"] == 1
    assert similarity.resolve_ann_root(spark, p).endswith("_gen-000001/data")
    # compacted: one file per cluster directory; flat layout untouched
    # (no rename window) until vacuum
    for d in glob.glob(f"{p}/_gen-000001/data/_cluster=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    assert len(glob.glob(f"{p}/_cluster=*/*.parquet")) == n_flat
    after = sorted(map(tuple, similarity.ivf_topk_at_rest(
        spark, p, cents, q, k=8, nprobe=4).collect()))
    assert after == before

    # an append now resolves into the live generation and is visible
    extra_id = 1000
    row = emb_df.filter("vec_id = 0").selectExpr(
        f"CAST({extra_id} AS BIGINT) AS vec_id", "embedding"
    )
    similarity.ivf_append(row, cents, p)
    got = {t[0] for t in similarity.ivf_topk_at_rest(
        spark, p, cents, q, k=8, nprobe=4).collect()}
    assert extra_id in got  # a copy of vec 0 must rank in its top-8

    # vacuum drops the flat layout, keeps the live generation and any
    # higher-epoch orphan (in-flight compaction's staging)
    os.makedirs(f"{p}/_gen-000007")
    similarity.vacuum_ann_index(spark, p)
    assert not glob.glob(f"{p}/_cluster=*")
    assert os.path.exists(f"{p}/_gen-000001/data")
    assert os.path.exists(f"{p}/_gen-000007")
    import shutil

    shutil.rmtree(f"{p}/_gen-000007")

    # second compaction supersedes; vacuum reclaims gen-1
    similarity.compact_ann_index_safe(spark, p)
    assert similarity.resolve_ann_root(spark, p).endswith("_gen-000002/data")
    similarity.vacuum_ann_index(spark, p)
    assert not os.path.exists(f"{p}/_gen-000001")
    still = {t[0] for t in similarity.ivf_topk_at_rest(
        spark, p, cents, q, k=8, nprobe=4).collect()}
    assert extra_id in still

    # a fresh overwrite clears every generation and manifest
    similarity.ivf_write(emb_df, cents, p)
    assert not glob.glob(f"{p}/_gen-*") and not glob.glob(f"{p}/_manifest-*")
    fresh = sorted(map(tuple, similarity.ivf_topk_at_rest(
        spark, p, cents, q, k=8, nprobe=4).collect()))
    assert fresh == before


def test_pq_compaction_and_crash_orphan(spark, emb_df, tmp_path):
    """The PQ layout through the same protocol, plus the crash-orphan
    contract: a gen dir with no manifest is invisible to readers and the
    next compaction claims the NEXT slot without touching it."""
    import glob
    import os

    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    cbs = similarity.fixed_codebooks(DIM, m=4, ks=8, seed=3)
    q = [float(np.float32(x)) for x in VECS[0]]
    p = str(tmp_path / "pq_gen")
    similarity.pq_write(emb_df.filter("vec_id < 40"), cents, cbs, p)
    similarity.pq_append(emb_df.filter("vec_id >= 40"), cents, cbs, p)
    before = sorted(map(tuple, similarity.pq_topk_at_rest(
        spark, p, cents, cbs, q, k=8, nprobe=4).collect()))

    # a crashed compaction's orphan: claimed slot with REAL DATA in it,
    # no manifest (r13 review: a populated plain-named orphan used to
    # raise CONFLICTING_DIRECTORY_STRUCTURES in every flat reader — the
    # hidden _gen- name makes it invisible to path-root listing)
    emb_df.filter("vec_id < 8").selectExpr(
        "vec_id", "embedding", "CAST(0 AS INT) AS _cluster"
    ).write.partitionBy("_cluster").parquet(f"{p}/_gen-000001/data")
    assert similarity.resolve_ann_root(spark, p) == p  # reader-invisible
    # the flat probe must neither crash nor see the orphan's rows
    mid = sorted(map(tuple, similarity.pq_topk_at_rest(
        spark, p, cents, cbs, q, k=8, nprobe=4).collect()))
    assert mid == before

    similarity.compact_ann_index_safe(spark, p, files_per_cluster=2)
    # slot 1 was taken by the orphan: commit lands at 2, orphan untouched
    assert similarity.resolve_ann_root(spark, p).endswith("_gen-000002/data")
    assert os.path.exists(f"{p}/_gen-000001/data")
    for d in glob.glob(f"{p}/_gen-000002/data/_cluster=*"):
        assert len(glob.glob(f"{d}/*.parquet")) <= 2
    after = sorted(map(tuple, similarity.pq_topk_at_rest(
        spark, p, cents, cbs, q, k=8, nprobe=4).collect()))
    assert after == before


def _blob(rng, anchor, n, eps):
    a = np.asarray(anchor, dtype=np.float64)
    a = a / np.linalg.norm(a)
    pts = a + rng.standard_normal((n, len(a))) * eps
    return pts / np.linalg.norm(pts, axis=1, keepdims=True)


def _recall(spark, emb, path, cents, q, k, nprobe):
    """At-rest probe recall vs brute-force cosine over the same rows."""
    got = {
        r["vec_id"]
        for r in similarity.ivf_topk_at_rest(
            spark, path, cents, q, k=k, nprobe=nprobe
        ).collect()
    }
    true = {
        r["vec_id"]
        for r in similarity.cosine_topk(emb, q, k=k).collect()
    }
    return len(got & true) / k


def test_retrain_recovers_recall_on_drifted_index(spark, tmp_path):
    """VERDICT r13 #2 done-criterion: append a shifted distribution,
    show probe recall DROPS under the stale centroids, then RECOVERS
    after retrain_ann_index rewrites the layout under centroids trained
    on today's data — with the drift visible in ann_drift_report before
    the retrain and cleared after."""
    rng = np.random.default_rng(11)
    dim = 16
    eye = np.eye(dim)
    # yesterday's corpus: four tight blobs on basis axes; centroids = axes
    a_pts = np.concatenate([_blob(rng, eye[i], 12, 0.03) for i in range(4)])
    cents = eye[:4].copy()
    a_df = spark.createDataFrame(
        [(i, [float(x) for x in a_pts[i]]) for i in range(len(a_pts))],
        "vec_id long, embedding array<double>",
    )
    p = str(tmp_path / "drift_ivf")
    similarity.ivf_write(a_df, cents, p)

    # baseline: freshly trained index reports no drift
    rep0 = similarity.ann_drift_report(spark, p, id_col="vec_id")
    assert rep0["recorded"] is not None and not rep0["drifted"]

    # today's appends: a new mode midway between axes 0 and 1, jittered
    # along (e0 - e1) so its points STRADDLE the c0/c1 boundary — the
    # exact geometry where stale centroids split true neighbors across
    # clusters and a pruned probe misses half of them
    mid = (eye[0] + eye[1]) / np.sqrt(2)
    tilt = (eye[0] - eye[1]) / np.sqrt(2)
    b_pts = np.stack([
        mid + tilt * ((-1) ** i) * 0.08 + rng.standard_normal(dim) * 0.01
        for i in range(40)
    ])
    b_pts /= np.linalg.norm(b_pts, axis=1, keepdims=True)
    b_df = spark.createDataFrame(
        [(100 + i, [float(x) for x in b_pts[i]]) for i in range(len(b_pts))],
        "vec_id long, embedding array<double>",
    )
    similarity.ivf_append(b_df, cents, p)
    everything = a_df.unionByName(b_df)

    rep1 = similarity.ann_drift_report(spark, p, id_col="vec_id")
    assert rep1["drifted"], rep1
    assert rep1["mean_max_dot_drop"] > 0.05

    q = [float(x) for x in mid]
    before = _recall(spark, everything, p, cents, q, k=20, nprobe=1)
    assert before <= 0.7, f"drifted recall unexpectedly high: {before}"

    new_cents = similarity.retrain_ann_index(
        spark, p, n_clusters=5, id_col="vec_id", seed=3,
    )
    assert new_cents.shape == (5, dim)
    # the new generation is live, self-describing, and un-drifted
    assert similarity.resolve_ann_root(spark, p).endswith("_gen-000001/data")
    rec = similarity.read_ann_centroids(spark, p)
    assert rec is not None and np.allclose(rec, new_cents)
    rep2 = similarity.ann_drift_report(spark, p, id_col="vec_id")
    assert not rep2["drifted"], rep2

    after = _recall(spark, everything, p, new_cents, q, k=20, nprobe=1)
    assert after >= 0.9, f"retrain did not recover recall: {after}"
    assert after > before

    # probes on the retrained layout are still partition-pruned
    import re

    plan = similarity.ivf_topk_at_rest(
        spark, p, new_cents, q, k=5, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "_cluster" in m.group(1)

    # row preservation: every vector of both eras survives the rewrite
    n_live = spark.read.parquet(
        similarity.resolve_ann_root(spark, p)
    ).count()
    assert n_live == len(a_pts) + len(b_pts)

    # vacuum reclaims the superseded flat layout, probe still answers
    similarity.vacuum_ann_index(spark, p)
    import glob

    assert not glob.glob(f"{p}/_cluster=*")
    assert _recall(spark, everything, p, new_cents, q, 20, 1) == after


def test_retrain_answer_invariant_on_undrifted_index(spark, emb_df, tmp_path):
    """Retraining an UNDRIFTED index must not change probe answers: the
    live data equals the original training corpus, the sampling contract
    (orderBy id, limit) is shared with ivf_train, so same seed → same
    centroids → same assignment → identical probe rows."""
    p = str(tmp_path / "stable_ivf")
    cents = similarity.ivf_train(emb_df, n_clusters=4, seed=9)
    similarity.ivf_write(emb_df, cents, p)
    q = [float(np.float32(x)) for x in VECS[0]]
    before = sorted(map(tuple, similarity.ivf_topk_at_rest(
        spark, p, cents, q, k=8, nprobe=4).collect()))

    # sample_order="id" pins exact reproduction of the original train
    # (the default "hash" samples representatively — right for real
    # drift, but a different sample permutation than ivf_train's)
    new_cents = similarity.retrain_ann_index(
        spark, p, id_col="vec_id", seed=9, sample_order="id"
    )
    assert new_cents.shape == cents.shape
    assert np.allclose(new_cents, cents)
    after = sorted(map(tuple, similarity.ivf_topk_at_rest(
        spark, p, new_cents, q, k=8, nprobe=4).collect()))
    assert after == before

    # n_clusters defaulted from the recorded sidecar
    assert len(similarity.read_ann_centroids(spark, p)) == 4


def test_ivf_write_records_sidecars_invisible_to_probes(spark, emb_df, tmp_path):
    """ivf_write self-describes: centroids + fit stats land as
    underscore-hidden sidecars that Spark's file listing skips, so the
    data read sees exactly the data columns."""
    p = str(tmp_path / "sidecar_ivf")
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    similarity.ivf_write(emb_df, cents, p)
    rec = similarity.read_ann_centroids(spark, p)
    assert rec is not None and np.allclose(rec, cents)
    stats = similarity.read_ann_stats(spark, p)
    assert stats and stats["n_clusters"] == 4 and 0 < stats["mean_max_dot"] <= 1
    df = spark.read.parquet(p)
    assert sorted(df.columns) == ["_cluster", "embedding", "vec_id"]
    assert df.count() == N
    # a pre-sidecar index reads back as None, and the drift report
    # demands explicit centroids rather than guessing
    import glob
    import shutil

    for d in glob.glob(f"{p}/_centroids"):
        shutil.rmtree(d)
    assert similarity.read_ann_centroids(spark, p) is None
    with pytest.raises(ValueError, match="no centroids"):
        similarity.ann_drift_report(spark, p, id_col="vec_id")


def test_append_detects_compaction_race(spark, emb_df, tmp_path):
    """ADVICE r13: an append whose root resolved before a concurrent
    compaction commits lands in the superseded generation — silent data
    loss at vacuum. The post-write epoch re-check turns it into a raise
    naming the remedy (re-run the append)."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    p = str(tmp_path / "race_ivf")
    similarity.ivf_write(emb_df.filter("vec_id < 40"), cents, p)

    real_resolve = similarity.resolve_ann_root
    fired = {}

    def racing_resolve(spark_, path_):
        root = real_resolve(spark_, path_)
        if not fired.get("done"):
            fired["done"] = True
            similarity.compact_ann_index_safe(spark_, path_)
        return root

    similarity.resolve_ann_root, saved = racing_resolve, real_resolve
    try:
        with pytest.raises(RuntimeError, match="raced a compaction"):
            similarity.ivf_append(
                emb_df.filter("vec_id >= 40"), cents, p
            )
    finally:
        similarity.resolve_ann_root = saved

    # the raise is honest: the live generation does NOT hold the rows,
    # so the documented remedy (re-run) works and is then visible
    live = spark.read.parquet(similarity.resolve_ann_root(spark, p))
    assert live.filter("vec_id >= 40").count() == 0
    similarity.ivf_append(emb_df.filter("vec_id >= 40"), cents, p)
    live = spark.read.parquet(similarity.resolve_ann_root(spark, p))
    assert live.filter("vec_id >= 40").count() == N - 40


def test_drift_report_sample_is_not_id_biased(spark, tmp_path):
    """r14 review: on an index whose ids correlate with arrival time,
    an id-ordered sample is the OLDEST vectors — the training
    distribution itself — so a drift report built on it is structurally
    blind to drifted appends. The report samples hash-ordered: drift
    living ONLY beyond the sample budget's id range must still be seen."""
    rng = np.random.default_rng(23)
    dim = 16
    eye = np.eye(dim)
    n_old, n_new, budget = 5000, 2500, 1024
    old = np.concatenate(
        [_blob(rng, eye[i], n_old // 4, 0.03) for i in range(4)]
    )
    cents = eye[:4].copy()
    old_df = spark.createDataFrame(
        [(i, [float(x) for x in old[i]]) for i in range(n_old)],
        "vec_id long, embedding array<double>",
    )
    p = str(tmp_path / "bias_ivf")
    similarity.ivf_write(old_df, cents, p)

    # drifted appends at STRICTLY HIGHER ids, a full third of the corpus
    mid = (eye[2] + eye[3]) / np.sqrt(2)
    new = _blob(rng, mid, n_new, 0.02)
    new_df = spark.createDataFrame(
        [(n_old + i, [float(x) for x in new[i]]) for i in range(n_new)],
        "vec_id long, embedding array<double>",
    )
    similarity.ivf_append(new_df, cents, p)

    # the id-ordered sample under the same budget sees ZERO drifted rows
    root = similarity.resolve_ann_root(spark, p)
    live = spark.read.parquet(root)
    blind = similarity._sample_vectors(
        live, "embedding", budget, id_col="vec_id", order="id"
    )
    blind_stats = similarity.centroid_fit_stats(blind, cents)
    rec = similarity.read_ann_stats(spark, p)
    assert rec["mean_max_dot"] - blind_stats["mean_max_dot"] <= 0.02, (
        "id-ordered sample unexpectedly saw the drift — fixture broken"
    )

    # the report (hash-ordered) flags it
    rep = similarity.ann_drift_report(
        spark, p, id_col="vec_id", sample_size=budget
    )
    assert rep["drifted"], rep
    assert rep["mean_max_dot_drop"] > 0.05

    # and a default retrain LEARNS the new mode: a budget-bounded,
    # hash-ordered training sample must place a centroid near it
    new_cents = similarity.retrain_ann_index(
        spark, p, n_clusters=5, id_col="vec_id",
        sample_size=budget, seed=3,
    )
    best = float(np.max(new_cents @ (mid / np.linalg.norm(mid))))
    assert best > 0.95, f"no centroid near the drifted mode: {best}"
    # invalid order rejected
    with pytest.raises(ValueError, match="sample_order"):
        similarity._sample_vectors(
            live, "embedding", 8, id_col="vec_id", order="rand"
        )


def test_append_not_fooled_when_write_lands_in_new_generation(spark, emb_df, tmp_path):
    """r14 review: a compaction committing BEFORE the append resolves its
    root means the write lands in the NEW live generation — correct, and
    it must NOT raise (a before/after epoch compare would falsely raise
    here, and its re-run remedy would duplicate every appended row)."""
    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    p = str(tmp_path / "norace_ivf")
    similarity.ivf_write(emb_df.filter("vec_id < 40"), cents, p)

    real_resolve = similarity.resolve_ann_root
    fired = {}

    def compact_then_resolve(spark_, path_):
        if not fired.get("done"):
            fired["done"] = True
            similarity.compact_ann_index_safe(spark_, path_)
        return real_resolve(spark_, path_)  # resolves the NEW generation

    similarity.resolve_ann_root, saved = compact_then_resolve, real_resolve
    try:
        similarity.ivf_append(emb_df.filter("vec_id >= 40"), cents, p)
    finally:
        similarity.resolve_ann_root = saved

    live = spark.read.parquet(similarity.resolve_ann_root(spark, p))
    assert live.count() == N            # no loss, no duplicates
    assert live.filter("vec_id >= 40").count() == N - 40


def test_probes_recover_geometry_from_sidecars(spark, emb_df, tmp_path):
    """r14: an index is probe-able with nothing but its path — IVF
    centroids and PQ codebooks ride as sidecars, survive compaction,
    and centroids=None/codebooks=None probes answer identically to
    explicitly-passed geometry."""
    q = [float(np.float32(x)) for x in VECS[0]]
    cents = similarity.fixed_centroids(DIM, 4, seed=42)

    p = str(tmp_path / "selfdesc_ivf")
    similarity.ivf_write(emb_df, cents, p)
    withc = sorted(map(tuple, similarity.ivf_topk_at_rest(
        spark, p, cents, q, k=6, nprobe=3).collect()))
    wo = sorted(map(tuple, similarity.ivf_topk_at_rest(
        spark, p, None, q, k=6, nprobe=3).collect()))
    assert wo == withc

    cbs = similarity.pq_train(emb_df, m=4, ks=16, sample_size=60)
    pp = str(tmp_path / "selfdesc_pq")
    similarity.pq_write(emb_df, cents, cbs, pp)
    rec_cbs = similarity.read_ann_codebooks(spark, pp)
    assert rec_cbs is not None and np.allclose(rec_cbs, cbs)
    a = sorted(map(tuple, similarity.pq_topk_at_rest(
        spark, pp, cents, cbs, q, k=6, nprobe=4).collect()))
    b = sorted(map(tuple, similarity.pq_topk_at_rest(
        spark, pp, None, None, q, k=6, nprobe=4).collect()))
    assert a == b

    # sidecars survive compaction + vacuum; stored data untouched
    similarity.compact_ann_index_safe(spark, pp)
    similarity.vacuum_ann_index(spark, pp)
    c = sorted(map(tuple, similarity.pq_topk_at_rest(
        spark, pp, None, None, q, k=6, nprobe=4).collect()))
    assert c == a
    stored = spark.read.parquet(similarity.resolve_ann_root(spark, pp))
    assert set(stored.columns) == {"vec_id", "vnorm", "pq_code", "_cluster"}

    # clear errors when geometry is genuinely unrecoverable
    import shutil

    shutil.rmtree(
        f"{similarity.resolve_ann_root(spark, pp)}/_codebooks"
    )
    with pytest.raises(ValueError, match="no codebooks"):
        similarity.pq_topk_at_rest(spark, pp, None, None, q, k=3)
    with pytest.raises(ValueError, match="DataFrame index"):
        similarity.ivf_topk_at_rest(spark, emb_df, None, q, k=3)


def _pq_recall(spark, emb, path, q, k, nprobe):
    """At-rest PQ probe recall (geometry from the index's own sidecars)
    vs brute-force cosine over the same rows."""
    got = {
        r["vec_id"]
        for r in similarity.pq_topk_at_rest(
            spark, path, None, None, q, k=k, nprobe=nprobe
        ).collect()
    }
    true = {
        r["vec_id"] for r in similarity.cosine_topk(emb, q, k=k).collect()
    }
    return len(got & true) / k


def test_pq_retrain_from_recorded_source(spark, tmp_path):
    """VERDICT r14 #3 done-criterion: a drifted PQ index with REACHABLE
    recorded source provenance retrains end-to-end — new centroids AND
    codebooks trained on today's distribution, every source row
    re-encoded into a new generation through the manifest protocol,
    recall recovered, probes cut over atomically — and the drift report
    works for the vector-less layout by sampling the source."""
    rng = np.random.default_rng(21)
    dim = 16
    eye = np.eye(dim)
    a_pts = np.concatenate([_blob(rng, eye[i], 12, 0.03) for i in range(4)])
    cents = eye[:4].copy()
    src = str(tmp_path / "pq_src_corpus")
    a_df = spark.createDataFrame(
        [(i, [float(x) for x in a_pts[i]]) for i in range(len(a_pts))],
        "vec_id long, embedding array<double>",
    )
    a_df.write.parquet(src)
    source_df = spark.read.parquet(src)
    cbs = similarity.pq_train(source_df, m=4, ks=16, sample_size=64)
    p = str(tmp_path / "pq_retrain_idx")
    similarity.pq_write(
        source_df, cents, cbs, p, source=src, source_prep="unit-norm"
    )
    meta = similarity.read_ann_source(spark, p)
    assert meta == {
        "path": src, "format": "parquet", "id_col": "vec_id",
        "vec_col": "embedding", "prep": "unit-norm",
    }
    # the write also records a fit-stats baseline (vectors in hand)
    assert similarity.read_ann_stats(spark, p) is not None

    # drift: a new mode straddling the c0/c1 boundary lands in BOTH the
    # source corpus (the live location) and the index (pq_append) —
    # exactly k points, so brute-force top-k is the whole mode and
    # recall is not hostage to ADC tie-ordering among near-identical
    # vectors
    k = 20
    mid = (eye[0] + eye[1]) / np.sqrt(2)
    tilt = (eye[0] - eye[1]) / np.sqrt(2)
    b_pts = np.stack([
        mid + tilt * ((-1) ** i) * 0.08 + rng.standard_normal(dim) * 0.01
        for i in range(k)
    ])
    b_pts /= np.linalg.norm(b_pts, axis=1, keepdims=True)
    b_df = spark.createDataFrame(
        [(100 + i, [float(x) for x in b_pts[i]]) for i in range(k)],
        "vec_id long, embedding array<double>",
    )
    b_df.write.mode("append").parquet(src)
    similarity.pq_append(b_df, cents, cbs, p)
    everything = a_df.unionByName(b_df)

    rep = similarity.ann_drift_report(spark, p)
    assert rep["sampled_from"] == "source" and rep["drifted"], rep

    q = [float(x) for x in mid]
    before = _pq_recall(spark, everything, p, q, k=k, nprobe=1)
    assert before <= 0.7, f"drifted PQ recall unexpectedly high: {before}"

    new_cents = similarity.retrain_ann_index(spark, p, n_clusters=5, seed=3)
    assert new_cents.shape == (5, dim)
    assert similarity.resolve_ann_root(spark, p).endswith("_gen-000001/data")
    # the new generation is self-describing end to end: geometry,
    # baseline AND provenance carried
    rec_cents = similarity.read_ann_centroids(spark, p)
    assert rec_cents is not None and np.allclose(rec_cents, new_cents)
    rec_cbs = similarity.read_ann_codebooks(spark, p)
    assert rec_cbs is not None and rec_cbs.shape == (4, 16, 4)
    assert similarity.read_ann_source(spark, p) == meta
    rep2 = similarity.ann_drift_report(spark, p)
    assert not rep2["drifted"], rep2

    after = _pq_recall(spark, everything, p, q, k=k, nprobe=1)
    assert after >= 0.9, f"PQ retrain did not recover recall: {after}"
    assert after > before

    # every source row survives the re-encode; layout stays codes-only
    live = spark.read.parquet(similarity.resolve_ann_root(spark, p))
    assert live.count() == len(a_pts) + k
    assert set(live.columns) == {"vec_id", "vnorm", "pq_code", "_cluster"}

    # probes on the retrained layout are still partition-pruned
    import re

    plan = similarity.pq_topk_at_rest(
        spark, p, None, None, q, k=5, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "_cluster" in m.group(1)

    # vacuum reclaims the superseded flat layout, probe still answers
    similarity.vacuum_ann_index(spark, p)
    import glob

    assert not glob.glob(f"{p}/_cluster=*")
    assert _pq_recall(spark, everything, p, q, k, 1) == after


def test_pq_retrain_raises_without_or_with_stale_provenance(spark, emb_df, tmp_path):
    """The failure surfaces stay curated: no recorded source → the
    manual-rebuild raise now names the pq_write(source=...) remedy; a
    recorded source that vanished → 'unreachable' with the restore
    remedy; a source whose columns were renamed → 'stale' provenance."""
    import shutil

    cents = similarity.fixed_centroids(DIM, 4, seed=42)
    cbs = similarity.pq_train(emb_df, m=4, ks=8, sample_size=50)

    p0 = str(tmp_path / "pq_noprov")
    similarity.pq_write(emb_df, cents, cbs, p0)
    with pytest.raises(ValueError, match="records no source provenance"):
        similarity.retrain_ann_index(spark, p0)

    src = str(tmp_path / "pq_prov_src")
    emb_df.write.parquet(src)
    p1 = str(tmp_path / "pq_prov")
    similarity.pq_write(
        spark.read.parquet(src), cents, cbs, p1, source=src
    )
    shutil.rmtree(src)
    with pytest.raises(ValueError, match="unreachable"):
        similarity.retrain_ann_index(spark, p1)

    src2 = str(tmp_path / "pq_prov_src2")
    emb_df.withColumnRenamed("embedding", "vec").write.parquet(src2)
    p2 = str(tmp_path / "pq_prov2")
    similarity.pq_write(emb_df, cents, cbs, p2, source=src2)
    with pytest.raises(ValueError, match="no longer carries"):
        similarity.retrain_ann_index(spark, p2)
    # the drift report gives the SAME curated stale-provenance error
    # (r15 review: it used to die inside _sample_vectors with a raw
    # AnalysisException on the renamed column)
    with pytest.raises(ValueError, match="no longer carries"):
        similarity.ann_drift_report(spark, p2)
