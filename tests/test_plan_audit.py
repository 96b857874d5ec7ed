"""Plan-shape guards: the physical plans that must hold at 100 TB."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pcap_converter_spark.io.loader import load_table
from pcap_converter_spark.operators.defrag import defrag
from pcap_converter_spark.plans import audit

FIXTURE_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "data", "packets.parquet",
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_plans(spark):
    """Plan audits must see real Parquet scans — earlier test modules may
    have cached DataFrames over the same files (InMemoryTableScan would
    swallow ReadSchema/PushedFilters)."""
    spark.catalog.clearCache()
    yield


def test_defrag_join_is_broadcast(spark):
    """R5: ff is one row per fragmented datagram — the packets side must
    never shuffle (main scale property of the defrag operator)."""
    packets = spark.read.parquet(FIXTURE_PARQUET)
    out = defrag(packets)
    audit.assert_broadcast_join(out, "(defrag R5)")
    audit.assert_no_sort_merge_join(out, "(defrag R5)")


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    audit.assert_pushed_filters(q, "l_quantity")


def test_projection_pruning_reaches_parquet_scan(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    # 2 projected + nothing else: the 16-column lineitem scan must shrink
    audit.assert_pruned_columns(q, 2)


def test_defrag_decision_agg_prunes_to_predicate_columns(spark):
    """R2 reads only ip_frag_offset/ip_mf, not the 31-column row."""
    packets = spark.read.parquet(FIXTURE_PARQUET)
    from pcap_converter_spark.operators.defrag import fragment_pct

    audit.assert_pruned_columns(packets.agg(fragment_pct()), 2)


def test_small_dim_join_broadcasts(spark):
    """DQ3-shape: nation/region are tiny — Catalyst must broadcast them."""
    c = load_table(spark, SF, "customer")
    n = load_table(spark, SF, "nation")
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    audit.assert_broadcast_join(j, "(customer x nation)")


def test_sim_topk_plan_is_take_ordered(spark):
    """cosine_topk must compile to scan → project → TakeOrderedAndProject:
    the query vector is a plan literal, so there is no join and the only
    cross-partition traffic is k rows per partition."""
    from pcap_converter_spark.operators.similarity import cosine_topk

    emb = load_table(spark, SF, "embeddings")
    q = cosine_topk(emb, [0.1] * 64, k=10)
    plan = audit.formatted_plan(q)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan and "Exchange" not in plan, plan[:3000]


def test_aggregation_uses_whole_stage_codegen(spark):
    # AQE compiles codegen lazily per stage; disable it for the probe so
    # the whole plan compiles up front and the codegen subtrees are visible
    li = load_table(spark, SF, "lineitem")  # (re-applies runtime confs)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
        assert audit.codegen_stage_count(q) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_ivf_at_rest_probe_prunes_partitions(spark, tmp_path):
    """The materialized IVF index claim (similarity.py): a probe over the
    cluster-partitioned layout must carry the cluster IN-list as a
    PartitionFilter (directories pruned pre-I/O), read only vec_id +
    embedding, and return exactly what the in-memory probe returns."""
    from pcap_converter_spark.operators import similarity

    emb = load_table(spark, SF, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    cents = similarity.fixed_centroids(len(qv), 8)
    idx = str(tmp_path / "ivf_index")
    similarity.ivf_write(emb, cents, idx)

    probe = similarity.ivf_topk_at_rest(spark, idx, cents, qv, k=10, nprobe=3)
    audit.assert_partition_filters(probe, "_cluster")
    audit.assert_pruned_columns(probe, 2)

    in_mem = similarity.ivf_topk(emb, cents, qv, k=10, nprobe=3)
    assert [(r["vec_id"], r["cos_sim"]) for r in probe.collect()] == [
        (r["vec_id"], r["cos_sim"]) for r in in_mem.collect()
    ]


def test_vocab_encode_is_projection_only(spark):
    """Vocabulary encoding must be a pure projection over the scan: the
    vocab rides as a plan-literal map — no join, no shuffle."""
    from pcap_converter_spark.operators.vocab import build_vocab, encode_column

    docs = load_table(spark, SF, "documents")
    vocab = build_vocab(docs, size=16)
    enc = docs.select("doc_id", encode_column(F.col("text"), vocab).alias("ids"))
    plan = audit.formatted_plan(enc)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_packing_is_single_shuffle(spark):
    """Sequence packing = one hash exchange (by shard) + one window sort;
    a second exchange would mean the window repartitioned again."""
    from pcap_converter_spark.functions.text import token_count
    from pcap_converter_spark.operators.packing import pack_documents

    docs = load_table(spark, SF, "documents").select(
        "doc_id", token_count(F.col("text")).alias("nt")
    )
    plan = audit.formatted_plan(pack_documents(docs, "nt"))
    assert plan.count("Arguments: hashpartitioning") == 1, plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """Decontamination's scale contract: the benchmark gram set rides a
    broadcast hash join — the corpus side must never shuffle for the
    match (eval suites are MBs, the corpus is TBs)."""
    from pcap_converter_spark.operators.dedup import decontaminate

    docs = load_table(spark, SF, "documents")
    did = F.col("doc_id")
    out = decontaminate(docs.filter(did % 83 != 0), docs.filter(did % 83 == 0))
    audit.assert_broadcast_join(out, "(decontaminate)")
    audit.assert_no_sort_merge_join(out, "(decontaminate)")


def test_exact_dedup_shuffles_digests_not_text(spark):
    """The exact-dedup groupBy must key on the sha256 digest with the text
    column pruned from the scan — 100 TB of text must never shuffle."""
    from pcap_converter_spark.operators.dedup import exact_duplicates

    docs = load_table(spark, SF, "documents")
    plan = audit.formatted_plan(exact_duplicates(docs))
    assert "content_hash" in plan
    ex = [l for l in plan.splitlines() if "Arguments: hashpartitioning" in l]
    assert ex and all("text#" not in l for l in ex), plan


def test_url_dedup_shuffles_keys_not_text(spark):
    """dedup_by_url's URL-keyed exchanges must carry only (id, canonical
    url) — document text joins back on the id key, never travels on the
    URL key (100 TB of text must not shuffle to dedup refetched pages)."""
    from pyspark.sql import functions as F

    from pcap_converter_spark.functions.urls import dedup_by_url

    docs = load_table(spark, SF, "documents").withColumn(
        "url", F.concat(F.lit("https://ex.org/"), F.col("doc_id") % 50)
    )
    plan = audit.formatted_plan(dedup_by_url(docs))
    url_ex = [
        l for l in plan.splitlines()
        if "Arguments: hashpartitioning(canonical_url" in l
    ]
    assert url_ex and all("text#" not in l for l in url_ex), plan


def test_lm_scoring_broadcasts_model(spark):
    """perplexity_score must broadcast the bounded model table — the
    exploded token table (the 100 TB side) never shuffles on the term
    key."""
    from pcap_converter_spark.operators.lm import (
        perplexity_score,
        unigram_model,
    )

    docs = load_table(spark, SF, "documents")
    model = unigram_model(docs, vocab_size=100)
    out = perplexity_score(docs, model)
    audit.assert_broadcast_join(out, "(perplexity_score)")
    audit.assert_no_sort_merge_join(out, "(perplexity_score)")


def test_kmeans_assignment_is_projection_only(spark):
    """The Lloyd assignment must be a pure projection over plan-literal
    centroids — no join, no shuffle: at 100 TB the corpus is never moved
    to be assigned a cluster."""
    import numpy as np

    from pcap_converter_spark.operators.similarity import ivf_assign

    embs = load_table(spark, SF, "embeddings")
    cents = np.eye(8, 64)
    plan = audit.formatted_plan(ivf_assign(embs, cents))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_semantic_neardup_is_single_cluster_shuffle(spark):
    """SemDeDup's prune: exactly one hash exchange (keyed by cluster id)
    feeds the per-cluster matmul — assignment adds none, and nothing
    shuffles twice."""
    import numpy as np

    from pcap_converter_spark.operators.semdedup import semantic_neardup

    embs = load_table(spark, SF, "embeddings")
    cents = np.eye(8, 64)
    plan = audit.formatted_plan(semantic_neardup(embs, cents))
    assert "Join" not in plan, plan
    ex = [l for l in plan.splitlines() if "Arguments: hashpartitioning" in l]
    assert len(ex) == 1 and "_cluster" in ex[0], plan


def test_bm25_filters_terms_before_any_join(spark):
    """bm25_topk: the (doc,term,tf) table must filter to the query's
    literal terms BEFORE joining anything — the per-query cost is the
    token explosion plus a terms-sized fraction of the corpus, never a
    corpus × corpus join. The doc-length side joins broadcast-free only
    on the pipeline's own doc key; the tiny per-term df frame
    broadcasts."""
    from pcap_converter_spark.operators.tfidf import bm25_topk

    docs = load_table(spark, SF, "documents")
    handles: list = []
    out = bm25_topk(docs, "vector hash join", k=5, handles=handles)
    plan = audit.formatted_plan(out)
    # the isin over literal terms exists as a Filter (term IN (...))
    assert "term#" in plan and " IN " in plan, plan
    audit.assert_broadcast_join(out, "(bm25)")
    for h in handles:
        h.unpersist()


def test_funnel_exact_dedup_has_partial_agg_no_window(spark):
    """curate's exact-dedup stage (pipeline.exact_keep_flags, r12): the
    min-per-digest must run as a two-phase aggregate — partial_min gives
    map-side combining, so a mega-duplicate digest group (empty pages,
    boilerplate templates) collapses per mapper instead of landing in one
    task — and NO Window node may appear (a window over a skewed digest
    group is an unsplittable straggler AQE cannot rescue)."""
    from pcap_converter_spark.operators.pipeline import exact_keep_flags

    docs = load_table(spark, SF, "documents")
    digests = docs.select(
        "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("_digest")
    )
    plan = audit.formatted_plan(exact_keep_flags(digests))
    assert "partial_min" in plan, plan
    assert "Window" not in plan, plan


def test_exact_keep_flags_join_back_skew_story(spark):
    """The skew claim VERIFIED, not assumed (r12 second pass): writing
    this test DISPROVED the docstring's original 'the join-back is
    AQE-skew-splittable' — OptimizeSkewedJoin only rewrites sort-merge
    joins whose children are plain ENSURE_REQUIREMENTS shuffles, and
    exact_keep_flags' keepers side has its final aggregate between the
    shuffle and the join. Pinned three ways under identical
    fixture-scale skew confs:

    1. a CLASSIC two-shuffle join with a hot key DOES split
       (skew=true) — proving the confs detect skew here at all;
    2. the agg+join-back mega-group shape does NOT (if a future Spark
       starts splitting it, this fails and the scale story improves —
       flip the docstring);
    3. the documented scale path, n_salts (skew.salted_join), returns
       byte-identical flags to the pure form.
    """
    from pcap_converter_spark.operators.pipeline import exact_keep_flags

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)

        # 1. control: the classic shape splits under these confs
        left = spark.range(400_000).selectExpr(
            "CASE WHEN id % 4 != 0 THEN 'hotkey' "
            "ELSE CAST(id AS STRING) END AS k",
            "sha2(CAST(id AS STRING), 256) AS payload",
        )
        right = spark.range(100).selectExpr(
            "CASE WHEN id = 0 THEN 'hotkey' ELSE CAST(id AS STRING) END AS k",
            "id AS rid",
        )
        ctl = left.join(right, "k")
        ctl.collect()  # AQE finalizes the plan only on execution
        ctl_plan = ctl._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in ctl_plan, ctl_plan[:3000]

        # 2. the agg+join-back shape does NOT split (the limitation)
        n = 200_000
        digests = spark.range(n).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 20 != 0 THEN repeat('m', 64) "
            "ELSE sha2(CAST(id AS STRING), 256) END AS _digest",
        )
        pure = exact_keep_flags(digests)
        got = pure.collect()
        plan = pure._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in plan, (
            "AQE now splits the agg+join-back — update exact_keep_flags' "
            "docstring, the salted path may no longer be needed:\n"
            + plan[:3000]
        )
        kept = sum(1 for r in got if r["keep_exact"])
        assert kept == 1 + n // 20  # mega-group keeps doc 1 + uniques

        # 3. the salted path is exact: identical flags, and the join
        # runs on (digest, salt)
        salted = exact_keep_flags(digests, n_salts=8)
        assert sorted(map(tuple, salted.collect())) == sorted(
            map(tuple, got)
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
