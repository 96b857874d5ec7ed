"""Driver-side state: ``session.session_memo`` and the memoized helpers
built on it (reader frames, registered views, at-rest artifacts).

Every per-session artifact lives in one dict ON the SparkSession object,
so it is released with the session, a sibling ``spark.newSession()`` gets
its own entries, and a ``version`` change (a file mtime) replaces the
entry instead of leaking the superseded generation."""

from __future__ import annotations

import ast
import gc
import os
import weakref

import pytest

from pcap_converter_spark.session import session_memo

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pcap_converter_spark",
)


def _memo(spark) -> dict:
    return vars(spark).get("_pcs_memo", {})


def test_build_runs_once_per_session_and_key(spark):
    calls: list[str] = []

    def build(tag):
        return lambda: calls.append(tag) or f"value-{tag}"

    assert session_memo(spark, ("t_once", "a"), build("a")) == "value-a"
    assert session_memo(spark, ("t_once", "a"), build("a")) == "value-a"
    assert session_memo(spark, ("t_once", "b"), build("b")) == "value-b"
    assert calls == ["a", "b"]


def test_version_change_rebuilds_and_replaces(spark):
    calls: list[int] = []

    def at(v):
        return session_memo(
            spark, "t_version", lambda: calls.append(v) or v, version=v
        )

    assert at(1) == 1
    assert at(1) == 1
    assert at(2) == 2
    assert calls == [1, 2]
    # one generation is kept: the superseded version is gone, so going
    # back rebuilds too
    assert _memo(spark)["t_version"] == (2, 2)
    assert at(1) == 1
    assert calls == [1, 2, 1]


def test_sibling_sessions_are_isolated(spark):
    sib = spark.newSession()
    session_memo(spark, "t_sibling", lambda: "parent")
    assert session_memo(sib, "t_sibling", lambda: "sibling") == "sibling"
    assert session_memo(spark, "t_sibling", lambda: "rebuilt") == "parent"
    assert _memo(sib)["t_sibling"] == (None, "sibling")


def test_register_views_per_session_and_released_with_it(spark, sf_dir):
    """A sibling session (same applicationId, ISOLATED temp-view catalog)
    gets its own ``documents`` view, and the memo does not pin a dropped
    sibling: an id(spark)-keyed module dict handed a successor session the
    dead one's views (and kept its DataFrames alive)."""
    from pcap_converter_spark.io.loader import register_views

    dfs = register_views(spark, sf_dir)
    assert register_views(spark, sf_dir) is dfs

    sib = spark.newSession()
    assert not sib.catalog.tableExists("documents")
    sib_dfs = register_views(sib, sf_dir)
    assert sib_dfs is not dfs
    n = sib.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
    assert n == dfs["documents"].count()

    ref = weakref.ref(sib)
    del sib, sib_dfs
    # PySpark's constructor re-binds RDD.toDF to a closure over the most
    # recently built session; build one more so that pin moves off `sib`
    spark.newSession()
    gc.collect()
    assert ref() is None, "a module-level cache still pins the sibling"


def test_spread_table_rewrite_keeps_one_entry(spark, tmp_path):
    """Rewriting a table under one session replaces its memo entry: the
    new frame is served and exactly one entry per path remains (the mtime
    used to ride inside the key, leaving a dead entry per rewrite)."""
    from pcap_converter_spark.operators.registry import _spread_table

    path = str(tmp_path / "t.parquet")
    for gen, n in enumerate((3, 5, 7), start=1):
        spark.range(n).coalesce(1).write.mode("overwrite").parquet(path)
        # distinct, increasing mtimes regardless of filesystem resolution
        os.utime(path, (gen * 1_000_000, gen * 1_000_000))
        assert _spread_table(spark, str(tmp_path), "t").count() == n
        for kind in ("spread", "table", "raw_table"):
            keys = [k for k in _memo(spark) if k == (kind, path)]
            assert len(keys) == 1, (kind, keys)


def _module_cache_dicts(path: str) -> list[str]:
    tree = ast.parse(open(path).read())
    names = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith("_CACHE"):
                names.append(t.id)
    return names


@pytest.mark.parametrize(
    "rel",
    ["operators/registry.py", "io/loader.py", "operators/incremental.py"],
)
def test_no_module_level_cache_dicts(rel):
    """Per-session state goes through session_memo, which releases it
    with the session. A module-level ``*_CACHE`` dict outlives every
    session it keys (the sources/ and streaming/ file-identity caches
    are process-wide on purpose and are not covered here)."""
    found = _module_cache_dicts(os.path.join(_PKG, rel))
    assert not found, f"{rel}: use session_memo instead of {found}"
