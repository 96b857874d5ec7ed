"""Testdata loaders.

All declared queries (SURVEY.md §2.6) run over these tables in BOTH Spark and
the DuckDB oracle, so the loader is the single normalization point:

- ``events.ts`` is stored as Parquet timestamp[ns]. Spark has no nanosecond
  timestamp type; we read it as raw long (nanosAsLong) and truncate to a
  microsecond TIMESTAMP_NTZ, which is exactly what DuckDB's reader does when
  it surfaces the column as its µs TIMESTAMP. (SURVEY.md §7.6)
- Everything else reads natively as timestamp_ntz / long / double / string,
  matching DuckDB's view of the same files.

The NTZ construction is session-timezone-independent (epoch arithmetic on a
TIMESTAMP_NTZ literal), so results do not change if the caller's session is
not UTC.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcap_converter_spark.session import (
    apply_runtime_confs,
    path_mtime,
    session_memo,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _normalize_events(df: DataFrame) -> DataFrame:
    """long ns-since-epoch → TIMESTAMP_NTZ at µs precision (truncating)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # Integer division: ts/1000 in double loses exactness for ns epochs
        # (~1.7e18 exceeds double's 2^53 exact-integer range), which can land
        # 1 µs off DuckDB's exact integer truncation on boundary values.
        ntz = F.expr(
            "timestampadd(MICROSECOND, ts div 1000, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        )
        df = df.withColumn("ts", ntz)
    elif ts_type == "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


# Reader frames are memoized per (session, table path), versioned by the
# file mtime: building a parquet reader frame does eager footer reads +
# file listing on the DRIVER (~75-100 ms per call here; minutes for a
# heavily partitioned 100-TB table), and every declared-query
# construction used to re-pay it. The frame is a query plan, not data
# (the scan still reads parquet at execution); a rewritten file bumps the
# mtime and is re-read. Two layers: RAW (the reader frame as stored on
# disk — streaming callers need its schema pre-normalization) and
# normalized (what every batch query sees).
def _table_path(sf_dir: str, name: str) -> str:
    return os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")


def load_table_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table exactly as stored (no ts normalization) — the schema
    source for streaming readers, which must declare the ON-DISK schema."""
    apply_runtime_confs(spark)
    path = _table_path(sf_dir, name)
    return session_memo(
        spark, ("raw_table", path), lambda: spark.read.parquet(path),
        version=path_mtime(path),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    def build() -> DataFrame:
        df = load_table_raw(spark, sf_dir, name)
        return _normalize_events(df) if name == "events" else df

    path = _table_path(sf_dir, name)
    return session_memo(
        spark, ("table", path), build, version=path_mtime(path)
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (the Spark analogue of
    the reference's `create view pcap as select * from '<file>'`,
    main.rs:272). Idempotent per (session, sf_dir): repeat calls reuse the
    registered views — re-registering re-reads every parquet footer
    (~0.1-0.3 s), which padded every query timing for nothing (VERDICT
    r2 #8); switching sf_dir re-registers."""

    def build() -> dict[str, DataFrame]:
        dfs = load_tables(spark, sf_dir)
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        return dfs

    return session_memo(
        spark, "views", build, version=os.path.abspath(sf_dir)
    )
