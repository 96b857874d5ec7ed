"""UDP fragment repair — the reference's entire query layer, Spark-first.

Mirrors /root/reference/src/main.rs:268-301 (R2-R6 in SURVEY.md §2.3):

- R2 ``fragment_pct``: the reference runs a filtered COUNT with a scalar
  subquery (main.rs:274). Here the subquery fuses into ONE conditional
  aggregate expression. ``fragmentation_pct`` evaluates it as its own job;
  ``convert`` observes it on the decode pass, so it costs no job at all.
- R3 branch: under ``DEFRAG_THRESHOLD_PCT`` fragmented → skip the rewrite
  entirely (main.rs:277-284).
- R4 ``first_fragments``: one row per fragmented UDP datagram carrying its
  first fragment's app-layer fields. The reference uses DuckDB ``first()``
  whose result is scan-order-dependent; we pin deterministic semantics with
  ``min_by(col, frame_time)`` (SURVEY.md §2.3 note).
- R5 ``defrag``: left join packets→ff on the 4-key datagram identity and
  coalesce the six propagated columns (main.rs:296). ``ff`` is one row per
  fragmented datagram — tiny relative to packets — so it is explicitly
  ``broadcast()``: at 100 TB the join stays shuffle-free on the big side.
- R6: the caller writes the result (``convert`` below / io sinks).

Scale notes: the only wide operation is the groupBy in R4, keyed by datagram
identity — high-cardinality, evenly distributed keys (src/dst/id), so no
skew salting is needed; AQE handles stragglers. The R5 join is broadcast, so
the 100 TB side is never shuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pcap_converter_spark.schema import (
    DEFRAG_FILL_COLUMNS,
    DEFRAG_JOIN_KEYS,
    PACKET_COLUMNS,
)

# R3: at or above this share of fragment rows the rewrite runs (main.rs:277).
DEFRAG_THRESHOLD_PCT = 1.0


def fragment_predicate() -> "F.Column":
    """Matches main.rs:274: first fragments (offset=0 AND mf) plus
    continuations (offset>0). Depends on ip_frag_offset/ip_mf being non-null
    (schema.py). Built lazily — Columns need an active session."""
    return (
        (F.col("ip_frag_offset") == 0) & (F.col("ip_mf") == True)  # noqa: E712
    ) | (F.col("ip_frag_offset") > 0)


def fragment_pct() -> "F.Column":
    """R2 as one aggregate expression, aliased ``fragment_pct``: the share
    of fragment rows in percent, rounded HALF_UP to a whole number
    (Spark's ``round``). NULL on an empty input."""
    return F.round(
        100.0
        * F.count(F.when(fragment_predicate(), F.lit(1)))
        / F.nullif(F.count(F.lit(1)), F.lit(0))
    ).alias("fragment_pct")


def fragmentation_pct(packets: DataFrame) -> float:
    """R2: % of rows that are fragments, as one conditional aggregate."""
    pct = packets.agg(fragment_pct()).collect()[0][0]
    return float(pct if pct is not None else 0.0)


def first_fragments(packets: DataFrame) -> DataFrame:
    """R4: grouped-first over fragmented UDP datagrams (main.rs:292),
    deterministic via min_by(·, frame_time)."""
    return (
        packets.filter(
            (F.col("ip_proto") == 17)
            & (F.col("ip_mf") == True)  # noqa: E712
            & (F.col("ip_frag_offset") == 0)
        )
        .groupBy(*DEFRAG_JOIN_KEYS)
        .agg(
            *[
                F.min_by(F.col(c), F.col("frame_time")).alias(c)
                for c in DEFRAG_FILL_COLUMNS
            ]
        )
    )


def defrag(packets: DataFrame) -> DataFrame:
    """R5: propagate first-fragment fields to continuation fragments.

    Left join on the 4-key datagram identity + coalesce×6, projecting the
    31 normative columns. ``ff`` (one row per fragmented datagram) is
    broadcast — the packets side is never shuffled, which is what makes
    this viable at 100 TB.
    """
    p = packets.alias("p")
    f = F.broadcast(first_fragments(packets)).alias("ff")
    projection = [
        F.coalesce(F.col(f"p.{c}"), F.col(f"ff.{c}")).alias(c)
        if c in DEFRAG_FILL_COLUMNS
        else F.col(f"p.{c}").alias(c)
        for c in PACKET_COLUMNS
    ]
    return p.join(f, on=DEFRAG_JOIN_KEYS, how="left").select(*projection)
