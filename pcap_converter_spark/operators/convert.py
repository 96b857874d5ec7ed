"""The convert pipeline: pcap in → Parquet out (K1-K3, D7).

The reference's one user-visible function (/root/reference/src/main.rs:60-114
+ statswriter.rs:36-60): decode packets to a temp Parquet, measure
fragmentation, then either rewrite through the defrag join or pass the temp
through untouched.

The two-phase temp-file shape is kept deliberately (D7): at 100 TB the
decode pass is the expensive stage, and materializing it once means (a) the
rewrite reads cheap columnar Parquet instead of re-decoding, and (b) a
failed stage 2 restarts without re-running stage 1. The defrag decision
(R2) needs no pass of its own: the decode pass observes it.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Observation, SparkSession

from pcap_converter_spark.operators.defrag import (
    DEFRAG_THRESHOLD_PCT,
    defrag,
    fragment_pct,
)
from pcap_converter_spark.sources.pcap import read_pcap


def convert(
    spark: SparkSession,
    paths: str | list[str],
    out: str,
    nodefrag: bool = False,
    single_file: bool = False,
) -> dict:
    """pcap/pcapng path(s) → Parquet directory at ``out``.

    Returns {"packets": N, "errors": M, "fragment_pct": p, "defragged": bool}
    and prints nothing: the CLI reports the counts of the reference
    writer's "Packets: N Errors: M" display (statswriter.rs:61-68) from
    this dict. ``fragment_pct`` is measured also under ``nodefrag``.
    ``single_file`` coalesces the final write to one
    part-file (D5 parity — the reference's single-writer thread); leave it
    off at scale: N part-files write in parallel and read identically.
    """
    tmp = out.rstrip("/") + ".stage1.tmp"
    decoded, stats = read_pcap(spark, paths)
    frag = Observation()
    decoded = decoded.observe(frag, fragment_pct())

    try:
        # Stage 1 (K1): decode → temp Parquet (snappy via session conf). The
        # packet/error totals and the R2 fragment share ride the SAME action
        # as plan observations — exact (retry-safe, exactly-once), and no
        # separate scan.
        decoded.write.mode("overwrite").parquet(tmp)
        pct = float(frag.get["fragment_pct"] or 0.0)
        # the schema is known: reading it back starts no inference job
        stage1 = spark.read.schema(decoded.schema).parquet(tmp)
        result = (
            stage1 if nodefrag or pct < DEFRAG_THRESHOLD_PCT else defrag(stage1)
        )
        if result is stage1 and not single_file:
            # K3 passthrough: the stage-1 output IS the result
            # (main.rs:277-284); a rename beats a rewrite. Across
            # filesystems shutil.move copies, like main.rs:261-266.
            shutil.rmtree(out, ignore_errors=True)
            shutil.move(tmp, out)
        else:
            (result.coalesce(1) if single_file else result).write.mode(
                "overwrite"
            ).parquet(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # main.rs:306

    return {
        "packets": int(stats.get["packets"]),
        "errors": int(stats.get["errors"]),
        "fragment_pct": pct,
        "defragged": result is not stage1,
    }
