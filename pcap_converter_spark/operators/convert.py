"""The convert pipeline: pcap in → Parquet out (K1-K3, D7).

The reference's one user-visible function (/root/reference/src/main.rs:60-114
+ statswriter.rs:36-60): decode packets to a temp Parquet, measure
fragmentation, then either rewrite through the defrag join or pass the temp
through untouched.

The two-phase temp-file shape is kept deliberately (D7): at 100 TB the
decode pass is the expensive stage, and materializing it once means (a) the
defrag decision aggregate and the rewrite both read cheap columnar Parquet
with column pruning instead of re-decoding, and (b) a failed stage 2
restarts without re-running stage 1.
"""

from __future__ import annotations

import shutil

from pyspark.sql import SparkSession

from pcap_converter_spark.operators.defrag import defrag, fragmentation_pct
from pcap_converter_spark.sources.pcap import DEFAULT_CHUNK_BYTES, read_pcap


def convert(
    spark: SparkSession,
    paths: str | list[str],
    out: str,
    nodefrag: bool = False,
    defrag_threshold_pct: float = 1.0,
    target_chunk_bytes: int = DEFAULT_CHUNK_BYTES,
    single_file: bool = False,
) -> dict:
    """pcap/pcapng path(s) → Parquet directory at ``out``.

    Returns {"packets": N, "errors": M, "fragment_pct": p, "defragged": bool}
    and prints nothing: the CLI reports the counts of the reference
    writer's "Packets: N Errors: M" display (statswriter.rs:61-68) from
    this dict. ``single_file`` coalesces the final write to one
    part-file (D5 parity — the reference's single-writer thread); leave it
    off at scale: N part-files write in parallel and read identically.
    """
    tmp = out.rstrip("/") + ".stage1.tmp"
    decoded, stats = read_pcap(spark, paths, target_chunk_bytes)

    # Stage 1 (K1): decode → temp Parquet (snappy via session conf). The
    # packet/error totals ride the SAME action as plan observations —
    # exact (retry-safe, exactly-once), and no separate count() scan.
    decoded.write.mode("overwrite").parquet(tmp)
    stage1 = spark.read.parquet(tmp)
    n_packets = int(stats.get["packets"])
    n_errors = int(stats.get["errors"])

    defragged = False
    pct = 0.0
    try:
        if nodefrag:
            if single_file:
                stage1.coalesce(1).write.mode("overwrite").parquet(out)
            else:
                _move_dir(tmp, out)
        else:
            # R2 decision agg reads only the 3 predicate columns from Parquet
            # (column pruning), not the full 31-column rows.
            pct = fragmentation_pct(stage1)
            if pct < defrag_threshold_pct:
                # K3 passthrough: <1% fragmented → stage-1 output IS the
                # result (main.rs:277-284); a rename beats a rewrite.
                if single_file:
                    stage1.coalesce(1).write.mode("overwrite").parquet(out)
                else:
                    _move_dir(tmp, out)
            else:
                result = defrag(stage1)
                if single_file:
                    result = result.coalesce(1)
                result.write.mode("overwrite").parquet(out)
                defragged = True
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # main.rs:306

    return {
        "packets": n_packets,
        "errors": n_errors,
        "fragment_pct": pct,
        "defragged": defragged,
    }


def _move_dir(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    try:
        shutil.move(src, dst)
    except OSError:
        # cross-filesystem move degrades to copy, like the reference's
        # fs::copy choice (main.rs:261-266)
        shutil.copytree(src, dst)
        shutil.rmtree(src, ignore_errors=True)
