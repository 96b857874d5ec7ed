"""SparkSession factory tuned for this engine.

Settings are chosen for determinism (UTC, µs timestamps) and for scale
(AQE on, Arrow on, sane shuffle partitioning). On a real cluster the same
builder is used with a different master; nothing here is local-mode-only.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

# JVM capacity sizing for a driver hosting many distinct plans (r17,
# VERDICT r16 #2 — parity with what bench.py shipped in r16). Both are
# STATIC (builder/launch-time) settings:
#
# - Generated-class cache: the 53-entry suite's distinct generated
#   classes exceed 4096, so the LRU wraps and every entry re-Janinos +
#   re-JITs ~1400 identical methods per execution (measured in r16:
#   compile-heavy entries accrued ~7 s of JIT compiler CPU per run
#   FOREVER in-suite at 4096, converging to ~0 at 16384). Memory cost is
#   tens of MB of bytecode.
# - ReservedCodeCacheSize: the default 240 MB code cache (116 MB per
#   profiled/non-profiled segment) is smaller than the compiled-method
#   volume of many wide plans, so HotSpot's sweeper flushes hot methods
#   mid-session and they recompile forever (observed as per-run JIT
#   accrual that never converges + uniform late-session slowdown).
#   640 MB holds the whole suite (peak observed occupancy 166 MB).
#
# Any long-lived production driver/executor JVM hosting many distinct
# plans needs the same capacity sizing. A user
# ``spark.sql.codegen.cache.maxEntries`` conf wins over the constant
# (``get_spark``); the java opts are env-overridable.
CODEGEN_CACHE_MAX_ENTRIES = "16384"
DEFAULT_DRIVER_JAVA_OPTS = "-XX:ReservedCodeCacheSize=640m"


def driver_java_opts() -> str:
    """Driver-JVM extra options (env-overridable). Only effective when
    the builder launches the JVM (local mode / pyspark gateway); cluster
    deployments pass the same value via spark-submit."""
    return os.environ.get("PCS_DRIVER_JAVA_OPTS", DEFAULT_DRIVER_JAVA_OPTS)


# Runtime-settable confs every entry point applies, including to sessions we
# did not create (the driver hands us its own SparkSession).
RUNTIME_CONFS = {
    # testdata events.parquet stores timestamp[ns]; Spark has no ns type, so
    # read as long and normalize in the loader (SURVEY.md §7.6).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Determinism: all timestamp arithmetic pinned to UTC.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing + skew-join handling; critical at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Bound plan-STRING generation (r12): AQE formats the explain string
    # on every plan update (AdaptiveSparkPlanExec.onUpdatePlan) and the
    # default cap is ~2 GB — a deep-lineage funnel plan (the recomputable
    # prelude keeps its full prep chain, and self-joins duplicate it per
    # side) can OOM the DRIVER building a debug string nobody reads.
    # Observed: java.lang.OutOfMemoryError in QueryExecution.explainString
    # under a 2 GB test heap. 1 MB keeps explains useful and the cost
    # bounded at any lineage depth.
    "spark.sql.maxPlanStringLength": "1048576",
}


def session_memo(spark: SparkSession, key, build, version=None):
    """``build()`` once per (session, key); later calls return the stored
    value. The memo is a dict kept ON the SparkSession object — the
    ``register_packets_view`` pattern — so it dies with the session: a
    sibling ``spark.newSession()`` (same applicationId, isolated catalog)
    gets its own entries, and nothing outlives the session in a module
    dict. When ``version`` (e.g. a file mtime) differs from the stored
    one, the entry is rebuilt and replaced, so one generation is kept.
    No lock: concurrent first calls for one key may both build and the
    last store wins, so ``build`` must be safe to run twice (every caller
    builds a plan, a checkpoint or a fresh temp dir)."""
    memo = vars(spark).setdefault("_pcs_memo", {})
    hit = memo.get(key)
    if hit is not None and hit[0] == version:
        return hit[1]
    value = build()
    memo[key] = (version, value)
    return value


@contextlib.contextmanager
def phase(spark: SparkSession, name: str):
    """Name the calling thread's Spark jobs ``name`` for the block: it is
    the ``spark.job.description`` the UI and event log show, so a phase's
    jobs are attributable without any stderr output. The previous
    description comes back on exit (also on error), so phases nest. The
    block's wall seconds are added to the session's phase times (see
    ``phase_times``)."""
    sc = spark.sparkContext
    times = session_memo(spark, "phases", dict)
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", name)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        times[name] = times.get(name, 0.0) + time.perf_counter() - t0
        sc.setLocalProperty("spark.job.description", prev)


def phase_times(spark: SparkSession) -> dict[str, float]:
    """The wall seconds per phase name recorded since the last call, then
    cleared."""
    times = session_memo(spark, "phases", dict)
    out = dict(times)
    times.clear()
    return out


@contextlib.contextmanager
def overlapped(spark: SparkSession):
    """Run independent job chains on driver threads next to the caller.
    Yields ``submit(name, fn) -> Future``: ``fn`` runs inside
    ``phase(spark, name)`` and inherits the caller's Spark local
    properties (job group, description, scheduler pool), so a
    ``cancelJobGroup`` by the caller reaches its jobs too. A background
    error re-raises from ``future.result()``. Leaving the block joins
    every thread, also when the caller raises, so no thread keeps
    submitting jobs after the caller moved on."""
    session_memo(spark, "phases", dict)  # created before any thread runs

    def run(name, fn):
        with phase(spark, name):
            return fn()

    with ThreadPoolExecutor(thread_name_prefix="pcs-overlap") as pool:
        yield lambda name, fn: pool.submit(
            inheritable_thread_target(spark)(functools.partial(run, name, fn))
        )


def path_mtime(path: str) -> int:
    """A local path's mtime in ns (-1 when absent) — the ``version`` of a
    memoized reader frame, so a rewrite within a session re-reads."""
    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return -1


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver's or ours)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build: keep going, loader degrades
    return spark


def get_spark(
    app_name: str = "pcap-converter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Master resolution: an explicit ``master`` argument wins; else ``PCS_MASTER``
    from the environment; else, when spark-submit / an existing conf already
    supplies ``spark.master``, we do NOT call ``builder.master()`` (so cluster
    jobs keep their cluster master); only as a last resort do we fall back to
    ``local[*]`` for bare ``python`` runs. Shuffle partitions default to 32 —
    on a cluster size this ~2-3× total cores or rely on AQE coalescing.
    """
    from pyspark import SparkConf

    if master is None:
        master = os.environ.get("PCS_MASTER")
    sp_explicit = shuffle_partitions is not None
    if shuffle_partitions is None:
        env_sp = os.environ.get("PCS_SHUFFLE_PARTITIONS", "")
        sp_explicit = env_sp.isdigit()
        shuffle_partitions = int(env_sp) if env_sp.isdigit() else 32

    # TUNING defaults yield to user-supplied conf (spark-submit --conf /
    # spark-defaults land in SparkConf before we run — r14, VERDICT r13
    # stretch #7): a cluster operator who sized shuffle partitions or the
    # Arrow batch for their hardware must not have the library's local-
    # mode defaults silently stomp it. The RUNTIME_CONFS block below is
    # different — those are the engine's correctness contract (UTC, ns
    # handling) and stay pinned.
    user = SparkConf()
    tuning = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.ui.enabled": "false",
        "spark.sql.parquet.compression.codec": "snappy",
        # Generated-class cache (STATIC conf — builder-time only; the
        # default 100 entries is smaller than ONE wide plan here, so
        # every re-execution of a repeated query re-Janinos and re-JITs
        # ~1400 identical methods: measured (tools/jit_probe.py, r14)
        # ex_text_all re-runs spend 15-27 s of JIT compiler CPU FOREVER
        # at the default, vs converging to ~5 s and ZERO regenerated
        # methods at 4096. Memory cost is bounded (~tens of MB of
        # bytecode) and the win compounds for any workload that repeats
        # query shapes — on a 1000-executor cluster, repeated micro-
        # batches or dashboard queries churn the same way. r17: sized
        # via the module constant (16384 — 4096 still wrapped across a
        # 53-plan suite; see the header comment).
        "spark.sql.codegen.cache.maxEntries": CODEGEN_CACHE_MAX_ENTRIES,
    }
    builder = SparkSession.builder.appName(app_name)
    for k, v in tuning.items():
        # an EXPLICIT caller/env shuffle-partition count outranks even a
        # spark-submit conf (the API argument is the most deliberate
        # signal); library defaults yield to any user conf
        explicit = (
            k == "spark.sql.shuffle.partitions" and sp_explicit
        )
        if explicit or not user.contains(k):
            builder = builder.config(k, v)
    if master is None and not user.contains("spark.master"):
        master = "local[*]"
    if master is not None:
        builder = builder.master(master)
        if master.startswith("local"):
            # driver memory + JVM options only matter (and are only
            # settable) pre-launch in local mode; cluster deployments set
            # them via spark-submit. Both yield to a user-supplied conf.
            if not user.contains("spark.driver.memory"):
                builder = builder.config(
                    "spark.driver.memory",
                    os.environ.get("PCS_DRIVER_MEM", "8g"),
                )
            if not user.contains("spark.driver.extraJavaOptions"):
                builder = builder.config(
                    "spark.driver.extraJavaOptions", driver_java_opts()
                )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
