"""SparkSession factory tuned for this engine.

Settings are chosen for determinism (UTC, µs timestamps) and for scale
(AQE on, Arrow on, sane shuffle partitioning). On a real cluster the same
builder is used with a different master; nothing here is local-mode-only.

A driver JVM that ``get_spark`` launches itself (local master, no JVM
running yet) starts from a per-user class-data-sharing archive of Spark's
classes under ``$XDG_CACHE_HOME/pcap-converter-spark/cds/`` (else
``~/.cache/...``): about half of a cold session's start is that JVM
loading and linking classes. The first such process only marks the
cache; the second writes the archive at its JVM's exit, once per JDK and
Spark install, so a host whose cache is fresh for every run never pays
for writing. DEPLOY.md, "Driver JVM start-up", has the rules and the
opt-out.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.util import _parse_memory, inheritable_thread_target

log = logging.getLogger(__name__)

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


# Driver JVM start-up from an AppCDS archive (a JDK dynamic class-data-
# sharing archive). A JVM started with -XX:SharedArchiveFile maps Spark's
# classes pre-parsed instead of loading and linking them (measured on
# 4 vCPUs, JDK 17, Spark 4.1: session build 6.3-7.6 s -> 3.1-4.4 s, first
# job 2.5-3.3 s -> 1.3-1.9 s). The archive is written by the JVM itself at
# exit under -XX:ArchiveClassesAtExit (a slower start and exit, once per
# key, by the second launch: see _cds_launch).
#
# - The JVM maps an archive only with the JDK build, classpath, jar sizes
#   and mtimes and compressed-oops mode it was written with. Otherwise it
#   prints a warning and runs without sharing, so the key covers all four.
# - JDK 17 refuses to START under -XX:ArchiveClassesAtExit when a
#   non-empty directory is on the classpath, and Spark's launch classpath
#   begins with $SPARK_CONF_DIR/. The launch therefore points
#   SPARK_CONF_DIR at an empty directory, which is allowed only when the
#   real conf dir holds nothing Spark reads (``*.template`` files only)
#   and nothing else adds a directory to the classpath.
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "DumpLoadedClassList")
# environment that adds options to the driver JVM's command line
_JVM_OPTS_ENV = ("SPARK_SUBMIT_OPTS", "JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")
# environment that adds directories to the driver classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# PYSPARK_SUBMIT_ARGS words that set the driver JVM's options, classpath or heap
_SUBMIT_DRIVER_ARGS = (
    "--driver-java-options", "--driver-class-path", "--driver-memory", "--properties-file",
    "spark.driver.extraJavaOptions", "spark.driver.extraClassPath", "spark.driver.memory",
)
_CDS_EXIT_WAIT_S = 120  # bound on the writing JVM's exit, dump included


def _cds_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "pcap-converter-spark", "cds")


def _big_heap(mem: str) -> bool:
    """Whether a Spark memory string (MiB when bare) is 32 GiB or more,
    which turns compressed oops off. Unparsable: the JVM default (on)."""
    try:
        return _parse_memory(mem + "m" if mem.isdigit() else mem) >= 32 << 10
    except (ValueError, IndexError):
        return False


def _cds_key(spark_home: str, conf_dir: str, jvm_opts: str, heap: str) -> str:
    """``<install>-<build>``: hashes of what the JVM checks before it maps
    an archive. The install part covers what two live callers on one host
    may differ in: the java the launcher runs (``JAVA_HOME``, else
    ``PATH``), the Spark home, the conf dir heading the classpath and the
    compressed-oops mode (a heap of 32 GiB or more turns it off, and so
    does an explicit flag). The build part covers what an in-place
    upgrade changes: the JDK build (the ``release`` file) and the Spark
    jars' names, sizes and mtimes. Raises OSError when there is no java
    or no release file."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None or not os.path.exists(java):
        raise OSError("no java executable")
    java = os.path.realpath(java)
    coops = [not _big_heap(heap)] + sorted(t for t in jvm_opts.split() if "UseCompressed" in t)
    install = hashlib.sha256(
        f"{java}\0{os.path.realpath(spark_home)}\0{conf_dir}\0{coops}".encode())
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
        build = hashlib.sha256(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(n for n in os.listdir(jars) if n.endswith(".jar")):
        st = os.stat(os.path.join(jars, name))
        build.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return f"{install.hexdigest()[:12]}-{build.hexdigest()[:12]}"


@functools.cache
def _cds_note(why: str) -> None:
    """One INFO line per reason and process."""
    log.info("driver JVM starts without a class-data archive: %s", why)


def _cds_refusal(spark_home: str, jvm_opts: str) -> str | None:
    """Why a driver JVM launched now must keep its configured flags, or
    None when it may take archive flags and the empty conf dir."""
    from pyspark import SparkContext

    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return "the driver JVM is already running"
    if any(f in jvm_opts for f in _CDS_FLAGS):
        return "the driver java options set class sharing themselves"
    if any(a in submit for a in _SUBMIT_DRIVER_ARGS):
        return "PYSPARK_SUBMIT_ARGS sets the driver JVM's options, classpath or memory"
    env = [v for v in _CLASSPATH_ENV if os.environ.get(v)]
    if env:
        return f"{env[0]} adds to the driver classpath"
    if os.path.isdir(conf) and any(not n.endswith(".template") for n in os.listdir(conf)):
        return f"the Spark conf dir {conf} holds more than *.template files"
    return None


def _cds_launch(java_opts: str, heap: str) -> tuple[str, str] | None:
    """(java flag, empty conf dir) for a driver JVM ``get_spark`` is about
    to launch, or None (logged once per reason) to launch it unchanged.
    With an archive for the key: ``-XX:SharedArchiveFile``. Without one,
    the first launch only leaves ``<key>.seen``; a later launch that
    finds it and holds ``<key>.lock`` writes the archive at its JVM's
    exit (``-XX:ArchiveClassesAtExit`` plus an atexit hook that publishes
    it); any other process goes without and does not wait."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    jvm_opts = " ".join([java_opts] + [os.environ.get(v, "") for v in _JVM_OPTS_ENV])
    why = _cds_refusal(spark_home, jvm_opts)
    if why is None:
        cache = _cds_dir()
        empty = os.path.join(cache, "empty-conf")
        try:
            os.makedirs(empty, exist_ok=True)
            if os.listdir(empty):
                why = f"{empty} is not empty"
            else:
                stem = os.path.join(cache, _cds_key(spark_home, empty, jvm_opts, heap))
        except OSError as e:
            why = f"no archive key or cache: {e}"
    if why is not None:
        _cds_note(why)
        return None
    if os.path.exists(stem + ".jsa"):
        return f"-XX:SharedArchiveFile={stem}.jsa", empty
    if not os.path.exists(stem + ".seen"):
        # Writing costs its run ~5 s of set-up and ~20 s in all (4 vCPUs,
        # plans/perf/pr9), repaid only by later runs that find the
        # archive. A host whose cache starts empty for every run (a
        # container, a CI job) would pay that each time, so only a
        # launch that finds an earlier launch's mark writes.
        with contextlib.suppress(OSError):
            open(stem + ".seen", "a").close()
        _cds_note("the first launch for this JDK and Spark marks the cache; the next one writes")
        return None
    lock = _cds_lock(stem)
    if lock is None:
        _cds_note("another process is writing the archive, or its lock cannot be made")
        return None
    if os.path.exists(stem + ".jsa"):  # published while we took the lock
        with contextlib.suppress(OSError):
            os.remove(stem + ".lock")
        os.close(lock)
        return f"-XX:SharedArchiveFile={stem}.jsa", empty
    atexit.register(_cds_publish, stem, os.getpid(), lock)
    # the dump logs ~600 "[warning][cds] Skipping ..." lines to stdout
    return f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.part -Xlog:cds=off", empty


def _cds_lock(stem: str) -> int | None:
    """A descriptor holding an exclusive ``flock`` on ``<stem>.lock``, or
    None when another process holds it or the lock file cannot be made.
    The kernel drops the lock when its holder dies, so a killed writer
    never blocks the key; the part files such a writer left are deleted
    here."""
    try:
        import fcntl

        fd = os.open(stem + ".lock", os.O_CREAT | os.O_WRONLY, 0o644)
    except (ImportError, OSError):
        return None
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    for stale in glob.glob(glob.escape(stem) + ".*.part"):
        with contextlib.suppress(OSError):
            os.remove(stale)
    return fd


def _cds_publish(stem: str, pid: int, lock: int) -> None:
    """atexit hook of the process writing the archive: close the
    gateway's stdin (the JVM exits on EOF and dumps) and wait, bounded,
    for the JVM. On exit code 0 the part file becomes ``<stem>.jsa`` and
    the older archives and marks of the same install (same key prefix)
    are deleted, so one generation per install is kept; in every other
    case the part file is deleted. Then the lock file is removed and
    released."""
    if os.getpid() != pid:
        return  # a forked child inherited the hook
    from pyspark import SparkContext

    part = f"{stem}.{pid}.part"
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        code = None
        if proc is not None:
            with contextlib.suppress(OSError, ValueError):
                proc.stdin.close()
            try:
                code = proc.wait(timeout=_CDS_EXIT_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if code == 0 and os.path.exists(part):
            os.replace(part, stem + ".jsa")
            log.info("wrote class-data archive %s.jsa", stem)
            install = glob.escape(stem.rsplit("-", 1)[0])
            for old in glob.glob(install + "-*.jsa") + glob.glob(install + "-*.seen"):
                if old != stem + ".jsa":
                    os.remove(old)
    except OSError as e:
        log.info("class-data archive not written: %s", e)
    finally:
        for path in (part, stem + ".lock"):
            with contextlib.suppress(OSError):
                os.remove(path)
        os.close(lock)


@contextlib.contextmanager
def _spark_conf_dir(path: str | None):
    """``SPARK_CONF_DIR=path`` for the block (nothing when None); the
    caller's environment comes back after."""
    if path is None:
        yield
        return
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if prev is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prev


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

    With a local master and no JVM running yet, the driver JVM starts from
    the per-user class-data-sharing archive once the second such launch
    has written it (see the module docstring), unless the user set the driver's java options or classpath, or
    ``driver_java_opts()`` already sets class sharing (``-Xshare:off``
    opts out). For that launch only, ``SPARK_CONF_DIR`` points at an
    empty cache directory; the caller's environment is restored after.
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
        # no console progress bars: their \r-rewritten stage lines emit
        # tens of KB per query, and a caller's output capture may be
        # size-capped (a bench.py record once lost its summary JSON line
        # and 30 of 54 per-entry timings to this spam, VERDICT r9 #2)
        "spark.ui.showConsoleProgress": "false",
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
    cds = None
    if master is not None:
        builder = builder.master(master)
        if master.startswith("local"):
            # driver memory + JVM options only matter (and are only
            # settable) pre-launch in local mode; cluster deployments set
            # them via spark-submit. Both yield to a user-supplied conf.
            mem = os.environ.get("PCS_DRIVER_MEM", "8g")
            if not user.contains("spark.driver.memory"):
                builder = builder.config("spark.driver.memory", mem)
            if not user.contains("spark.driver.extraJavaOptions"):
                opts = driver_java_opts()
                cds = _cds_launch(opts, mem)
                if cds is not None:
                    opts = f"{opts} {cds[0]}"
                builder = builder.config("spark.driver.extraJavaOptions", opts)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    with _spark_conf_dir(cds[1] if cds else None):
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
