"""Session factory conf contract (VERDICT r13 stretch #7 + r14 JIT work):
tuning defaults yield to user-supplied conf, the correctness contract
stays pinned, and the generated-class cache ships sized for wide plans.
The driver JVM's class-data-sharing decision is tested without a JVM."""

from __future__ import annotations

import ast
import errno
import fcntl
import json
import logging
import os
import subprocess
import sys
import types
from unittest import mock

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, os
os.environ["PYSPARK_SUBMIT_ARGS"] = (
    "--conf spark.sql.parquet.compression.codec=gzip "
    "--conf spark.sql.codegen.cache.maxEntries=123 "
    "--conf spark.sql.shuffle.partitions=9 "
    "pyspark-shell"
)
from pyspark.context import SparkContext
SparkContext._ensure_initialized()  # the spark-submit shape: JVM + sys props up before user code
import sys
sys.path.insert(0, %r)
from pcap_converter_spark.session import get_spark
spark = get_spark("conf-precedence-probe", shuffle_partitions=5)
print("PROBE " + json.dumps({
    "codec": spark.conf.get("spark.sql.parquet.compression.codec"),
    "cgcache": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
    "tz": spark.conf.get("spark.sql.session.timeZone"),
    "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
}))
spark.stop()
"""


def test_conf_precedence_contract():
    """spark-submit --conf wins over tuning defaults (codec, codegen
    cache); the explicit shuffle_partitions API argument outranks even
    the submit conf; the RUNTIME_CONFS correctness contract (UTC, AQE)
    is pinned regardless."""
    p = subprocess.run(
        [sys.executable, "-c", _PROBE % _REPO],
        capture_output=True, text=True, timeout=300, cwd=_REPO,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = next(ln for ln in p.stdout.splitlines() if ln.startswith("PROBE "))
    got = json.loads(line[len("PROBE "):])
    assert got["codec"] == "gzip"          # user tuning conf survived
    assert got["cgcache"] == "123"         # user static conf survived
    assert got["shuffle"] == "5"           # explicit API arg outranks conf
    assert got["tz"] == "UTC"              # pinned contract
    assert got["aqe"] == "true"            # pinned contract


def test_apply_runtime_confs_leaves_user_confs_alone(spark):
    """apply_runtime_confs sets ONLY its pinned keys: a user conf outside
    that list (here shuffle partitions) survives the call."""
    from pcap_converter_spark.session import RUNTIME_CONFS, apply_runtime_confs

    assert "spark.sql.shuffle.partitions" not in RUNTIME_CONFS
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_default_session_sizes_codegen_cache_and_code_cache():
    """Fresh sessions built by get_spark carry the JVM capacity sizing
    (r17, VERDICT r16 #2 — parity with bench.py): the 16384-entry
    generated-class cache (r14/r16: smaller caches LRU-wrap across wide
    plans / the full suite, so every repeat execution re-Janinos +
    re-JITs ~1400 identical methods forever) AND the 640 MB
    ReservedCodeCacheSize on the driver JVM (the 240 MB default is
    smaller than a many-plan session's compiled-method volume, so the
    sweeper flushes hot methods mid-session and they recompile forever).
    Both constants live in session.py, and bench.py and the tools build
    their sessions here (pinned below). The launched JVM itself runs with
    -XX:CICompilerCount=2 (one C1 and one C2 compiler thread), read back
    from its runtime input arguments, so the flag survives the
    class-data-archive launch path. Console progress bars are off."""
    probe = """
import json, sys
sys.path.insert(0, %r)
from pcap_converter_spark.session import get_spark
spark = get_spark("cgcache-probe")
print("PROBE " + json.dumps({
    "cgcache": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "javaopts": spark.conf.get("spark.driver.extraJavaOptions", ""),
    "progress": spark.conf.get("spark.ui.showConsoleProgress"),
    "jvmargs": list(spark.sparkContext._jvm.java.lang.management.ManagementFactory
                    .getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
""" % _REPO
    p = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True, text=True, timeout=300, cwd=_REPO,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = next(ln for ln in p.stdout.splitlines() if ln.startswith("PROBE "))
    got = json.loads(line[len("PROBE "):])
    assert got["cgcache"] == "16384"
    assert "-XX:ReservedCodeCacheSize=640m" in got["javaopts"]
    assert "-XX:CICompilerCount=2" in got["jvmargs"]
    assert got["progress"] == "false"


def test_bench_and_tools_build_no_session_of_their_own():
    """bench.py and the tools start their sessions through get_spark, so
    they time and probe the same JVM as production and perfbench."""
    srcs = [os.path.join(_REPO, "bench.py")] + [
        os.path.join(_REPO, "tools", f)
        for f in os.listdir(os.path.join(_REPO, "tools")) if f.endswith(".py")
    ]
    assert not [p for p in srcs if "SparkSession.builder" in open(p).read()]


def test_driver_java_opts_env_override(monkeypatch):
    from pcap_converter_spark import session as S

    monkeypatch.setenv("PCS_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=1g")
    assert S.driver_java_opts() == "-XX:ReservedCodeCacheSize=1g"


# ---------------------------------------------------------------------------
# Driver JVM start-up from a class-data-sharing archive: the launch
# decision, without a JVM. get_spark's getOrCreate is replaced by a probe
# that records the builder options and SPARK_CONF_DIR at launch time.
# ---------------------------------------------------------------------------
_ARCHIVE_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "DumpLoadedClassList")


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """A fake JDK and Spark install, an empty cache, no JVM running, and
    a ``launch()`` that runs get_spark up to getOrCreate."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from pcap_converter_spark import session as S

    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_RUNTIME_VERSION="17.0.20+8"\n')
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"x" * 10)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for v in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT",
              "PCS_DRIVER_JAVA_OPTS", "PCS_DRIVER_MEM", "PCS_MASTER",
              *S._CLASSPATH_ENV, *S._JVM_OPTS_ENV):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_jvm", None)
    hooks = []
    monkeypatch.setattr(S, "atexit", types.SimpleNamespace(register=lambda *a: hooks.append(a)))
    seen = {}

    def get_or_create(builder):
        seen["opts"] = builder._options.get("spark.driver.extraJavaOptions", "")
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        return mock.MagicMock()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)

    def run():
        S.get_spark("cds-probe")
        return seen["opts"], seen["conf_dir"]

    cache = tmp_path / "cache" / "pcap-converter-spark" / "cds"
    run.S, run.home, run.jdk, run.hooks = S, home, jdk, hooks
    run.cache, run.empty = cache, cache / "empty-conf"
    run.stem = lambda: str(cache / S._cds_key(str(home), str(cache / "empty-conf"),
                                               S.driver_java_opts(), "8g"))

    def mark():
        """The mark an earlier launch leaves: the next launch writes."""
        cache.mkdir(parents=True, exist_ok=True)
        open(run.stem() + ".seen", "a").close()

    run.mark = mark
    return run


def test_cds_key_tracks_jdk_jars_and_heap_mode(launch):
    S, home = launch.S, str(launch.home)
    key = lambda heap="8g": S._cds_key(home, "/e", "", heap)  # noqa: E731
    k0 = key()
    assert key() == k0  # stable
    jar = launch.home / "jars" / "spark-core.jar"
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1000))
    k1 = key()
    assert k1 != k0  # touched jar
    (launch.home / "jars" / "extra.jar").write_bytes(b"y")
    k2 = key()
    assert k2 not in (k0, k1)  # added jar
    (launch.home / "jars" / "notes.txt").write_text("not on the classpath")
    assert key() == k2
    (launch.jdk / "release").write_text('JAVA_RUNTIME_VERSION="17.0.21+1"\n')
    k3 = key()
    assert k3 != k2  # JDK build
    install = k0.split("-")[0]
    assert all(k.split("-")[0] == install for k in (k1, k2, k3))  # upgrades in place
    assert key("16g") == key("16384") == key("junk") == k3
    # no compressed oops: another base archive, and another install that
    # may run beside this one
    for other in (key("32g"), key("40000"),
                  S._cds_key(home, "/e", "-XX:-UseCompressedOops", "8g")):
        assert other.split("-")[0] != install


def test_cds_first_launch_marks_and_the_next_writes_at_exit(launch):
    opts, conf_dir = launch()
    stem = launch.stem()
    assert opts == launch.S.DEFAULT_DRIVER_JAVA_OPTS  # a host that may never run again
    assert conf_dir is None
    assert launch.hooks == []
    assert os.path.exists(stem + ".seen") and not os.path.exists(stem + ".lock")

    opts, conf_dir = launch()
    assert opts.startswith(launch.S.DEFAULT_DRIVER_JAVA_OPTS + " ")
    assert f"-XX:ArchiveClassesAtExit={stem}.{os.getpid()}.part" in opts
    assert conf_dir == str(launch.empty)
    assert os.listdir(launch.empty) == []
    assert "SPARK_CONF_DIR" not in os.environ  # the caller's environment is back
    assert _lock_is_held(stem)
    ((hook, *args),) = launch.hooks
    assert (hook, *args[:2]) == (launch.S._cds_publish, stem, os.getpid())
    os.close(args[2])


def test_cds_existing_archive_is_used(launch, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(launch.home / "conf"))
    launch.cache.mkdir(parents=True)
    stem = launch.stem()
    open(stem + ".jsa", "wb").close()
    opts, conf_dir = launch()
    assert opts == f"{launch.S.DEFAULT_DRIVER_JAVA_OPTS} -XX:SharedArchiveFile={stem}.jsa"
    assert conf_dir == str(launch.empty)
    assert os.environ["SPARK_CONF_DIR"] == str(launch.home / "conf")  # restored
    assert launch.hooks == []


def _lock_is_held(stem: str) -> bool:
    fd = os.open(stem + ".lock", os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        return True
    finally:
        os.close(fd)
    return False


def test_cds_lock_held_by_another_writer_adds_nothing(launch):
    launch.mark()
    stem = launch.stem()
    with open(stem + ".lock", "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        opts, conf_dir = launch()
    assert opts == launch.S.DEFAULT_DRIVER_JAVA_OPTS
    assert conf_dir is None
    assert launch.hooks == []


def test_cds_lock_left_by_a_killed_writer_is_taken(launch):
    """A writer killed before its exit hook leaves its lock file (no
    longer locked: the kernel drops a dead holder's flock) and maybe a
    part file; the next process takes the lock and deletes the part."""
    launch.mark()
    stem = launch.stem()
    open(stem + ".lock", "w").close()
    open(f"{stem}.4194000.part", "wb").close()
    opts, _ = launch()
    assert "ArchiveClassesAtExit" in opts
    assert _lock_is_held(stem)
    assert not os.path.exists(f"{stem}.4194000.part")
    os.close(launch.hooks[0][3])


def test_cds_lock_that_cannot_be_made_adds_nothing_and_sticks_nowhere(launch, monkeypatch):
    """A full or read-only cache fails the lock file's creation: that
    launch goes without an archive and without the conf-dir swap, and
    nothing is left that keeps the next launch from writing one."""
    S, real_open = launch.S, os.open
    launch.mark()

    def full(path, *a, **kw):
        if str(path).endswith(".lock"):
            raise OSError(errno.ENOSPC, "No space left on device", path)
        return real_open(path, *a, **kw)

    monkeypatch.setattr(S.os, "open", full)
    opts, conf_dir = launch()
    assert opts == launch.S.DEFAULT_DRIVER_JAVA_OPTS
    assert conf_dir is None
    assert launch.hooks == []
    monkeypatch.setattr(S.os, "open", real_open)
    opts, _ = launch()
    assert "ArchiveClassesAtExit" in opts
    os.close(launch.hooks[0][3])


@pytest.mark.parametrize("case", [
    "conf_file", "hadoop_conf_dir", "xshare_off", "submit_java_opts",
    "submit_class_path", "gateway",
])
def test_cds_refused_launch_keeps_flags_and_env(launch, monkeypatch, caplog, case):
    from pyspark import SparkContext

    if case == "conf_file":
        (launch.home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    elif case == "hadoop_conf_dir":
        monkeypatch.setenv("HADOOP_CONF_DIR", str(launch.home))
    elif case == "xshare_off":
        monkeypatch.setenv("PCS_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=640m -Xshare:off")
    elif case == "submit_java_opts":
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                           "--conf spark.driver.extraJavaOptions=-Dx=1 pyspark-shell")
    elif case == "submit_class_path":
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-class-path extra-classes pyspark-shell")
    elif case == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    launch.S._cds_note.cache_clear()
    with caplog.at_level(logging.INFO, logger="pcap_converter_spark.session"):
        opts, conf_dir = launch()
    assert opts == launch.S.driver_java_opts()  # exactly the configured flags
    assert conf_dir is None
    assert "SPARK_CONF_DIR" not in os.environ
    assert launch.hooks == []
    notes = [r for r in caplog.records if "class-data archive" in r.getMessage()]
    assert len(notes) == 1
    launch()  # a second launch in the process logs nothing more
    assert len([r for r in caplog.records if "class-data archive" in r.getMessage()]) == 1


def test_cds_publish_promotes_only_a_clean_exit(launch, monkeypatch):
    from pyspark import SparkContext

    S = launch.S
    launch.cache.mkdir(parents=True)
    stem = launch.stem()
    pid = os.getpid()
    install = os.path.basename(stem).split("-")[0]
    # an older generation of this install, and another install's archive
    # (another JDK, Spark home or heap mode) that is still in use
    old = launch.cache / f"{install}-0123456789ab.jsa"
    old_mark = launch.cache / f"{install}-0123456789ab.seen"
    other = launch.cache / "ba9876543210-0123456789ab.jsa"
    other.write_bytes(b"other")

    def publish(code):
        old.write_bytes(b"old")
        launch.mark()
        old_mark.write_bytes(b"")
        lock = S._cds_lock(stem)
        with open(f"{stem}.{pid}.part", "wb") as f:
            f.write(b"archive")
        proc = mock.MagicMock()
        proc.wait.return_value = code
        monkeypatch.setattr(SparkContext, "_gateway", types.SimpleNamespace(proc=proc))
        S._cds_publish(stem, pid, lock)
        assert proc.stdin.close.called
        assert not os.path.exists(f"{stem}.{pid}.part")
        assert not os.path.exists(stem + ".lock")
        with pytest.raises(OSError):
            os.fstat(lock)  # released

    publish(-9)  # killed during its dump
    assert not os.path.exists(stem + ".jsa")
    assert old.exists()
    publish(0)
    assert open(stem + ".jsa", "rb").read() == b"archive"
    assert not old.exists() and not old_mark.exists()  # one generation per install kept
    assert not os.path.exists(stem + ".seen")
    assert other.read_bytes() == b"other"


def test_driver_java_opts_never_carry_an_archive_flag(launch, monkeypatch):
    """driver_java_opts() itself never carries an archive flag: get_spark
    appends the flag only for the launch it decides on, with the empty
    conf dir, and an archive flag in the shared opts would stop every
    JVM that got them without that dir."""
    S = launch.S
    assert not any(f in S.driver_java_opts() for f in _ARCHIVE_FLAGS)
    launch.mark()
    opts, _ = launch()
    assert "ArchiveClassesAtExit" in opts
    os.close(launch.hooks[0][3])
    assert S.driver_java_opts() == S.DEFAULT_DRIVER_JAVA_OPTS
    assert "PCS_DRIVER_JAVA_OPTS" not in os.environ
    open(launch.stem() + ".jsa", "wb").close()
    opts, _ = launch()
    assert "SharedArchiveFile" in opts
    assert S.driver_java_opts() == S.DEFAULT_DRIVER_JAVA_OPTS


def test_session_module_does_not_print():
    path = os.path.join(_REPO, "pcap_converter_spark", "session.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    assert not [n.lineno for n in ast.walk(tree)
                if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "print"]
