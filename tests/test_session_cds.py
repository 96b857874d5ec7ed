"""End to end: the first driver JVM that get_spark launches only marks the
cache, the second writes the class-data archive, later JVMs map Spark's
classes from it, concurrent writers make one archive, and a JVM killed
during its dump publishes nothing. Each test runs sessions in
subprocesses on its own empty XDG_CACHE_HOME."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = """
import atexit, json, os, subprocess, sys
sys.path.insert(0, %r)
from pyspark import SparkContext
from pcap_converter_spark.session import get_spark
spark = get_spark("cds-e2e")
n = spark.range(10).count()
if os.environ.get("KILL_JVM_DURING_DUMP"):
    # runs before the archive writer's own exit hook (atexit is LIFO)
    pid = SparkContext._gateway.proc.pid
    atexit.register(subprocess.Popen, ["sh", "-c", "sleep 2; kill -9 %%d" %% pid])
print("PROBE " + json.dumps({
    "count": n, "javaopts": spark.conf.get("spark.driver.extraJavaOptions"),
}))
""" % _REPO


def _env(tmp_path, **extra) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PCS_DRIVER_JAVA_OPTS", "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS")}
    env.update(XDG_CACHE_HOME=str(tmp_path / "xdg"), PCS_MASTER="local[2]",
               PCS_DRIVER_MEM="1g", **extra)
    return env


def _start(tmp_path, **extra) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _SESSION], env=_env(tmp_path, **extra), cwd=_REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _finish(p: subprocess.Popen) -> tuple[dict, str]:
    out, err = p.communicate(timeout=600)
    assert p.returncode == 0, err[-2000:]
    line = next(ln for ln in out.splitlines() if ln.startswith("PROBE "))
    got = json.loads(line[len("PROBE "):])
    assert got["count"] == 10
    return got, out + err


def _cache(tmp_path) -> dict[str, list[str]]:
    d = tmp_path / "xdg" / "pcap-converter-spark" / "cds"
    return {ext: sorted(glob.glob(str(d / f"*.{ext}")))
            for ext in ("jsa", "part", "lock", "seen")}


def _mark(tmp_path) -> None:
    """One launch on the empty cache: it adds no flag and leaves the mark."""
    got, _ = _finish(_start(tmp_path))
    assert got["javaopts"] == "-XX:ReservedCodeCacheSize=640m"
    files = _cache(tmp_path)
    assert len(files["seen"]) == 1 and not files["jsa"] and not files["lock"], files


def test_archive_written_by_the_second_launch_then_mapped(tmp_path):
    _mark(tmp_path)
    got, out = _finish(_start(tmp_path))
    assert "-XX:ArchiveClassesAtExit=" in got["javaopts"]
    assert "[warning][cds]" not in out  # the dump's skip list stays quiet
    files = _cache(tmp_path)
    assert len(files["jsa"]) == 1 and not files["part"] and not files["lock"], files
    assert not files["seen"]

    log = tmp_path / "class-load.log"
    got, out = _finish(_start(tmp_path, PCS_DRIVER_JAVA_OPTS=(
        f"-XX:ReservedCodeCacheSize=640m -Xlog:class+load=info:file={log}")))
    assert f"-XX:SharedArchiveFile={files['jsa'][0]}" in got["javaopts"]
    assert "Unable to use shared archive" not in out
    loads = [ln for ln in log.read_text().splitlines()
             if "org.apache.spark.SparkContext " in ln]
    assert loads and "source: shared objects file (top)" in loads[0], loads
    assert _cache(tmp_path) == files


def test_concurrent_writers_make_one_archive(tmp_path):
    _mark(tmp_path)
    procs = [_start(tmp_path), _start(tmp_path)]
    opts = [_finish(p)[0]["javaopts"] for p in procs]
    # one took the lock and wrote; the other went without and did not wait
    assert sum("ArchiveClassesAtExit" in o for o in opts) == 1, opts
    files = _cache(tmp_path)
    assert len(files["jsa"]) == 1 and not files["part"] and not files["lock"], files


def test_jvm_killed_during_dump_publishes_nothing(tmp_path):
    _mark(tmp_path)
    seen = _cache(tmp_path)["seen"]
    got, _ = _finish(_start(tmp_path, KILL_JVM_DURING_DUMP="1"))
    assert "-XX:ArchiveClassesAtExit=" in got["javaopts"]
    assert _cache(tmp_path) == {"jsa": [], "part": [], "lock": [], "seen": seen}
