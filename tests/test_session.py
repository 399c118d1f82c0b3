"""The session ``get_spark`` builds: its generated-code cache holds a
session's classes, and the driver JVM's class-data archive
(``session._cds_launch`` / ``_publish``): when a launch records or maps
it, when it launches exactly as without it, and that a published archive
is really mapped.

Only the last test records a full archive (in its own cache directory);
the others never start a dump."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from odc_product_docker_images_spark import session

REPO = Path(__file__).resolve().parent.parent
SPARK_HOME = Path(session._find_spark_home())


@pytest.fixture
def host(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates (the installed
    jars, linked) and an empty archive cache, both under ``tmp_path``."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").symlink_to(SPARK_HOME / "jars")
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.chdir(tmp_path)
    return home


def test_codegen_cache_holds_a_sessions_classes(spark):
    """150 distinct projections generate more classes than Spark's default
    100-entry cache holds, so there a second round recompiles every
    projection; here it compiles nothing."""
    from pyspark.sql import functions as F

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    dfs = [spark.range(10).select((F.col("id") * i + i).alias("x")) for i in range(150)]
    for df in dfs:
        df.collect()
    before = compiles.getCount()
    for df in dfs:
        df.collect()
    assert compiles.getCount() - before == 0


def _ended(*cmd: str) -> subprocess.Popen:
    proc = subprocess.Popen(cmd, stdin=subprocess.PIPE)
    proc.wait()
    return proc


def test_first_launch_records_and_claims_the_host(host):
    cds = session._cds_launch()
    assert cds.recording is not None and cds.recording.parent == session._cds_dir()
    assert f"-XX:ArchiveClassesAtExit={cds.recording}" in cds.options
    assert "-Xlog:cds=off" in cds.options and "-Xlog:cds+dynamic=off" in cds.options
    assert cds.conf_dir == str(session._cds_dir() / "conf")
    assert list(Path(cds.conf_dir).iterdir()) == []
    assert session._cds_dir().stat().st_mode & 0o777 == 0o700
    # one recording per host: a second process launches without the archive
    assert session._cds_launch() is None
    assert "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize("conf", ["live_file", "conf_dir_set"])
def test_cds_does_not_apply(host, conf, monkeypatch, tmp_path):
    if conf == "live_file":
        (host / "conf" / "spark-defaults.conf").write_text("spark.probe.live true\n")
    else:
        monkeypatch.setenv("SPARK_CONF_DIR", str(host / "conf"))
    assert session._cds_launch() is None
    assert not (tmp_path / "cache").exists()


@pytest.mark.parametrize("candidate", ["whole", "truncated"])
def test_publisher_validates_the_recording(host, tmp_path, candidate):
    """The recording JVM exited 0.  A whole archive (the JDK's own base
    archive stands in for one) is published; one cut short fails the
    validation start and is dropped.  Either way no temp file and no
    crash report is left."""
    cds = session._cds_launch()
    base = Path(session._java()).parents[1] / "lib" / "server" / "classes.jsa"
    data = base.read_bytes()
    cds.recording.write_bytes(data if candidate == "whole" else data[: len(data) // 2])
    classpath = f"{cds.conf_dir}/:{host / 'jars'}/*"
    session._publish(_ended("true"), os.getpid(), cds, classpath, [])
    published = cds.archive.exists()
    cds.archive.unlink(missing_ok=True)  # pytest keeps its last temp dirs
    assert published == (candidate == "whole")
    assert not list(session._cds_dir().glob("*.tmp"))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["cache", "spark"]


@pytest.mark.parametrize("jvm", ["failed", "killed"])
def test_failed_recording_is_not_retried(host, jvm):
    cds = session._cds_launch()
    if jvm == "failed":
        proc = _ended("false")
    else:
        proc = subprocess.Popen(["sleep", "60"], stdin=subprocess.PIPE)
        cds.recording.write_bytes(b"partial")
        proc.kill()
        proc.wait()
    session._publish(proc, os.getpid(), cds, "", [])
    assert not cds.archive.exists() and not cds.recording.exists()
    assert session._cds_launch() is None


def test_forked_child_leaves_the_recording_alone(host):
    cds = session._cds_launch()
    cds.recording.write_bytes(b"in progress")
    session._publish(_ended("true"), os.getpid() + 1, cds, "", [])
    assert cds.recording.read_bytes() == b"in progress"


def _get_spark(tmp_path, env, extra_conf) -> subprocess.CompletedProcess:
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from odc_product_docker_images_spark.session import get_spark\n"
        "s = get_spark('cds', extra_conf=json.loads(sys.argv[1]))\n"
        "jvm = s.sparkContext._jvm\n"
        "args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())\n"
        "print(json.dumps({'rows': s.range(3).count(), 'args': args,\n"
        "    'classpath': jvm.System.getProperty('java.class.path'),\n"
        "    'live': s.conf.get('spark.probe.live', None),\n"
        "    'codegen_cache': s.conf.get('spark.sql.codegen.cache.maxEntries')}))\n"
    )
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g", "SPARK_GRAFT_CPUS": "2",
           "XDG_CACHE_HOME": str(tmp_path / "cache"), **env}
    env.pop("SPARK_CONF_DIR", None)
    return subprocess.run(
        [sys.executable, "-c", code, json.dumps(extra_conf)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )


def test_live_conf_dir_launches_as_without_cds(tmp_path):
    """A Spark home whose conf dir holds a live file: the driver JVM gets
    the installed conf dir and the caller's options, nothing else."""
    home = tmp_path / "spark"
    home.mkdir()
    for p in SPARK_HOME.iterdir():
        if p.name != "conf":
            (home / p.name).symlink_to(p)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf").write_text("spark.probe.live true\n")
    out = _get_spark(tmp_path, {"SPARK_HOME": str(home)},
                     {"spark.driver.extraJavaOptions": "-Dprobe.caller=1",
                      "spark.sql.codegen.cache.maxEntries": "7"})
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout.splitlines()[-1])
    assert got["rows"] == 3 and got["live"] == "true"
    assert got["codegen_cache"] == "7"  # the caller's conf wins
    assert got["classpath"].startswith(f"{home}/conf/:")
    assert "-Dprobe.caller=1" in got["args"]
    assert not [a for a in got["args"] if "Archive" in a or "cds" in a]
    assert not (tmp_path / "cache").exists()


def test_published_archive_is_mapped(tmp_path):
    """The first process records and publishes the archive at exit; the
    next maps it: Spark's classes come from the shared archive, the
    caller's JVM options still apply, and neither stdout carries a JVM
    log line."""
    cache = tmp_path / "cache" / session.__package__ / "cds"
    try:
        first = _get_spark(tmp_path, {}, {})
        assert first.returncode == 0, first.stderr[-2000:]
        assert len(first.stdout.splitlines()) == 1  # the dump at exit logs nothing there
        assert json.loads(first.stdout)["codegen_cache"] == "2000"
        assert sorted(p.suffix for p in cache.iterdir()) == ["", ".jsa", ".rec"]  # conf dir

        log = tmp_path / "class-load.log"
        second = _get_spark(
            tmp_path, {}, {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"}
        )
        assert second.returncode == 0, second.stderr[-2000:]
        assert len(second.stdout.splitlines()) == 1  # the probe's JSON line only
        got = json.loads(second.stdout)
        assert got["rows"] == 3
        assert any(a.startswith("-XX:SharedArchiveFile=") for a in got["args"])
        assert got["classpath"].startswith(f"{cache}/conf/:")
        assert "org.apache.spark.SparkContext source: shared objects file (top)" in log.read_text()
    finally:  # ~140 MB: not for pytest's kept temp dirs
        for p in cache.glob("*.jsa"):
            p.unlink()
