"""The driver JVM starts from a class-data-sharing archive in the
per-user cache, and every archive that cannot be used gives a normal
start. Each case launches a fresh interpreter with its own
XDG_CACHE_HOME, so the shared ``spark`` fixture's JVM is not touched."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from pulsar_io_delta_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one session in a child interpreter: start, one tiny query, stop and
# wait for the JVM (and any dump it writes at exit); the report goes to
# stderr so that the child's stdout holds only what the JVM printed
CHILD = r"""
import json, os, sys
before = dict(os.environ)
from pulsar_io_delta_spark.session import get_spark
spark = get_spark(app_name="cds-test", cpus=1, extra_conf=json.loads(sys.argv[1]))
after = dict(os.environ)
jvm = spark._jvm
report = {
    "rows": spark.range(3).count(),
    "jvm_args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "jvm_conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "env_diff": sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k)),
}
gateway = spark.sparkContext._gateway
proc = gateway.proc
spark.stop()
gateway.shutdown()
proc.stdin.close()
proc.wait()
print("REPORT " + json.dumps(report), file=sys.stderr)
"""


# what SparkContext itself exports into os.environ on every start
PYSPARK_ENV = ["SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"]


def _session(cache, extra_conf=None, conf_dir=None, cwd=None):
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEM="2g",
               PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    for k in ["SPARK_CONF_DIR", *PYSPARK_ENV]:
        env.pop(k, None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    os.makedirs(cache, exist_ok=True)
    out = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(extra_conf or {})],
        cwd=cwd or cache, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(x for x in out.stderr.splitlines() if x.startswith("REPORT "))
    report = json.loads(line[len("REPORT "):])
    report["stdout"] = out.stdout
    report["stderr"] = out.stderr
    return report


def _cds_dir(cache):
    return os.path.join(cache, "pulsar_io_delta_spark", "cds")


def _archives(cache):
    d = _cds_dir(cache)
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".jsa"))


def _flags(report):
    return [a for a in report["jvm_args"] if a.startswith(("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit"))]


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A cache holding a real archive, dumped by a first session."""
    cache = tmp_path_factory.mktemp("cds_cache")
    report = _session(cache)
    return cache, report


def test_first_session_dumps_the_archive_and_keeps_stdout_clean(built):
    cache, report = built
    assert report["rows"] == 3
    [archive] = _archives(cache)
    assert _flags(report) == [f"-XX:ArchiveClassesAtExit={archive}"]
    with open(archive, "rb") as fh:
        assert fh.read(4) == session._DYNAMIC_MAGIC
    assert report["stdout"] == ""
    # the dump's per-class CDS warnings are silenced
    assert "[cds]" not in report["stderr"]
    assert report["env_diff"] == PYSPARK_ENV


def test_next_session_maps_it_and_keeps_caller_options(built):
    cache, _ = built
    [archive] = _archives(cache)
    report = _session(cache, {"spark.driver.extraJavaOptions": "-Xms2g -Dcds.test=1"})
    assert report["rows"] == 3
    assert _flags(report) == [f"-XX:SharedArchiveFile={archive}"]
    assert "-Xms2g" in report["jvm_args"] and "-Dcds.test=1" in report["jvm_args"]
    assert report["stdout"] == ""
    assert report["env_diff"] == PYSPARK_ENV
    # the launch saw the empty conf dir in the cache; env_diff shows the
    # caller's environment got its SPARK_CONF_DIR back
    assert report["jvm_conf_dir"] == os.path.join(_cds_dir(cache), "conf")


def test_truncated_archive_is_removed_and_session_starts(built, tmp_path):
    """The JVM that dies mapping the archive leaves its crash log in
    the cache, not in the caller's working directory."""
    cache, _ = built
    [archive] = _archives(cache)
    other, work = tmp_path / "cache", tmp_path / "work"
    os.makedirs(_cds_dir(other))
    os.makedirs(work)
    bad = os.path.join(_cds_dir(other), os.path.basename(archive))
    with open(archive, "rb") as src, open(bad, "wb") as dst:
        dst.write(src.read(50 << 20))
    report = _session(other, cwd=work)
    assert report["rows"] == 3
    assert _flags(report) == []  # the second launch runs without CDS
    assert not os.path.exists(bad)
    assert report["env_diff"] == PYSPARK_ENV
    assert [n for n in os.listdir(work) if n.startswith("hs_err_pid")] == []


def test_zeroed_header_starts_normally_and_is_rebuilt(built, tmp_path):
    cache, _ = built
    [archive] = _archives(cache)
    os.makedirs(_cds_dir(tmp_path))
    bad = os.path.join(_cds_dir(tmp_path), os.path.basename(archive))
    shutil.copyfile(archive, bad)
    with open(bad, "r+b") as fh:
        fh.write(b"\0" * 4096)
    report = _session(tmp_path)
    assert report["rows"] == 3
    assert _flags(report) == [f"-XX:ArchiveClassesAtExit={bad}"]
    with open(bad, "rb") as fh:
        assert fh.read(4) == session._DYNAMIC_MAGIC


def test_archive_of_another_classpath_gives_a_normal_start(built):
    """A classpath that differs from the dump's (here a prepended jar)
    makes the JVM run without the archive, on its own."""
    cache, _ = built
    [archive] = _archives(cache)
    jar = next(os.path.join(d, n) for d in [os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")]
               for n in sorted(os.listdir(d)) if n.endswith(".jar"))
    report = _session(cache, {"spark.driver.extraClassPath": jar})
    assert report["rows"] == 3
    assert _flags(report) == [f"-XX:SharedArchiveFile={archive}"]
    assert os.path.exists(archive)


def test_conf_dir_in_use_skips_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    report = _session(tmp_path / "cache", conf_dir=conf)
    assert report["rows"] == 3
    assert _flags(report) == []
    assert report["jvm_conf_dir"] == str(conf)
    assert report["env_diff"] == PYSPARK_ENV
    assert "class-data sharing: " in report["stderr"] and "spark-defaults.conf" in report["stderr"]
    assert not os.path.exists(_cds_dir(tmp_path / "cache"))


def test_unwritable_cache_or_running_gateway_skips_cds(tmp_path, monkeypatch, spark):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    # this process already runs a gateway JVM: no launch, no archive
    assert session._ClassDataSharing.for_launch() is None
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert session._ClassDataSharing.for_launch() is not None
    blocker = tmp_path / "file"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker / "cache"))
    assert session._ClassDataSharing.for_launch() is None
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._ClassDataSharing.for_launch() is None


def test_key_follows_jars_java_and_pyspark(tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    jar = home / "jars" / "a.jar"
    jar.write_bytes(b"x")
    k1 = session._cds_key(str(home))
    assert k1 == session._cds_key(str(home))
    os.utime(jar, ns=(1, 1))
    k2 = session._cds_key(str(home))
    (home / "jars" / "b.jar").write_bytes(b"y")
    k3 = session._cds_key(str(home))
    monkeypatch.setattr("pyspark.__version__", "0.0.0")
    k4 = session._cds_key(str(home))
    assert len({k1, k2, k3, k4}) == 4
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "nojava"))
    assert session._cds_key(str(home)) is None
