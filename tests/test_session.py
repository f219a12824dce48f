"""The driver JVM's options (session.py): the class-data archive's key,
the guards that keep its flags off, the dump's keep-or-delete step, the
tier-4 JIT thresholds, the collector and the guard that keeps it off
when the caller chose one, and fresh-process runs of a dumping, a
mapping and a corrupt-archive session and of a caller's own collector."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from lynxkite_spark.session import COLLECTOR, TIER4_THRESHOLDS, _cds_key, _cds_plan, _finish_dump, get_spark

ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture
def fake_spark(tmp_path, monkeypatch):
    """A Spark home with one jar and a templates-only conf directory, a
    JDK home with a libjvm, and a cache under ``tmp_path``."""
    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    return home, jdk, tmp_path / "cache" / "lynxkite_spark" / "cds"


def test_key_follows_the_jar_set(fake_spark):
    home, jdk, _ = fake_spark
    jar = home / "jars" / "a.jar"
    keys = [_cds_key(home, jdk)]
    os.utime(jar, ns=(1, 10**18))
    keys.append(_cds_key(home, jdk))
    jar.write_bytes(b"a larger jar")
    os.utime(jar, ns=(1, 10**18))
    keys.append(_cds_key(home, jdk))
    assert len(set(keys)) == 3
    assert _cds_key(home, jdk) == keys[-1]


def test_plan_dumps_once_then_maps(fake_spark):
    _, _, cache = fake_spark
    options, tmp, jsa = _cds_plan()
    assert f"-XX:ArchiveClassesAtExit={tmp}" in options
    assert tmp.name == f"{jsa.stem}.{os.getpid()}.tmp" and jsa.parent == cache
    assert (cache / "conf").is_dir() and not any((cache / "conf").iterdir())
    jsa.write_bytes(b"archive")
    options, tmp, _ = _cds_plan()
    assert tmp is None and f"-XX:SharedArchiveFile={jsa}" in options


def test_no_flags_when_the_jvm_or_its_classpath_is_not_ours(fake_spark, monkeypatch, tmp_path):
    home, _, _ = fake_spark
    assert _cds_plan() is not None
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR", "HADOOP_CONF_DIR"):
        monkeypatch.setenv(var, str(tmp_path))
        assert _cds_plan() is None, var
        monkeypatch.delenv(var)
    (home / "conf" / "spark-defaults.conf").write_text("spark.sql.shuffle.partitions 3\n")
    assert _cds_plan() is None


def test_no_flags_when_the_cache_is_not_writable(fake_spark, monkeypatch, tmp_path):
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    assert _cds_plan() is None


def _jvm(status):
    """A stand-in for the gateway JVM: exits with ``status`` once its
    stdin closes."""
    return subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({status})"], stdin=subprocess.PIPE
    )


@pytest.mark.parametrize("status", [0, 1])
def test_dump_is_kept_only_when_the_jvm_exits_with_0(tmp_path, monkeypatch, status):
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)  # leave the suite's session running
    tmp, jsa = tmp_path / "k.1.tmp", tmp_path / "k.jsa"
    tmp.write_bytes(b"archive")
    _finish_dump(_jvm(status), tmp, jsa)
    assert not tmp.exists()
    assert jsa.exists() == (status == 0)


def test_conf_dir_is_restored_when_the_launch_raises(fake_spark, monkeypatch):
    _, _, cache = fake_spark
    seen = {}

    def fail(builder):
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        seen["options"] = builder._options.get("spark.driver.defaultJavaOptions")
        # the JVM dumps to the file the option names; leave a partial one
        Path(seen["options"].split("ArchiveClassesAtExit=")[1].split()[0]).write_bytes(b"partial")
        raise RuntimeError("launch failed")

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fail)
    with pytest.raises(RuntimeError, match="launch failed"):
        get_spark(cores=1)
    assert seen["conf_dir"] == str(cache / "conf")
    assert "-XX:ArchiveClassesAtExit=" in seen["options"]
    assert "SPARK_CONF_DIR" not in os.environ
    assert not list(cache.glob("*.tmp"))


def _launch_options(monkeypatch, **kwargs):
    """``(spark.driver.defaultJavaOptions, SPARK_CONF_DIR)`` that
    ``get_spark`` would launch the driver JVM with, read at
    ``getOrCreate``, which then raises so no JVM starts."""
    seen = {}

    def fail(builder):
        seen.update(builder._options, conf_dir=os.environ.get("SPARK_CONF_DIR"))
        raise RuntimeError("launch failed")

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fail)
    with pytest.raises(RuntimeError, match="launch failed"):
        get_spark(cores=1, **kwargs)
    return seen.get("spark.driver.defaultJavaOptions"), seen["conf_dir"]


def test_driver_jvm_gets_the_tier4_thresholds_with_or_without_an_archive(fake_spark, monkeypatch, tmp_path):
    """And the collector, in both cases."""
    options, _ = _launch_options(monkeypatch)
    assert options.startswith(f"{TIER4_THRESHOLDS} {COLLECTOR} -XX:ArchiveClassesAtExit=")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _launch_options(monkeypatch) == (f"{TIER4_THRESHOLDS} {COLLECTOR}", str(tmp_path))


@pytest.mark.parametrize("where", ["extraJavaOptions", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS"])
def test_no_second_collector_when_the_caller_chose_one(fake_spark, monkeypatch, where):
    mine = "-Dprobe=1 -XX:+UseG1GC"
    if where == "extraJavaOptions":
        options, _ = _launch_options(monkeypatch, extra_conf={"spark.driver.extraJavaOptions": mine})
    else:
        monkeypatch.setenv(where, mine)
        options, _ = _launch_options(monkeypatch)
    assert options.startswith(f"{TIER4_THRESHOLDS} -XX:ArchiveClassesAtExit=")
    assert COLLECTOR not in options


def test_callers_default_java_options_pass_through_unchanged(fake_spark, monkeypatch):
    mine = "-XX:TieredStopAtLevel=1 -Dprobe=1"
    # no archive either: the launch keeps the caller's conf directory
    assert _launch_options(monkeypatch, extra_conf={"spark.driver.defaultJavaOptions": mine}) == (mine, None)


_SESSION = """
import json, sys
from lynxkite_spark.session import get_spark
spark = get_spark(cores=1, extra_conf=json.loads(sys.argv[1]))
pid = spark.sparkContext._gateway.proc.pid
beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
gc = sorted(b.getName() for b in beans)
with open(f"/proc/{pid}/maps") as f:
    mapped = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
with open(f"/proc/{pid}/cmdline") as f:
    tier4 = any(arg.startswith("-XX:Tier4InvocationThreshold=") for arg in f.read().split("\\0"))
rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k").collect()
print(json.dumps({"rows": [list(r) for r in rows], "mapped": mapped, "tier4": tier4, "gc": gc}))
"""
ROWS = [[k, 143 if k < 6 else 142] for k in range(7)]


def _session(cache, extra_conf=None):
    env = {k: v for k, v in os.environ.items() if k not in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR")}
    env.update(XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEMORY="1g", PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, json.dumps(extra_conf or {})],
        env=env,
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        timeout=300,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_first_session_dumps_the_archive_and_the_next_maps_it(tmp_path, monkeypatch):
    """Two fresh processes on an empty cache: the first leaves the
    archive behind at exit, the second's driver JVM maps it. A third,
    over an archive overwritten with random bytes, starts without it.
    Every JVM runs with the tier-4 thresholds and the Parallel
    collector, and all three give the same rows."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    if _cds_plan() is None:
        pytest.skip("this Spark installation's classpath cannot be archived")
    cds = tmp_path / "lynxkite_spark" / "cds"
    first = _session(tmp_path)
    (jsa,) = (p.resolve() for p in cds.glob("*.jsa"))
    assert not list(cds.glob("*.tmp"))
    assert str(jsa) not in first["mapped"]
    second = _session(tmp_path)
    assert str(jsa) in second["mapped"]
    junk = tmp_path / "junk"
    junk.write_bytes(os.urandom(jsa.stat().st_size))
    os.replace(junk, jsa)
    third = _session(tmp_path)
    assert str(jsa) not in third["mapped"]
    assert first["tier4"] and second["tier4"] and third["tier4"]
    assert first["gc"] == second["gc"] == third["gc"] == ["PS MarkSweep", "PS Scavenge"]
    assert first["rows"] == second["rows"] == third["rows"] == ROWS


def test_callers_collector_replaces_the_engines(tmp_path):
    """A collector in the caller's ``extraJavaOptions`` is the only one
    the driver JVM gets: given two, it would not start."""
    (tmp_path / "file").write_text("")  # a cache under a file: no archive, no dump
    out = _session(tmp_path / "file", {"spark.driver.extraJavaOptions": "-Xms1g -XX:+UseG1GC"})
    assert out["gc"] == ["G1 Old Generation", "G1 Young Generation"]
    assert out["tier4"] and out["rows"] == ROWS
