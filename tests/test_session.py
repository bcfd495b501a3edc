"""The session factory's JVM options reach the JVM it launches, its
local core count follows the host unless ``SPARK_GRAFT_CPUS`` says
otherwise, and it dumps, publishes and maps the class-data archive
without ever mapping an unfinished one."""

from __future__ import annotations

import logging
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from curw_mike_data_handler_spark import session
from curw_mike_data_handler_spark.session import get_spark
from curw_mike_data_handler_spark.sources.manifest_bucketed import _proc_start_time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the master and
    conf ``get_spark`` asks for, and the ``SPARK_CONF_DIR`` the JVM
    would be launched with, without launching a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.conf["SPARK_CONF_DIR"] = os.environ.get("SPARK_CONF_DIR")
        return self.conf


def test_driver_jvm_runs_c1_only(spark):
    """Cron jobs live seconds: the driver JVM must stop at the C1 JIT
    tier instead of recompiling everything with C2 (session.py), and
    keep the tiered code cache size a long session needs."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    assert "-XX:TieredStopAtLevel=1" in list(mf.getRuntimeMXBean().getInputArguments())
    pools = mf.getMemoryPoolMXBeans()
    code = [pools.get(i) for i in range(pools.size()) if "Code" in pools.get(i).getName()]
    assert sum(p.getUsage().getMax() for p in code) >= 240 * 1024 * 1024


def test_core_count_defaults_to_cpu_affinity(cds, monkeypatch):
    """A cron job started without SPARK_GRAFT_CPUS runs local[N] with N
    shuffle partitions, N being the CPUs the process may run on, and
    the variable is read when the session is built, not at import."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    conf = get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"

    monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    conf = get_spark()
    assert conf["master"] == "local[5]"
    assert conf["spark.sql.shuffle.partitions"] == "5"


# ---------------------------------------------------------------------------
# class-data archive lifecycle (no JVM: the builder records the launch)
# ---------------------------------------------------------------------------


@pytest.fixture()
def cds(tmp_path, monkeypatch):
    """An empty archive cache under ``tmp_path``, a process that has
    launched no JVM yet, and a builder that records each launch; returns
    ``(cache dir, key, launch)``."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    spark_home = session._find_spark_home()

    def launch(**kwargs):
        monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
        before = os.environ.get("SPARK_CONF_DIR")
        conf = get_spark(**kwargs)
        assert os.environ.get("SPARK_CONF_DIR") == before  # restored
        return conf

    return session._cds_dir(), session._cds_key(spark_home), launch


def _pending(cache, key, pid, owner, log, part=True):
    """A dump some earlier launch left: its part, log and owner record."""
    stem = os.path.join(cache, f"{key}.{pid}.jsa.part")
    os.makedirs(cache, exist_ok=True)
    if part:
        with open(stem, "wb") as fh:
            fh.write(b"archive bytes")
    with open(f"{stem}.log", "w") as fh:
        fh.write(log)
    with open(f"{stem}.owner", "w") as fh:
        fh.write(owner)
    return stem


DONE = "[9.1s][info][cds,dynamic] Written dynamic archive 0x800 - 0x900 [984 bytes header, 2 bytes total]\n"
COPYING = "[8.0s][info][cds,dynamic] Copying 12523 klasses and 277437 symbols\n"


def _dead_pid():
    """A pid whose process has exited (the owner record pairs it with a
    start time no live process has, so even a recycled pid reads dead)."""
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    return child.pid


def _java_opts(conf):
    return conf.get("spark.driver.defaultJavaOptions", "")


@pytest.mark.parametrize("conf_dir", ["unset", "templates_only"])
def test_empty_cache_dumps_to_a_per_pid_part_with_an_empty_conf_dir(cds, tmp_path, monkeypatch, conf_dir):
    cache, key, launch = cds
    if conf_dir == "templates_only":  # like a stock Spark install's conf/
        (tmp_path / "spark-conf").mkdir()
        (tmp_path / "spark-conf" / "spark-defaults.conf.template").write_text("")
        monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "spark-conf"))
    conf = launch()
    part = os.path.join(cache, f"{key}.{os.getpid()}.jsa.part")
    opts = _java_opts(conf).split()
    assert f"-XX:ArchiveClassesAtExit={part}" in opts
    assert f"-Xlog:cds*=warning,cds+dynamic=info:file={part}.log" in opts
    assert "-Xlog:cds*=off" in opts  # nothing of CDS on the jobs' stdout
    assert conf["SPARK_CONF_DIR"] == os.path.join(cache, "conf")
    assert os.listdir(conf["SPARK_CONF_DIR"]) == []
    assert "-XX:TieredStopAtLevel=1" in conf["spark.driver.extraJavaOptions"]
    with open(f"{part}.owner") as fh:
        assert fh.read().split()[0] == str(os.getpid())


def test_completed_part_of_an_exited_jvm_is_published_and_mapped(cds):
    cache, key, launch = cds
    stem = _pending(cache, key, 4242, f"{_dead_pid()} 1", COPYING + DONE)
    conf = launch()
    archive = os.path.join(cache, f"{key}.jsa")
    assert _java_opts(conf).split() == [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto", "-Xlog:cds*=off"]
    with open(archive, "rb") as fh:
        assert fh.read() == b"archive bytes"
    assert set(os.listdir(cache)) == {"conf", f"{key}.jsa"}  # part, log, owner gone
    assert not os.path.exists(stem)
    assert conf["SPARK_CONF_DIR"] == os.path.join(cache, "conf")


def test_part_of_a_live_owner_is_never_mapped(cds):
    """Even a dump whose log already reads complete stays unmapped while
    the process that owns it lives; this launch dumps its own."""
    cache, key, launch = cds
    ppid = os.getppid()  # alive for as long as this test runs
    stem = _pending(cache, key, ppid, f"{ppid} {_proc_start_time(ppid)}", COPYING + DONE)
    conf = launch()
    assert "SharedArchiveFile" not in _java_opts(conf)
    assert not os.path.exists(os.path.join(cache, f"{key}.jsa"))
    assert os.path.exists(stem) and os.path.exists(f"{stem}.owner")
    assert f"-XX:ArchiveClassesAtExit={cache}/{key}.{os.getpid()}.jsa.part" in _java_opts(conf)


@pytest.mark.parametrize("case", ["part_without_completion", "log_with_error"])
def test_failed_dump_leaves_a_marker_and_is_not_retried(cds, caplog, case):
    cache, key, launch = cds
    if case == "part_without_completion":  # killed while writing
        _pending(cache, key, 4242, f"{_dead_pid()} 1", COPYING)
    else:  # the JVM refused to dump and wrote no part
        _pending(cache, key, 4242, f"{_dead_pid()} 1",
                 "[14.0s][error  ][cds] Error: non-empty directory 'spark/conf/'\n", part=False)
    with caplog.at_level(logging.INFO, logger=session.__name__):
        first = launch()
        second = launch()
    assert set(os.listdir(cache)) == {"conf", f"{key}.failed"}
    for conf in (first, second):
        assert "spark.driver.defaultJavaOptions" not in conf
    assert any("did not complete" in r.getMessage() for r in caplog.records)


def test_jvm_killed_before_dumping_is_retried(cds):
    """An owner that died before the dump began leaves no part and no
    error: no failed marker, and the next launch dumps again."""
    cache, key, launch = cds
    _pending(cache, key, 4242, f"{_dead_pid()} 1", "", part=False)
    conf = launch()
    assert "-XX:ArchiveClassesAtExit=" in _java_opts(conf)
    assert not os.path.exists(os.path.join(cache, f"{key}.failed"))
    assert not any(n.startswith(f"{key}.4242.") for n in os.listdir(cache))


@pytest.mark.parametrize("case", ["conf_file", "hadoop_conf_dir"])
def test_live_classpath_dir_launches_without_sharing(cds, tmp_path, monkeypatch, caplog, case):
    """A conf directory with live files (or another directory Spark puts
    on the classpath) launches exactly as without sharing: JDK 17 would
    refuse the archive, and print why on the job's stdout."""
    cache, _, launch = cds
    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-env.sh.template").write_text("")
    if case == "conf_file":
        (conf_dir / "spark-defaults.conf").write_text("spark.eventLog.enabled false\n")
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    else:
        monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    with caplog.at_level(logging.INFO, logger=session.__name__):
        monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
        conf = get_spark()
    assert "spark.driver.defaultJavaOptions" not in conf
    assert conf["SPARK_CONF_DIR"] == os.environ.get("SPARK_CONF_DIR")
    assert os.environ.get("SPARK_CONF_DIR") == (str(conf_dir) if case == "conf_file" else None)
    assert not os.path.exists(cache)
    reason = {"conf_file": "spark-defaults.conf", "hadoop_conf_dir": "HADOOP_CONF_DIR"}[case]
    assert any(reason in r.getMessage() for r in caplog.records)


@pytest.mark.parametrize("case", ["blocked", "space_in_path"])
def test_unusable_cache_launches_without_sharing(cds, tmp_path, monkeypatch, caplog, case):
    """A cache directory that cannot be created (a file stands in its
    way; mode bits would not stop root), or whose path the JVM options
    cannot carry, logs why and launches plain."""
    _, _, launch = cds
    if case == "blocked":
        (tmp_path / "blocked").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "blocked"))
    else:
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "my cache"))
    with caplog.at_level(logging.INFO, logger=session.__name__):
        conf = launch()
    assert "spark.driver.defaultJavaOptions" not in conf
    assert conf["SPARK_CONF_DIR"] is None
    reason = {"blocked": "cannot use the cache directory", "space_in_path": "cannot be passed to the JVM"}[case]
    assert any(reason in r.getMessage() for r in caplog.records)


def test_callers_java_options_keep_sharing(cds):
    """bench.py and the probes replace extraJavaOptions with their own
    JIT options; the archive rides in defaultJavaOptions, which Spark
    puts ahead of them."""
    cache, key, launch = cds
    _pending(cache, key, 4242, f"{_dead_pid()} 1", DONE)
    conf = launch(extra_conf={"spark.driver.extraJavaOptions": "-XX:+UseParallelGC"})
    assert conf["spark.driver.extraJavaOptions"] == "-XX:+UseParallelGC"
    assert f"-XX:SharedArchiveFile={cache}/{key}.jsa" in _java_opts(conf)


def test_running_jvm_is_left_alone(cds, monkeypatch):
    """JVM options only apply at launch: with a JVM already up, get_spark
    touches neither the cache nor the launch options."""
    cache, _, launch = cds
    monkeypatch.setattr(SparkContext, "_gateway", object())
    conf = launch()
    assert "spark.driver.defaultJavaOptions" not in conf
    assert not os.path.exists(cache)


def test_published_archive_is_mapped_next_to_c1():
    """A fresh process maps the host's archive and still runs C1 only.

    The first launches on a host dump the archive (this suite's session
    JVM, the cold job tests); a launch after a finished dump publishes
    it, so at most a few fresh processes see it mapped.  No CDS line
    reaches stdout on either kind of launch."""
    code = (
        "from curw_mike_data_handler_spark import get_spark\n"
        "s = get_spark(master='local[1]')\n"
        "mf = s._jvm.java.lang.management.ManagementFactory\n"
        "print('\\n'.join('JVMARG ' + a for a in mf.getRuntimeMXBean().getInputArguments()))\n"
    )
    env = {**os.environ, "PYTHONPATH": REPO}
    for _ in range(3):
        r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                           cwd=REPO, env=env, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        lines = r.stdout.splitlines()
        assert all(ln.startswith("JVMARG ") for ln in lines), lines
        args = [ln[len("JVMARG "):] for ln in lines]
        if any(a.startswith("-XX:SharedArchiveFile=") for a in args):
            break
    assert any(a.startswith("-XX:SharedArchiveFile=") for a in args), args
    assert "-Xshare:auto" in args
    assert "-XX:TieredStopAtLevel=1" in args
