"""The session factory's JVM options reach the JVM it launches, and its
local core count follows the host unless ``SPARK_GRAFT_CPUS`` says
otherwise."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from curw_mike_data_handler_spark.session import get_spark


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the master and
    conf ``get_spark`` asks for, without launching a JVM."""

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


def test_core_count_defaults_to_cpu_affinity(monkeypatch):
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
