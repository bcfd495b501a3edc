"""The session factory's JVM options reach the JVM it launches."""

from __future__ import annotations


def test_driver_jvm_runs_c1_only(spark):
    """Cron jobs live seconds: the driver JVM must stop at the C1 JIT
    tier instead of recompiling everything with C2 (session.py)."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert "-XX:TieredStopAtLevel=1" in list(mx.getInputArguments())
