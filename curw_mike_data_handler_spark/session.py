"""SparkSession factory with scale-oriented defaults.

Tuned for correctness tests on ``local[N]`` but configured the way a
1000-executor cluster job would be: AQE on (runtime coalescing + skew
join handling), explicit shuffle partitioning, Arrow for any pandas
interchange, UTC session timezone (the reference does +05:30 offset
arithmetic by hand — we keep instants in UTC).

JIT profile: the driver JVM runs C1 only
(``-XX:TieredStopAtLevel=1``).  The production path is cron: every
job is a fresh process whose JVM lives 10-30 s, and more than half of
a cold job's CPU went to JIT compilation, C1 first and then C2 again
on the same Catalyst, Janino and Spark runtime code.  C2 only pays
that back in a JVM that lives far longer.  Measured on 4 cores with
``prodbench/run.py`` (cold, untraced, interleaved with C2 runs; median
and range of CPU seconds): a production hour fell from 97.7 s (90-102)
to 49.9 s (47-55), a catalog pass from 54.1 s (52-55) to 24.9 s
(23-27), set-up (JVM launch, imports) from about 15 s to 8-9.5 s, with
no cold wall lost.  The cost is steady-state speed in a long-lived
session: warm ``cron_inputs`` ticks went from 11.8-12.3 s to
15.7-16.5 s of wall (median) at equal CPU, and the test suite on 4 cores from
1187-1211 s to 1675-1840 s.  Results are unchanged (Java 17 floating point is
strict at every JIT tier).

The option is driver-only: executors on a real cluster keep C2.  A
long-lived caller (a bench double pass, an interactive session) gets
C2 back by passing its own ``spark.driver.extraJavaOptions`` through
``extra_conf``, which replaces this one; ``bench.py`` does so.  The
same option string keeps the tiered JVM's 240 MiB code cache: with C1
alone HotSpot reserves only 48 MiB, and the test session filled that
within a minute, after which the JVM disabled its compiler and failed
with ``Out of space in CodeCache for method handle intrinsic``.  Like
every JVM option it applies only when ``get_spark`` launches the JVM,
not to a JVM already running in the process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# These are per-session defaults, not hard requirements; callers can
# override any of them via ``extra_conf``.
_BASE_CONF = {
    # Adaptive execution: runtime partition coalescing, skew-join
    # splitting, and plan re-optimization from real stats. At 100 TB
    # this is what turns a static 'shuffle.partitions' guess into
    # right-sized partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Session timezone pinned: all timestamp arithmetic is
    # instant-based; the reference's UTC+05:30 is offset math.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / mapInPandas / toPandas interchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables here (station/coeff/nation/part...) are tiny;
    # raise the broadcast ceiling so dim joins never shuffle the fact.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scan parallelism: 128 MiB splits is the sweet spot for parquet
    # on object storage.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # pandas-written parquet may carry TIMESTAMP(NANOS) which Spark has
    # no native type for; read as long and convert in the loader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-naive parquet timestamps (isAdjustedToUTC=false) must come back
    # as TIMESTAMP (LTZ, naive value taken as UTC epoch micros) — the
    # same reading DuckDB gives the oracle side.  Set here, not only in
    # the table loader, so EVERY parquet read path (maintenance sweeps,
    # bucketed tables, raw spark.read in tests) behaves identically
    # regardless of call order.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark 4 ANSI mode breaks the reference's permissive casts
    # (strings→double with junk rows); the engine validates explicitly.
    "spark.sql.ansi.enabled": "false",
    # C1 only: a cron job's JVM dies long before C2's recompilation of
    # Catalyst/Janino/Spark code pays back; the code cache keeps the
    # tiered default, reserved and committed only as code is compiled
    # (see the module docstring)
    "spark.driver.extraJavaOptions": (
        "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
    ),
}


def get_spark(
    app_name: str = "curw-mike-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    The local core count is ``SPARK_GRAFT_CPUS`` if set, else the CPUs
    this process may run on.  It sizes the default ``local[N]`` master
    and ``shuffle_partitions`` — on a real cluster pass ~2-3x total
    executor cores, or rely on AQE coalescing from a higher initial
    value.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
