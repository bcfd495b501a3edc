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

Class-data sharing: after JIT, most of a cold JVM's set-up went to
loading Spark's classes from the 287 jars of ``$SPARK_HOME/jars``
(jar lookups, parsing, verification).  ``get_spark`` therefore
launches the driver JVM with a JDK 17 dynamic AppCDS archive of those
classes, kept in
``${XDG_CACHE_HOME:-~/.cache}/curw_mike_data_handler_spark/cds/`` and
keyed by the java binary and the jars (name, size, mtime), so a
Spark or JDK upgrade starts a new one.  The first launch on a host
passes ``-XX:ArchiveClassesAtExit`` and its JVM writes the archive
(165-190 MB here) when it exits; a later launch publishes the finished
file and maps it with ``-XX:SharedArchiveFile -Xshare:auto``, which
falls back to plain class loading if the JVM rejects it.  A dump
whose JVM is still running is never mapped, and one that failed
leaves ``<key>.failed`` so that no later launch pays for another;
delete the directory to reset either.  The flags ride in
``spark.driver.defaultJavaOptions``, which Spark puts ahead of
``extraJavaOptions``, so callers that replace the C1 option keep
sharing; ``-Xlog:cds*=off`` keeps every CDS message off the jobs'
stdout.  JDK 17 neither dumps nor maps an archive while a non-empty
directory is on the classpath, and ``spark-class`` puts the conf
directory first: when that directory holds only ``*.template`` files,
as a stock install does, the JVM is launched with ``SPARK_CONF_DIR``
pointing at an empty directory in the cache (the process's
environment is restored after the launch); when it holds live
config, sharing is off and the launch is as without it.  Measured on
4 cores with ``prodbench/run.py --seconds 4``, ten interleaved pairs
from an empty cache, median (quartiles) of scaled CPU seconds: a
production hour's set-up fell from 8.75 s (8.63-8.94) to 5.36 s
(5.15-5.50) and its operation from 40.5 s to 35.1 s; the one run that
dumped read 12.0 s and 44.8 s.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shutil

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

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


# the JDK's log line for a finished dynamic archive dump
_DUMPED = "Written dynamic archive"
# -Xlog and Spark's option splitting both break on these in a path
_UNSAFE_PATH = re.compile(r"[\s,:'\"]")


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "curw_mike_data_handler_spark", "cds")


def _cds_key(spark_home: str) -> str | None:
    """Fingerprint of what the JVM checks an archive against: the java
    binary spark-class runs and every jar on Spark's classpath; None
    when either is missing."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    st = os.stat(java)
    lines = [f"{java} {st.st_size} {st.st_mtime_ns}"]
    try:
        jars = [e for e in os.scandir(os.path.join(spark_home, "jars")) if e.name.endswith(".jar")]
    except OSError:
        return None
    for jar in sorted(jars, key=lambda e: e.name):
        st = jar.stat()
        lines.append(f"{jar.name} {st.st_size} {st.st_mtime_ns}")
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _read(path: str) -> str:
    try:
        with open(path, encoding="utf-8", errors="replace") as fh:
            return fh.read()
    except FileNotFoundError:
        return ""


def _write_owner(path: str, pid: int) -> None:
    """Record ``pid`` (with its start time, so a recycled pid reads as
    dead) as the process that will write the dump at ``path``."""
    from curw_mike_data_handler_spark.sources.manifest_bucketed import _proc_start_time

    start = _proc_start_time(pid)
    with open(f"{path}.tmp", "w", encoding="utf-8") as fh:
        fh.write(str(pid) if start is None else f"{pid} {start}")
    os.replace(f"{path}.tmp", path)


def _settle_dumps(cds: str, key: str, archive: str) -> None:
    """Publish the dump of a launch whose JVM has exited, or clear it.

    A dump is pending while its ``.owner`` process lives and is never
    mapped then.  Once the owner is gone, a part whose log holds the
    JDK's completion line becomes the archive (unless one is already
    published); a part without it, or a log with an error, was a failed
    dump and leaves ``<key>.failed``; a JVM that died before dumping
    leaves neither and the next launch dumps again."""
    from curw_mike_data_handler_spark.sources.manifest_bucketed import _claim_owner_alive

    for name in os.listdir(cds):
        if not (name.startswith(f"{key}.") and name.endswith(".jsa.part.owner")):
            continue
        owner = os.path.join(cds, name)
        part = owner[: -len(".owner")]
        try:
            with open(owner, encoding="utf-8") as fh:
                if _claim_owner_alive(fh.read()):
                    continue
            log = _read(f"{part}.log")
            done = _DUMPED in log and os.path.exists(part)
            if done and not os.path.exists(archive):
                os.replace(part, archive)
                _log.info("class-data archive published: %s", archive)
            elif not done and (os.path.exists(part) or "[error" in log):
                open(os.path.join(cds, f"{key}.failed"), "w").close()
                _log.warning(
                    "class-data archive dump %s did not complete; class-data sharing stays off "
                    "for this Spark/JDK install until %s is deleted", part, cds,
                )
        except FileNotFoundError:
            continue  # a concurrent launch settled it first
        for leftover in (part, f"{part}.log", owner):
            try:
                os.remove(leftover)
            except FileNotFoundError:
                pass


def _class_data_sharing() -> tuple[str, str, str | None] | None:
    """``(java options, conf dir, owner file)`` for a driver JVM that
    maps this host's class-data archive, or dumps one at exit when none
    is published; ``None`` launches the JVM as without sharing, for the
    reason logged.  The owner file is set only when the JVM dumps."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    live = [n for n in os.listdir(conf_dir) if not n.endswith(".template")] if os.path.isdir(conf_dir) else []
    if live:
        _log.info("class-data sharing off: %s holds live Spark config (%s)", conf_dir, ", ".join(sorted(live)))
        return None
    extra = [v for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH") if os.environ.get(v)]
    if extra:
        _log.info("class-data sharing off: %s put more on the classpath", ", ".join(extra))
        return None
    key = _cds_key(spark_home)
    if key is None:
        _log.info("class-data sharing off: no java binary or no %s/jars", spark_home)
        return None
    cds = _cds_dir()
    if _UNSAFE_PATH.search(cds):
        _log.info("class-data sharing off: the cache path %r cannot be passed to the JVM", cds)
        return None
    archive = os.path.join(cds, f"{key}.jsa")
    try:
        empty_conf = os.path.join(cds, "conf")
        os.makedirs(empty_conf, exist_ok=True)
        _settle_dumps(cds, key, archive)
        # -Xlog:cds*=off: no CDS line may reach the jobs' stdout
        if os.path.exists(archive):
            return f"-XX:SharedArchiveFile={archive} -Xshare:auto -Xlog:cds*=off", empty_conf, None
        if os.path.exists(os.path.join(cds, f"{key}.failed")):
            _log.info("class-data sharing off: an earlier archive dump failed (%s.failed)", key)
            return None
        part = os.path.join(cds, f"{key}.{os.getpid()}.jsa.part")
        _write_owner(f"{part}.owner", os.getpid())
    except OSError as exc:
        _log.warning("class-data sharing off: cannot use the cache directory %s: %s", cds, exc)
        return None
    opts = f"-XX:ArchiveClassesAtExit={part} -Xlog:cds*=warning,cds+dynamic=info:file={part}.log -Xlog:cds*=off"
    return opts, empty_conf, f"{part}.owner"


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
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = _class_data_sharing() if launching else None
    if cds:
        # ahead of extraJavaOptions, so a caller replacing those keeps it
        conf["spark.driver.defaultJavaOptions"] = cds[0]
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds is None:
        return builder.getOrCreate()
    _, empty_conf, owner = cds
    saved = os.environ.get("SPARK_CONF_DIR")
    # JDK 17 neither dumps nor maps an archive with a non-empty
    # directory on the classpath, and spark-class puts the conf dir first
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    gateway = SparkContext._gateway
    if owner and gateway is not None and getattr(gateway, "proc", None) is not None:
        # the JVM writes the archive at its exit, which may come after
        # this process's: from here on it owns the dump
        try:
            _write_owner(owner, gateway.proc.pid)
        except OSError as exc:
            _log.warning("class-data archive dump %s: cannot record its JVM: %s", owner, exc)
    return spark
