"""Hive-partitioned parquet layout: pruning + dynamic backfill.

Mirrors the reference's one-directory-per-run-day export layout
(``MIKE_rf_{date}.csv``, SURVEY S7/S11) and its skip/overwrite re-run
gate (``rf_linux:271``) at table granularity: a date filter must prune
the listing (PartitionFilters, not per-row-group PushedFilters), and a
one-day backfill must replace exactly that day.
"""

import os

import pyspark.sql.functions as F
import pytest

from curw_mike_data_handler_spark.sources.partitioned import (
    partition_filters_of,
    read_pruned,
    write_partitioned,
)
from curw_mike_data_handler_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def part_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("part") / "events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date",
        F.date_format("ts", "yyyy-MM-dd"),
    )
    write_partitioned(ev, path, partition_cols="event_date")
    return path


def test_layout_one_dir_per_day_one_file_each(spark, part_path):
    days = [
        d for d in os.listdir(part_path) if d.startswith("event_date=")
    ]
    assert len(days) >= 2
    for d in days:
        files = [
            f
            for f in os.listdir(os.path.join(part_path, d))
            if f.endswith(".parquet")
        ]
        # hash-repartition on the partition key → one task owns each
        # day → one file per directory, not one sliver per task
        assert len(files) == 1, (d, files)


def test_partition_filter_prunes_listing(spark, part_path):
    df = read_pruned(spark, part_path)
    days = sorted(r["event_date"] for r in df.select("event_date").distinct().collect())
    pick = days[0]
    q = df.filter(F.col("event_date") == pick)
    pf = partition_filters_of(q)
    assert "event_date" in pf, pf
    # the pruned scan must read ONLY that day's rows and the plan must
    # not carry the partition predicate as a data filter
    full = df.count()
    got = q.count()
    assert 0 < got < full
    pushed = _pushed_filters_of(q)
    assert "event_date" not in pushed, pushed


def _pushed_filters_of(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters:" in plan, plan
    return plan.split("PushedFilters:", 1)[1].split("]", 1)[0]


def test_partition_and_data_filters_compose(spark, part_path):
    df = read_pruned(spark, part_path)
    pick = df.select(F.min("event_date").alias("d")).first()["d"]
    q = df.filter(
        (F.col("event_date") == pick) & (F.col("event_type") == "click")
    )
    assert "event_date" in partition_filters_of(q)
    assert "event_type" in _pushed_filters_of(q)


def test_dynamic_overwrite_replaces_only_touched_day(spark, part_path):
    df = read_pruned(spark, part_path)
    days = sorted(r["event_date"] for r in df.select("event_date").distinct().collect())
    target, kept = days[0], days[1]
    before_kept = df.filter(F.col("event_date") == kept).count()

    patch = (
        df.filter(F.col("event_date") == target)
        .limit(5)
        .withColumn("value", F.lit(0.0))
    )
    write_partitioned(
        patch, part_path, partition_cols="event_date", dynamic=True
    )

    after = read_pruned(spark, part_path)
    assert after.filter(F.col("event_date") == target).count() == 5
    # the untouched day survives — static overwrite would have
    # truncated the whole table (the lost-history backfill accident)
    assert after.filter(F.col("event_date") == kept).count() == before_kept


def test_static_overwrite_truncates_whole_table(spark, sf_dir, tmp_path):
    """Document the failure mode dynamic=True exists to prevent."""
    path = str(tmp_path / "t")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date",
        F.date_format("ts", "yyyy-MM-dd"),
    )
    write_partitioned(ev, path, partition_cols="event_date")
    days = sorted(
        r["event_date"]
        for r in read_pruned(spark, path).select("event_date").distinct().collect()
    )
    patch = (
        read_pruned(spark, path)
        .filter(F.col("event_date") == days[0])
        .limit(1)
    )
    write_partitioned(patch, path, partition_cols="event_date")  # static
    left = sorted(
        r["event_date"]
        for r in read_pruned(spark, path).select("event_date").distinct().collect()
    )
    assert left == [days[0]]


# -- manifest-published bucketed tables (post-drain roadmap #4) -------


def _mk_batch(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id AS k", "id * 2 AS v")


def test_manifest_table_append_compact_and_zero_exchange_join(spark, tmp_path):
    """Appends accumulate snapshots, compaction auto-fires on the file
    bound and keeps every row and the bucket/sort spec, a batch missing
    the bucket columns is refused, and same-spec manifest tables still
    join with ZERO exchanges (the reason the layout exists)."""
    import contextlib
    import io

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 100), root, "facts",
        bucket_cols="k", num_buckets=4, sort_cols="k",
    )
    for i in range(1, 4):
        v = mb.append_manifest_table(
            spark, _mk_batch(spark, 100 * i, 100 * (i + 1)), root, "facts",
            compact_files_per_bucket=3,
        )
        m = mb.read_manifest(root, "facts")
        assert max(mb.files_per_bucket(m).values()) <= 3, (
            "file bound must hold after every published append"
        )
    # the 3rd append crossed the bound: compaction published a further
    # generation with exactly one file per bucket
    assert v == 4 and m.get("compacted_from") == 3
    assert len(m["files"]) == 4
    cur = mb.read_manifest_table(spark, root, "facts")
    assert cur.count() == 400
    assert {r["k"] for r in cur.collect()} == set(range(400))
    # the bucket and sort-within-bucket spec survived the compaction
    assert (m["bucket_cols"], m["num_buckets"], m["sort_cols"]) == (["k"], 4, ["k"])
    # a batch without the bucket column is refused loudly
    bad = spark.range(0, 10).selectExpr("id AS not_k", "id AS v")
    with pytest.raises(ValueError, match="bucket/sort columns"):
        mb.append_manifest_table(spark, bad, root, "facts")

    mb.create_manifest_table(
        spark, spark.range(0, 400).selectExpr("id AS k", "id * 3 AS w"),
        root, "dims", bucket_cols="k", num_buckets=4, sort_cols="k",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = cur.join(mb.read_manifest_table(spark, root, "dims"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        assert "Exchange hashpartitioning" not in buf.getvalue(), (
            "same-spec manifest tables must join without a shuffle"
        )
        assert j.count() == 400
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_manifest_table_snapshot_isolation_and_time_travel(spark, tmp_path):
    """A reader that resolved version k keeps a consistent snapshot
    through appends AND the compaction swap (its directory is
    immutable); time travel reads any retained version; hard links
    make the snapshot copies metadata-only."""
    import os

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 100), root, "facts",
        bucket_cols="k", num_buckets=4,
    )
    snap0 = mb.read_manifest_table(spark, root, "facts", version=0)
    mb.append_manifest_table(spark, _mk_batch(spark, 100, 200), root, "facts",
                             compact_files_per_bucket=1)  # forces compaction
    # the old reader still sees its snapshot after append + compaction
    assert snap0.count() == 100
    assert mb.read_manifest_table(spark, root, "facts").count() == 200
    # time travel: the pre-compaction append (v1) is readable
    assert mb.read_manifest_table(spark, root, "facts", version=1).count() == 200

    # hard-link economy: gen-1 shares inodes with gen-0's files
    g0 = os.path.join(root, "facts", "gen-00000")
    g1 = os.path.join(root, "facts", "gen-00001")
    shared = sum(
        1 for f in os.listdir(g0)
        if f.startswith("part-") and os.path.exists(os.path.join(g1, f))
        and os.stat(os.path.join(g0, f)).st_ino == os.stat(os.path.join(g1, f)).st_ino
    )
    assert shared == len([f for f in os.listdir(g0) if f.startswith("part-")])


def test_manifest_table_unpublished_generation_is_invisible(spark, tmp_path):
    """The atomicity contract: readers resolve files ONLY through the
    LATEST pointer, so a half-written next generation (data dir
    present, manifest/pointer not yet swapped) is invisible — unlike a
    DROP+RENAME table swap, there is no moment where the table is
    missing or mixed."""
    import os

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 50), root, "facts",
        bucket_cols="k", num_buckets=2,
    )
    # simulate a writer that crashed mid-append: gen dir + files exist,
    # nothing published
    gen1 = os.path.join(root, "facts", "gen-00001")
    os.makedirs(gen1)
    _mk_batch(spark, 50, 100).write.parquet(os.path.join(gen1, "torn"))
    assert mb.current_version(root, "facts") == 0
    assert mb.read_manifest_table(spark, root, "facts").count() == 50

    # crash recovery (review finding): a RETRY of the append must not
    # wedge on the leftover unpublished dir — it deletes the debris,
    # rebuilds generation 1, and publishes it
    v = mb.append_manifest_table(spark, _mk_batch(spark, 50, 100), root, "facts")
    assert v == 1
    assert mb.read_manifest_table(spark, root, "facts").count() == 100
    # but a PUBLISHED generation stays immutable: attempting to rebuild
    # it is an error, not a silent overwrite
    import pytest as _pytest

    with _pytest.raises(FileExistsError, match="immutable"):
        mb._write_generation(
            spark, _mk_batch(spark, 0, 10), root, "facts", 1,
            {k: mb.read_manifest(root, "facts")[k]
             for k in ("bucket_cols", "num_buckets", "sort_cols", "schema_ddl")},
        )


def test_manifest_table_expire_bounds_retention(spark, tmp_path):
    """expire keeps the newest K generations; expired versions raise a
    clear retention error instead of a torn read; LATEST always
    survives."""
    import pytest as _pytest

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 50), root, "facts",
        bucket_cols="k", num_buckets=2,
    )
    for i in range(1, 4):
        mb.append_manifest_table(
            spark, _mk_batch(spark, 50 * i, 50 * (i + 1)), root, "facts",
            compact_files_per_bucket=100,
        )
    expired = mb.expire_generations(spark, root, "facts", keep=2)
    assert expired == [0, 1]
    with _pytest.raises(FileNotFoundError, match="expired"):
        mb.read_manifest_table(spark, root, "facts", version=0)
    assert mb.read_manifest_table(spark, root, "facts", version=2).count() == 150
    assert mb.read_manifest_table(spark, root, "facts").count() == 200
    with _pytest.raises(ValueError):
        mb.expire_generations(spark, root, "facts", keep=0)


def test_manifest_table_append_is_idempotent_with_batch_id(spark, tmp_path):
    """The retry contract end to end: (a) re-appending the same
    batch_id is a no-op returning the published version — covering
    the post-publish compaction-crash window where a blind retry
    would duplicate the batch; (b) a crash BETWEEN the manifest write
    and the LATEST swap (manifest-v on disk, LATEST still v-1) must
    not wedge the retry (review finding: 'published' is defined by
    the pointer, not by manifest-file existence)."""
    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 50), root, "facts",
        bucket_cols="k", num_buckets=2,
    )
    v1 = mb.append_manifest_table(
        spark, _mk_batch(spark, 50, 100), root, "facts", batch_id="b-1"
    )
    assert mb.read_manifest_table(spark, root, "facts").count() == 100
    # duplicate delivery of the same commit: no-op, same version
    v1b = mb.append_manifest_table(
        spark, _mk_batch(spark, 50, 100), root, "facts", batch_id="b-1"
    )
    assert v1b == v1
    assert mb.read_manifest_table(spark, root, "facts").count() == 100

    # torn publish: manifest-2 written, LATEST never swapped
    import json
    import os

    m = dict(mb.read_manifest(root, "facts"))
    m["version"] = 2
    m["generation"] = "gen-00002"
    with open(os.path.join(root, "facts", "manifests", "manifest-2.json"), "w") as fh:
        json.dump(m, fh)
    os.makedirs(os.path.join(root, "facts", "gen-00002"))
    assert mb.current_version(root, "facts") == v1
    v2 = mb.append_manifest_table(
        spark, _mk_batch(spark, 100, 150), root, "facts", batch_id="b-2"
    )
    assert v2 == 2
    assert mb.read_manifest_table(spark, root, "facts").count() == 150


def test_manifest_table_rejects_hostile_table_name(spark, tmp_path):
    import pytest as _pytest

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    with _pytest.raises(ValueError, match="table name"):
        mb.create_manifest_table(
            spark, _mk_batch(spark, 0, 10), str(tmp_path), "probe-facts",
            bucket_cols="k", num_buckets=2,
        )


def test_manifest_file_stats_prune_correctly(spark, tmp_path):
    """Data-skipping stats: per-file sort-column min/max recorded at
    publish time prune whole files for range reads — never dropping a
    matching row (pruned read + filter ≡ full read + filter), actually
    skipping files on a sorted layout, inherited by hard-linked files
    across appends, and degrading to keep-everything when the sort
    column has no clean stats."""
    from pyspark.sql import functions as F

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    # bucket by k, sort by v: each bucket file is v-ordered, and v is
    # range-correlated with nothing — but row-group min/max still
    # bound each FILE's v span
    base = spark.range(10_000).selectExpr("id % 8 AS k", "id AS v")
    mb.create_manifest_table(
        spark, base, root, "facts", bucket_cols="k", num_buckets=4,
        sort_cols="v",
    )
    mb.append_manifest_table(
        spark,
        spark.range(10_000, 20_000).selectExpr("id % 8 AS k", "id AS v"),
        root, "facts", compact_files_per_bucket=100,
    )
    m = mb.read_manifest(root, "facts")
    assert m["file_stats"], "stats must be recorded"
    assert set(m["file_stats"]) == set(m["files"])

    # the second generation's linked files carry the SAME stats objects
    m0 = mb.read_manifest(root, "facts", version=0)
    for f in m0["files"]:
        assert m["file_stats"][f] == m0["file_stats"][f]

    # a range inside the first batch prunes the append's files
    kept = mb.pruned_files(m, lower=2_000, upper=3_000)
    assert len(kept) < len(m["files"])
    assert set(kept) <= set(m["files"])

    full = mb.read_manifest_table(spark, root, "facts")
    pruned = mb.read_manifest_table_pruned(
        spark, root, "facts", lower=2_000, upper=3_000
    )
    want = sorted(
        (r["k"], r["v"])
        for r in full.filter((F.col("v") >= 2_000) & (F.col("v") <= 3_000)).collect()
    )
    got = sorted(
        (r["k"], r["v"])
        for r in pruned.filter((F.col("v") >= 2_000) & (F.col("v") <= 3_000)).collect()
    )
    assert got == want and len(got) == 1_001

    # disjoint range → zero files, empty frame with the right schema
    none = mb.read_manifest_table_pruned(spark, root, "facts", lower=10**9)
    assert none.count() == 0
    assert none.schema == full.schema

    # unbounded prune keeps everything
    assert len(mb.pruned_files(m)) == len(m["files"])

    # a table with NO sort cols records no stats and never prunes
    mb.create_manifest_table(
        spark, base, root, "nosort", bucket_cols="k", num_buckets=2,
    )
    m2 = mb.read_manifest(root, "nosort")
    assert m2["file_stats"] == {}
    assert len(mb.pruned_files(m2, lower=0, upper=1)) == len(m2["files"])


def test_sorted_bucket_merge_join_elides_exchange_and_sort(spark):
    """Storage-partitioned merge reads: both sides bucketed AND sorted
    by the join key, one file per bucket, ordering opt-in enabled — a
    SortMergeJoin must plan with NEITHER an Exchange NOR a Sort (pure
    per-bucket merge of pre-sorted files).  With the opt-in off, the
    same join keeps its Sorts (the default Spark trade)."""
    import contextlib
    import io

    from curw_mike_data_handler_spark.sources.bucketed import (
        enable_sorted_scan_ordering,
        read_bucketed,
        write_bucketed,
    )

    def plan_of():
        j = read_bucketed(spark, "smj_a").hint("merge").join(
            read_bucketed(spark, "smj_b"), "k"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain()
        return j, buf.getvalue()

    def sort_nodes(plan):
        return sum(
            1 for line in plan.splitlines()
            if line.strip().lstrip(":+- ").startswith("Sort [")
        )

    a = spark.range(0, 20_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 20_000).selectExpr("id AS k", "id * 3 AS vb")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(a, "smj_a", bucket_cols="k", num_buckets=8, sort_cols="k")
        write_bucketed(b, "smj_b", bucket_cols="k", num_buckets=8, sort_cols="k")

        _, plan = plan_of()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert sort_nodes(plan) == 2, "default: scan claims no order, Sorts stay"

        enable_sorted_scan_ordering(spark)
        j, plan = plan_of()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert sort_nodes(plan) == 0, f"merge read must skip the sorts:\n{plan}"
        assert j.count() == 20_000
    finally:
        enable_sorted_scan_ordering(spark, on=False)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS smj_a")
        spark.sql("DROP TABLE IF EXISTS smj_b")


# ---------------------------------------------------------------------------
# Concurrent-writer serialization (r9 verdict #5)
# ---------------------------------------------------------------------------


def test_manifest_concurrent_appends_serialize_both_batches_land(spark, tmp_path):
    """Two interleaved appenders racing the same table: the claim CAS
    serializes them, the loser retries on top of the winner, BOTH
    batches land exactly once, and every published manifest's parent
    chain is a real snapshot (reader never sees a mixture)."""
    import threading

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    BATCH = 50
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, BATCH), root, "cc",
        bucket_cols="k", num_buckets=2,
    )
    errors: list = []

    def appender(writer: int, n_batches: int):
        try:
            for j in range(n_batches):
                lo = (1 + writer * 10 + j) * 1000
                mb.append_manifest_table(
                    spark, _mk_batch(spark, lo, lo + BATCH), root, "cc",
                    compact_files_per_bucket=100,
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(w, 3)) for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    final = mb.read_manifest(root, "cc")
    assert final["version"] == 6  # 1 create + 6 appends, no version lost
    # every batch's rows present exactly once
    rows = mb.read_manifest_table(spark, root, "cc")
    assert rows.count() == 7 * BATCH
    assert rows.select("k").distinct().count() == 7 * BATCH
    # the parent chain is a contiguous serialization
    for v in range(6, 0, -1):
        m = mb.read_manifest(root, "cc", version=v)
        assert m["parent"] == v - 1
    # every intermediate snapshot is a whole number of batches
    for v in range(7):
        n = mb.read_manifest_table(spark, root, "cc", version=v).count()
        assert n == (v + 1) * BATCH
    # all claims were released
    mdir = os.path.join(root, "cc", "manifests")
    assert not [f for f in os.listdir(mdir) if f.startswith("claim-")]


def test_manifest_live_claim_blocks_and_dead_claim_is_taken_over(
    spark, tmp_path, monkeypatch
):
    """A claim held by a LIVE process blocks (ConcurrentWriteError once
    retries are exhausted); a claim whose owner pid is dead is crashed-
    writer debris and is taken over transparently."""
    import subprocess
    import sys

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    monkeypatch.setattr(mb, "_RETRY_WAIT_S", 0.05)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 20), root, "cl",
        bucket_cols="k", num_buckets=2,
    )
    claim = mb._claim_path(root, "cl", 1)
    os.makedirs(os.path.dirname(claim), exist_ok=True)

    # live claim (our own pid stands in for another live writer/thread)
    with open(claim, "w") as fh:
        fh.write(str(os.getpid()))
    with monkeypatch.context() as mp, pytest.raises(mb.ConcurrentWriteError):
        mp.setattr(mb, "_MAX_RETRIES", 1)
        mb.append_manifest_table(
            spark, _mk_batch(spark, 100, 120), root, "cl",
        )
    assert mb.current_version(root, "cl") == 0  # nothing half-published

    # dead claim: a real pid that no longer exists
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    with open(claim, "w") as fh:
        fh.write(str(proc.pid))
    v = mb.append_manifest_table(
        spark, _mk_batch(spark, 100, 120), root, "cl"
    )
    assert v == 1
    assert mb.read_manifest_table(spark, root, "cl").count() == 40


def test_claim_owner_liveness_detects_recycled_pid():
    """Advisor regression: os.kill(pid, 0) alone judges a RECYCLED pid
    live forever, permanently blocking writers on a crashed writer's
    claim.  Claims now record the kernel starttime beside the pid; a
    live pid whose starttime doesn't match the recorded one is a
    different process — the original writer is dead."""
    import subprocess
    import sys
    import time

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    proc = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        # starttime can lag /proc registration by a tick on a loaded box
        start = None
        for _ in range(20):
            start = mb._proc_start_time(proc.pid)
            if start is not None:
                break
            time.sleep(0.05)
        assert start is not None, "/proc/<pid>/stat unreadable on this host"
        # live process, matching starttime: LIVE
        assert mb._claim_owner_alive(f"{proc.pid} {start}")
        # same pid, DIFFERENT starttime = recycled pid: the recorded
        # writer is dead even though a process with that pid exists
        assert not mb._claim_owner_alive(f"{proc.pid} {start + 12345}")
        # bare-pid legacy format degrades to the pid-exists check
        assert mb._claim_owner_alive(str(proc.pid))
    finally:
        proc.kill()
        proc.wait()
    # after exit: dead in every format
    assert not mb._claim_owner_alive(str(proc.pid))
    assert not mb._claim_owner_alive(f"{proc.pid} 1")
    # unattributable content is conservatively LIVE (never steal)
    assert mb._claim_owner_alive("")
    assert mb._claim_owner_alive("garbage")


def test_claim_owner_zombie_is_dead():
    """An exited child that its parent has not reaped yet is a zombie:
    it passes os.kill(pid, 0) and keeps its starttime, but it will
    never write again, so its claim must read as dead (in both claim
    formats)."""
    import subprocess
    import sys
    import time

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    try:
        # Popen reaps only on poll()/wait(), so the exited child stays
        # a zombie until the finally clause
        fields = None
        for _ in range(200):
            fields = mb._proc_stat(proc.pid)
            if fields is not None and fields[0] == b"Z":
                break
            time.sleep(0.05)
        assert fields is not None and fields[0] == b"Z", fields
        start = mb._proc_start_time(proc.pid)
        assert start is not None
        assert not mb._claim_owner_alive(f"{proc.pid} {start}")
        assert not mb._claim_owner_alive(str(proc.pid))
    finally:
        proc.wait()


def test_claim_wait_returns_on_competitor_publish(spark, tmp_path):
    """Advisor regression: the old fixed 20 × 0.5 s retry budget failed
    writers behind a LEGITIMATELY slow competitor.  The wait is now
    progress-based: it returns as soon as the competing claim clears or
    the version advances — well before its (much larger) time budget —
    so a loser's total wait tracks the competitor's actual write time."""
    import threading
    import time

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 20), root, "cw",
        bucket_cols="k", num_buckets=2,
    )
    # a foreign live claim on generation 1 (our own pid is special-
    # cased as live, so borrow a real other process: pid 1 is init —
    # always alive, never ours)
    claim = mb._claim_path(root, "cw", 1)
    with open(claim, "w") as fh:
        fh.write("1")

    def release_later():
        time.sleep(0.4)
        os.unlink(claim)

    t = threading.Thread(target=release_later)
    t.start()
    t0 = time.monotonic()
    # attempt 6 at base 0.5 s = a 30 s-class wait budget; the early
    # exit must return within ~the release latency, not the budget
    mb._claim_wait(root, "cw", 1, attempt=6, base_wait_s=0.5)
    waited = time.monotonic() - t0
    t.join()
    assert waited < 5.0, f"claim_wait ignored the release ({waited:.1f}s)"

    # and a published version also ends the wait: claim present and
    # live, but LATEST already reached the contested version
    with open(claim, "w") as fh:
        fh.write("1")
    try:
        latest = mb._latest_path(root, "cw")
        with open(latest, "w") as fh:
            fh.write("1")
        t0 = time.monotonic()
        mb._claim_wait(root, "cw", 1, attempt=6, base_wait_s=0.5)
        assert time.monotonic() - t0 < 1.0
    finally:
        os.unlink(claim)
        with open(latest, "w") as fh:
            fh.write("0")


def test_manifest_expire_keeps_pinned_reader_window_resolvable(spark, tmp_path):
    """expire(keep=k) must never remove a generation inside the keep
    window: a reader pinned to any retained version still resolves and
    reads the exact snapshot (hard links keep shared inodes alive even
    though older generation DIRECTORIES are gone), while expired
    versions fail with the retention hint."""
    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _mk_batch(spark, 0, 30), root, "ex",
        bucket_cols="k", num_buckets=2,
    )
    for i in range(1, 4):
        mb.append_manifest_table(
            spark, _mk_batch(spark, 30 * i, 30 * (i + 1)), root, "ex",
            compact_files_per_bucket=100,
        )
    expired = mb.expire_generations(spark, root, "ex", keep=2)
    assert expired == [0, 1]
    # pinned readers inside the keep window: exact snapshots survive
    assert mb.read_manifest_table(spark, root, "ex", version=2).count() == 90
    assert mb.read_manifest_table(spark, root, "ex", version=3).count() == 120
    # outside the window: the retention contract, not a torn read
    with pytest.raises(FileNotFoundError, match="expired"):
        mb.read_manifest(root, "ex", version=1)
    # claims directory hygiene: expire left no claim debris behind
    mdir = os.path.join(root, "ex", "manifests")
    assert not [f for f in os.listdir(mdir) if f.startswith("claim-")]


def test_claim_own_pid_recycled_is_dead():
    """Advisor regression (r12): a crashed writer's claim whose pid was
    recycled as THIS process's own pid must not read as another live
    thread of this process forever — the recorded starttime
    disambiguates before the own-pid shortcut."""
    import os

    from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

    pid = os.getpid()
    start = mb._proc_start_time(pid)
    assert start is not None, "/proc/<pid>/stat unreadable on this host"
    # really us (another thread of this process): LIVE
    assert mb._claim_owner_alive(f"{pid} {start}")
    # legacy bare-pid content: degrades to pid-exists = LIVE
    assert mb._claim_owner_alive(str(pid))
    # our pid number, a DIFFERENT starttime: the recorded writer is a
    # dead process whose pid we inherited — dead, claim recoverable
    assert not mb._claim_owner_alive(f"{pid} {start - 7}")
