"""Incremental mirror over the change feed (round 11): a downstream
keyed table maintained from per-commit diffs alone — net last change
per key, one MERGE + one DELETE per sync, exactly-once and
self-healing under crash replay.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

SCHEMA = "k long, v long, ts_k long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _content(spark, root, table):
    rows = mb.read_manifest_table(spark, root, table).collect()
    return Counter((r["k"], r["v"], r["ts_k"]) for r in rows)


def test_mirror_tracks_source_through_every_write_op(spark, tmp_path):
    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _df(spark, [(k, k, k) for k in range(200)]), root, "src",
        bucket_cols="k", num_buckets=4, sort_cols="ts_k",
    )
    try:
        v0 = mb.create_manifest_mirror(spark, root, "src", "dst")
        assert v0 == 0
        assert _content(spark, root, "dst") == _content(spark, root, "src")
        # already current: no-op
        assert mb.sync_manifest_mirror(spark, root, "dst",
                                       key_cols="k") is None

        # one window spanning every write class
        mb.append_manifest_table(
            spark, _df(spark, [(k, k, k) for k in range(200, 240)]),
            root, "src", compact_files_per_bucket=100,
        )
        mb.merge_manifest_table(
            spark, _df(spark, [(k, -k - 1, k) for k in range(10)]),
            root, "src", key_cols="k",
        )
        mb.delete_manifest_rows(
            spark, spark.createDataFrame([(50,), (51,)], "k long"),
            root, "src", key_cols="k",
        )
        mb.delete_manifest_rows_mor(
            spark, spark.createDataFrame([(60,)], "k long"),
            root, "src", key_cols="k",
        )
        synced = mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        assert synced == mb.current_version(root, "src")
        assert _content(spark, root, "dst") == _content(spark, root, "src")
        # a key updated then deleted inside ONE window ends deleted;
        # deleted then re-inserted ends present
        mb.merge_manifest_table(
            spark, _df(spark, [(70, 1, 70)]), root, "src", key_cols="k",
        )
        mb.delete_manifest_rows(
            spark, spark.createDataFrame([(70,)], "k long"), root, "src",
            key_cols="k",
        )
        mb.delete_manifest_rows(
            spark, spark.createDataFrame([(80,)], "k long"), root, "src",
            key_cols="k",
        )
        mb.merge_manifest_table(
            spark, _df(spark, [(80, 808, 80)]), root, "src", key_cols="k",
        )
        mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        got = _content(spark, root, "dst")
        assert got == _content(spark, root, "src")
        assert not any(k == 70 for k, _, _ in got)
        assert (80, 808, 80) in got
        # the mirror's own chain is MERGE/DELETE commits (incremental),
        # never a full rewrite of the create generation
        ops = []
        v = mb.current_version(root, "dst")
        while v > 0:
            m = mb.read_manifest(root, "dst", version=v)
            ops.append(m.get("op"))
            v = m["parent"]
        assert set(ops) <= {"merge", "delete"}
        # and each sync rewrote only the touched buckets
        m = mb.read_manifest(root, "dst")
        assert m["linked_files"] > 0
    finally:
        mb.drop_catalog_entries(spark, root, "src")
        mb.drop_catalog_entries(spark, root, "dst")


def test_mirror_crash_replay_is_exactly_once_and_self_healing(
    spark, tmp_path, monkeypatch
):
    """Crash between the dst writes and the state-file advance: the
    replay re-reads a GROWN window (src moved on meanwhile) and must
    still converge — batch_ids dedupe the already-applied commits and
    the declarative net-apply makes the superset window idempotent."""
    import json
    import os

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _df(spark, [(k, k, k) for k in range(100)]), root, "src",
        bucket_cols="k", num_buckets=2, sort_cols="ts_k",
    )
    try:
        mb.create_manifest_mirror(spark, root, "src", "dst")
        mb.merge_manifest_table(
            spark, _df(spark, [(5, 500, 5)]), root, "src", key_cols="k",
        )
        orig = mb._durable_write

        def crash_on_state(path, text):
            if path.endswith("MIRROR"):
                raise RuntimeError("dies before state advance")
            orig(path, text)

        monkeypatch.setattr(mb, "_durable_write", crash_on_state)
        with pytest.raises(RuntimeError, match="state advance"):
            mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        monkeypatch.setattr(mb, "_durable_write", orig)
        # dst already carries the merge; state still points at v0
        assert mb.read_mirror_state(root, "dst")["synced_version"] == 0
        # src moves on before the replay
        mb.delete_manifest_rows(
            spark, spark.createDataFrame([(7,)], "k long"), root, "src",
            key_cols="k",
        )
        synced = mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        assert synced == mb.current_version(root, "src")
        got = _content(spark, root, "dst")
        assert got == _content(spark, root, "src")
        assert got[(5, 500, 5)] == 1  # applied exactly once
        assert not any(k == 7 for k, _, _ in got)
        # replay again: clean no-op
        assert mb.sync_manifest_mirror(spark, root, "dst",
                                       key_cols="k") is None
    finally:
        mb.drop_catalog_entries(spark, root, "src")
        mb.drop_catalog_entries(spark, root, "dst")


def test_mirror_of_shredded_source(spark, tmp_path):
    root = str(tmp_path)
    rows = spark.range(0, 60).select(
        F.col("k").alias("k") if False else F.col("id").alias("k"),
        F.to_json(F.struct((F.col("id") * 3).alias("x"))).alias("payload"),
    )
    mb.create_manifest_table(
        spark, rows, root, "src", bucket_cols="k", num_buckets=2,
        shred={"column": "payload", "fields": {"x": "bigint"}},
    )
    try:
        mb.create_manifest_mirror(spark, root, "src", "dst")
        upd = spark.range(0, 5).select(
            F.col("id").alias("k"),
            F.to_json(F.struct((F.col("id") + 1000).alias("x")))
            .alias("payload"),
        )
        mb.merge_manifest_table(spark, upd, root, "src", key_cols="k")
        mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        r = mb.read_manifest_table_shredded(
            spark, root, "dst", {"x": "bigint"}, base_cols="k"
        )
        got = {row["k"]: row["x"] for row in r.collect()}
        want = {k: k * 3 for k in range(60)} | {k: k + 1000 for k in range(5)}
        assert got == want
    finally:
        mb.drop_catalog_entries(spark, root, "src")
        mb.drop_catalog_entries(spark, root, "dst")


def test_mirror_create_is_crash_safe_and_pinned(spark, tmp_path, monkeypatch):
    """Crash mid-initialization: the MIRROR state pins the source
    version FIRST, so the retry copies the same snapshot even after
    the source moved on — and a completed create is a replay no-op."""
    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _df(spark, [(k, k, k) for k in range(50)]), root, "src",
        bucket_cols="k", num_buckets=2, sort_cols="ts_k",
    )
    try:
        orig = mb.create_manifest_table

        def crash(*a, **kw):
            raise RuntimeError("dies mid-copy")

        monkeypatch.setattr(mb, "create_manifest_table", crash)
        with pytest.raises(RuntimeError, match="mid-copy"):
            mb.create_manifest_mirror(spark, root, "src", "dst")
        monkeypatch.setattr(mb, "create_manifest_table", orig)
        # the source moves on before the retry
        mb.append_manifest_table(
            spark, _df(spark, [(100, 100, 100)]), root, "src",
            compact_files_per_bucket=100,
        )
        v = mb.create_manifest_mirror(spark, root, "src", "dst")
        assert v == 0  # pinned at the PRE-crash snapshot
        assert mb.read_manifest_table(spark, root, "dst").count() == 50
        # the sync then brings the appended row in through the feed
        mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        assert _content(spark, root, "dst") == _content(spark, root, "src")
        # completed create: replay is a no-op returning the CURRENT
        # synced version (the sync above advanced it to 1)
        assert mb.create_manifest_mirror(spark, root, "src", "dst") == 1
        assert mb.read_mirror_state(root, "dst")["synced_version"] == 1
        with pytest.raises(ValueError, match="already mirrors"):
            mb.create_manifest_mirror(spark, root, "other", "dst")
    finally:
        mb.drop_catalog_entries(spark, root, "src")
        mb.drop_catalog_entries(spark, root, "dst")


def test_sync_serializes_on_mirror_claim(spark, tmp_path, monkeypatch):
    """Advisor regression (r11 medium): concurrent syncs of the same
    mirror must serialize — a live competitor's claim blocks (and
    raises once retries exhaust); a crashed sync's claim is taken
    over and the replayed window converges via the batch_id chain."""
    import os

    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _df(spark, [(k, k, k) for k in range(40)]), root, "src",
        bucket_cols="k", num_buckets=2, sort_cols="ts_k",
    )
    try:
        mb.create_manifest_mirror(spark, root, "src", "dst")
        mb.append_manifest_table(
            spark, _df(spark, [(100, 100, 100)]), root, "src",
            compact_files_per_bucket=100,
        )
        claim = mb._mirror_state_path(root, "dst") + ".claim"
        # a LIVE competitor (our own pid + starttime stands in)
        start = mb._proc_start_time(os.getpid())
        with open(claim, "w") as fh:
            fh.write(f"{os.getpid()} {start}")
        with monkeypatch.context() as mp, pytest.raises(
            mb.ConcurrentWriteError, match="mirror"
        ):
            mp.setattr(mb, "_MAX_RETRIES", 1)
            mp.setattr(mb, "_RETRY_WAIT_S", 0.01)
            mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        # a DEAD competitor (real pid, long exited): taken over, the
        # sync completes and converges
        with open(claim, "w") as fh:
            fh.write("999999999 1")
        assert mb.sync_manifest_mirror(
            spark, root, "dst", key_cols="k"
        ) == mb.current_version(root, "src")
        assert _content(spark, root, "dst") == _content(spark, root, "src")
        # claim released after the sync
        assert not os.path.exists(claim)
    finally:
        mb.drop_catalog_entries(spark, root, "src")
        mb.drop_catalog_entries(spark, root, "dst")


def test_mirror_forwards_point_filters(spark, tmp_path):
    """Advisor regression (r11 low): a mirror of a point-filtered
    source must keep the Bloom point-read capability — the spec is
    forwarded at create and synced generations keep recording
    filters."""
    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _df(spark, [(k, k, k) for k in range(60)]), root, "src",
        bucket_cols="k", num_buckets=2, sort_cols="ts_k",
        point_filter_cols="v",
    )
    try:
        mb.create_manifest_mirror(spark, root, "src", "dst")
        m0 = mb.read_manifest(root, "dst")
        assert (m0.get("point_filters") or {}).get("cols") == ["v"]
        assert m0.get("point_filter_stats"), "no Bloom stats recorded"
        mb.append_manifest_table(
            spark, _df(spark, [(200, 200, 200)]), root, "src",
            compact_files_per_bucket=100,
        )
        mb.sync_manifest_mirror(spark, root, "dst", key_cols="k")
        m1 = mb.read_manifest(root, "dst")
        assert (m1.get("point_filters") or {}).get("cols") == ["v"]
        # the point read prunes AND answers correctly on the mirror
        got = (
            mb.read_manifest_table_point(spark, root, "dst", "v", 200)
            .filter(F.col("v") == 200)
            .collect()
        )
        assert [(r["k"], r["v"]) for r in got] == [(200, 200)]
        # and the Bloom stats actually prune files on the mirror
        assert len(mb.point_pruned_files(m1, "v", 200)) < len(m1["files"])
    finally:
        mb.drop_catalog_entries(spark, root, "src")
        mb.drop_catalog_entries(spark, root, "dst")
