"""Focused tests for the round-12 replay-harness internals.

The optimization round changed two things inside the bounded-replay
machinery (``streaming/replay.py``):

* ``ephemeral_checkpoint_conf`` — a context manager that applies the
  ephemeral-checkpoint I/O profile (FileSystemBased checkpoint file
  manager + checksum sidecars off) around gate/bench replays whose
  checkpoint is a throwaway tempdir, restoring prior session values.
* ``rematerialize_local`` (now in ``sources/local.py``) — Arrow-based
  copy of the bounded memory sink into a standalone local DataFrame
  (replacing the row-pickle ``createDataFrame(sink.collect(), schema)``
  path).

These tests pin the conf save/restore semantics, the env kill-switch,
and value/schema identity of the Arrow re-materialization including
NULLs, timestamps, and the row-path fallback.
"""

import datetime

from pyspark.sql import types as T

from curw_mike_data_handler_spark.sources.local import rematerialize_local
from curw_mike_data_handler_spark.streaming import replay as rp


_CKPT_MGR_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_CKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


def test_ephemeral_conf_sets_and_restores_unset(spark):
    # Precondition: neither key set in the session (unset → restore to unset).
    for k in (_CKPT_MGR_KEY, _CKSUM_KEY):
        spark.conf.unset(k)
    with rp.ephemeral_checkpoint_conf(spark):
        assert "FileSystemBasedCheckpointFileManager" in spark.conf.get(_CKPT_MGR_KEY)
        assert spark.conf.get(_CKSUM_KEY) == "false"
    # Restored: manager key unset again, checksum back to its default.
    assert spark.conf.get(_CKPT_MGR_KEY, None) is None


def test_ephemeral_conf_restores_previous_values(spark):
    spark.conf.set(_CKSUM_KEY, "true")
    try:
        with rp.ephemeral_checkpoint_conf(spark):
            assert spark.conf.get(_CKSUM_KEY) == "false"
        assert spark.conf.get(_CKSUM_KEY) == "true"
    finally:
        spark.conf.unset(_CKSUM_KEY)


def test_ephemeral_conf_restores_on_exception(spark):
    try:
        with rp.ephemeral_checkpoint_conf(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(_CKPT_MGR_KEY, None) is None


def test_ephemeral_conf_env_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_EPHEMERAL_CKPT_TUNING", "0")
    with rp.ephemeral_checkpoint_conf(spark):
        assert spark.conf.get(_CKPT_MGR_KEY, None) is None


def _sink_df(spark):
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DoubleType()),
    ])
    rows = [
        (1, "a", datetime.datetime(2024, 1, 1, 0, 0, 0), 1.5),
        (2, None, datetime.datetime(2024, 1, 2, 3, 4, 5), None),
        (None, "c", None, -0.0),
    ]
    return spark.createDataFrame(rows, schema)


def test_rematerialize_matches_row_path(spark):
    sink = _sink_df(spark)
    out = rematerialize_local(spark, sink)
    assert out.schema == sink.schema
    assert sorted(map(repr, out.collect())) == sorted(map(repr, sink.collect()))


def test_rematerialize_falls_back_to_row_path(spark, monkeypatch):
    sink = _sink_df(spark)

    def boom(*a, **k):
        raise RuntimeError("no arrow")

    monkeypatch.setattr(type(sink), "toArrow", boom, raising=True)
    out = rematerialize_local(spark, sink)
    assert out.schema == sink.schema
    assert sorted(map(repr, out.collect())) == sorted(map(repr, sink.collect()))


def test_token_bucket_fold_carries_state_across_arrow_batches(spark):
    """r12: token_bucket_throttle moved from per-group applyInPandas
    to one mapInArrow fold over (key, t, ord)-sorted partitions.
    Force tiny Arrow batches so key runs SPAN batch boundaries and
    assert the fold's cross-batch state carry reproduces the per-key
    simulation exactly."""
    import datetime

    from curw_mike_data_handler_spark.operators.ratelimit import (
        token_bucket_throttle,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        base = datetime.datetime(2024, 1, 1)
        rows = [
            (uid, base + datetime.timedelta(seconds=30 * i), i, 40)
            for uid in (1, 2, 3)
            for i in range(11)  # 11 events per key: runs cross batches of 3
        ]
        ev = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, cost long"
        )
        got = {
            r.user_id: r
            for r in token_bucket_throttle(
                ev, capacity_cents=100, rate_cents_per_ks=1000
            ).collect()
        }
        # independent per-key simulation
        for uid in (1, 2, 3):
            lvl, prev_us, adm = 100, None, 0
            for i in range(11):
                t_us = int(
                    (base + datetime.timedelta(seconds=30 * i)).timestamp()
                    * 1_000_000
                )
                if prev_us is not None:
                    lvl = min(100, lvl + (t_us - prev_us) * 1000 // 1_000_000_000)
                prev_us = t_us
                if lvl >= 40:
                    lvl -= 40
                    adm += 1
            r = got[uid]
            assert (r.n_events, r.n_admitted, r.final_level_cents) == (11, adm, lvl)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_token_bucket_null_and_wide_keys_exact(spark):
    """Review finding (r12): a pandas-based fold would turn an int64
    key column containing any null into float64 — splitting the null
    group into one run per row (NaN != NaN) and rounding keys >= 2^53.
    The mapInArrow fold must keep (a) ALL null keys as ONE group
    (grouped-aggregation semantics of the old groupBy path) and
    (b) huge int64 keys exact even when they share a batch with
    nulls."""
    import datetime

    from pyspark.sql import types as T

    from curw_mike_data_handler_spark.operators.ratelimit import (
        token_bucket_throttle,
    )

    base = datetime.datetime(2024, 1, 1)
    big_a = (1 << 53) + 1  # adjacent doubles collapse these two
    big_b = (1 << 53) + 2
    rows = []
    eid = 0
    for key in (None, big_a, None, big_b, None):
        for i in range(3):
            rows.append((key, base + datetime.timedelta(seconds=60 * eid), eid, 40))
            eid += 1
    schema = T.StructType([
        T.StructField("user_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("cost", T.LongType(), False),
    ])
    ev = spark.createDataFrame(rows, schema)
    got = {
        r.user_id: r
        for r in token_bucket_throttle(
            ev, capacity_cents=100, rate_cents_per_ks=0
        ).collect()
    }
    # exactly three groups: the null group and the two exact big keys
    assert set(got) == {None, big_a, big_b}
    # 9 null-key events fold as ONE bucket: 100 capacity, cost 40,
    # rate 0 -> admit 2, throttle 7
    assert got[None].n_events == 9
    assert got[None].n_admitted == 2
    assert got[None].n_throttled == 7
    assert got[None].final_level_cents == 20
    for k in (big_a, big_b):
        assert got[k].n_events == 3
        assert got[k].n_admitted == 2


def test_token_bucket_plan_one_exchange_map_in_arrow(spark, sf_dir):
    """Plan guard: the sequential fold stays ONE hash(key) exchange
    feeding a JVM sort and a MapInArrow node (no per-group
    FlatMapGroups node, no second exchange)."""
    import io
    import contextlib

    from curw_mike_data_handler_spark import catalog

    df = catalog.QUERIES["token_bucket_throttle"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree_exchanges = [
        line for line in plan.splitlines()
        if "- Exchange" in line  # tree nodes only, not the detail block
    ]
    assert len(tree_exchanges) == 1, plan
    assert "hashpartitioning(_key" in plan, plan
    assert "MapInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan


def test_token_bucket_nan_keys_fold_as_one_group(spark):
    """Review finding (r12, second pass): for a float-typed key
    column, groupBy normalizes NaN = NaN into ONE group and the JVM
    sort clusters NaNs — the Arrow fold's run detection must not
    split them (plain k != cur_key is always True for NaN)."""
    import datetime
    import math

    from pyspark.sql import types as T

    from curw_mike_data_handler_spark.operators.ratelimit import (
        token_bucket_throttle,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for key in (float("nan"), 1.5, float("nan"), None):
        for _ in range(3):
            rows.append((key, base + datetime.timedelta(seconds=60 * eid), eid, 40))
            eid += 1
    schema = T.StructType([
        T.StructField("user_id", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("cost", T.LongType(), False),
    ])
    ev = spark.createDataFrame(rows, schema)
    out = token_bucket_throttle(
        ev, capacity_cents=100, rate_cents_per_ks=0
    ).collect()
    by_kind = {"nan": None, "null": None, "plain": None}
    for r in out:
        if r.user_id is None:
            kind = "null"
        elif math.isnan(r.user_id):
            kind = "nan"
        else:
            kind = "plain"
        assert by_kind[kind] is None, f"duplicate {kind} group: {out}"
        by_kind[kind] = r
    # 6 NaN events fold as ONE bucket (cap 100, cost 40, rate 0)
    assert by_kind["nan"].n_events == 6
    assert by_kind["nan"].n_admitted == 2
    assert by_kind["null"].n_events == 3
    assert by_kind["plain"].n_events == 3


def test_feed_scaled_partitions_floor_and_ceiling(spark, tmp_path):
    """r12: the replay harness derives its state-partition count from
    the FEED SIZE — floor 2 for KB-scale gate feeds, one partition per
    ~4 MiB, capped at the session's configured shuffle partitions so
    corpus-scale feeds keep full parallelism."""
    src = tmp_path / "src"
    src.mkdir()
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def with_file(n_bytes):
        # sparse file: st_size is what the formula reads, no real I/O
        import os

        p = src / "part-00000"
        p.touch()
        os.truncate(p, n_bytes)
        return rp._feed_scaled_partitions(spark, str(src))

    assert with_file(10_000) == 2                      # KB feed -> floor
    assert with_file(9 * (4 << 20)) == min(session_parts, 10)
    assert with_file(10_000 * (4 << 20)) == session_parts  # saturates
    # unreadable dir -> session setting (never fail the replay)
    assert rp._feed_scaled_partitions(spark, str(tmp_path / "nope")) == session_parts
