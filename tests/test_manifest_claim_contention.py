"""The contended path of every retrying manifest writer.

Each writer commits through the one claim-and-retry routine
(``manifest_bucketed._claim_next``).  For every writer:

* a LIVE claim on the generation it wants (the table's head+1, or the
  txn catalog's for the transactional writers) blocks it — once the
  retry budget is spent it raises ConcurrentWriteError, publishes
  nothing, and leaves the competitor's claim untouched;
* a DEAD owner's claim is crashed-writer debris: it is taken over and
  the write lands exactly once.
"""

from __future__ import annotations

import os

import pytest

from curw_mike_data_handler_spark.sources import manifest_bucketed as mb

SCHEMA = "k long, v long, ts long"
N = 20


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rows(spark, root):
    return {(r["k"], r["v"]) for r in
            mb.read_manifest_table(spark, root, "t").collect()}


BASE = {(k, k) for k in range(N)}
# writer -> (call, claims the txn catalog?, rows after exactly one
# landing, extra check of the landed state or None)
WRITERS = {
    "append": (
        lambda s, r: mb.append_manifest_table(
            s, _df(s, [(k, k, k) for k in range(100, 105)]), r, "t"),
        False, BASE | {(k, k) for k in range(100, 105)}, None,
    ),
    "merge": (
        lambda s, r: mb.merge_manifest_table(
            s, _df(s, [(0, -1, 0), (100, 100, 100)]), r, "t", key_cols="k"),
        False, (BASE - {(0, 0)}) | {(0, -1), (100, 100)}, None,
    ),
    "delete": (
        lambda s, r: mb.delete_manifest_rows(
            s, s.createDataFrame([(0,), (1,)], "k long"), r, "t",
            key_cols="k"),
        False, BASE - {(0, 0), (1, 1)}, None,
    ),
    "delete_range": (
        lambda s, r: mb.delete_manifest_range(s, r, "t", lower=0, upper=1),
        False, BASE - {(0, 0), (1, 1)}, None,
    ),
    "delete_mor": (
        lambda s, r: mb.delete_manifest_rows_mor(
            s, s.createDataFrame([(0,), (1,)], "k long"), r, "t",
            key_cols="k"),
        False, BASE - {(0, 0), (1, 1)}, None,
    ),
    "merge_mor": (
        lambda s, r: mb.merge_manifest_table_mor(
            s, _df(s, [(0, -1, 0), (100, 100, 100)]), r, "t", key_cols="k"),
        False, (BASE - {(0, 0)}) | {(0, -1), (100, 100)}, None,
    ),
    "rebucket": (
        lambda s, r: mb.rebucket_manifest_table(s, r, "t", num_buckets=4),
        False, BASE,
        lambda r: mb.read_manifest(r, "t")["num_buckets"] == 4,
    ),
    "commit_multi_table": (
        lambda s, r: mb.commit_multi_table(
            s, r, {"t": _df(s, [(100, 100, 100)])}),
        True, BASE | {(100, 100)},
        lambda r: mb.read_txn_catalog(r)["tables"] == {"t": 1},
    ),
    "pin_tables_txn": (
        lambda s, r: mb.pin_tables_txn(r, ["t"]),
        True, BASE,
        lambda r: mb.read_txn_catalog(r)["tables"] == {"t": 0},
    ),
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writer_blocks_on_live_claim_and_takes_over_dead_one(
    spark, tmp_path, monkeypatch, writer
):
    call, txn, expect_rows, check = WRITERS[writer]
    root = str(tmp_path)
    mb.create_manifest_table(
        spark, _df(spark, [(k, k, k) for k in range(N)]), root, "t",
        bucket_cols="k", num_buckets=2, sort_cols="ts",
    )
    try:
        claim = mb._claim_path(root, "_txn", 0) if txn else mb._claim_path(
            root, "t", 1)
        os.makedirs(os.path.dirname(claim), exist_ok=True)

        # live: our own pid + starttime stands in for a running writer
        live = f"{os.getpid()} {mb._proc_start_time(os.getpid())}"
        with open(claim, "w") as fh:
            fh.write(live)
        with monkeypatch.context() as mp:
            mp.setattr(mb, "_MAX_RETRIES", 1)
            mp.setattr(mb, "_RETRY_WAIT_S", 0.01)
            with pytest.raises(mb.ConcurrentWriteError):
                call(spark, root)
        assert mb.current_version(root, "t") == 0  # nothing published
        assert mb.read_txn_catalog(root)["version"] == -1
        assert _rows(spark, root) == BASE
        with open(claim) as fh:
            assert fh.read() == live  # the competitor's claim untouched

        # dead: a pid that cannot exist — crashed-writer debris
        with open(claim, "w") as fh:
            fh.write("999999999 1")
        call(spark, root)
        assert not os.path.exists(claim)
        assert mb.current_version(root, "t") == (0 if writer == "pin_tables_txn"
                                                 else 1)
        assert mb.read_txn_catalog(root)["version"] == (0 if txn else -1)
        # exactly once: a second landing would add or drop more rows
        assert _rows(spark, root) == expect_rows
        assert mb.read_manifest_table(spark, root, "t").count() == len(
            expect_rows)
        if check is not None:
            assert check(root)
    finally:
        mb.drop_catalog_entries(spark, root, "t")
