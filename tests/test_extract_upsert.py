"""Extraction + upsert tests (SURVEY §5 strategy 4): deterministic IDs,
fgt versioning, idempotence (re-apply ⇒ fixpoint), latest-fgt reads,
skip reporting.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.plans.extract import (
    ExtractConfig,
    attach_series_ids,
    match_stations,
    melt_result_matrix,
    station_series,
    upsert_forecast,
)
from curw_mike_data_handler_spark.schemas import FCST_DATA, FCST_RUN
from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable, latest_fgt_view

# Series ids of the ``station_dim`` fixture under the default
# ExtractConfig, as the warehouse has always keyed them: sha256 of
# "hourly_run|MIKE11|2016|WaterLevel|m|Instantaneous|1|1|1|<lat %.6f>|
# <lon %.6f>|<station_id>".  They are warehouse keys: a change here
# orphans every stored forecast series.
GOLDEN_TMS_IDS = {
    "stnA": "a8e7c1dc3ae19925d63c6d329463625e2393bafff4d9e6a3f174b354ff4993d6",
    "stnB": "e445a9751fefe1c77a4dd9504417338f44843e096359101fb9b37c74814a2444",
}


def _series_ids(wide, station_dim, cfg):
    """(melted rows with tms_id, skipped station names) as the extract
    job builds them: ids per station, one collect, broadcast join."""
    series, skipped = match_stations(station_series(station_dim, cfg), wide.columns[1:])
    return attach_series_ids(melt_result_matrix(wide), series), skipped


@pytest.fixture()
def wide(spark):
    rows = [
        (datetime(2020, 5, 22, 0, 0), 1.23456, 2.5, -0.75),
        (datetime(2020, 5, 22, 0, 15), 1.5, None, 3.125),
    ]
    return spark.createDataFrame(
        rows, "`Time Stamp` timestamp, stnA double, stnB double, ghost double"
    )


@pytest.fixture()
def station_dim(spark):
    return spark.createDataFrame(
        [(1, "stnA", 6.91, 79.85), (2, "stnB", 6.95, 79.88)],
        "station_id int, name string, latitude double, longitude double",
    )


def test_melt_and_skip_report(spark, wide, station_dim):
    long_df = melt_result_matrix(wide)
    assert long_df.columns == ["station", "time", "value"]
    assert long_df.count() == 6  # 2 rows × 3 station cols
    # negatives KEPT on output path; 3-dp rounding applied
    vals = {r["station"]: r["value"] for r in long_df.filter(
        F.col("time") == "2020-05-22 00:00:00").collect()}
    assert vals["ghost"] == -0.75
    assert vals["stnA"] == 1.235

    with_ids, skipped = _series_ids(wide, station_dim, ExtractConfig())
    assert skipped == ["ghost"]
    assert with_ids.filter(F.col("station") == "ghost").count() == 0
    # deterministic: same metadata → same 64-hex id on every run
    ids1 = {r["station"]: r["tms_id"] for r in with_ids.select("station", "tms_id").distinct().collect()}
    with_ids2, _ = _series_ids(wide, station_dim, ExtractConfig())
    ids2 = {r["station"]: r["tms_id"] for r in with_ids2.select("station", "tms_id").distinct().collect()}
    assert ids1 == ids2
    assert all(len(v) == 64 for v in ids1.values())
    assert ids1["stnA"] != ids1["stnB"]
    assert ids1 == GOLDEN_TMS_IDS


def test_skip_report_lists_unknown_columns_in_file_order(spark, station_dim):
    """Two matrix columns the dimension lacks: the report names each
    once, in the matrix's column order (the reference's loop order,
    wl_x:77/104), and their rows drop out."""
    columns = ["zulu", "stnB", "alpha", "stnA"]
    wide = spark.createDataFrame(
        [(datetime(2020, 5, 22, 0, 0), 1.0, 2.0, 3.0, 4.0)],
        "`Time Stamp` timestamp, " + ", ".join(f"{c} double" for c in columns),
    )
    series, skipped = match_stations(station_series(station_dim, ExtractConfig()), columns)
    assert skipped == ["zulu", "alpha"]
    got = {
        r["station"]: (r["tms_id"], r["value"])
        for r in attach_series_ids(melt_result_matrix(wide), series).collect()
    }
    assert got == {"stnB": (GOLDEN_TMS_IDS["stnB"], 2.0), "stnA": (GOLDEN_TMS_IDS["stnA"], 4.0)}


def test_upsert_idempotent_and_fgt_versioning(spark, wide, station_dim, tmp_path):
    with_ids, _ = _series_ids(wide, station_dim, ExtractConfig())

    data_t = ParquetMergeTable(spark, str(tmp_path / "fcst_data"), ["tms_id", "time", "fgt"], FCST_DATA)
    run_t = ParquetMergeTable(spark, str(tmp_path / "fcst_run"), ["tms_id"], FCST_RUN)

    fgt1 = "2020-05-22 01:00:00"
    upsert_forecast(with_ids, fgt1, data_t, run_t, ExtractConfig())
    # 2 stations × 2 times = 4 rows; stnB@00:15 is NULL → still a row
    state1 = sorted(map(tuple, data_t.read().collect()), key=repr)
    assert len(state1) == 4

    # idempotence: same fgt re-applied ⇒ fixpoint
    upsert_forecast(with_ids, fgt1, data_t, run_t, ExtractConfig())
    assert sorted(map(tuple, data_t.read().collect()), key=repr) == state1

    # new fgt ⇒ adds a version, latest-fgt view returns only the new one
    fgt2 = "2020-05-22 02:00:00"
    updated = with_ids.withColumn("value", F.col("value") + 1)
    upsert_forecast(updated, fgt2, data_t, run_t, ExtractConfig())
    assert data_t.read().count() == 8
    latest = latest_fgt_view(data_t.read())
    assert latest.count() == 4
    assert latest.select("fgt").distinct().collect()[0]["fgt"] == datetime(2020, 5, 22, 2, 0)

    # run header: latest_fgt bumped, start_date kept
    hdr = {r["tms_id"]: r for r in run_t.read().collect()}
    assert all(r["latest_fgt"] == datetime(2020, 5, 22, 2, 0) for r in hdr.values())
    assert all(r["start_date"] == datetime(2020, 5, 22, 0, 0) for r in hdr.values())


def test_merge_partial_overlap(spark, tmp_path):
    t = ParquetMergeTable(
        spark, str(tmp_path / "m"), ["k"], "k int, v string"
    )
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType([StructField("k", IntegerType()), StructField("v", StringType())])
    t.schema = schema
    t.merge(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.merge(spark.createDataFrame([(2, "B"), (3, "c")], schema))
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


class _FakeUpsertCursor:
    """DB-API cursor applying MySQL INSERT … ON DUPLICATE KEY UPDATE
    semantics onto a plain dict, recording every executemany batch."""

    def __init__(self, store):
        self.store = store

    def executemany(self, sql, batch):
        self.store["statements"].append((sql, [tuple(b) for b in batch]))
        n_keys = self.store["n_keys"]
        for row in batch:
            self.store["table"][tuple(row[:n_keys])] = tuple(row)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class _FakeUpsertConnection:
    def __init__(self, store):
        self.store = store

    def cursor(self):
        return _FakeUpsertCursor(self.store)

    def commit(self):
        self.store["commits"] += 1

    def close(self):
        self.store["closed"] += 1


def _fake_store(n_keys):
    return {"table": {}, "statements": [], "commits": 0, "closed": 0, "n_keys": n_keys}


def test_jdbc_upsert_sql_batching_and_idempotence():
    """The S8 MySQL-parity branch (wl_x:96): generated statement shape,
    batch splitting, and re-apply ⇒ fixpoint — via an injected fake
    DB-API connection (no driver in the container)."""
    from curw_mike_data_handler_spark.sources.upsert import jdbc_upsert_partition

    cols = ["tms_id", "time", "fgt", "value"]
    keys = ["tms_id", "time", "fgt"]
    rows = [
        {"tms_id": f"id{i % 7}", "time": f"t{i}", "fgt": "f1", "value": float(i)}
        for i in range(2500)
    ]
    store = _fake_store(len(keys))
    jdbc_upsert_partition(
        iter(rows), table="data", columns=cols, key_cols=keys,
        batch_size=1000, connection_factory=lambda: _FakeUpsertConnection(store),
    )
    sql = store["statements"][0][0]
    assert sql == (
        "INSERT INTO data (tms_id,time,fgt,value) VALUES (%s,%s,%s,%s) "
        "ON DUPLICATE KEY UPDATE value=VALUES(value)"
    )
    assert all(s == sql for s, _ in store["statements"])
    assert [len(b) for _, b in store["statements"]] == [1000, 1000, 500]
    assert store["commits"] == 1 and store["closed"] == 1
    assert len(store["table"]) == 2500  # all key tuples distinct

    # duplicate-key rows UPDATE in statement order (last wins), no new rows
    state1 = dict(store["table"])
    jdbc_upsert_partition(
        iter(rows), table="data", columns=cols, key_cols=keys,
        batch_size=1000, connection_factory=lambda: _FakeUpsertConnection(store),
    )
    assert store["table"] == state1  # re-apply is a fixpoint
    bumped = [dict(r, value=r["value"] + 1) for r in rows[:10]]
    jdbc_upsert_partition(
        iter(bumped), table="data", columns=cols, key_cols=keys,
        connection_factory=lambda: _FakeUpsertConnection(store),
    )
    assert len(store["table"]) == 2500
    for r in bumped:
        assert store["table"][(r["tms_id"], r["time"], r["fgt"])][-1] == r["value"]


def test_jdbc_upsert_live_duckdb(tmp_path):
    """The last untested branch, executed for REAL: the same
    foreachPartition body (batch loop, executemany, commit, close)
    against a live database engine with an enforced composite PRIMARY
    KEY — DuckDB stands in for MySQL via the dialect switch, so the
    on-conflict semantics are the database's, not a fake's.  Mirrors
    reference outputs/extract_water_level.py:96."""
    import duckdb

    from curw_mike_data_handler_spark.sources.upsert import jdbc_upsert_partition

    db = str(tmp_path / "curw.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE data (tms_id VARCHAR, time VARCHAR, fgt VARCHAR,"
        " value DOUBLE, PRIMARY KEY (tms_id, time, fgt))"
    )
    con.close()

    cols = ["tms_id", "time", "fgt", "value"]
    keys = ["tms_id", "time", "fgt"]
    rows = [
        {"tms_id": f"id{i % 3}", "time": f"t{i}", "fgt": "f1", "value": float(i)}
        for i in range(250)
    ]
    run = lambda rs: jdbc_upsert_partition(  # noqa: E731
        iter(rs), table="data", columns=cols, key_cols=keys, batch_size=100,
        connection_factory=lambda: duckdb.connect(db), dialect="duckdb",
    )
    run(rows)
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM data").fetchone()[0] == 250

    con.close()
    run(rows)  # re-apply ⇒ fixpoint
    bumped = [dict(r, value=r["value"] + 0.5) for r in rows[:7]]
    run(bumped)  # conflicting keys UPDATE in place
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM data").fetchone()[0] == 250
    got = dict(
        (tuple(k), v)
        for *k, v in con.execute("SELECT tms_id, time, fgt, value FROM data").fetchall()
    )
    con.close()
    for r in bumped:
        assert got[(r["tms_id"], r["time"], r["fgt"])] == r["value"]
    assert got[("id2", "t200", "f1")] == 200.0


def test_jdbc_upsert_from_spark_foreachpartition(spark, tmp_path):
    """End-to-end wiring: a DataFrame upserts itself into the live
    DuckDB table THROUGH Spark's foreachPartition in the Python
    worker process — the exact deployment shape of the MySQL sink.
    Single writer (coalesce(1)): DuckDB is single-writer, and the
    real MySQL target takes concurrent partitions instead."""
    import duckdb

    from curw_mike_data_handler_spark.sources.upsert import jdbc_upsert_partition

    db = str(tmp_path / "sink.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE data (tms_id VARCHAR, time VARCHAR, fgt VARCHAR,"
        " value DOUBLE, PRIMARY KEY (tms_id, time, fgt))"
    )
    con.close()
    df = spark.createDataFrame(
        [(f"id{i % 5}", f"t{i}", "f1", float(i)) for i in range(400)],
        "tms_id string, time string, fgt string, value double",
    )

    def sink(part):
        jdbc_upsert_partition(
            part, table="data", columns=["tms_id", "time", "fgt", "value"],
            key_cols=["tms_id", "time", "fgt"], batch_size=128,
            connection_factory=lambda: duckdb.connect(db), dialect="duckdb",
        )

    df.coalesce(1).foreachPartition(sink)
    df.coalesce(1).foreachPartition(sink)  # exactly-once effect on re-run
    con = duckdb.connect(db, read_only=True)
    assert con.execute("SELECT count(*) FROM data").fetchone()[0] == 400
    assert con.execute(
        "SELECT value FROM data WHERE tms_id='id3' AND time='t3'"
    ).fetchone()[0] == 3.0
    con.close()


def test_jdbc_upsert_requires_url_or_factory():
    from curw_mike_data_handler_spark.sources.upsert import jdbc_upsert_partition

    with pytest.raises(ValueError, match="url required"):
        jdbc_upsert_partition(
            iter([]), table="data", columns=["k", "v"], key_cols=["k"],
        )
