"""Tests for rf_obs (custom interval + blank-null export), dimension
seeding idempotence, retention sweep, and stateful streaming
sessionization.
"""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.plans.init_dims import (
    parse_model_version,
    seed_dimensions,
)
from curw_mike_data_handler_spark.plans.rf_obs import (
    prepare_obs_rainfall_input,
    validate_step,
    write_obs_rainfall_input,
)
from curw_mike_data_handler_spark.schemas import OBS_STATION, SIM_TIMESERIES
from curw_mike_data_handler_spark.sources.maintenance import retention_sweep


def test_validate_step():
    assert validate_step(60) == 60
    for bad in (0, -5, 7, 12):
        with pytest.raises(ValueError):
            validate_step(bad)


def test_parse_model_version():
    assert parse_model_version("mike11_2016") == ("mike11", "2016")
    assert parse_model_version("mike11_2016_v2") == ("mike11", "2016_v2")


def test_rf_obs_custom_interval_and_blank_nulls(spark, tmp_path):
    stations = spark.createDataFrame(
        [("a" * 64, "100", "s0", 6.9, 79.85), ("b" * 64, "101", "s1", 6.95, 79.9)],
        OBS_STATION,
    )
    rows = [
        ("a" * 64, datetime(2020, 5, 22, 0, 5), 1.0),
        ("a" * 64, datetime(2020, 5, 22, 0, 55), 2.0),
        ("a" * 64, datetime(2020, 5, 22, 1, 0), 4.0),   # boundary → 01:00 bucket
        ("b" * 64, datetime(2020, 5, 22, 0, 30), 8.0),
        # station b has NOTHING in hour 2 → NULL (blank in export)
    ]
    ts = spark.createDataFrame(rows, SIM_TIMESERIES)
    out = prepare_obs_rainfall_input(
        spark, ts, stations, "2020-05-22 00:00:00", "2020-05-22 02:00:00",
        step_minutes=60,
    )
    vals = {(r["station_id"], r["time"]): r["value"] for r in out.collect()}
    assert vals[("100", datetime(2020, 5, 22, 1, 0))] == 7.0  # 1+2+4, boundary inclusive
    assert vals[("101", datetime(2020, 5, 22, 1, 0))] == 8.0
    assert vals[("101", datetime(2020, 5, 22, 2, 0))] is None  # gap stays NULL

    path = str(tmp_path / "obs.csv")
    write_obs_rainfall_input(out, path, ["100", "101"])
    lines = open(path).read().strip().split("\n")
    assert lines[0] == "time,100,101"
    # the 02:00 row renders station 101's NULL as empty string (rf_obs:168)
    last = [l for l in lines if l.startswith("2020-05-22 02:00:00")][0]
    assert last.endswith(",")


def test_seed_dimensions_idempotent(spark, tmp_path):
    seed = spark.createDataFrame(
        [(1, "N'Street Gauge", 6.12345678, 79.987654321), (2, "Hanwella", 6.9, 80.08)],
        "OBJECTID int, Location string, Latitude double, Longitude double",
    )
    tables = seed_dimensions(spark, seed, str(tmp_path / "dims"))
    station1 = sorted(map(tuple, tables["station"].read().collect()), key=repr)
    # '%.6f' rounding applied (init:41-42)
    lat = {r["station_id"]: r["latitude"] for r in tables["station"].read().collect()}
    assert lat[1] == 6.123457
    # reseed ⇒ fixpoint
    tables2 = seed_dimensions(spark, seed, str(tmp_path / "dims"))
    assert sorted(map(tuple, tables2["station"].read().collect()), key=repr) == station1
    assert tables2["variable"].read().count() == 2
    assert tables2["unit"].read().count() == 2
    assert tables2["source"].read().count() == 1


def test_retention_sweep(tmp_path):
    base = tmp_path / "fcst"
    for d in ("2020-01-01", "2020-03-01", "2020-04-20"):
        (base / f"run_date={d}").mkdir(parents=True)
        (base / f"run_date={d}" / "part-0.parquet").write_text("x")
    (base / "not_a_partition").mkdir()
    dropped = retention_sweep(
        str(base), keep_days=60, now=datetime(2020, 4, 25)
    )
    assert dropped == ["2020-01-01"]
    remaining = sorted(os.listdir(base))
    assert remaining == ["not_a_partition", "run_date=2020-03-01", "run_date=2020-04-20"]
    # idempotent
    assert retention_sweep(str(base), keep_days=60, now=datetime(2020, 4, 25)) == []


def test_sessionize_stream_stateful(spark, tmp_path):
    from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable
    from curw_mike_data_handler_spark.streaming.file_watch import run_available_now
    from curw_mike_data_handler_spark.streaming.sessionize import (
        OUTPUT_SCHEMA,
        sessionize_stream,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [StructField("user_id", LongType()), StructField("ts", TimestampType())]
    )
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("n_sessions", LongType()),
        ]
    )
    table = ParquetMergeTable(spark, str(tmp_path / "sess"), ["user_id"], out_schema)

    (inbox / "a.csv").write_text(
        "1,2020-05-22 00:00:00\n1,2020-05-22 00:10:00\n2,2020-05-22 00:00:00\n"
    )
    stream = (
        spark.readStream.schema(schema).option("header", "false").csv(str(inbox))
    )
    sessions = sessionize_stream(stream, gap_minutes=30)
    run_available_now(sessions, ckpt, lambda df, _id: table.merge(df), output_mode="update")
    got = {r["user_id"]: (r["n_events"], r["n_sessions"]) for r in table.read().collect()}
    assert got == {1: (2, 1), 2: (1, 1)}

    # second tick: late events — user 1 within gap (same session) and
    # after gap (new session); state carried across the restart
    (inbox / "b.csv").write_text(
        "1,2020-05-22 00:20:00\n1,2020-05-22 02:00:00\n"
    )
    stream2 = (
        spark.readStream.schema(schema).option("header", "false").csv(str(inbox))
    )
    sessions2 = sessionize_stream(stream2, gap_minutes=30)
    run_available_now(sessions2, ckpt, lambda df, _id: table.merge(df), output_mode="update")
    got2 = {r["user_id"]: (r["n_events"], r["n_sessions"]) for r in table.read().collect()}
    assert got2[1] == (4, 2)
    assert got2[2] == (1, 1)
