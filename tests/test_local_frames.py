"""Small driver-side frames are Arrow local relations
(``sources/local.py``).

A ``createDataFrame(python_rows, schema)`` frame plans as a pickled-row
``LogicalRDD``, and every scan of it runs Python worker tasks.  These
tests pin the replacement:

* ``local_frame`` round-trips hostile values (empty input, NULLs,
  NaN/±Inf, 2^53+1, nested arrays of structs) under a ``StructType``
  and under the same schema as a DDL string, keeps the requested
  schema exactly, and always plans a ``LocalRelation``;
* the production jobs (rainfall, all-stations raw, and the extract's
  first tick into an empty warehouse) write no frame whose optimized
  plan holds a ``LogicalRDD``;
* no module of the package outside ``sources/local.py`` calls
  ``createDataFrame`` itself.
"""

from __future__ import annotations

import csv
import math
import os

import pytest
from pyspark.sql import types as T

from curw_mike_data_handler_spark.schemas import (
    MIKE_RAINFALL_STATIONS,
    SIM_RUN,
    SIM_TIMESERIES,
)
from curw_mike_data_handler_spark.sources.local import local_frame
from tests import fixtures as fx

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "curw_mike_data_handler_spark",
)
START = "2020-05-22 00:00:00"
END = "2020-05-23 00:00:00"


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan()


def _leaves(df):
    leaves = _plan(df).collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def _same(a, b):
    """Value equality that treats NaN as equal to NaN."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(map(_same, a, b))
    return a == b


_NESTED = T.ArrayType(T.StructType([
    T.StructField("cid", T.IntegerType()),
    T.StructField("center", T.ArrayType(T.DoubleType())),
]))

# (StructType, the same schema as DDL, rows)
CASES = [
    (
        T.StructType([T.StructField("a", T.IntegerType()),
                      T.StructField("b", T.StringType())]),
        "a int, b string",
        [],
    ),
    (
        T.StructType([T.StructField("k", T.LongType(), False),
                      T.StructField("s", T.StringType()),
                      T.StructField("d", T.DoubleType())]),
        "k bigint not null, s string, d double",
        [(1, None, float("nan")), (2, "x", float("inf")),
         (3, "", float("-inf")), (4, "y", None), (5, None, -0.0)],
    ),
    (
        T.StructType([T.StructField("n", T.LongType())]),
        "n bigint",
        [(2**53 + 1,), (-(2**63),), (2**63 - 1,), (None,)],
    ),
    (
        T.StructType([T.StructField("cents", _NESTED)]),
        "cents array<struct<cid:int,center:array<double>>>",
        [([{"cid": 0, "center": [1.0, float("nan")]},
           {"cid": 1, "center": [float("-inf"), None]}],),
         ([],), (None,)],
    ),
]


@pytest.mark.parametrize("spelling", ["struct", "ddl"])
def test_local_frame_round_trips_as_local_relation(spark, spelling):
    for struct, ddl, rows in CASES:
        df = local_frame(spark, rows, struct if spelling == "struct" else ddl)
        assert df.schema == struct, (ddl, df.schema)
        assert _leaves(df) == ["LocalRelation"], _plan(df).toString()
        if not rows:
            assert "LocalRelation <empty>" in _plan(df).toString()
        got = [r.asDict(recursive=True) for r in df.collect()]
        want = [dict(zip(struct.names, r)) for r in rows]
        assert _same(got, want), (ddl, got, want)


def test_local_frame_raises_instead_of_pickling_rows(spark):
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [(None,)], "k bigint not null")
    with pytest.raises(ValueError):  # pyarrow.ArrowInvalid
        local_frame(spark, [("not a number",)], "d double")
    with pytest.raises(ValueError):  # a row wider than the schema
        local_frame(spark, [(1, 2)], "a int")


def test_production_jobs_write_no_python_rows_plan(spark, tmp_path, monkeypatch):
    """Every frame the rainfall, all-stations raw and first extract
    tick write (CSV sink and both MERGEs, including the empty-table
    read the merge scans) plans without a ``LogicalRDD``."""
    from curw_mike_data_handler_spark.jobs import all_stations_raw, extract, rainfall
    from curw_mike_data_handler_spark.plans import all_stations_raw as p_raw
    from curw_mike_data_handler_spark.plans import rainfall as p_rf
    from curw_mike_data_handler_spark.sources import csv_io
    from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable

    written: list[tuple[str, str]] = []

    def csv_recorder(df, path, **kw):
        written.append((path, _plan(df).toString()))
        return csv_io.write_single_csv(df, path, **kw)

    real_merge = ParquetMergeTable.merge

    def merge_recorder(self, updates):
        written.append((self.path, _plan(updates).toString()))
        written.append((self.path + " (current)", _plan(self.read()).toString()))
        return real_merge(self, updates)

    monkeypatch.setattr(p_rf, "write_single_csv", csv_recorder)
    monkeypatch.setattr(p_raw, "write_single_csv", csv_recorder)
    monkeypatch.setattr(ParquetMergeTable, "merge", merge_recorder)

    ts_path = str(tmp_path / "sim_ts.parquet")
    run_path = str(tmp_path / "run.parquet")
    obs_path = str(tmp_path / "obs.parquet")
    spark.createDataFrame(
        fx.gen_sim_timeseries(n_series=5), SIM_TIMESERIES
    ).write.parquet(ts_path)
    spark.createDataFrame(fx.gen_run(5), SIM_RUN).write.parquet(run_path)
    st_rows = fx.gen_stations(5)
    spark.createDataFrame(st_rows, MIKE_RAINFALL_STATIONS).write.parquet(obs_path)
    coeff_csv = str(tmp_path / "coeff.csv")
    st_csv = str(tmp_path / "mike_stations.csv")
    with open(coeff_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["name", "curw_obs_id", "coefficient"])
        w.writerows(fx.gen_coefficients(5))
    with open(st_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["hash_id", "station_id", "station_name", "latitude", "longitude"])
        w.writerows(st_rows)
    window = ["-s", START, "-e", END]
    assert rainfall.main(["--sim-ts", ts_path, "--run", run_path,
                          "--coefficients", coeff_csv,
                          "--output", str(tmp_path / "rf.txt"), *window]) == 0
    assert all_stations_raw.main(["--sim-ts", ts_path, "--mike-stations", st_csv,
                                  "--active-obs", obs_path,
                                  "--output", str(tmp_path / "raw.txt"), *window]) == 0

    result_dir = tmp_path / "results"
    result_dir.mkdir()
    with open(result_dir / "resmike11_WL.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Time Stamp", "stnA"])
        w.writerow(["2020-05-22 00:00:00", "1.5"])
    wh = tmp_path / "wh"
    spark.createDataFrame(
        [(1, "stnA", 6.91, 79.85, "MIKE11", None)],
        "station_id int, name string, latitude double, longitude double,"
        " station_type string, description string",
    ).write.parquet(str(wh / "station"))
    assert extract.main(["--mike-model", "mike11_2016",
                         "--output-dir", str(result_dir),
                         "--warehouse", str(wh),
                         "--fgt", "2020-05-22 01:00:00"]) == 0

    # two CSV sinks, then fact and header MERGE (each with its read)
    assert len(written) == 6, [p for p, _ in written]
    for path, plan in written:
        assert "LogicalRDD" not in plan, (path, plan)


def test_package_builds_python_rows_frames_only_through_the_helper():
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join("sources", "local.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    if "createDataFrame(" in line:
                        offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
