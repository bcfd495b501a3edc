"""Spark job budget of the production path.

One warm extract tick (a merge into an existing warehouse) and one
``jobs.rainfall`` run on fixture inputs, each under its own job group;
the number of Spark jobs each starts is read back through
``statusTracker().getJobIdsForGroup`` and held to a budget.  Beside
the counts, two plan shapes that keep them low:

* ``write_single_csv`` sorts inside its one output partition, so its
  plan has no range-partition exchange (and no sampling job for it);
* the series id (``sha2``) is hashed at the station dimension's grain:
  it appears in no plan of the tick except below a ``BroadcastExchange``.

Every frame a job writes is captured through ``DataFrame.write`` and
its physical plan printed before the write runs.
"""

from __future__ import annotations

import csv
import os
import re
from datetime import datetime

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from curw_mike_data_handler_spark.schemas import SIM_RUN, SIM_TIMESERIES
from tests import fixtures as fx

# Spark jobs one run may start; lower is fine.  An extract tick starts
# 15 at every core count tried (2-16).  A rainfall run starts 11-13:
# adaptive execution re-plans a join after each shuffle stage, and
# which stage finishes first varies from run to run.
EXTRACT_TICK_JOBS = 15
RAINFALL_JOBS = 13

_NODE = re.compile(r"[A-Za-z*(]")


@pytest.fixture()
def written_plans(monkeypatch):
    """Physical plan text of every frame written while the fixture is
    live, captured when the job asks for ``df.write``."""
    plans: list[str] = []
    orig = DataFrame.write

    def write(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig.fget(self)

    monkeypatch.setattr(DataFrame, "write", property(write))
    return plans


def _count_jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _ancestors(lines: list[str], i: int) -> list[str]:
    """Lines of the plan-tree nodes above line ``i``."""
    depth = _NODE.search(lines[i]).start()
    out = []
    for line in reversed(lines[:i]):
        m = _NODE.search(line)
        if m and m.start() < depth:
            out.append(line)
            depth = m.start()
    return out


def sha2_outside_broadcast(plan: str) -> list[str]:
    """Plan nodes that evaluate ``sha2`` with no ``BroadcastExchange``
    above them."""
    lines = plan.splitlines()
    return [
        line for i, line in enumerate(lines)
        if "sha2(" in line
        and not any("BroadcastExchange" in a for a in _ancestors(lines, i))
    ]


def test_sha2_outside_broadcast_reads_the_tree():
    plan = (
        "Project [sha2(x, 256) AS id]\n"
        "+- BroadcastHashJoin [k], [k], Inner\n"
        "   :- Scan a\n"
        "   +- BroadcastExchange HashedRelationBroadcastMode\n"
        "      +- Project [k, sha2(y, 256) AS id]\n"
        "         +- Scan b\n"
    )
    assert sha2_outside_broadcast(plan) == ["Project [sha2(x, 256) AS id]"]


def test_series_ids_hash_below_the_broadcast(spark):
    """Joined to a station dimension that is still a Spark frame, the
    id is hashed on the dimension's side of the broadcast join, never
    per melted row."""
    from curw_mike_data_handler_spark.plans.extract import (
        ExtractConfig,
        attach_series_ids,
        melt_result_matrix,
        station_series,
    )

    wide = spark.createDataFrame(
        [(datetime(2020, 5, 22), 1.0, 2.0)], "`Time Stamp` timestamp, stnA double, ghost double"
    )
    dim = spark.createDataFrame(
        [(1, "stnA", 6.91, 79.85)],
        "station_id int, name string, latitude double, longitude double",
    )
    joined = attach_series_ids(melt_result_matrix(wide), station_series(dim, ExtractConfig()))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "sha2(" in plan
    assert sha2_outside_broadcast(plan) == [], plan
    assert [r["station"] for r in joined.collect()] == ["stnA"]


def _write_matrix(path, header, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(header)
        w.writerows(rows)


def test_extract_tick_job_budget(spark, tmp_path, written_plans, capsys):
    from curw_mike_data_handler_spark.jobs.extract import main

    stations = [f"stn{k}" for k in range(6)]
    spark.createDataFrame(
        [(k + 1, s, 6.9 + k / 100, 79.8 + k / 100, "MIKE11", None)
         for k, s in enumerate(stations)],
        "station_id int, name string, latitude double, longitude double,"
        " station_type string, description string",
    ).write.parquet(str(tmp_path / "wh" / "station"))
    # two columns the dimension lacks, out of alphabetical order
    header = ["Time Stamp", "zulu", *stations[:4], "ghost", *stations[4:]]
    times = [f"2020-05-22 {h:02d}:{m:02d}:00" for h in range(6) for m in (0, 15, 30, 45)]

    def tick(n):
        result_dir = str(tmp_path / f"results{n}")
        _write_matrix(
            os.path.join(result_dir, "resmike11_WL.csv"), header,
            [[t, *(f"{n + k * 0.1 + j * 0.01:.5f}" for k in range(len(header) - 1))]
             for j, t in enumerate(times)],
        )
        return main(["--mike-model", "mike11_2016", "--output-dir", result_dir,
                     "--warehouse", str(tmp_path / "wh"),
                     "--fgt", f"2020-05-22 0{n}:00:00"])

    assert tick(1) == 0  # creates the fact and run tables
    capsys.readouterr()
    written_plans.clear()
    n_jobs = _count_jobs(spark, "budget-extract-tick", lambda: tick(2))
    assert spark.read.parquet(str(tmp_path / "wh" / "fcst_data")).count() == 2 * 6 * len(times)
    # the skip report follows the matrix's column order
    assert [line for line in capsys.readouterr().out.splitlines() if line.startswith("Station ")] == [
        "Station zulu not in the database",
        "Station ghost not in the database",
    ]
    assert n_jobs <= EXTRACT_TICK_JOBS, n_jobs
    assert len(written_plans) == 2  # the fact merge and the run-header merge
    for plan in written_plans:
        assert sha2_outside_broadcast(plan) == [], plan


def test_rainfall_job_budget(spark, tmp_path, written_plans):
    from curw_mike_data_handler_spark.jobs.rainfall import main

    ts_path = str(tmp_path / "sim_ts.parquet")
    run_path = str(tmp_path / "run.parquet")
    spark.createDataFrame(fx.gen_sim_timeseries(n_series=6), SIM_TIMESERIES).write.parquet(ts_path)
    spark.createDataFrame(fx.gen_run(6), SIM_RUN).write.parquet(run_path)
    coeff_path = str(tmp_path / "coeff.csv")
    _write_matrix(coeff_path, ["name", "curw_obs_id", "coefficient"], fx.gen_coefficients(6))
    written_plans.clear()

    out = str(tmp_path / "mike_rf.txt")
    n_jobs = _count_jobs(spark, "budget-rainfall", lambda: main([
        "--sim-ts", ts_path, "--run", run_path, "--coefficients", coeff_path,
        "--output", out, "-s", "2020-05-22 00:00:00", "-e", "2020-05-23 00:00:00",
    ]))
    assert os.path.getsize(out) > 0
    assert n_jobs <= RAINFALL_JOBS, n_jobs
    assert len(written_plans) == 1
    assert "rangepartitioning" not in written_plans[0], written_plans[0]
