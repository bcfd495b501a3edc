"""E2E tests for the runnable job entry points (r4 verdict #5): each
``python -m curw_mike_data_handler_spark.jobs.*`` surface runs on
fixtures and its file/warehouse output golden-compares against the
plan-level API.  One job (tide) is additionally invoked as a REAL
subprocess ``python -m`` to prove the module wiring; the rest call
``main(argv)`` in-process (same code path, no per-test JVM spawn).
"""

from __future__ import annotations

import csv
import os
import subprocess
import sys
from datetime import datetime

import pytest

from curw_mike_data_handler_spark.schemas import SIM_RUN, SIM_TIMESERIES
from tests import fixtures as fx

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
START = "2020-05-22 00:00:00"
END = "2020-05-23 00:00:00"


@pytest.fixture()
def series_parquet(spark, tmp_path):
    rows = fx.gen_sim_timeseries(n_series=1, step_min=15, gap_rate=0.15,
                                 neg_rate=0.0, sentinel_rate=0.1)
    path = str(tmp_path / "series.parquet")
    spark.createDataFrame(rows, SIM_TIMESERIES).write.parquet(path)
    return path


def test_tide_job_python_m_subprocess(spark, series_parquet, tmp_path):
    """The real ``python -m`` surface: fresh interpreter + JVM, golden
    CSV equal to the plan-level run, and a second invocation hits the
    skip-if-exists gate without touching the file."""
    from curw_mike_data_handler_spark.plans.tide import (
        prepare_tide_input,
        write_tide_input,
    )

    out = str(tmp_path / "mike_tide.txt")
    cmd = [
        sys.executable, "-m", "curw_mike_data_handler_spark.jobs.tide",
        "--series", series_parquet, "--output", out, "-s", START, "-e", END,
    ]
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": REPO}
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                       env=env, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert os.path.isfile(out)

    golden = str(tmp_path / "golden.csv")
    write_tide_input(
        prepare_tide_input(spark, spark.read.parquet(series_parquet), START, END),
        golden,
    )
    assert open(out).read() == open(golden).read()

    before = open(out).read()
    r2 = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                        env=env, timeout=300)
    assert r2.returncode == 0
    assert "already in path" in r2.stdout
    assert open(out).read() == before
    # the JVM's class-data sharing logs nothing on the job's stdout,
    # whether it dumped the archive or mapped it
    for run in (r, r2):
        assert not [ln for ln in run.stdout.splitlines() if "[cds" in ln or "warning" in ln.lower()]


def test_discharge_job_main(spark, series_parquet, tmp_path):
    from curw_mike_data_handler_spark.jobs.discharge import main
    from curw_mike_data_handler_spark.plans.discharge import (
        prepare_discharge_input,
        write_discharge_input,
    )

    out = str(tmp_path / "mike_dis.txt")
    assert main(["--series", series_parquet, "--output", out,
                 "-s", START, "-e", END]) == 0
    golden = str(tmp_path / "golden.csv")
    write_discharge_input(
        prepare_discharge_input(spark, spark.read.parquet(series_parquet), START, END),
        golden,
    )
    assert open(out).read() == open(golden).read()
    # idempotence gate
    assert main(["--series", series_parquet, "--output", out]) == 0
    assert open(out).read() == open(golden).read()


class _Killed(BaseException):
    """A cron kill: not an ``Exception``, so no handler swallows it."""


def test_interrupted_publish_leaves_no_partial_file(spark, series_parquet, tmp_path, monkeypatch):
    """A job killed while publishing its MIKE input leaves nothing at
    the output path, which the skip-if-exists gate would take for a
    finished file, and no staging debris; the next tick writes the
    same bytes as an uninterrupted run."""
    from curw_mike_data_handler_spark.jobs.discharge import main
    from curw_mike_data_handler_spark.plans.discharge import (
        prepare_discharge_input,
        write_discharge_input,
    )

    out_dir = tmp_path / "out"
    out = str(out_dir / "mike_dis.txt")
    argv = ["--series", series_parquet, "--output", out, "-s", START, "-e", END]
    real_replace, staged = os.replace, []

    def killed(src, dst):
        if dst != out:
            return real_replace(src, dst)
        staged.append(src)
        raise _Killed

    monkeypatch.setattr(os, "replace", killed)
    with pytest.raises(_Killed):
        main(argv)
    monkeypatch.undo()
    # staged beside the output, so publishing is a same-filesystem rename
    assert [os.path.dirname(os.path.dirname(p)) for p in staged] == [str(out_dir)]
    assert os.listdir(out_dir) == []

    assert main(argv) == 0
    golden = str(tmp_path / "golden.csv")
    write_discharge_input(
        prepare_discharge_input(spark, spark.read.parquet(series_parquet), START, END),
        golden,
    )
    assert open(out, "rb").read() == open(golden, "rb").read()
    assert os.listdir(out_dir) == ["mike_dis.txt"]


def test_rainfall_job_main(spark, tmp_path):
    from curw_mike_data_handler_spark.jobs.rainfall import main
    from curw_mike_data_handler_spark.plans.rainfall import (
        prepare_rainfall_input,
        write_rainfall_input,
    )
    from curw_mike_data_handler_spark.schemas import SB_RF_COEFFICIENTS

    ts_path = str(tmp_path / "sim_ts.parquet")
    run_path = str(tmp_path / "run.parquet")
    spark.createDataFrame(
        fx.gen_sim_timeseries(n_series=6), SIM_TIMESERIES
    ).write.parquet(ts_path)
    spark.createDataFrame(fx.gen_run(6), SIM_RUN).write.parquet(run_path)
    coeff_rows = fx.gen_coefficients(6)
    coeff_path = str(tmp_path / "coeff.csv")
    with open(coeff_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["name", "curw_obs_id", "coefficient"])
        w.writerows(coeff_rows)

    out = str(tmp_path / "mike_rf.txt")
    assert main(["--sim-ts", ts_path, "--run", run_path,
                 "--coefficients", coeff_path, "--output", out,
                 "-s", START, "-e", END]) == 0

    order = list(dict.fromkeys(name for name, _, _ in coeff_rows))
    golden = str(tmp_path / "golden.csv")
    write_rainfall_input(
        prepare_rainfall_input(
            spark,
            spark.read.parquet(ts_path),
            spark.read.parquet(run_path),
            spark.createDataFrame(coeff_rows, SB_RF_COEFFICIENTS),
            START, END,
        ),
        golden, order,
    )
    assert open(out).read() == open(golden).read()
    header = open(out).readline().strip().split(",")
    assert header[1:] == order  # catchment columns in coefficient-file order


def test_extract_job_main_upserts_idempotently(spark, tmp_path):
    from curw_mike_data_handler_spark.jobs.extract import main

    # result matrix + station dimension fixture
    result_dir = tmp_path / "results"
    result_dir.mkdir()
    with open(result_dir / "resmike11_WL.csv", "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Time Stamp", "stnA", "stnB"])
        w.writerow(["2020-05-22 00:00:00", "1.23456", "2.5"])
        w.writerow(["2020-05-22 00:15:00", "1.5", "3.125"])
    wh = tmp_path / "wh"
    spark.createDataFrame(
        [(1, "stnA", 6.91, 79.85, "MIKE11", None),
         (2, "stnB", 6.95, 79.88, "MIKE11", None)],
        "station_id int, name string, latitude double, longitude double,"
        " station_type string, description string",
    ).write.parquet(str(wh / "station"))

    fgt = "2020-05-22 01:00:00"
    argv = ["--mike-model", "mike11_2016", "--output-dir", str(result_dir),
            "--warehouse", str(wh), "--fgt", fgt]
    assert main(argv) == 0
    fact = spark.read.parquet(str(wh / "fcst_data"))
    state1 = sorted(map(tuple, fact.collect()), key=repr)
    assert len(state1) == 4  # 2 stations × 2 times
    assert all(r["value"] == round(r["value"], 3) for r in fact.collect())

    # re-run same fgt → fixpoint (the reference's re-run-safe cron)
    assert main(argv) == 0
    fact2 = spark.read.parquet(str(wh / "fcst_data"))
    assert sorted(map(tuple, fact2.collect()), key=repr) == state1

    hdr = spark.read.parquet(str(wh / "fcst_run"))
    assert hdr.count() == 2
    assert all(str(r["latest_fgt"]) == fgt for r in hdr.collect())


def test_job_arg_validation_matches_reference_exit_codes(series_parquet, tmp_path):
    from curw_mike_data_handler_spark.jobs import discharge, extract, tide

    out = str(tmp_path / "x.csv")
    # bad time format / off-grid minutes → exit 1 (rf_linux:71-85)
    for bad in ["22-05-2020 00:00:00", "2020-05-22 00:07:00",
                "2020-05-22 00:00:30"]:
        with pytest.raises(SystemExit) as exc:
            tide.main(["--series", series_parquet, "--output", out, "-s", bad])
        assert exc.value.code == 1
    # argparse missing required → exit 2
    with pytest.raises(SystemExit) as exc:
        discharge.main(["--output", out])
    assert exc.value.code == 2
    # model whitelist (wl_x:193-195) → exit 1
    with pytest.raises(SystemExit) as exc:
        extract.main(["--mike-model", "flo2d", "--output-dir", str(tmp_path),
                      "--warehouse", str(tmp_path / "wh")])
    assert exc.value.code == 1
    # missing output dir (wl_x:189-191) → exit 1
    with pytest.raises(SystemExit) as exc:
        extract.main(["--mike-model", "mike11_2016",
                      "--output-dir", str(tmp_path / "nope"),
                      "--warehouse", str(tmp_path / "wh")])
    assert exc.value.code == 1
    # no output file written by any failed validation
    assert not os.path.exists(out)


def test_default_window_is_day_floored_now_offsets():
    from curw_mike_data_handler_spark.jobs._cli import resolve_window

    now = datetime(2020, 5, 25, 13, 37, 11)
    s, e = resolve_window(None, None, now=now)
    assert s == "2020-05-22 00:00:00" and e == "2020-05-27 00:00:00"
    # explicit values pass through validated
    s2, e2 = resolve_window(START, END, now=now)
    assert (s2, e2) == (START, END)


def test_rf_obs_job_main(spark, tmp_path):
    """r5 verdict #4: the rf_obs ``python -m`` surface — custom step,
    hour-grid window validation (rf_obs:83-97), multiple-of-5 step
    gate (rf_obs:254-256), golden-equal to the plan-level API."""
    from curw_mike_data_handler_spark.jobs.rf_obs import main
    from curw_mike_data_handler_spark.plans.rf_obs import (
        prepare_obs_rainfall_input,
        write_obs_rainfall_input,
    )
    from curw_mike_data_handler_spark.schemas import OBS_STATION

    ts_path = str(tmp_path / "obs_ts.parquet")
    st_path = str(tmp_path / "stations.parquet")
    spark.createDataFrame(
        fx.gen_sim_timeseries(n_series=4), SIM_TIMESERIES
    ).write.parquet(ts_path)
    st_rows = fx.gen_stations(4)
    spark.createDataFrame(st_rows, OBS_STATION).write.parquet(st_path)

    out = str(tmp_path / "mike_rf_obs.txt")
    assert main(["--obs-ts", ts_path, "--stations", st_path, "--output", out,
                 "-s", START, "-e", END, "-t", "30"]) == 0

    order = sorted(sid for _, sid, _, _, _ in st_rows)
    golden = str(tmp_path / "golden.csv")
    write_obs_rainfall_input(
        prepare_obs_rainfall_input(
            spark,
            spark.read.parquet(ts_path),
            spark.read.parquet(st_path),
            START, END, step_minutes=30,
        ),
        golden, order,
    )
    assert open(out).read() == open(golden).read()
    assert open(out).readline().strip().split(",")[1:] == order

    # step validation: non-multiple-of-5 → exit 1 (rf_obs:254-256)
    with pytest.raises(SystemExit) as exc:
        main(["--obs-ts", ts_path, "--stations", st_path,
              "--output", str(tmp_path / "y.csv"), "-t", "7"])
    assert exc.value.code == 1
    # hour-grid window: :15 minutes rejected for rf_obs (ok elsewhere)
    with pytest.raises(SystemExit) as exc:
        main(["--obs-ts", ts_path, "--stations", st_path,
              "--output", str(tmp_path / "z.csv"),
              "-s", "2020-05-22 00:15:00"])
    assert exc.value.code == 1
    # idempotence gate
    before = open(out).read()
    assert main(["--obs-ts", ts_path, "--stations", st_path,
                 "--output", out]) == 0
    assert open(out).read() == before


def test_all_stations_raw_job_main(spark, tmp_path):
    """r5 verdict #4: the all_stations_raw ``python -m`` surface —
    station-CSV file order fixes output columns (all_raw:290-294),
    golden-equal to the plan-level API."""
    from curw_mike_data_handler_spark.jobs.all_stations_raw import main
    from curw_mike_data_handler_spark.plans.all_stations_raw import (
        prepare_all_stations_raw,
        write_all_stations_raw,
    )
    from curw_mike_data_handler_spark.schemas import MIKE_RAINFALL_STATIONS

    ts_path = str(tmp_path / "sim_ts.parquet")
    obs_path = str(tmp_path / "obs.parquet")
    spark.createDataFrame(
        fx.gen_sim_timeseries(n_series=5), SIM_TIMESERIES
    ).write.parquet(ts_path)
    st_rows = fx.gen_stations(5)
    spark.createDataFrame(st_rows, MIKE_RAINFALL_STATIONS).write.parquet(obs_path)

    # station CSV in REVERSED order to prove file order drives columns
    st_csv = str(tmp_path / "mike_stations.csv")
    with open(st_csv, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["hash_id", "station_id", "station_name", "latitude", "longitude"])
        w.writerows(reversed(st_rows))

    out = str(tmp_path / "mike_rf_ws.txt")
    assert main(["--sim-ts", ts_path, "--mike-stations", st_csv,
                 "--active-obs", obs_path, "--output", out,
                 "-s", START, "-e", END]) == 0

    order = [name for _, _, name, _, _ in reversed(st_rows)]
    assert open(out).readline().strip().split(",")[1:] == order

    mike_df = spark.createDataFrame(list(reversed(st_rows)), MIKE_RAINFALL_STATIONS)
    golden = str(tmp_path / "golden.csv")
    write_all_stations_raw(
        prepare_all_stations_raw(
            spark,
            spark.read.parquet(ts_path),
            mike_df,
            spark.read.parquet(obs_path),
            START, END,
        ),
        golden,
        mike_df.select("station_id", "station_name"),
        order,
    )
    assert open(out).read() == open(golden).read()
    # idempotence gate
    before = open(out).read()
    assert main(["--sim-ts", ts_path, "--mike-stations", st_csv,
                 "--active-obs", obs_path, "--output", out]) == 0
    assert open(out).read() == before
