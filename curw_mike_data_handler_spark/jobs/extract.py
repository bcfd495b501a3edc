"""Forecast extraction job (reference: outputs/extract_water_level.py
``__main__``, 150-260): model whitelist → directory/file existence
checks → fgt default from file mtime → sha2 series ids per station and
the skip report from one read of the station dimension → melt +
broadcast join → fgt-versioned idempotent upsert into the warehouse.

Run: ``python -m curw_mike_data_handler_spark.jobs.extract
--mike-model mike11_2016 --output-dir results/ --warehouse wh/
[--file resmike11_WL.csv] [--sim-tag hourly_run] [--fgt "..."]``
"""

from __future__ import annotations

import argparse
import os
from datetime import datetime

from curw_mike_data_handler_spark.jobs._cli import JobArgumentError
from curw_mike_data_handler_spark.plans.extract import (
    ExtractConfig,
    attach_series_ids,
    match_stations,
    melt_result_matrix,
    station_series,
    upsert_forecast,
)
from curw_mike_data_handler_spark.schemas import FCST_DATA, FCST_RUN, STATION_DIM
from curw_mike_data_handler_spark.session import get_spark
from curw_mike_data_handler_spark.sources.csv_io import read_wide_matrix
from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable

MODEL_WHITELIST = ("mike11_2016",)  # wl_x:193-195
DEFAULT_OUTPUT_FILE = "resmike11_WL.csv"  # configs/config.json:130


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Extract MIKE results into the warehouse")
    p.add_argument("-m", "--mike-model", required=True)
    p.add_argument("-d", "--output-dir", required=True, help="MIKE result directory")
    p.add_argument("--file", default=DEFAULT_OUTPUT_FILE, help="result matrix CSV name")
    p.add_argument("--warehouse", required=True, help="fact/run table base path")
    p.add_argument("--sim-tag", default="hourly_run")
    p.add_argument("-f", "--fgt", default=None,
                   help="forecast-generated time (default: result file mtime)")
    a = p.parse_args(argv)

    if a.mike_model not in MODEL_WHITELIST:  # wl_x:193-195
        raise JobArgumentError('Mike model should be "mike11_2016"')
    if not os.path.isdir(a.output_dir):  # wl_x:189-191
        raise JobArgumentError("Given output directory doesn't exist")
    result_path = os.path.join(a.output_dir, a.file)
    if not os.path.exists(result_path):  # wl_x:239-242
        raise JobArgumentError(f"Unable to find file : {result_path}")

    fgt = a.fgt or datetime.fromtimestamp(
        os.path.getmtime(result_path)
    ).strftime("%Y-%m-%d %H:%M:%S")  # wl_x:244-245 get_file_last_modified_time

    version = "_".join(a.mike_model.split("_")[1:])  # wl_x:202
    cfg = ExtractConfig(sim_tag=a.sim_tag, version=version)

    spark = get_spark("job-extract")
    wide = read_wide_matrix(spark, result_path)
    series, skipped = match_stations(
        station_series(
            spark.read.schema(STATION_DIM).parquet(os.path.join(a.warehouse, "station")), cfg
        ),
        [c for c in wide.columns if c != "Time Stamp"],
    )
    for name in skipped:  # wl_x:104 skip report
        print(f"Station {name} not in the database")
    with_ids = attach_series_ids(melt_result_matrix(wide), series)
    data_t = ParquetMergeTable(
        spark, os.path.join(a.warehouse, "fcst_data"),
        ["tms_id", "time", "fgt"], FCST_DATA,
    )
    run_t = ParquetMergeTable(
        spark, os.path.join(a.warehouse, "fcst_run"), ["tms_id"], FCST_RUN
    )
    upsert_forecast(with_ids, fgt, data_t, run_t, cfg)
    print(f"Extracted {result_path} at fgt={fgt}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
