"""All-stations raw rainfall job (reference:
inputs/gen_mike_input_rf_linux_all_stations_raw.py ``__main__``,
330-379): validated window → skip-if-exists → nearest-neighbor fill
chain → row-mean impute → display-name rename → wide CSV.

Run: ``python -m curw_mike_data_handler_spark.jobs.all_stations_raw
--sim-ts sim_ts.parquet --mike-stations stations.csv
--active-obs obs.parquet --output out/mike_rf_ws.txt [-s ... -e ...]``

``--mike-stations`` is a CSV (hash_id, station_id, station_name,
latitude, longitude) whose FILE ORDER fixes the output column order —
the same contract as the reference's
inputs/params/mike_rainfall_stations.csv (all_raw:290-294 renames to
display names keeping the station-list order).
"""

from __future__ import annotations

import csv
from datetime import datetime

from curw_mike_data_handler_spark.jobs._cli import (
    JobArgumentError,
    resolve_window,
    skip_if_exists,
    window_parser,
)
from curw_mike_data_handler_spark.plans.all_stations_raw import (
    prepare_all_stations_raw,
    write_all_stations_raw,
)
from curw_mike_data_handler_spark.schemas import MIKE_RAINFALL_STATIONS
from curw_mike_data_handler_spark.session import get_spark
from curw_mike_data_handler_spark.sources.local import local_frame


def read_mike_stations(path: str):
    """Station CSV rows in FILE ORDER (stdlib reader, SURVEY S1) —
    (rows, display-name order).  Duplicate display names are rejected:
    the wide export pivots per NAME, so two stations sharing one would
    silently merge their series into a single column."""
    with open(path, newline="", encoding="utf-8") as fh:
        rows = [
            (
                r["hash_id"],
                r["station_id"],
                r["station_name"],
                float(r["latitude"]),
                float(r["longitude"]),
            )
            for r in csv.DictReader(fh)
        ]
    names = [name for _, _, name, _, _ in rows]
    order = list(dict.fromkeys(names))
    if len(order) != len(names):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate station display names in {path}: {dupes}")
    return rows, order


def main(argv: list[str] | None = None) -> int:
    p = window_parser("Prepare the MIKE all-stations raw rainfall input file")
    p.add_argument("--sim-ts", required=True, help="observed timeseries parquet")
    p.add_argument(
        "--mike-stations", required=True,
        help="MIKE station CSV (file order = output column order)",
    )
    p.add_argument("--active-obs", required=True, help="active obs stations parquet")
    p.add_argument("--output", required=True, help="output CSV path")
    a = p.parse_args(argv)
    start, end = resolve_window(a.start_time, a.end_time)

    if skip_if_exists(a.output, "Mike rainfall input"):
        return 0

    try:
        st_rows, order = read_mike_stations(a.mike_stations)
    except ValueError as exc:
        raise JobArgumentError(str(exc)) from exc

    print(f"{datetime.now()} start preparing mike rainfall input")
    spark = get_spark("job-all-stations-raw")
    mike_stations = local_frame(spark, st_rows, MIKE_RAINFALL_STATIONS)
    result = prepare_all_stations_raw(
        spark,
        spark.read.parquet(a.sim_ts),
        mike_stations,
        spark.read.parquet(a.active_obs),
        start,
        end,
    )
    display = mike_stations.select("station_id", "station_name")
    write_all_stations_raw(result, a.output, display, order)
    print(f"{datetime.now()} completed preparing mike rainfall input")
    print(f"Mike input rainfall file is available at {a.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
