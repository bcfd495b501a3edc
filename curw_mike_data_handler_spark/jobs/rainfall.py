"""Rainfall input job (reference: inputs/gen_mike_input_rf_linux.py
``__main__``, 224-276): validated time window → skip-if-exists gate →
coefficient CSV → weighted-catchment pipeline → exact-layout CSV.

Run: ``python -m curw_mike_data_handler_spark.jobs.rainfall
--sim-ts sim_ts.parquet --run run.parquet --coefficients coeff.csv
--output out/mike_rf.txt [-s ... -e ...]``
"""

from __future__ import annotations

import csv
from datetime import datetime

from curw_mike_data_handler_spark.jobs._cli import (
    resolve_window,
    skip_if_exists,
    window_parser,
)
from curw_mike_data_handler_spark.plans.rainfall import (
    prepare_rainfall_input,
    write_rainfall_input,
)
from curw_mike_data_handler_spark.schemas import SB_RF_COEFFICIENTS
from curw_mike_data_handler_spark.session import get_spark
from curw_mike_data_handler_spark.sources.local import local_frame


def read_coefficients(path: str):
    """Coefficient CSV rows in FILE ORDER (the reference keeps the
    catchment column order of inputs/params/sb_rf_coefficients.csv —
    rf_linux:273), via the stdlib reader (SURVEY S1)."""
    with open(path, newline="", encoding="utf-8") as fh:
        rows = [
            (r["name"], r["curw_obs_id"], float(r["coefficient"]))
            for r in csv.DictReader(fh)
        ]
    order = list(dict.fromkeys(name for name, _, _ in rows))
    return rows, order


def main(argv: list[str] | None = None) -> int:
    p = window_parser("Prepare the MIKE rainfall input file")
    p.add_argument("--sim-ts", required=True, help="sim timeseries parquet")
    p.add_argument("--run", required=True, help="run registry parquet")
    p.add_argument("--coefficients", required=True, help="catchment weight CSV")
    p.add_argument("--output", required=True, help="output CSV path")
    p.add_argument("--model", default="hechms")
    a = p.parse_args(argv)
    start, end = resolve_window(a.start_time, a.end_time)

    if skip_if_exists(a.output, "Mike rainfall input"):
        return 0

    print(f"{datetime.now()} start preparing mike rainfall input")
    spark = get_spark("job-rainfall")
    coeff_rows, order = read_coefficients(a.coefficients)
    coefficients = local_frame(spark, coeff_rows, SB_RF_COEFFICIENTS)
    result = prepare_rainfall_input(
        spark,
        spark.read.parquet(a.sim_ts),
        spark.read.parquet(a.run),
        coefficients,
        start,
        end,
        model=a.model,
    )
    write_rainfall_input(result, a.output, order)
    print(f"{datetime.now()} completed preparing mike rainfall input")
    print(f"Mike input rainfall file is available at {a.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
