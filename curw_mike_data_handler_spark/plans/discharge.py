"""Discharge input pipeline (reference: inputs/gen_mike_input_dis_linux.py:88-115).

Like tide but: negatives (not −99999) are invalid, the last-row patch
also fires on negatives, and the reference's final ``dropna()`` is a
silent no-op (result not assigned — dis:108), so NULLs are kept for
parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from curw_mike_data_handler_spark.functions.cleaning import (
    last_row_patch_wide,
    negatives_to_null,
)
from curw_mike_data_handler_spark.functions.timegrid import time_spine
from curw_mike_data_handler_spark.sources.csv_io import write_single_csv


def prepare_discharge_input(
    spark: SparkSession,
    series: DataFrame,
    start: str,
    end: str,
    *,
    step_minutes: int = 15,
) -> DataFrame:
    spine = time_spine(spark, start, end, step_minutes)
    aligned = spine.join(series.select("time", "value"), "time", "left")  # dis:100
    cleaned = aligned.withColumn("value", negatives_to_null("value"))  # dis:82-85
    patched = last_row_patch_wide(cleaned, "time", ["value"], also_negative=True)  # dis:105-106
    return patched.orderBy("time")


def write_discharge_input(df: DataFrame, path: str) -> str:
    return write_single_csv(df, path, header=False, columns=["value"])  # dis:189
