"""Rainfall input pipeline — the flagship (reference:
inputs/gen_mike_input_rf_linux.py:138-210, prepare_mike_rf_input).

Reference dataflow: distinct obs ids → 5-min spine → per-station DB
query + sequential left merges (N+1 pattern) → wide → 15-min
right-closed resample → negatives→NULL → row-mean imputation →
per-catchment weighted sum loop → CSV.

Spark-first rewrite stays LONG until the file edge:

1. staleness semi join (run table, obs_end watermark — rf_linux:115-121)
2. one spine×series left join (replaces the merge loop)     [1 shuffle]
3. right-closed 15-min resample, all-NULL bucket → 0.0      [1 shuffle]
4. negatives→NULL THEN per-time row-mean impute (ORDER MATTERS:
   clean AFTER resample — negatives are summed into buckets first,
   rf_linux:165→171→174)                                    [window on time]
5. weighted catchment aggregation (broadcast weights)       [1 shuffle]
6. pivot to time×catchment at the file edge only.

The reference's final ``round(1)`` is a discarded no-op
(rf_linux:204); per SURVEY §7 we reproduce ACTUAL behavior (unrounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.functions.cleaning import (
    negatives_to_null,
    row_mean_impute_long,
)
from curw_mike_data_handler_spark.functions.timegrid import time_spine
from curw_mike_data_handler_spark.operators.resample import resample_sum_right_closed
from curw_mike_data_handler_spark.operators.spine import pivot_wide, spine_align_long
from curw_mike_data_handler_spark.operators.weighted import weighted_group_sum
from curw_mike_data_handler_spark.sources.csv_io import write_single_csv


def fresh_series_ids(run: DataFrame, model: str, obs_end_min=None) -> DataFrame:
    """Staleness filter on the run registry (rf_linux:115-121):
    SELECT id, grid_id WHERE model=… [AND obs_end >= …], the obs_end
    predicate only when ``obs_end_min`` is given; obs station id is the
    2nd underscore field of grid_id (rf_linux:126-127)."""
    cond = F.col("model") == model
    if obs_end_min is not None:
        cond = cond & (F.col("obs_end") >= F.lit(obs_end_min))
    return run.filter(cond).select(
        F.col("id").alias("series_hash"),
        F.split(F.col("grid_id"), "_").getItem(1).alias("obs_id"),
    )


def prepare_rainfall_input(
    spark: SparkSession,
    sim_ts: DataFrame,
    run: DataFrame,
    coefficients: DataFrame,
    start: str,
    end: str,
    *,
    model: str = "hechms",
    obs_end_min=None,
    src_step_minutes: int = 5,
    out_step_minutes: int = 15,
) -> DataFrame:
    """→ long (time, name, value): 15-min catchment-weighted rainfall."""
    # rf_linux:143; no distinct: the semi join below ignores duplicates
    wanted = coefficients.select(F.col("curw_obs_id").alias("obs_id"))
    fresh = fresh_series_ids(run, model, obs_end_min)
    # semi-join staleness ∩ wanted stations (rf_linux:153-157)
    series_dim = fresh.join(F.broadcast(wanted), "obs_id", "left_semi")

    # one range-pruned scan of all wanted series (replaces N+1 queries)
    ts = sim_ts.filter(
        (F.col("time") > F.lit(start)) & (F.col("time") <= F.lit(end))
    ).join(
        F.broadcast(series_dim),
        sim_ts["id"] == series_dim["series_hash"],
        "inner",
    ).select("obs_id", "time", F.col("value").cast("double").alias("value"))

    # 5-min spine × stations, left-aligned (rf_linux:144-162)
    spine = time_spine(spark, start, end, src_step_minutes)
    aligned = spine_align_long(
        spine, ts, series_dim.select("obs_id").distinct(), series_col="obs_id"
    )

    # 15-min right-closed accumulation (rf_linux:165)
    res = resample_sum_right_closed(
        aligned, "time", ["value"], out_step_minutes, group_cols=["obs_id"]
    )

    # clean AFTER resample, then row-mean impute on pre-fill pattern
    cleaned = res.withColumn("value", negatives_to_null("value"))  # rf_linux:171
    imputed = row_mean_impute_long(cleaned)  # rf_linux:174

    # catchment weighted sum (rf_linux:180-202)
    return weighted_group_sum(imputed, coefficients, series_col="obs_id")


def write_rainfall_input(
    df_long: DataFrame, path: str, catchment_order: list[str]
) -> str:
    wide = pivot_wide(df_long, series_col="name", series_order=catchment_order)
    return write_single_csv(
        wide, path, header=True, columns=catchment_order
    )  # rf_linux:276 header=True
