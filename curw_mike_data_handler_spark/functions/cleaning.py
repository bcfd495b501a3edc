"""Sentinel cleaning and imputation (SURVEY.md §2.2 P4/P5, §2.4 A2).

Operation ORDER is semantics-critical and mirrors the reference:
rf_linux resamples first, then negatives→NULL, then row-mean fill
(rf_linux:165→171→174); all_raw cleans, neighbor-fills 1 then 2, and
only then row-means over the already-filled frame (all_raw:277→278-286).
All pure Column expressions — whole-stage-codegen friendly, no UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def negatives_to_null(col: Column | str) -> Column:
    """Any negative measurement is invalid → NULL
    (replace_negative_numbers_with_nan, rf_linux:98-101)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c < 0, F.lit(None).cast("double")).otherwise(c)


def sentinel_to_null(col: Column | str, sentinel: float = -99999.0) -> Column:
    """Exact sentinel → NULL (tide missing marker, tide:82-85)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c == F.lit(sentinel), F.lit(None).cast("double")).otherwise(c)


def row_mean_impute_wide(df: DataFrame, value_cols: Sequence[str]) -> DataFrame:
    """NULL → mean across the row's other stations, computed on the
    PRE-fill NULL pattern (replace_nan_with_row_average,
    rf_linux:104-108: the mean series ``m`` is computed before the fill
    loop). Horizontal NaN-skipping mean via array higher-order funcs —
    stays in codegen, no shuffle."""
    arr = F.array(*[F.col(c) for c in value_cols])
    present = F.filter(arr, lambda x: x.isNotNull())
    row_mean = F.when(
        F.size(present) > 0,
        F.aggregate(present, F.lit(0.0), lambda acc, x: acc + x) / F.size(present),
    )
    df = df.withColumn("__row_mean", row_mean)
    out = [
        F.coalesce(F.col(c), F.col("__row_mean")).alias(c) if c in value_cols else F.col(c)
        for c in df.columns
        if c != "__row_mean"
    ]
    return df.select(*out)


def row_mean_impute_long(
    df: DataFrame, time_col: str = "time", value_col: str = "value"
) -> DataFrame:
    """Long-form equivalent of A2: per-timestamp mean over non-NULL
    series values, then coalesce. One window (partition by time) instead
    of a horizontal pass — scales to any number of series."""
    w = Window.partitionBy(time_col)
    return df.withColumn(
        value_col, F.coalesce(F.col(value_col), F.avg(value_col).over(w))
    )


def last_row_patch_wide(
    df: DataFrame,
    time_col: str,
    value_cols: Sequence[str],
    *,
    also_negative: bool = False,
    patch_value: float = 0.0,
) -> DataFrame:
    """Terminal boundary-condition fix: on the max-time row, NULL (tide,
    tide:110-111) or NULL/negative (discharge, dis:105-106) → 0.
    Implemented with a global max over an empty-frame window, which
    Catalyst plans as one ``Exchange SinglePartition`` feeding a
    whole-frame window: every row passes through one task, which is
    cheap at the file-edge sizes this runs on (hundreds of rows)."""
    w = Window.partitionBy()
    max_t = F.max(time_col).over(w)
    out = []
    for c in df.columns:
        if c in value_cols:
            col = F.col(c)
            bad = col.isNull() | (col < 0) if also_negative else col.isNull()
            out.append(
                F.when((F.col(time_col) == max_t) & bad, F.lit(patch_value))
                .otherwise(col)
                .alias(c)
            )
        else:
            out.append(F.col(c))
    return df.select(*out)
