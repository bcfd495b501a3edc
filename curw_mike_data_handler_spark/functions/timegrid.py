"""Time-grid primitives: spines, grid validation, bucket labels.

The reference builds regular grids with pd.date_range
(inputs/gen_mike_input_rf_linux.py:145, .../gen_mike_input_tide_linux.py:102)
and validates CLI timestamps to :00 seconds / quarter-hour minutes
(rf_linux:71-85). Here the spine is a distributed ``sequence`` +
``explode`` — a one-row driver expression Catalyst expands JVM-side, so
a 5-day/5-min spine or a 10-year/1-min spine costs the same plan shape.
"""

from __future__ import annotations

import re
from datetime import datetime

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DATE_TIME_FORMAT = "%Y-%m-%d %H:%M:%S"  # rf_linux:14


def check_time_format(
    time_str: str, quarter_hours_only: bool = True, hours_only: bool = False
) -> datetime:
    """Validate a grid timestamp string (rf_linux:71-85 semantics):
    seconds must be 00; minutes in {00,15,30,45} when
    ``quarter_hours_only``; minutes exactly 00 when ``hours_only``
    (rf_obs:83-97 requires :00 only)."""
    if not re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", time_str):
        raise ValueError(f"Given time incorrect format: {time_str}")
    time = datetime.strptime(time_str, DATE_TIME_FORMAT)
    if time.second != 0:
        raise ValueError(f"Seconds should be always 00: {time_str}")
    if hours_only and time.minute != 0:
        raise ValueError(f"Minutes should be always 00: {time_str}")
    if quarter_hours_only and time.minute % 15 != 0:
        raise ValueError(f"Minutes should be multiple of 15: {time_str}")
    return time


def time_spine(
    spark: SparkSession,
    start: str | datetime,
    end: str | datetime,
    step_minutes: int,
    col_name: str = "time",
) -> DataFrame:
    """Regular timestamp spine [start, end] inclusive at N-minute step —
    Spark-side ``sequence`` + ``explode`` (replaces pd.date_range)."""
    one = spark.range(1)
    return one.select(
        F.explode(
            F.sequence(
                F.lit(str(start)).cast("timestamp"),
                F.lit(str(end)).cast("timestamp"),
                F.expr(f"INTERVAL {int(step_minutes)} MINUTES"),
            )
        ).alias(col_name)
    )


def bucket_end_right_closed(ts: Column | str, step_minutes: int) -> Column:
    """Right-closed/right-labeled bucket label: maps ``ts`` to the end
    of its ``(t-step, t]`` bucket (pandas resample(label='right',
    closed='right') semantics, rf_linux:165).

    Integer micro-epoch ceil-division — exact for any timestamp
    precision, and bit-identical to an oracle computing
    ``ceil(epoch_us/step_us)*step`` (a timestamp exactly on a boundary
    labels the bucket it *ends*)."""
    step_us = int(step_minutes) * 60 * 1_000_000
    us = F.unix_micros(F.col(ts) if isinstance(ts, str) else ts)
    bucket_s = (-F.floor((-us) / F.lit(step_us))) * (step_us // 1_000_000)
    return F.timestamp_seconds(bucket_s)
