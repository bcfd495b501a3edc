"""Exact-layout CSV I/O (SURVEY §4.2-2).

MIKE input/output files are CONTRACTS: a single ordered file, fixed
column order, header on or off per pipeline, specific index label
('time' for inputs at rf_linux:276, 'Time Stamp' for results at
wl_x:247), specific rounding.  Spark writes sharded dirs — this helper
does ``coalesce(1).sortWithinPartitions(time)`` and promotes the part
file: the one output partition is sorted in place, so the write needs
no range-partition exchange (nor the sampling job that plans it).

Scale note: the single-file step is inherently last-stage and small
(hundreds of rows — it feeds an external single-node model); everything
upstream stays fully distributed.  For large extracts use the normal
partitioned writer instead.

Publish is atomic: the part file is staged in a hidden directory
inside the destination directory, so the final step is a
same-filesystem ``os.replace``.  A crash or cron kill never leaves a
truncated file at ``path`` for the jobs' skip-if-exists gate to
mistake for a finished one.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_single_csv(
    df: DataFrame,
    path: str,
    *,
    time_col: str = "time",
    columns: list[str] | None = None,
    header: bool = True,
    time_format: str = "yyyy-MM-dd HH:mm:ss",
) -> str:
    """Write one ordered CSV file at ``path`` with exact column order."""
    cols = columns or [c for c in df.columns if c != time_col]
    out = (
        df.select(F.date_format(time_col, time_format).alias(time_col), *cols)
        .coalesce(1)
        .sortWithinPartitions(time_col)
    )
    out_dir = os.path.dirname(path) or "."
    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".csv_sink_", dir=out_dir)
    try:
        (
            out.write.mode("overwrite")
            .option("header", str(header).lower())
            .option("nullValue", "")
            .csv(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        os.replace(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def read_wide_matrix(
    spark: SparkSession,
    path: str,
    *,
    time_col: str = "Time Stamp",
) -> DataFrame:
    """Read a MIKE wide result matrix (time + N station columns of
    doubles, resources/resmike11_WL.csv shape).  Header names are data
    (station names) so they're taken from the file; value columns are
    explicitly cast to double (the reference relies on pandas
    inference, SURVEY §1.4 says: don't)."""
    raw = spark.read.option("header", "true").csv(path)
    value_cols = [c for c in raw.columns if c != time_col]
    return raw.select(
        F.to_timestamp(F.col(time_col)).alias(time_col),
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    header: bool = False,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE CSV read split into (good_rows, quarantine).

    The reference trusts its CSVs completely (``pd.read_csv`` at
    rf_linux:142 crashes the whole hourly run on one malformed line);
    production ingest needs the malformed sliver captured, not fatal
    and not silently dropped.  Spark's PERMISSIVE mode parses what it
    can and stores the raw line of any row that failed in the
    ``columnNameOfCorruptRecord`` column — this helper returns the
    clean frame (corrupt column dropped) plus a quarantine frame of
    the raw offending lines for replay/alerting.

    Scale shape: ONE scan serves both frames (the split is two lazy
    filters over the same read); no pre-validation pass.  Caveat
    pinned by the test: Spark requires the corrupt column to be
    CACHED or re-read to filter on it (SPARK-21610) — the helper
    handles that by selecting it explicitly in the scan schema.
    """
    full_schema = f"{schema}, {corrupt_col} string"
    raw = (
        spark.read.schema(full_schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
        .cache()  # SPARK-21610: can't filter the corrupt col on a lazy scan
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad
