"""Output extraction pipeline (reference: outputs/extract_water_level.py
and its twin extract_discharge.py — factored ONCE here, SURVEY §7 note
on duplicated helper code).

Station dimension → deterministic sha2 series ids per station
(wl_x:88-92) → one collect: the matrix's stations as a local frame
plus the skip report in matrix column order (wl_x:77/104).  Wide MIKE
result matrix → melt long → 3-dp round → broadcast join to that frame
→ fgt-versioned upsert into the fact table + run-header maintenance
(wl_x:93-97).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.functions.ids import timeseries_id
from curw_mike_data_handler_spark.operators.spine import melt_long
from curw_mike_data_handler_spark.sources.local import local_frame
from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable


@dataclass
class ExtractConfig:
    """CLI/config surface of wl_x:155-210."""

    sim_tag: str = "hourly_run"
    model: str = "MIKE11"
    version: str = "2016"
    variable: str = "WaterLevel"
    unit: str = "m"
    unit_type: str = "Instantaneous"
    source_id: int = 1
    variable_id: int = 1
    unit_id: int = 1


def melt_result_matrix(wide: DataFrame, time_col: str = "Time Stamp") -> DataFrame:
    """time×station matrix → long (station, time, value), 3 dp
    (wl_x:247-249); values kept verbatim otherwise — the output path
    does NOT clean negatives (FIXTURES.md §7)."""
    value_cols = [c for c in wide.columns if c != time_col]
    long_df = melt_long(wide, time_col, value_cols, series_col="station", value_col="value")
    return long_df.select(
        F.col("station"),
        F.col(time_col).alias("time"),
        F.round("value", 3).alias("value"),
    )


def station_series(station_dim: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """The station dimension keyed by result-matrix column name, with
    each station's deterministic series id (wl_x:88-92).  The id is
    hashed once per station, at the dimension's grain, as the
    reference does inside its loop over the matrix's station columns."""
    return station_dim.select(
        F.col("name").alias("station"),
        "station_id",
        "latitude",
        "longitude",
        timeseries_id(
            F.lit(cfg.sim_tag),
            F.lit(cfg.model),
            F.lit(cfg.version),
            F.lit(cfg.variable),
            F.lit(cfg.unit),
            F.lit(cfg.unit_type),
            F.lit(cfg.source_id),
            F.lit(cfg.variable_id),
            F.lit(cfg.unit_id),
            F.format_number(F.col("latitude"), 6),   # "%.6f" — init:41-42
            F.format_number(F.col("longitude"), 6),
            F.col("station_id"),
        ).alias("tms_id"),
    )


def match_stations(
    series: DataFrame, stations: Sequence[str]
) -> tuple[DataFrame, list[str]]:
    """One collect of the series dimension → (its rows for
    ``stations`` as a local frame, the names in ``stations`` it lacks).

    The lacking names keep the order of ``stations`` — the matrix's
    column order, which is the reference's loop order for its skip
    report (wl_x:77, 104)."""
    by_name: dict[str, list] = {}
    for r in series.collect():
        by_name.setdefault(r["station"], []).append(r)
    wanted = dict.fromkeys(stations)
    rows = [r for s in wanted for r in by_name.get(s, ())]
    skipped = [s for s in wanted if s not in by_name]
    return local_frame(series.sparkSession, rows, series.schema), skipped


def attach_series_ids(long_df: DataFrame, series: DataFrame) -> DataFrame:
    """Broadcast join of the melted matrix to the series dimension:
    rows of stations the dimension lacks drop out (wl_x:77-82)."""
    return long_df.join(F.broadcast(series), "station", "inner")


def upsert_forecast(
    with_ids: DataFrame,
    fgt: str,
    data_table: ParquetMergeTable,
    run_table: ParquetMergeTable,
    cfg: ExtractConfig,
) -> None:
    """Fact upsert on PK (tms_id, time, fgt) + run-header merge with
    start_date/latest_fgt maintenance (wl_x:93-97).  Both MERGEs are
    idempotent: re-extracting the same fgt is a fixpoint."""
    fact = with_ids.select(
        "tms_id",
        "time",
        F.lit(fgt).cast("timestamp").alias("fgt"),
        "value",
    )
    data_table.merge(fact)

    header = (
        with_ids.groupBy("tms_id", "station_id")
        .agg(F.min("time").alias("start_date"))
        .select(
            "tms_id",
            F.lit(cfg.sim_tag).alias("sim_tag"),
            "station_id",
            F.lit(cfg.source_id).alias("source_id"),
            F.lit(cfg.variable_id).alias("variable_id"),
            F.lit(cfg.unit_id).alias("unit_id"),
            "start_date",
            F.lit(fgt).cast("timestamp").alias("latest_fgt"),
        )
    )
    # keep earliest start_date / newest latest_fgt across merges
    existing = run_table.read().select(
        F.col("tms_id").alias("tms_id"),
        F.col("start_date").alias("__old_start"),
        F.col("latest_fgt").alias("__old_fgt"),
    )
    upd = (
        header.join(existing, "tms_id", "left")
        .withColumn("start_date", F.least("start_date", "__old_start"))
        .withColumn("latest_fgt", F.greatest("latest_fgt", "__old_fgt"))
        .drop("__old_start", "__old_fgt")
    )
    run_table.merge(upd)
