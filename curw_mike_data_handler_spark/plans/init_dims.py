"""Dimension seeding job (reference: outputs/init.py:30-51).

Reads the station seed CSV (resources/mike_stations.csv layout:
OBJECTID, Location, Latitude, Longitude) and idempotently merges the
star-schema dimensions: station (with '%.6f' lat/lon formatting,
init:41-42, station_type='MIKE11'), source, variable, unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_mike_data_handler_spark.schemas import (
    SOURCE_DIM,
    STATION_DIM,
    UNIT_DIM,
    VARIABLE_DIM,
)
from curw_mike_data_handler_spark.sources.local import local_frame
from curw_mike_data_handler_spark.sources.upsert import ParquetMergeTable


def parse_model_version(model_arg: str) -> tuple[str, str]:
    """'mike11_2016' → ('mike11', '2016'); version is everything after
    the first underscore (wl_x:203-204)."""
    parts = model_arg.split("_")
    return parts[0], "_".join(parts[1:])


def station_dim_from_seed(seed: DataFrame) -> DataFrame:
    """Seed CSV → station dimension rows (init:35-43): lat/lon pass
    through the reference's '%.6f' string formatting."""
    return seed.select(
        F.col("OBJECTID").cast("int").alias("station_id"),
        F.col("Location").alias("name"),
        F.format_number(F.col("Latitude"), 6).cast("double").alias("latitude"),
        F.format_number(F.col("Longitude"), 6).cast("double").alias("longitude"),
        F.lit("MIKE11").alias("station_type"),
        F.lit(None).cast("string").alias("description"),
    )


def seed_dimensions(
    spark: SparkSession,
    seed_stations: DataFrame,
    base_path: str,
    *,
    model: str = "MIKE11",
    version: str = "2016",
    variables: tuple[str, ...] = ("WaterLevel", "Discharge"),
    units: tuple[tuple[str, str], ...] = (("m", "Instantaneous"), ("m3/s", "Instantaneous")),
) -> dict[str, ParquetMergeTable]:
    """Idempotent MERGE of all dimensions under ``base_path`` —
    re-seeding is a fixpoint (the reference re-runs init.py freely)."""
    tables = {
        "station": ParquetMergeTable(spark, f"{base_path}/station", ["station_id"], STATION_DIM),
        "source": ParquetMergeTable(spark, f"{base_path}/source", ["source_id"], SOURCE_DIM),
        "variable": ParquetMergeTable(spark, f"{base_path}/variable", ["variable_id"], VARIABLE_DIM),
        "unit": ParquetMergeTable(spark, f"{base_path}/unit", ["unit_id"], UNIT_DIM),
    }
    tables["station"].merge(station_dim_from_seed(seed_stations))
    tables["source"].merge(
        local_frame(spark, [(1, model, version)], SOURCE_DIM)
    )
    tables["variable"].merge(
        local_frame(spark, list(enumerate(variables, 1)), VARIABLE_DIM)
    )
    tables["unit"].merge(
        local_frame(
            spark, [(i, u, ut) for i, (u, ut) in enumerate(units, 1)], UNIT_DIM
        )
    )
    return tables
