"""Small driver-side frames as Arrow local relations.

``spark.createDataFrame(rows, schema)`` over Python rows plans as a
pickled-row RDD (``LogicalRDD``) parallelized over the default
parallelism, so EVERY scan of the frame runs Python worker tasks that
unpickle the rows again: a job that scans a 30-row coefficient table
three times pays three rounds of ``pyspark.daemon`` workers.  Built
from a ``pyarrow.Table`` instead, the same frame is a pure-JVM
``LocalRelation``: the rows cross the Python/JVM boundary once, at
construction, and no scan of it ever starts a Python worker.

* ``local_frame(spark, rows, schema)`` — Python rows → LocalRelation.
  There is no row-pickle fallback: rows Arrow cannot carry raise.
* ``rematerialize_local(spark, df)`` — a small Spark result → Arrow →
  LocalRelation, with a LOGGED row-pickle fallback.

Every Python-rows ``createDataFrame`` in the package goes through this
module; ``tests/test_local_frames.py`` checks that statically.
"""

from __future__ import annotations

import logging
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)


def local_frame(
    spark: SparkSession, rows: Iterable, schema: StructType | str
) -> DataFrame:
    """A DataFrame of ``rows`` under ``schema`` (a ``StructType`` or a
    DDL string) that plans as a ``LocalRelation``; its schema equals
    the requested one (names, types, nullability).

    Rows are tuples (or dicts / Rows) in schema order.  They first go
    through the schema's own ``toInternal`` — the conversion the
    row-pickle path applies (naive datetimes as local time, dict
    structs to field order) — then into Arrow columns.  A value Arrow
    cannot hold under its field's type, or a NULL in a non-nullable
    field, raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    internal = [schema.toInternal(r) for r in rows]
    # strict: a row whose width differs from the schema raises, as on
    # the row path, instead of losing a column to zip's truncation
    columns = list(zip(*internal, strict=True)) if internal else [()] * len(schema)
    arrays = [
        pa.array(col, type=field.type)
        for col, field in zip(columns, arrow_schema, strict=True)
    ]
    for arr, field in zip(arrays, schema.fields):
        if arr.null_count and not field.nullable:
            raise ValueError(f"NULL in non-nullable field {field.name!r}")
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def rematerialize_local(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Copy a SMALL, driver-resident result (a memory-sink table, a
    gate result) into a standalone local DataFrame.

    Arrow both ways: ``toArrow()`` + ``createDataFrame`` over the Arrow
    table move the rows as columnar batches and plan a LocalRelation.
    The row path, ``createDataFrame(df.collect(), schema)``, pickled
    every row one at a time through Py4J (2-4 s per replay gate on a
    100-250k-row sink) and built a pickled-row RDD whose every scan
    paid one Python-worker handshake per partition (0.4-1.9 s per noop
    scan of a 21-row gate result).  Falls back to the row path, with a
    warning, for any type Arrow interchange cannot carry."""
    try:
        return spark.createDataFrame(df.toArrow())
    except Exception as exc:
        # visible fallback: a silent drop to the row-pickle path would
        # quietly re-introduce the per-scan cost the Arrow path removed
        _log.warning(
            "Arrow rematerialization failed (%s: %s); "
            "falling back to the row-pickle path",
            type(exc).__name__,
            exc,
        )
        return spark.createDataFrame(df.collect(), df.schema)
