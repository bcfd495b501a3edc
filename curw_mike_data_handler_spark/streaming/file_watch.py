"""Incremental file ingestion (SURVEY §2.9 — cron-as-stream).

The reference polls for fresh MIKE result files every 30 min with a
40-minute mtime predicate (outputs/extract_mike_data_to_db.sh:15-22) —
at-least-once with manual freshness bookkeeping.  Structured Streaming
file source + ``trigger(availableNow=True)`` gives exactly-once listing
with checkpointed progress: each scheduler tick processes precisely the
files not yet seen, then exits (same cadence model, stronger guarantee).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def stream_csv_dir(
    spark: SparkSession,
    input_dir: str,
    schema: StructType,
    *,
    header: bool = True,
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("header", str(header).lower())
        .option("maxFilesPerTrigger", 64)
        .csv(input_dir)
    )


def run_available_now(
    stream: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    *,
    output_mode: str = "append",
) -> None:
    """Process everything new, exactly once, then stop — the
    cron-compatible trigger.  ``batch_fn`` is the sink (e.g. a
    ParquetMergeTable.merge for upsert semantics, mirroring the
    reference's idempotent re-extraction).  Stateful operators
    (applyInPandasWithState in update mode) need ``output_mode="update"``."""
    q = (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def jdbc_merge_sink(
    *,
    url: str,
    table: str,
    staging: str,
    key_cols: list[str],
    driver: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` sink: each micro-batch upserts into a JDBC
    RDBMS via the stage-and-merge pattern (sources/upsert.
    jdbc_stage_and_merge) — distributed staging write, one server-side
    MERGE.  Composed with the checkpointed file source this gives
    effectively-exactly-once delivery: the source never re-offers a
    processed file, and a crash-replayed batch re-MERGEs to a fixpoint
    (the reference's idempotent re-extraction contract, wl_x:96, on a
    real database instead of the parquet emulation).  Each batch uses
    a batch-id-suffixed staging table so a replay never clobbers a
    concurrent batch's stage."""
    from curw_mike_data_handler_spark.sources.upsert import jdbc_stage_and_merge

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            jdbc_stage_and_merge(
                batch,
                url=url,
                table=table,
                staging=f"{staging}_{batch_id}",
                key_cols=key_cols,
                driver=driver,
            )

    return batch_fn
