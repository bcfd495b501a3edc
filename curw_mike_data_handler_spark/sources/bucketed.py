"""Bucketed tables — pre-shuffled storage for exchange-free joins.

The reference's fact table is keyed by ``tms_id`` and every read/write
touches one series at a time (SURVEY S3/S8); at warehouse scale the
recurring join of facts to the run registry (and fact-to-fact self
joins across fgt versions) shuffles the big side every query.  Writing
both sides bucketed by the join key hash-partitions the data ONCE at
write time: Spark's scan then reports the bucketing as its output
partitioning and the join planner drops the Exchange entirely.

Rules enforced here (easy to get silently wrong):

* both sides must bucket by the SAME columns into the SAME bucket
  count, or Spark re-shuffles one side anyway;
* ``spark.sql.sources.bucketing.enabled`` must be on (default) and the
  reader must go through the table catalog (``spark.table``), not the
  raw path — path reads lose bucketing metadata;
* pick bucket counts so one bucket ≈ one task's worth of data at the
  target scale (for 100 TB of facts and ~128 MiB tasks that is
  O(100k) buckets; buckets too coarse re-introduce skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_cols: str | list[str],
    num_buckets: int,
    sort_cols: str | list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (optionally sort-within-bucket)
    managed parquet table.  Sorting by the range-predicate column
    (e.g. ``time``) on top of bucketing gives the scan both co-location
    AND ordered row groups for min/max skipping."""
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    # cluster INTO the bucket spec first: repartition(n, cols) uses the
    # same murmur3-mod-n placement as the bucket id, so each task holds
    # exactly one bucket's rows and the write emits ONE file per bucket
    # — without this, a bucketed write fans out to (#input partitions ×
    # #buckets) small files, the classic bucketBy foot-gun
    df = df.repartition(num_buckets, *bucket_cols)
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read — REQUIRED to retain bucketing metadata (a raw
    ``spark.read.parquet(path)`` of the same files would shuffle)."""
    return spark.table(table)


def enable_sorted_scan_ordering(spark: SparkSession, on: bool = True) -> None:
    """Opt into storage-partitioned MERGE reads (post-drain roadmap):
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` makes a
    bucketed scan report its ``sortBy`` order, so a same-spec
    SortMergeJoin elides BOTH the Exchange and the Sort — the join
    degenerates to a pure per-bucket merge of pre-sorted files
    (plan-guarded in tests/test_partitioned_layout.py).

    Spark turned this off by default in 3.0 because the ordering claim
    only holds for ONE file per bucket — with more, the scan would
    need a task-side merge that can cost more than re-sorting.  The
    layouts here qualify by construction: write_bucketed clusters to
    one file per bucket, and the manifest layer's compaction
    (sources/manifest_bucketed.py) restores that shape on cadence
    (between compactions Spark simply stops claiming the order and
    plans the Sort again — correctness never depends on the flag)."""
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering",
        "true" if on else "false",
    )
