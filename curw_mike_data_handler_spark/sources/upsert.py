"""Keyed upsert sinks (SURVEY §2.1 S8-S10, §4.2-3).

The reference upserts forecast rows into MySQL with
``INSERT … ON DUPLICATE KEY UPDATE`` on PK (tms_id, time, fgt)
(outputs/extract_water_level.py:96) and maintains a run-header table
(insert_run / update_start_date / update_latest_fgt, wl_x:88-97).

Three sinks:

* ``ParquetMergeTable`` — lakehouse-style MERGE emulation over plain
  parquet (no Delta in this container): anti-join the existing table
  against the new keys, union, rewrite.  Idempotent (re-applying the
  same batch is a fixpoint).  Every ``merge`` reads and overwrites
  the WHOLE table, so its cost grows with the table, not the batch;
  at 100 TB you'd use Delta/Iceberg ``MERGE INTO`` with the same key
  contract.
* ``jdbc_upsert_partition`` — MySQL parity path: batched
  ``INSERT … ON DUPLICATE KEY UPDATE`` from ``foreachPartition``
  (Spark's JDBC writer has no upsert mode).  Gated behind an
  import-try since no pymysql driver ships in this container.
* ``jdbc_stage_and_merge`` — the warehouse-standard bulk upsert for
  engines with real MERGE (Derby/Oracle/DB2/SQL Server): distributed
  staging write through Spark's actual JDBC writer, then ONE
  server-side ANSI MERGE.  Exercised live against in-JVM Derby
  (tests/test_jdbc_derby.py), including as a streaming foreachBatch
  sink (streaming/file_watch.jdbc_merge_sink).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from curw_mike_data_handler_spark.sources.local import local_frame


class ParquetMergeTable:
    """A keyed parquet table with MERGE (upsert) writes.

    Last-writer-wins on the key: new rows replace existing rows with
    the same key tuple; other rows are preserved.
    """

    def __init__(self, spark: SparkSession, path: str, key_cols: Sequence[str],
                 schema: StructType):
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.schema = schema

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return local_frame(self.spark, [], self.schema)
        return self.spark.read.schema(self.schema).parquet(self.path)

    def merge(self, updates: DataFrame) -> None:
        """MERGE: existing ▷ (anti join on key) ∪ updates → rewrite.

        Within-batch duplicate keys keep an arbitrary single row
        (mirrors sequential upsert where the last statement wins)."""
        updates = updates.dropDuplicates(self.key_cols)
        current = self.read()
        survivors = current.join(updates.select(self.key_cols), self.key_cols, "left_anti")
        merged = survivors.unionByName(updates.select(current.columns))
        # one write: the plan reads ``path``, never ``__next``
        merged.write.mode("overwrite").parquet(self.path + "__next")
        _swap_dir(self.path + "__next", self.path)


def _swap_dir(src: str, dst: str) -> None:
    import shutil

    if os.path.exists(dst):
        shutil.rmtree(dst)
    os.rename(src, dst)


def latest_fgt_view(data: DataFrame, key: str = "tms_id", fgt_col: str = "fgt") -> DataFrame:
    """'Latest fgt wins' read semantics (wl_x:97 update_latest_fgt):
    keep only rows from each series' newest forecast-generated-time."""
    w = Window.partitionBy(key)
    return (
        data.withColumn("__max_fgt", F.max(fgt_col).over(w))
        .filter(F.col(fgt_col) == F.col("__max_fgt"))
        .drop("__max_fgt")
    )


def upsert_statement(table: str, columns: Sequence[str], key_cols: Sequence[str],
                     dialect: str = "mysql") -> str:
    """The keyed-upsert statement for one DB dialect.

    * ``"mysql"`` — ``INSERT … ON DUPLICATE KEY UPDATE c=VALUES(c)``
      with ``%s`` placeholders (pymysql paramstyle), byte-for-byte the
      reference's statement (wl_x:96).
    * ``"duckdb"`` — standard-SQL ``INSERT … ON CONFLICT (keys) DO
      UPDATE SET c=excluded.c`` with ``?`` placeholders (qmark
      paramstyle) — the same contract on an engine that actually runs
      in this container, so the execution path is integration-testable
      against a live cursor.
    """
    non_keys = [c for c in columns if c not in key_cols]
    if dialect == "mysql":
        placeholders = ",".join(["%s"] * len(columns))
        updates = ",".join(f"{c}=VALUES({c})" for c in non_keys)
        return (
            f"INSERT INTO {table} ({','.join(columns)}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )
    if dialect == "duckdb":
        placeholders = ",".join(["?"] * len(columns))
        updates = ",".join(f"{c}=excluded.{c}" for c in non_keys)
        return (
            f"INSERT INTO {table} ({','.join(columns)}) VALUES ({placeholders}) "
            f"ON CONFLICT ({','.join(key_cols)}) DO UPDATE SET {updates}"
        )
    raise ValueError(f"unknown upsert dialect: {dialect!r}")


def jdbc_upsert_partition(rows, *, table: str, columns: Sequence[str],
                          key_cols: Sequence[str], url: str | None = None,
                          batch_size: int = 1000, connection_factory=None,
                          dialect: str = "mysql"):
    """foreachPartition body: MySQL ``INSERT … ON DUPLICATE KEY UPDATE``
    parity with wl_x:96.

    ``connection_factory`` is any zero-arg callable returning a DB-API
    connection — injected so the statement generation, batching and
    idempotence contract are unit-testable without a live server, and
    so the whole path can run for real against DuckDB
    (``dialect="duckdb"``); the default builds a pymysql connection
    from ``url`` (requires the driver at runtime)."""
    if connection_factory is None:
        if url is None:
            raise ValueError("url required when no connection_factory is given")
        try:
            import pymysql  # noqa: F401
        except ImportError as exc:  # pragma: no cover - no driver in container
            raise NotImplementedError("pymysql not available in this environment") from exc
        conn_kwargs = _parse_mysql_url(url)  # pragma: no cover - live MySQL only

        def connection_factory():  # pragma: no cover
            return pymysql.connect(**conn_kwargs)

    sql = upsert_statement(table, columns, key_cols, dialect)
    conn = connection_factory()
    try:
        with conn.cursor() as cur:
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in columns))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    batch = []
            if batch:
                cur.executemany(sql, batch)
        conn.commit()
    finally:
        conn.close()


def merge_from_staging_statement(
    table: str,
    staging: str,
    columns: Sequence[str],
    key_cols: Sequence[str],
    quote: str = '"',
) -> str:
    """ANSI ``MERGE INTO target USING staging`` — the server-side half
    of the stage-and-merge bulk-upsert pattern (Derby, Oracle, DB2,
    SQL Server; MySQL callers use ``upsert_statement`` instead since
    MySQL lacks MERGE).  Column identifiers are quoted (default ``"``)
    because Spark's JDBC writer creates case-preserved quoted columns —
    an unquoted reference would fold to uppercase on Derby and miss."""
    q = lambda c: f"{quote}{c}{quote}"  # noqa: E731
    non_keys = [c for c in columns if c not in key_cols]
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in key_cols)
    set_clause = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
    cols = ", ".join(q(c) for c in columns)
    vals = ", ".join(f"s.{q(c)}" for c in columns)
    return (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {set_clause} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def jdbc_stage_and_merge(
    updates: DataFrame,
    *,
    url: str,
    table: str,
    staging: str,
    key_cols: Sequence[str],
    driver: str | None = None,
) -> int:
    """Bulk keyed upsert into a JDBC RDBMS, the warehouse-standard
    two-step: (1) the DISTRIBUTED data movement — Spark's real JDBC
    writer overwrites the staging table from every partition in
    parallel; (2) ONE server-side ``MERGE`` from staging into the
    target, issued over a driver-side JDBC connection (one statement,
    no rows through the driver).  Idempotent: re-applying the same
    staged batch is a fixpoint, the reference's S8 upsert contract
    (extract_water_level.py:96) on engines with real MERGE.

    Within-batch duplicate keys keep one arbitrary row first (ANSI
    MERGE rejects a target row matched by two source rows).  Returns
    the server-reported merged-row count."""
    spark = updates.sparkSession
    w = updates.dropDuplicates(list(key_cols)).write.format("jdbc").option(
        "url", url
    ).option("dbtable", staging)
    if driver:
        w = w.option("driver", driver)
    w.mode("overwrite").save()
    sql = merge_from_staging_statement(table, staging, updates.columns, key_cols)
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        n = st.executeUpdate(sql)
        conn.commit()
        st.close()
        return n
    finally:
        conn.close()


def _parse_mysql_url(url: str) -> dict:  # pragma: no cover
    from urllib.parse import urlparse

    u = urlparse(url)
    return {
        "host": u.hostname,
        "port": u.port or 3306,
        "user": u.username,
        "password": u.password,
        "database": u.path.lstrip("/"),
    }
