"""Sink-side operators (SURVEY.md §2.1 S6-S10).

The reference writes through DuckLake tables: schema-only CREATE
(bronze/utils.py:318-331), CREATE OR REPLACE ... AS SELECT for every silver
table (e.g. silver/mitma/mitma_od.py:33-134), INSERT INTO appends
(docs/dag_bronze_mitma.py:108-140) and DROP TABLE resets
(bronze/utils.py:786). In Spark these are ``saveAsTable`` modes against the
session catalog/warehouse; MERGE lives in operators/merge.py.

Scale notes
-----------
- ``saveAsTable`` with parquet + a warehouse on object storage is the
  direct analogue of DuckLake's parquet-on-S3; on a cluster add
  ``partitionBy`` on the natural date column so downstream reads prune.
- Overwrite mode rewrites atomically per-table (the reference's
  CREATE OR REPLACE semantics); at 100 TB prefer partition-overwrite
  (``spark.sql.sources.partitionOverwriteMode=dynamic``) over full rewrites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def create_table_schema_only(df: DataFrame, table: str) -> None:
    """S6: create the table with ``df``'s schema and zero rows
    (DuckDB ``CREATE TABLE IF NOT EXISTS ... LIMIT 0``, bronze/utils.py:318-331)."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        df.limit(0).write.mode("errorifexists").format("parquet").saveAsTable(table)


def replace_table(df: DataFrame, table: str, partition_by: list[str] | None = None) -> None:
    """S7: ``CREATE OR REPLACE TABLE t AS <query>`` (silver/*.py)."""
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(table)


def append_table(df: DataFrame, table: str) -> None:
    """S8: ``INSERT INTO t SELECT ...`` (docs/dag_bronze_mitma.py:108-140),
    into an unpartitioned table: saveAsTable(append) validates the
    partitioning against the catalog and refuses a mismatch."""
    df.write.mode("append").format("parquet").saveAsTable(table)


def drop_table(spark: SparkSession, table: str) -> None:
    """S10: ``DROP TABLE IF EXISTS`` (bronze/utils.py:786)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def drop_table_and_orphan_location(spark: SparkSession, table: str) -> None:
    """DROP plus removal of a leftover managed location: a run that
    crashed between DROP and write leaves the warehouse directory behind
    with no catalog entry, and Spark then refuses to recreate the table
    (LOCATION_ALREADY_EXISTS). Callers that re-create fixed-name tables
    (bucketed layouts, the streaming upsert sink) use this form."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{warehouse}/{table.lower()}", ignore_errors=True)
