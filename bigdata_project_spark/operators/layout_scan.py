"""Storage-layout operators: hive-partitioned writes with partition-
pruned scans, and ORC as an interchange format.

- **Partition pruning** (``layout_partition_pruning``): write events
  hive-partitioned by day (`partitionBy("event_date")`), then read the
  directory back with a day-range predicate. Catalyst resolves the
  predicate against the partition index — `PartitionFilters` in the
  scan, asserted in tests/test_plans.py — so only the matching
  day-directories are listed and read. This is THE 100 TB pattern for
  time-series facts: a predicate on the partition column turns a
  full-table scan into touching k directories; at 1000 executors the
  other ~97% of files are never opened. The oracle filters the same
  range over the raw table, proving pruned results are complete.

- **ORC round-trip** (``source_orc_roundtrip``): write lineitem to ORC
  (Spark-native columnar alternative; zero extra jars), read it back
  and aggregate. Exercises the non-parquet columnar read/write path the
  reference delegates to its engine (reference bronze/utils.py keeps
  everything in DuckDB-native storage); results must match the parquet
  source exactly — format round-trips are lossless.

Both queries stage into a per-call temp dir and leave nothing behind.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

_DEC = "decimal(18,2)"

PRUNE_LO, PRUNE_HI = "2024-01-10", "2024-01-12"


def partition_pruned_daily(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    """Write events partitioned by day under ``base``; return the pruned
    daily rollup for [PRUNE_LO, PRUNE_HI]."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.date_format("ts", "yyyy-MM-dd")
    )
    # shuffle by the partition column first: one file per day-directory
    # instead of (tasks × days) small files — the standing advice for
    # hive-partitioned writes at any scale
    ev.repartition("event_date").write.mode("overwrite").partitionBy(
        "event_date"
    ).parquet(base)
    # hive partition inference types the directory values as DATE; the
    # day-range predicate prunes on it, and the output re-casts to the
    # written string form
    part = spark.read.parquet(base).filter(
        F.col("event_date").between(PRUNE_LO, PRUNE_HI)
    )
    return part.groupBy(F.col("event_date").cast("string").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
    )


def query_layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix="part_prune_")
    try:
        out = partition_pruned_daily(spark, sf_dir, base)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLE_LAYOUT_PARTITION_PRUNING = f"""
SELECT strftime(ts, '%Y-%m-%d') AS event_date,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{PRUNE_LO}' AND '{PRUNE_HI}'
GROUP BY 1
"""


def query_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        # narrow coalesce: cap write tasks so the 4-column interchange
        # set isn't one tiny file per core (open/footer overhead), while
        # keeping enough tasks to write in parallel — measured 3.5 s at
        # task-per-core vs 0.8 s at 16 for 600k rows
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
        ).coalesce(16).write.mode("overwrite").orc(base)
        li = spark.read.orc(base)
        out = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias("sum_price"),
            round_portable(
                F.sum(F.col("l_quantity").cast(_DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_qty"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLE_SOURCE_ORC_ROUNDTRIP = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       {round_portable_sql(
           "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)", 6
       )} AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def query_source_text_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-source round-trip: render events as log lines (`concat_ws` —
    the shape an app log ships in), write with the text sink, read back
    with ``spark.read.text`` and parse fields out with
    ``regexp_extract`` — the classic semi-structured ingest path (the
    reference's CSV-with-regex silver parses are the same motion,
    silver/ine/*.py). Grouping keys are parsed integers/strings only, so
    the round-trip is exactly lossless and the oracle is a plain
    aggregate over the source table."""
    base = tempfile.mkdtemp(prefix="text_logs_")
    try:
        ev = load_table(spark, sf_dir, "events")
        lines = ev.select(
            F.concat_ws(
                " ",
                F.lit("INFO"),
                F.concat(F.lit("user="), F.col("user_id")),
                F.concat(F.lit("type="), F.col("event_type")),
                F.concat(F.lit("id="), F.col("event_id")),
            ).alias("value")
        )
        lines.coalesce(16).write.mode("overwrite").text(base)
        logs = spark.read.text(base)
        parsed = logs.select(
            F.regexp_extract("value", r"type=(\w+)", 1).alias("event_type"),
            F.regexp_extract("value", r"user=(\d+)", 1).cast("long").alias("user_id"),
        )
        out = parsed.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("user_id").alias("n_users"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLE_SOURCE_TEXT_LOGS = """
SELECT event_type,
       COUNT(*) AS n_lines,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


QUERIES = {
    "source_orc_roundtrip": (query_source_orc_roundtrip, ORACLE_SOURCE_ORC_ROUNDTRIP),
    "source_text_logs": (query_source_text_logs, ORACLE_SOURCE_TEXT_LOGS),
    "layout_partition_pruning": (query_layout_partition_pruning, ORACLE_LAYOUT_PARTITION_PRUNING),
}
