"""Flagship pipeline: the reference's biggest silver query re-expressed.

``SILVER_mitma_od`` (reference silver/mitma/mitma_od.py:33-134) is a single
CREATE-OR-REPLACE over a CTE chain:

    base      = UNION ALL of three per-zone bronze tables, each tagged with a
                literal zone_level                        (U1, P3)
    enriched  = rename/cast projection (ES→EN), datetime from fecha+lpad(hour)
                strings, weekend flag, holiday flag via IN-subquery semi-join,
                tri-state 'si'/'no' booleans              (P2, F1-F5, F15, J4)
    filtered  = multi-column NOT NULL guard               (P4)

Here the same plan shape runs over the driver's ``lineitem`` fixture: the
three zone tables become the three ``l_returnflag`` slices, the holiday dim
becomes the distinct first-of-month shipdates, and the 'si'/'no' flag
becomes ``l_linestatus`` 'O'/'F'.

Scale notes (verified via .explain, see tests/test_plans.py):
- The union is shuffle-free; filters/projections push into each branch and
  down to the parquet scan (PushedFilters on l_returnflag).
- The holiday semi-join is a broadcast LeftSemi (the dim is tiny by
  construction — months, not rows); no shuffle of the fact side.
- Everything else is per-row expression work inside one WholeStageCodegen
  span — at 100 TB this plan is a single scan + broadcast semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import (
    parse_ts_yyyymmddhh,
    round_portable,
    round_portable_sql,
    tri_state_bool,
    weekend_flag,
)
from bigdata_project_spark.operators.union_conform import union_conform
from bigdata_project_spark.sources.readers import load_table

# l_returnflag slice → zone_level tag, mirroring the reference's
# distrito/municipio/gau branches (silver/mitma/mitma_od.py:35-110).
_BRANCHES = {"distrito": "A", "municipio": "N", "gau": "R"}


def query(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    branches = {
        level: li.filter(F.col("l_returnflag") == flag).drop("l_returnflag")
        for level, flag in _BRANCHES.items()
    }
    base = union_conform(branches, discriminator="zone_level")

    # Re-derive the reference's string inputs (fecha 'YYYYMMDD', periodo 'H')
    # then parse them back — exercises F1/F3/F20 on real string data.
    fecha = F.date_format("l_shipdate", "yyyyMMdd")
    periodo = F.hour("l_shipdate").cast("string")

    holidays = (
        li.select(F.trunc("l_shipdate", "month").alias("holiday_date")).distinct()
    )

    enriched = (
        base.withColumn("event_ts", parse_ts_yyyymmddhh(fecha, periodo))
        .withColumn("event_date", F.to_date("event_ts"))
        .select(
            "zone_level",
            F.date_format("event_ts", "yyyy-MM-dd HH:mm:ss").alias("datetime"),
            F.col("l_orderkey").cast("string").alias("origin_id"),
            F.col("l_partkey").cast("string").alias("destination_id"),
            round_portable(F.col("l_quantity"), 2).alias("n_trips"),
            round_portable(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) / 1000.0,
                4,
            ).alias("km_trips"),
            weekend_flag("l_shipdate").alias("is_weekend"),
            tri_state_bool("l_linestatus", "o", "f").alias("is_open"),
            "event_date",
        )
        # J4: semi-join against the (broadcast) holiday dim, then flag.
        .join(
            F.broadcast(holidays),
            F.col("event_date") == F.col("holiday_date"),
            "left",
        )
        .withColumn("is_holiday", F.col("holiday_date").isNotNull())
        .drop("holiday_date", "event_date")
    )

    # P4: multi-column NOT NULL guard (silver/mitma/mitma_od.py:121-131).
    return enriched.filter(
        F.col("datetime").isNotNull()
        & F.col("origin_id").isNotNull()
        & F.col("destination_id").isNotNull()
        & F.col("n_trips").isNotNull()
    )


# The fixture's holiday calendar (month starts of the ship dates), as an
# oracle CTE.
HOLIDAYS_SQL = """holidays AS (
    SELECT DISTINCT CAST(date_trunc('month', l_shipdate) AS DATE) AS holiday_date
    FROM lineitem
)"""

ORACLE = f"""
WITH base AS (
    SELECT 'distrito'  AS zone_level, * EXCLUDE (l_returnflag) FROM lineitem WHERE l_returnflag = 'A'
    UNION ALL
    SELECT 'municipio' AS zone_level, * EXCLUDE (l_returnflag) FROM lineitem WHERE l_returnflag = 'N'
    UNION ALL
    SELECT 'gau'       AS zone_level, * EXCLUDE (l_returnflag) FROM lineitem WHERE l_returnflag = 'R'
),
{HOLIDAYS_SQL},
enriched AS (
    SELECT
        zone_level,
        strftime(strptime(strftime(l_shipdate, '%Y%m%d') || lpad(CAST(hour(l_shipdate) AS VARCHAR), 2, '0'), '%Y%m%d%H'), '%Y-%m-%d %H:%M:%S') AS datetime,
        CAST(l_orderkey AS VARCHAR) AS origin_id,
        CAST(l_partkey AS VARCHAR) AS destination_id,
        floor(l_quantity * 100.0 + 0.5) / 100.0 AS n_trips,
        floor((l_extendedprice * (1.0 - l_discount) / 1000.0) * 10000.0 + 0.5) / 10000.0 AS km_trips,
        isodow(l_shipdate) IN (6, 7) AS is_weekend,
        CASE WHEN lower(l_linestatus) = 'o' THEN TRUE
             WHEN lower(l_linestatus) = 'f' THEN FALSE END AS is_open,
        CAST(strptime(strftime(l_shipdate, '%Y%m%d') || lpad(CAST(hour(l_shipdate) AS VARCHAR), 2, '0'), '%Y%m%d%H') AS DATE) AS event_date
    FROM base
)
SELECT zone_level, datetime, origin_id, destination_id, n_trips, km_trips,
       is_weekend, is_open,
       event_date IN (SELECT holiday_date FROM holidays) AS is_holiday
FROM enriched
WHERE datetime IS NOT NULL AND origin_id IS NOT NULL
  AND destination_id IS NOT NULL AND n_trips IS NOT NULL
"""


QUERIES = {
    "silver_od": (query, ORACLE),
}
