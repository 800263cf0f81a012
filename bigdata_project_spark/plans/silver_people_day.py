"""People-per-day / overnight-stays silver pipelines (reference
silver/mitma/mitma_people_day.py:31-82 and mitma_overnights.py:30-73).

Both reference tables are the same shape: 3-way UNION ALL of per-zone
bronze tables (U1), rename projection (P2), ``strptime('%Y%m%d')::DATE``
parse (F2), DOUBLE cast (F14), multi-column NOT NULL filter (P4).

Fixture mapping: ``orders`` sliced by ``o_orderstatus`` plays the three
zone tables; the all-string bronze layer is re-derived by formatting
``o_orderdate`` to 'yyyyMMdd' strings and casting ``o_totalprice`` through
VARCHAR, so the string→DATE and string→DOUBLE casts run on real string
input exactly as in bronze.

Scale: union of parquet scans + per-row projection, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import parse_date_yyyymmdd
from bigdata_project_spark.operators.union_conform import union_conform
from bigdata_project_spark.sources.readers import load_table

_BRANCHES = {"distrito": "O", "municipio": "F", "gau": "P"}


def _zone_union(bronze: DataFrame, flag: str, levels: dict[str, str]) -> DataFrame:
    """U1: the per-zone bronze tables — the rows of ``bronze`` whose
    ``flag`` is each level's value — unioned under ``zone_level``."""
    branches = {level: bronze.filter(F.col(flag) == v).drop(flag) for level, v in levels.items()}
    return union_conform(branches, discriminator="zone_level")


def query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    # bronze re-derivation: everything VARCHAR, as the reference ingests it
    bronze = orders.select(
        "o_orderstatus",
        F.date_format("o_orderdate", "yyyyMMdd").alias("fecha"),
        F.col("o_custkey").cast("string").alias("zona_pernoctacion"),
        F.col("o_orderpriority").alias("edad"),
        # integer-string round trip: double formatting differs between
        # engines, so bronze strings are derived via an exact BIGINT
        F.floor("o_totalprice").cast("bigint").cast("string").alias("personas_str"),
    )

    base = _zone_union(bronze, "o_orderstatus", _BRANCHES)

    conformed = base.select(
        "zone_level",
        F.date_format(parse_date_yyyymmdd("fecha"), "yyyy-MM-dd").alias("date"),
        F.col("zona_pernoctacion").alias("zone_id"),
        F.col("edad").alias("age_group"),
        F.col("personas_str").cast("double").alias("people"),
    )
    return conformed.filter(
        F.col("date").isNotNull()
        & F.col("zone_id").isNotNull()
        & F.col("people").isNotNull()
    )


_OV_BRANCHES = {"distrito": "R", "municipio": "A", "gau": "N"}


def query_overnights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight-stays variant (reference silver/mitma/mitma_overnights.py:30-73):
    same U1/P2/F2/F14 pipeline but with TWO zone columns and a 4-way
    NOT NULL filter (P4). Fixture: ``lineitem`` sliced by ``l_returnflag``
    plays the three per-zone bronze tables."""
    li = load_table(spark, sf_dir, "lineitem")

    bronze = li.select(
        "l_returnflag",
        F.date_format("l_shipdate", "yyyyMMdd").alias("fecha"),
        F.col("l_partkey").cast("string").alias("zona_pernoctacion"),
        F.col("l_suppkey").cast("string").alias("zona_residencia"),
        F.floor("l_quantity").cast("bigint").cast("string").alias("personas_str"),
    )
    base = _zone_union(bronze, "l_returnflag", _OV_BRANCHES)

    conformed = base.select(
        "zone_level",
        F.date_format(parse_date_yyyymmdd("fecha"), "yyyy-MM-dd").alias("date"),
        F.col("zona_pernoctacion").alias("overnight_zone"),
        F.col("zona_residencia").alias("residence_zone"),
        F.col("personas_str").cast("double").alias("people"),
    )
    return conformed.filter(
        F.col("date").isNotNull()
        & F.col("overnight_zone").isNotNull()
        & F.col("residence_zone").isNotNull()
        & F.col("people").isNotNull()
    )


ORACLE_OVERNIGHTS = """
WITH bronze AS (
    SELECT l_returnflag,
           strftime(l_shipdate, '%Y%m%d') AS fecha,
           CAST(l_partkey AS VARCHAR) AS zona_pernoctacion,
           CAST(l_suppkey AS VARCHAR) AS zona_residencia,
           CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS personas_str
    FROM lineitem
),
base AS (
    SELECT 'distrito'  AS zone_level, * EXCLUDE (l_returnflag) FROM bronze WHERE l_returnflag = 'R'
    UNION ALL
    SELECT 'municipio' AS zone_level, * EXCLUDE (l_returnflag) FROM bronze WHERE l_returnflag = 'A'
    UNION ALL
    SELECT 'gau'       AS zone_level, * EXCLUDE (l_returnflag) FROM bronze WHERE l_returnflag = 'N'
)
SELECT zone_level,
       strftime(strptime(fecha, '%Y%m%d'), '%Y-%m-%d') AS date,
       zona_pernoctacion AS overnight_zone,
       zona_residencia AS residence_zone,
       CAST(personas_str AS DOUBLE) AS people
FROM base
WHERE strptime(fecha, '%Y%m%d') IS NOT NULL
  AND zona_pernoctacion IS NOT NULL
  AND zona_residencia IS NOT NULL
  AND CAST(personas_str AS DOUBLE) IS NOT NULL
"""


ORACLE = """
WITH bronze AS (
    SELECT o_orderstatus,
           strftime(o_orderdate, '%Y%m%d') AS fecha,
           CAST(o_custkey AS VARCHAR) AS zona_pernoctacion,
           o_orderpriority AS edad,
           CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR) AS personas_str
    FROM orders
),
base AS (
    SELECT 'distrito'  AS zone_level, * EXCLUDE (o_orderstatus) FROM bronze WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 'municipio' AS zone_level, * EXCLUDE (o_orderstatus) FROM bronze WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 'gau'       AS zone_level, * EXCLUDE (o_orderstatus) FROM bronze WHERE o_orderstatus = 'P'
)
SELECT zone_level,
       strftime(strptime(fecha, '%Y%m%d'), '%Y-%m-%d') AS date,
       zona_pernoctacion AS zone_id,
       edad AS age_group,
       CAST(personas_str AS DOUBLE) AS people
FROM base
WHERE strptime(fecha, '%Y%m%d') IS NOT NULL
  AND zona_pernoctacion IS NOT NULL
  AND CAST(personas_str AS DOUBLE) IS NOT NULL
"""


QUERIES = {
    "silver_overnights": (query_overnights, ORACLE_OVERNIGHTS),
    "silver_people_day": (query, ORACLE),
}
