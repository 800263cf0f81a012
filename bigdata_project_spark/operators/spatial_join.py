"""Grid-partitioned spatial join: point-in-polygon at scale.

The reference's spatial work stops at centroid extraction and pair
distances (SURVEY §2.9); the missing classic is the containment join
(assign points to zones). Spark has no spatial builtin, and the naive
plan — cross join × exact test — is O(points × zones).

The scale-correct shape (what Sedona's spatial partitioning does under
the hood): overlay a grid, replicate each polygon to the cells its
bounding box covers (zones are few and small — this explode is tiny),
equi-join points to cells (hash join, shuffle only on cell id), then run
the exact containment test as a residual predicate inside the join
stage. Cost: one hash join on a dense integer key + O(1) arithmetic per
candidate pair; no UDF, no cross product — the same plan holds at 100 TB
of points.

Fixture geometry: one triangle zone per nation key k with vertices
(k,0), (k+2,0), (k+1,3) — the same synthetic-geometry convention as
``silver_zones_wkt`` — and deterministic point coordinates derived from
customer keys. Containment = all three edge cross-products ≥ 0
(counter-clockwise winding); coordinates are chosen so no point lies
exactly on an edge (no float-boundary ambiguity), and both engines run
the identical IEEE arithmetic. Oracle: the same grid join in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table


def query_point_in_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")

    k = F.col("n_nationkey").cast("double")
    # zone k covers x ∈ [k, k+2] → grid cells k, k+1, k+2 (bbox cover)
    zones = nation.select(
        F.col("n_nationkey").alias("zone_key"),
        k.alias("ax"),
        F.explode(
            F.array(
                F.col("n_nationkey"),
                F.col("n_nationkey") + 1,
                F.col("n_nationkey") + 2,
            )
        ).alias("cell"),
    )

    px = (F.col("c_custkey") % 28).cast("double") + 0.25
    py = (F.col("c_custkey") % 11).cast("double") * 0.3
    points = customer.select(
        F.col("c_custkey").alias("point_id"),
        px.alias("px"),
        py.alias("py"),
        (F.col("c_custkey") % 28).alias("cell"),
    )

    j = points.join(F.broadcast(zones), "cell")
    # triangle (ax,0) (ax+2,0) (ax+1,3), CCW; cross-products of each edge
    e1 = 2.0 * F.col("py")  # (B-A)×(P-A)
    e2 = -F.col("py") - 3.0 * (F.col("px") - F.col("ax") - 2.0)  # (C-B)×(P-B)
    e3 = 3.0 * (F.col("px") - F.col("ax")) - F.col("py")  # (A-C)×(P-C)
    inside = (e1 >= 0) & (e2 >= 0) & (e3 >= 0)
    return (
        j.filter(inside)
        .select(
            "point_id",
            "zone_key",
            round_portable(F.col("px"), 6).alias("px"),
            round_portable(F.col("py"), 6).alias("py"),
        )
        .distinct()  # a zone appears once per covered cell; collapse
    )


ORACLE_POINT_IN_ZONE = f"""
WITH zones AS (
    SELECT n_nationkey AS zone_key,
           CAST(n_nationkey AS DOUBLE) AS ax,
           UNNEST([n_nationkey, n_nationkey + 1, n_nationkey + 2]) AS cell
    FROM nation
),
points AS (
    SELECT c_custkey AS point_id,
           CAST(c_custkey % 28 AS DOUBLE) + 0.25 AS px,
           CAST(c_custkey % 11 AS DOUBLE) * 0.3 AS py,
           c_custkey % 28 AS cell
    FROM customer
)
SELECT DISTINCT point_id, zone_key,
       {round_portable_sql("px", 6)} AS px,
       {round_portable_sql("py", 6)} AS py
FROM points JOIN zones USING (cell)
WHERE 2.0 * py >= 0
  AND -py - 3.0 * (px - ax - 2.0) >= 0
  AND 3.0 * (px - ax) - py >= 0
"""


QUERIES = {
    "spatial_point_in_zone": (query_point_in_zone, ORACLE_POINT_IN_ZONE),
}
