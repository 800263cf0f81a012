"""Zone table + all-pairs geodesic distances (reference
silver/mitma/mitma_zonification.py:34-74 and silver/distances.py:27-37).

The reference builds ``silver_zones`` (id, name, zone_level, centroid
lon/lat from WKT — §2.9 G1-G4) and then ``silver_distances`` as a self
cross join filtered to same-zone-level distinct pairs (J3) with
``ST_Distance_Sphere(...)/1000`` (G5, F21).

Fixture mapping: ``nation`` plays the zones table; deterministic synthetic
centroids are derived from the nation key (no shapefile in the fixtures —
the WKT parse path is covered in tests/test_spatial.py with inline WKT).
``zone_level`` comes from the region join so pairs stay within a region,
mirroring the per-level pair space.

Scale notes:
- The pair join is an *equi*-join on zone_level with a ``!=`` residual —
  Catalyst plans the equi part as a hash join, never a cartesian.
- At real scale (10k zones/level → 10^8 pairs) the join key is low-
  cardinality; the fix is salting the zone_level key or pre-bucketing by
  geohash cell so only nearby pairs materialize. Documented here; the
  haversine itself is pure codegen (see functions/geo.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.geo import haversine_km
from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

# Deterministic pseudo-centroids from the integer key: lon in [-10, 4),
# lat in [36, 44) — Spain-ish extents. The `e0` exponent suffix forces
# DOUBLE literals in both Spark SQL and DuckDB (a bare `-10.0` parses as
# DECIMAL in Spark, giving decimal — not IEEE — arithmetic).
_LON = "(-10.0e0 + (({k} * 7919) % 1400) / 100.0e0)"
_LAT = "(36.0e0 + (({k} * 104729) % 800) / 100.0e0)"


def zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("n_nationkey").cast("string").alias("id"),
            F.col("n_name").alias("name"),
            F.col("r_name").alias("zone_level"),
            F.expr(_LON.format(k="n_nationkey")).alias("lon"),
            F.expr(_LAT.format(k="n_nationkey")).alias("lat"),
        )
    )


def query_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zones(spark, sf_dir)


def _wkt_zones(spark: SparkSession, sf_dir: str, centroids) -> DataFrame:
    """Nation rows as bronze WKT zones, with the centroids that
    ``centroids(bronze)`` parses from their ``wkt`` column, rounded.

    Each nation key k generates a MULTIPOLYGON of two disjoint triangles
    with areas 3 and 6, so the area-weighted centroid ((9k+74)/9, 67/9)
    differs from the naive vertex mean — the oracle checks the closed
    form, which only matches if parsing, ring handling, and the shoelace
    weighting are all correct."""
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    wkt = F.format_string(
        "MULTIPOLYGON(((%d 0, %d 0, %d 3, %d 0)), ((%d 10, %d 10, %d 12, %d 10)))",
        k, k + 2, k, k,
        k + 10, k + 16, k + 10, k + 10,
    )
    bronze = nation.select(
        F.col("n_nationkey").cast("string").alias("id"),
        F.col("n_name").alias("name"),
        wkt.alias("wkt"),
    )
    return centroids(bronze).select(
        "id",
        "name",
        round_portable(F.col("centroid_lon"), 6).alias("centroid_lon"),
        round_portable(F.col("centroid_lat"), 6).alias("centroid_lat"),
    )


def query_zones_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full G1-G4 zonification path: WKT text (as stored in bronze,
    reference bronze/utils.py:679-681) → parse → ST_Multi promotion →
    area-weighted centroid → ST_X/ST_Y (see :func:`_wkt_zones`)."""
    from bigdata_project_spark.functions.geo import wkt_centroids

    return _wkt_zones(spark, sf_dir, wkt_centroids)


def query_zones_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same G1-G4 zonification through the engine-dispatch path
    (functions/geo.py:wkt_centroids_auto): Sedona's JVM ST_* kernels
    when the jars are present, the native Arrow parser otherwise. Same
    output contract either way, so it shares ORACLE_ZONES_WKT — what
    the row proves is that the dispatch seam itself is correct."""
    from bigdata_project_spark.functions.geo import wkt_centroids_auto

    return _wkt_zones(spark, sf_dir, lambda bronze: wkt_centroids_auto(spark, bronze, "wkt"))


ORACLE_ZONES_WKT = f"""
SELECT CAST(n_nationkey AS VARCHAR) AS id,
       n_name AS name,
       {round_portable_sql("(CAST(n_nationkey AS DOUBLE) * 9.0e0 + 74.0e0) / 9.0e0", 6)} AS centroid_lon,
       {round_portable_sql("67.0e0 / 9.0e0", 6)} AS centroid_lat
FROM nation
"""


def query_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = zones(spark, sf_dir)
    o, d = z.alias("o"), z.alias("d")
    pairs = o.join(
        d,
        (F.col("o.zone_level") == F.col("d.zone_level"))
        & (F.col("o.id") != F.col("d.id")),
    )
    return pairs.select(
        F.col("o.id").alias("origin_id"),
        F.col("d.id").alias("destination_id"),
        F.col("o.zone_level").alias("zone_level"),
        round_portable(
            haversine_km(F.col("o.lon"), F.col("o.lat"), F.col("d.lon"), F.col("d.lat")),
            3,
        ).alias("distance_km"),
    )


_ZONES_SQL = f"""
    SELECT CAST(n_nationkey AS VARCHAR) AS id,
           n_name AS name,
           r_name AS zone_level,
           {_LON.format(k="n_nationkey")} AS lon,
           {_LAT.format(k="n_nationkey")} AS lat
    FROM nation JOIN region ON n_regionkey = r_regionkey
"""

ORACLE_ZONES = f"SELECT * FROM ({_ZONES_SQL})"

# haversine written out with the identical operation order as
# functions/geo.py:haversine_km so doubles agree bit-for-bit
_HAV = """
(2 * asin(sqrt(
    pow(sin((d.lat - o.lat) * (pi() / 180.0) / 2), 2)
    + cos(o.lat * (pi() / 180.0)) * cos(d.lat * (pi() / 180.0))
      * pow(sin((d.lon - o.lon) * (pi() / 180.0) / 2), 2)
)) * (6371008.8 / 1000.0))
"""

ORACLE_DISTANCES = f"""
WITH z AS ({_ZONES_SQL})
SELECT o.id AS origin_id,
       d.id AS destination_id,
       o.zone_level AS zone_level,
       {round_portable_sql(_HAV, 3)} AS distance_km
FROM z o JOIN z d
  ON o.zone_level = d.zone_level AND o.id <> d.id
"""


QUERIES = {
    "silver_distances": (query_distances, ORACLE_DISTANCES),
    "silver_zones": (query_zones, ORACLE_ZONES),
    "silver_zones_wkt": (query_zones_wkt, ORACLE_ZONES_WKT),
    "silver_zones_geom": (query_zones_geom, ORACLE_ZONES_WKT),
}
