"""Bucketed table layout: co-located, shuffle-free repeated joins.

The 100 TB story: a fact-fact join (orders ⋈ customer at warehouse scale,
or the reference's repeated OD-matrix ⋈ zones enrichment
(silver/notebooks — the same join keys recur across every silver build))
pays a full shuffle of BOTH sides on every run. Pre-bucketing both tables
by the join key (``bucketBy(n, key)`` + ``sortBy``) pays that shuffle
ONCE at write time; every subsequent join is a zero-exchange, zero-sort
sort-merge join — Spark's answer to co-located storage (hive bucketing),
and the right layout for any key that is joined more often than written.

Bucket-count choice at scale: buckets are the unit of join parallelism
(one task per bucket), so size them for ~128-512 MB per bucket at the
target table size, and keep both sides' counts equal (or integer
multiples, with ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).

tests/test_bucketing.py asserts the plan contract: with broadcast joins
disabled, the bucketed join has NO Exchange above either scan. (Spark 4
re-sorts each bucket unless the legacy ``bucketedTableScan.outputOrdering``
conf is on; that flag also claims sortedness for multi-file buckets —
a wrong-results risk — so we accept the linear per-bucket Sort and keep
the flag off. The shuffle is the scale term; the Sort is not.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.sources.readers import load_table


N_BUCKETS = 8


def write_bucketed(df: DataFrame, table: str, key: str) -> None:
    """Materialize ``df`` in N_BUCKETS buckets sorted by ``key`` — the
    one-time shuffle that buys every later join its exchange back."""
    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    drop_table_and_orphan_location(df.sparkSession, table)
    # repartition on the same hash Spark's bucketing uses → exactly one
    # file per bucket; the scan only exposes the written sort order (and
    # skips the SMJ's Sort) when buckets are single-file
    (
        df.repartition(N_BUCKETS, F.col(key))
        .write.format("parquet")
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .mode("overwrite")
        .saveAsTable(table)
    )


def bucketed_join(spark: SparkSession, left: str, right: str, key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key: Catalyst sees
    matching HashPartitioning(key, n) output partitionings on both scans
    and plans a sort-merge join with no Exchange."""
    return spark.table(left).join(spark.table(right), key)


def query_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible bucketed-join query: bucket orders and customer by
    custkey, join co-located, aggregate revenue per market segment.

    The write is part of the query here (the fixture has no warehouse);
    in production the writes amortize over every downstream join. The
    aggregation keys differ from the bucket key, so the plan shape is:
    two bucketed scans → zero-exchange SMJ → one partial/final hash agg —
    exactly one shuffle where the naive plan has three."""
    ord_b, cust_b = "bkt_orders", "bkt_customer"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("custkey"), "o_totalprice"
        ),
        ord_b,
        "custkey",
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        ),
        cust_b,
        "custkey",
    )
    return (
        bucketed_join(spark, ord_b, cust_b, "custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_revenue"),
        )
    )


ORACLE_BUCKETED_JOIN = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
FROM orders
JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


QUERIES = {
    "layout_bucketed_join": (query_bucketed_join_revenue, ORACLE_BUCKETED_JOIN),
}
