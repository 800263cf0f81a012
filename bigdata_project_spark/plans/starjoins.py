"""Star-schema multi-join rollups (TPC-H Q3/Q4/Q5/Q7/Q8/Q10/Q14/Q18/Q19
shapes) over the fixture star schema.

Broadcast policy (round 6, after the r5 scale audit): explicit
``F.broadcast`` hints are reserved for GENUINELY BOUNDED dimensions —
``nation`` (25 rows forever) and ``region`` (5 rows forever). Tables
that scale linearly with the data (``orders``, ``customer``,
``supplier``, ``part``, ``lineitem``) are NEVER hinted: a hint is a
hard override that survives every size estimate, so at the 100 TB
target it is an executor OOM, not a plan. Instead AQE decides at
runtime from observed sizes — at toy scale it still broadcasts the
filtered orders/customer sides (same local perf as the old hints), on
a real cluster the same code degrades gracefully to shuffled-hash /
sort-merge joins. tests/test_plans.py asserts the fact-side joins
survive ``autoBroadcastJoinThreshold=-1`` without a BroadcastExchange
or a CartesianProduct.

Build-side rule: AQE may only broadcast a side the join type lets it
build, and a semi-join builds only its right side. So a fact table on
the right of an EXISTS is written as an inner join (fact as the probe
side) plus a distinct on the left side's key — Q4 below — never as a
``left_semi`` that hashes the whole fact table.

Revenue sums reduce through DECIMAL so the partition-parallel sum is
exact, and top-k orders on the exact DECIMAL aggregate (not the
rounded double) with a key tiebreak, so selection is deterministic and
engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

_DEC = "decimal(18,2)"

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-01-01"

Q5_REGION = "ASIA"
Q5_DATE_LO, Q5_DATE_HI = "1996-01-01", "1997-01-01"


#: l_extendedprice·(1 − l_discount) in DECIMAL(18,2); both engines parse it
_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)
# The Q3, Q7 and Q10 oracles' revenue aggregate over lineitem ⋈ orders ⋈
# customer; each puts its group keys before it and its joins after.
_LOC_AGG_SQL = f"""SUM({_REVENUE_SQL}) AS rev_dec,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey"""


def _revenue_items(agg: DataFrame) -> DataFrame:
    """``agg``'s DECIMAL ``rev_dec`` as a 2-place double ``revenue``, and
    its ``n_items``."""
    return agg.select(
        round_portable(F.col("rev_dec").cast("double"), 2).alias("revenue"), "n_items"
    )


def query_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < Q3_DATE
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > Q3_DATE)
    # orders/customer scale with the data: no broadcast hint — AQE picks
    # broadcast at toy scale and shuffled joins at cluster scale.
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.expr(f"SUM({_REVENUE_SQL}) AS rev_dec"), F.count(F.lit(1)).alias("n_items")
    )
    return (
        agg.orderBy(F.col("rev_dec").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            round_portable(F.col("rev_dec").cast("double"), 2).alias("revenue"),
            "n_items",
        )
    )


ORACLE_SHIPPING_PRIORITY = f"""
WITH agg AS (
    SELECT l_orderkey, o_orderdate,
           {_LOC_AGG_SQL}
    WHERE c_mktsegment = '{Q3_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
      AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
    GROUP BY l_orderkey, o_orderdate
)
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       {round_portable_sql("CAST(rev_dec AS DOUBLE)", 2)} AS revenue,
       n_items
FROM agg
ORDER BY rev_dec DESC, l_orderkey ASC
LIMIT 10
"""


def query_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q5_DATE_LO) & (F.col("o_orderdate") < Q5_DATE_HI)
    )
    li = load_table(spark, sf_dir, "lineitem")
    # only nation/region (bounded dims, hinted upstream) broadcast;
    # orders/customer/supplier are un-hinted fact-scaling sides.
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    agg = joined.groupBy("n_name").agg(F.expr(f"SUM({_REVENUE_SQL}) AS rev_dec"))
    return agg.orderBy(F.col("rev_dec").desc(), F.col("n_name").asc()).select(
        "n_name",
        round_portable(F.col("rev_dec").cast("double"), 2).alias("revenue"),
    )


ORACLE_REGION_REVENUE = f"""
WITH agg AS (
    SELECT n_name, SUM({_REVENUE_SQL}) AS rev_dec
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = '{Q5_REGION}'
      AND o_orderdate >= TIMESTAMP '{Q5_DATE_LO} 00:00:00'
      AND o_orderdate < TIMESTAMP '{Q5_DATE_HI} 00:00:00'
    GROUP BY n_name
)
SELECT n_name,
       {round_portable_sql("CAST(rev_dec AS DOUBLE)", 2)} AS revenue
FROM agg
ORDER BY rev_dec DESC, n_name ASC
"""


Q10_DATE_LO, Q10_DATE_HI = "1997-01-01", "1997-07-01"


def query_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: revenue lost to returned items per customer over a
    quarter-ish window — lineitem filtered to returnflag 'R' joins the
    date-filtered orders and the customer dim (both un-hinted: they
    scale with the data, AQE sizes them at runtime) plus the bounded
    nation dim (broadcast hint), one hash aggregate on the customer,
    top-20 by the exact DECIMAL revenue with a key tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q10_DATE_LO) & (F.col("o_orderdate") < Q10_DATE_HI)
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.expr(f"SUM({_REVENUE_SQL}) AS rev_dec"), F.count(F.lit(1)).alias("n_items")
    )
    return (
        agg.orderBy(F.col("rev_dec").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            round_portable(F.col("rev_dec").cast("double"), 2).alias("revenue"),
            "n_items",
        )
    )


ORACLE_RETURNED_ITEMS = f"""
WITH agg AS (
    SELECT c_custkey, c_name, n_name,
           {_LOC_AGG_SQL}
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '{Q10_DATE_LO} 00:00:00'
      AND o_orderdate < TIMESTAMP '{Q10_DATE_HI} 00:00:00'
    GROUP BY c_custkey, c_name, n_name
)
SELECT c_custkey, c_name, n_name,
       {round_portable_sql("CAST(rev_dec AS DOUBLE)", 2)} AS revenue,
       n_items
FROM agg
ORDER BY rev_dec DESC, c_custkey ASC
LIMIT 20
"""


Q4_DATE_LO, Q4_DATE_HI = "1997-01-01", "1997-04-01"
Q4_LATE_DAYS = 60


def query_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: per-priority count of orders (in a quarter) that have at
    least one LATE lineitem — an EXISTS whose condition correlates both
    sides (l_shipdate > o_orderdate + 60 days), the step past J4's
    uncorrelated IN-subquery.

    Written as lineitem INNER JOIN the quarter's orders on the key with
    the date comparison as residual, then a distinct on
    (o_orderkey, o_orderpriority), so the hash table is built from the
    ~4% of orders the date predicate keeps and lineitem only streams
    past as the probe side (a ``left_semi`` would build lineitem, its
    right side). The distinct counts an order once however many late
    lineitems it has; that relies on ``o_orderkey`` being the key of
    ``orders``, as in TPC-H and in every fixture (the replicated one
    shifts keys per replica)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q4_DATE_LO) & (F.col("o_orderdate") < Q4_DATE_HI)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = li.join(
        orders,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q4_LATE_DAYS)),
    ).select("o_orderkey", "o_orderpriority").distinct()
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


ORACLE_ORDER_PRIORITY = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '{Q4_DATE_LO} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q4_DATE_HI} 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY
  )
GROUP BY o_orderpriority
"""


Q14_DATE_LO, Q14_DATE_HI = "1997-01-01", "1997-02-01"


def query_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: share of a month's revenue from PROMO-type parts — the
    conditional-aggregate-ratio over a fact⋈dim join (the one query
    family that exercises the `part` dimension). part scales with the
    data so it carries no broadcast hint (AQE broadcasts it at toy
    scale, shuffles at 100 TB); lineitem streams through with its
    shipdate filter pushed to the scan; both sums reduce in ONE hash
    aggregate (no second pass for the conditional numerator)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q14_DATE_LO) & (F.col("l_shipdate") < Q14_DATE_HI)
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    agg = joined.agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", F.expr(_REVENUE_SQL)).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("promo_dec"),
        F.expr(f"SUM({_REVENUE_SQL}) AS total_dec"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        round_portable(F.col("promo_dec").cast("double"), 2).alias("promo_revenue"),
        round_portable(F.col("total_dec").cast("double"), 2).alias("total_revenue"),
        round_portable(
            F.lit(100.0) * F.col("promo_dec").cast("double")
            / F.col("total_dec").cast("double"),
            6,
        ).alias("promo_pct"),
        "n_items",
    )


Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q7_DATE_LO, Q7_DATE_HI = "1996-01-01", "1998-01-01"


def query_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral shipping volume between two nations by ship
    year — the first two-role use of the nation dim (supplier's nation
    AND customer's nation on one fact row).

    Scale design: nation is filtered to the two names BEFORE joining,
    and those 2-row dims broadcast into supplier and customer — so the
    scaling sides are semi-reduced to ~2/25 of their rows before the
    un-hinted fact joins (lineitem⋈orders⋈customer⋈supplier), which AQE
    sizes at runtime. The (A,B)|(B,A) pair predicate degenerates to a
    cheap != residual once both sides are pre-filtered to {A,B}."""
    nations = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nations.select(F.col("n_nationkey").alias("s_nk"),
                                   F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nations.select(F.col("n_nationkey").alias("c_nk"),
                                   F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("c_nk"),
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q7_DATE_LO) & (F.col("l_shipdate") < Q7_DATE_HI)
    )
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    agg = joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.expr(f"SUM({_REVENUE_SQL}) AS rev_dec"), F.count(F.lit(1)).alias("n_items"))
    return agg.select(
        "supp_nation",
        "cust_nation",
        "l_year",
        round_portable(F.col("rev_dec").cast("double"), 2).alias("revenue"),
        "n_items",
    )


ORACLE_VOLUME_SHIPPING = f"""
SELECT supp_nation, cust_nation, l_year,
       {round_portable_sql("CAST(rev_dec AS DOUBLE)", 2)} AS revenue,
       n_items
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           {_LOC_AGG_SQL}
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
      AND n2.n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
      AND n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '{Q7_DATE_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q7_DATE_HI} 00:00:00'
    GROUP BY 1, 2, 3
)
"""


Q8_REGION = "ASIA"
Q8_NATION = "NATION_2"
Q8_TYPE = "ECONOMY"
Q8_DATE_LO, Q8_DATE_HI = "1996-01-01", "1998-01-01"


def query_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: a nation's market share of one part type inside one
    region's market, by order year — conditional-sum ratio over a
    seven-table join.

    Scale design: region (5 rows) and nation (25 rows) are the only
    hinted broadcasts; the region filter semi-reduces customer via the
    broadcast region→nation join before the fact joins. part, orders,
    customer, supplier are un-hinted (AQE). The supplier-nation name
    needed for the numerator rides a second broadcast of the bounded
    nation dim, so no extra pass over the fact."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    nation_mkt = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("mkt_nk"))
    supp_nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q8_DATE_LO) & (F.col("o_orderdate") < Q8_DATE_HI)
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation_mkt), F.col("c_nationkey") == F.col("mkt_nk")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(supp_nation), F.col("s_nationkey") == F.col("supp_nk")
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == Q8_NATION, F.expr(_REVENUE_SQL)).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        ).alias("nation_dec"),
        F.expr(f"SUM({_REVENUE_SQL}) AS total_dec"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        "o_year",
        round_portable(
            F.col("nation_dec").cast("double") / F.col("total_dec").cast("double"),
            6,
        ).alias("mkt_share"),
        round_portable(F.col("total_dec").cast("double"), 2).alias("total_revenue"),
        "n_items",
    )


ORACLE_MARKET_SHARE = f"""
SELECT o_year,
       {round_portable_sql("CAST(nation_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)", 6)} AS mkt_share,
       {round_portable_sql("CAST(total_dec AS DOUBLE)", 2)} AS total_revenue,
       n_items
FROM (
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           SUM(CASE WHEN n2.n_name = '{Q8_NATION}' THEN {_REVENUE_SQL}
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS nation_dec,
           SUM({_REVENUE_SQL}) AS total_dec,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = '{Q8_REGION}'
      AND p_type = '{Q8_TYPE}'
      AND o_orderdate >= TIMESTAMP '{Q8_DATE_LO} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{Q8_DATE_HI} 00:00:00'
    GROUP BY 1
)
"""


Q18_MIN_QTY = 300


def query_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume orders — aggregate-THEN-join. The
    lineitem fact pre-aggregates per orderkey (map-side combine does
    the heavy lifting; only one row per surviving order shuffles) and
    the HAVING > {Q18_MIN_QTY} filter runs before any join, so the
    orders/customer joins see a few hundred rows, not the fact table.
    This is the scale-correct decomposition of the classic
    IN-(GROUP BY ... HAVING) subquery; top-20 is a
    TakeOrderedAndProject heap on the exact DECIMAL sum."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty_dec"))
        .filter(F.col("qty_dec") > Q18_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    joined = big.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        joined.orderBy(F.col("qty_dec").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("l_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            round_portable(F.col("o_totalprice"), 2).alias("o_totalprice"),
            round_portable(F.col("qty_dec").cast("double"), 2).alias("sum_qty"),
        )
    )


ORACLE_LARGE_ORDERS = f"""
WITH big AS (
    SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_MIN_QTY}
)
SELECT c_custkey, c_name, l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       {round_portable_sql("o_totalprice", 2)} AS o_totalprice,
       {round_portable_sql("CAST(qty_dec AS DOUBLE)", 2)} AS sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY qty_dec DESC, o_orderkey ASC
LIMIT 20
"""


Q19_BRACKETS = (
    ("Brand#1", 10, 1, 15),
    ("Brand#2", 20, 10, 25),
    ("Brand#3", 30, 20, 35),
)


def query_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunction of brand/size/quantity brackets — the
    OR-of-ANDs predicate spanning both join sides. Catalyst splits the
    disjunction into side-local residuals (the union of brand/size
    bounds prunes the part scan, the overall quantity envelope prunes
    lineitem) while the exact bracket predicate evaluates after the
    un-hinted partkey equi-join. One scan each side, one row out."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = None
    for brand, max_size, qty_lo, qty_hi in Q19_BRACKETS:
        c = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= max_size)
            & (F.col("l_quantity") >= qty_lo)
            & (F.col("l_quantity") <= qty_hi)
        )
        cond = c if cond is None else (cond | c)
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey")).filter(cond)
    agg = joined.agg(
        F.expr(f"SUM({_REVENUE_SQL}) AS rev_dec"), F.count(F.lit(1)).alias("n_items")
    )
    return _revenue_items(agg)


def _q19_bracket_sql() -> str:
    parts = [
        f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s}"
        f" AND l_quantity BETWEEN {lo} AND {hi})"
        for b, s, lo, hi in Q19_BRACKETS
    ]
    return " OR ".join(parts)


ORACLE_BRACKET_REVENUE = f"""
SELECT {round_portable_sql("CAST(rev_dec AS DOUBLE)", 2)} AS revenue,
       n_items
FROM (
    SELECT SUM({_REVENUE_SQL}) AS rev_dec, COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE {_q19_bracket_sql()}
)
"""


ORACLE_PROMO_REVENUE = f"""
WITH agg AS (
    SELECT SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE_SQL}
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_dec,
           SUM({_REVENUE_SQL}) AS total_dec,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{Q14_DATE_LO} 00:00:00'
      AND l_shipdate < TIMESTAMP '{Q14_DATE_HI} 00:00:00'
)
SELECT {round_portable_sql("CAST(promo_dec AS DOUBLE)", 2)} AS promo_revenue,
       {round_portable_sql("CAST(total_dec AS DOUBLE)", 2)} AS total_revenue,
       {round_portable_sql("100.0 * CAST(promo_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)", 6)} AS promo_pct,
       n_items
FROM agg
"""


QUERIES = {
    "agg_large_orders": (query_large_orders, ORACLE_LARGE_ORDERS),
    "agg_market_share": (query_market_share, ORACLE_MARKET_SHARE),
    "agg_order_priority": (query_order_priority, ORACLE_ORDER_PRIORITY),
    "agg_promo_revenue": (query_promo_revenue, ORACLE_PROMO_REVENUE),
    "agg_region_revenue": (query_region_revenue, ORACLE_REGION_REVENUE),
    "agg_returned_items": (query_returned_items, ORACLE_RETURNED_ITEMS),
    "agg_shipping_priority": (query_shipping_priority, ORACLE_SHIPPING_PRIORITY),
    "agg_volume_shipping": (query_volume_shipping, ORACLE_VOLUME_SHIPPING),
    "agg_bracket_revenue": (query_bracket_revenue, ORACLE_BRACKET_REVENUE),
}
