"""TPC-H Q2/Q9/Q12/Q13/Q15/Q16/Q17/Q20/Q21/Q22 shapes — the second half
of the star-schema suite, completing all 22 TPC-H query topologies over
the fixture schema.

The fixture has no ``partsupp`` table and no ``l_shipmode`` /
``l_commitdate`` / ``l_receiptdate`` columns, so the five queries that
depend on them are ADAPTED, preserving the join/subquery topology that
makes each query interesting while substituting available columns:

- Q2's part-supplier relation is derived as ``SELECT DISTINCT
  l_partkey, l_suppkey FROM lineitem``, and the min-supplycost argmin
  becomes a max-acctbal argmax (same correlated-scalar-per-part shape).
- Q9's supplycost becomes a retail-price-based unit cost.
- Q12's shipmode classes become return-flag classes and the
  commit/receipt lateness test becomes ship-vs-order-date lateness.
- Q16's supplier-complaint NOT IN exclusion becomes a negative-balance
  exclusion; the partsupp relation is lineitem-derived as in Q2.
- Q20's availqty-vs-half-of-shipments test becomes a
  supplier-share-of-part-volume majority test.
- Q21's receipt-after-commit lateness becomes ship-90-days-after-order
  lateness; the EXISTS / NOT EXISTS pair is preserved verbatim in the
  oracle while the engine side uses the equivalent single-pass
  per-order aggregation (countDistinct supplier / late-supplier).

Broadcast policy matches starjoins.py: hints only on genuinely bounded
sides — nation (25 rows), region (5 rows), and provably-1-row scalar
aggregates (Q15's max, Q22's avg). Everything that scales with the data
is un-hinted and left to AQE.

Cross-engine exactness: every revenue/balance sum reduces through
DECIMAL; every threshold comparison that the textbook forms write as a
float division (Q17's ``qty < 0.2*avg(qty)``, Q20's ``qty >
0.5*total``, Q22's ``acctbal > avg(acctbal)``) is restated as an
integer-exact cross-multiplication (``5*qty*cnt < sum``, ``2*qty >
total``, ``bal*cnt > sum``) so partition-parallel vs sequential
evaluation cannot flip a boundary row.

Reference parity: the reference (JoanFer030/bigdata-project) has no
star-join queries at all — its DAGs delegate single-table DuckDB SQL —
so this module is beyond-reference surface, per SURVEY §2.5/§7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.plans.starjoins import _DEC, _REVENUE_SQL, _revenue_items
from bigdata_project_spark.sources.readers import load_table

# --------------------------------------------------------------------------
# Q2 shape: best supplier per part within a region
# --------------------------------------------------------------------------

Q2_SIZE = 15
Q2_EXCLUDED_TYPE = "PROMO"
Q2_REGION = "EUROPE"


def query_best_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each part of one size+type, the region's supplier
    with the highest account balance — the correlated scalar subquery
    (``WHERE s_acctbal = (SELECT max ...)``) decorrelated into a
    per-part window rank.

    Scale design: the selective part filter joins the raw
    (l_partkey, l_suppkey) projection BEFORE the distinct — Catalyst
    will not push a join below an Aggregate itself, and distinct-first
    would shuffle every pair in lineitem only to discard ~98% of them
    at the part filter one stage later. Joined-first, the hash-distinct
    shuffles only the surviving pairs (bounded by pairs-per-qualifying
    -part). Duplicate pairs are join-amplified but map-side-combined by
    the partial aggregate before the exchange. The per-part argmax is a
    rank-1 window over partkey (each partition is a part's supplier
    set, bounded by suppliers-per-part, not data size). nation/region
    are the only broadcast hints — the filtered part dim is data-sized
    and left to AQE. Tiebreak on s_suppkey keeps rank-1 deterministic.
    """
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == Q2_SIZE) & (F.col("p_type") != Q2_EXCLUDED_TYPE))
        .select("p_partkey", "p_brand")
    )
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "p_partkey", "p_brand")
        .distinct()
    )
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    joined = pairs.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey").asc()
    )
    best = joined.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.select(
            round_portable(F.col("s_acctbal"), 2).alias("s_acctbal"),
            "s_name",
            F.col("n_name").alias("nation"),
            "p_partkey",
            "p_brand",
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey").asc())
        .limit(100)
    )


ORACLE_BEST_SUPPLIER = f"""
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
cand AS (
    SELECT p_partkey, p_brand, s_suppkey, s_acctbal, s_name, n_name,
           ROW_NUMBER() OVER (PARTITION BY p_partkey
                              ORDER BY s_acctbal DESC, s_suppkey ASC) AS rk
    FROM pairs
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size = {Q2_SIZE} AND p_type <> '{Q2_EXCLUDED_TYPE}' AND r_name = '{Q2_REGION}'
)
SELECT {round_portable_sql("s_acctbal", 2)} AS s_acctbal,
       s_name, n_name AS nation, p_partkey, p_brand
FROM cand WHERE rk = 1
ORDER BY s_acctbal DESC, p_partkey ASC
LIMIT 100
"""

# --------------------------------------------------------------------------
# Q9 shape: profit by supplier nation and order year
# --------------------------------------------------------------------------

Q9_NAME_FRAGMENT = "red"
# unit cost proxy for the missing ps_supplycost: 60% of retail price, in
# DECIMAL; both engines parse it
_COST_SQL = (
    "CAST(p_retailprice AS DECIMAL(9,2)) * CAST(0.60 AS DECIMAL(3,2))"
    " * CAST(l_quantity AS DECIMAL(9,2))"
)


def query_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per order year over parts
    whose name contains a fragment — the classic five-table profit
    rollup. ps_supplycost doesn't exist in the fixture, so unit cost is
    60% of retail price (full DECIMAL arithmetic keeps both engines
    bit-exact; see module docstring).

    Scale design: the p_name LIKE filter prunes part before its
    un-hinted join into lineitem; orders contributes only the year and
    joins un-hinted on orderkey; nation (25 rows) is the lone broadcast
    hint. The group key (nation, year) is tiny, so the final hash-agg
    is all map-side combine."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains(Q9_NAME_FRAGMENT))
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "nation")
    joined = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    agg = joined.groupBy(
        "nation", F.year("o_orderdate").alias("o_year")
    ).agg(
        F.expr(f"SUM({_REVENUE_SQL} - {_COST_SQL}) AS profit_dec"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        "nation",
        "o_year",
        round_portable(F.col("profit_dec").cast("double"), 2).alias("profit"),
        "n_items",
    )


ORACLE_NATION_PROFIT = f"""
SELECT nation, o_year,
       {round_portable_sql("CAST(profit_dec AS DOUBLE)", 2)} AS profit,
       n_items
FROM (
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           SUM({_REVENUE_SQL} - {_COST_SQL}) AS profit_dec,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%{Q9_NAME_FRAGMENT}%'
    GROUP BY 1, 2
)
"""

# --------------------------------------------------------------------------
# Q12 shape: late shipments by class, split by order priority
# --------------------------------------------------------------------------

Q12_DATE_LO, Q12_DATE_HI = "1997-01-01", "1998-01-01"
Q12_LATE_DAYS = 60


def query_late_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: per-class counts of late-shipped lines split into
    high- vs low-priority orders — the dual conditional count over a
    fact-fact equi-join. Ship modes don't exist in the fixture, so the
    class is l_returnflag and lateness is ship-60-days-after-order
    (the commit/receipt-date test, adapted).

    Scale design: the lateness predicate and the ship-year window both
    evaluate lineitem-side before the un-hinted orderkey join; only the
    surviving late lines join. The priority split is a conditional sum
    inside one hash-agg over a 3-value key — all map-side combine."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q12_DATE_LO) & (F.col("l_shipdate") < Q12_DATE_HI)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q12_LATE_DAYS)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


ORACLE_LATE_BY_CLASS = f"""
SELECT l_returnflag AS ship_class,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q12_DATE_LO} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{Q12_DATE_HI} 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
GROUP BY 1
ORDER BY 1
"""

# --------------------------------------------------------------------------
# Q13 shape: customer distribution by order count
# --------------------------------------------------------------------------

Q13_EXCLUDED_PRIORITY = "1-URGENT"


def query_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: how many customers placed exactly N orders — the
    double aggregation over a LEFT OUTER join, zero-order customers
    included. The original's comment-pattern exclusion becomes an
    order-priority exclusion (the filter must sit in the JOIN
    condition, not WHERE, or zero-order customers vanish).

    Scale design: the orders side pre-filters then pre-aggregates per
    custkey (map-side combine collapses the fact to one row per
    customer) BEFORE the left join, so the join matches one row at
    most — the scale-correct decomposition of the textbook
    join-then-count form; the oracle keeps the textbook form as the
    cross-check. Second agg groups ~40 distinct counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    counts = cust.join(
        per_cust, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count"))
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


ORACLE_CUSTOMER_DISTRIBUTION = f"""
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
         AND o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

# --------------------------------------------------------------------------
# Q15 shape: top supplier(s) by quarterly revenue
# --------------------------------------------------------------------------

Q15_DATE_LO, Q15_DATE_HI = "1997-01-01", "1997-04-01"


def query_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: the supplier(s) whose quarterly revenue equals the
    maximum — the revenue-view + scalar-max-subquery pattern. Equality
    runs on the exact DECIMAL sum (never the rounded double), so ties
    and the max itself are engine-portable.

    Scale design: revenue per suppkey is one hash-agg over the
    date-pruned fact (map-side combine; one row per supplier out). The
    global max is a 1-row aggregate of that supplier-count-row table —
    broadcast is provably bounded. Supplier dim joins un-hinted after
    the HAVING-style equality filter."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q15_DATE_LO) & (F.col("l_shipdate") < Q15_DATE_HI)
    )
    rev = li.groupBy("l_suppkey").agg(F.expr(f"SUM({_REVENUE_SQL}) AS rev_dec"))
    mx = rev.agg(F.max("rev_dec").alias("max_rev"))
    top = rev.join(F.broadcast(mx), F.col("rev_dec") == F.col("max_rev"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        top.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            round_portable(F.col("rev_dec").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_TOP_SUPPLIER = f"""
WITH revenue AS (
    SELECT l_suppkey, SUM({_REVENUE_SQL}) AS rev_dec
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q15_DATE_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q15_DATE_HI} 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       {round_portable_sql("CAST(rev_dec AS DOUBLE)", 2)} AS total_revenue
FROM revenue
JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT MAX(rev_dec) FROM revenue)
ORDER BY s_suppkey
"""

# --------------------------------------------------------------------------
# Q16 shape: supplier count by part attribute, with supplier exclusion
# --------------------------------------------------------------------------

Q16_EXCLUDED_BRAND = "Brand#5"
Q16_EXCLUDED_TYPE = "PROMO"
Q16_SIZES = (1, 4, 9, 14, 19, 23, 36, 49)


def query_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct suppliers per (brand, type, size) bucket,
    excluding one brand, one type, and a disqualified-supplier set —
    the NOT IN subquery becomes an anti-join. The fixture has no
    complaint text, so the disqualification is a negative account
    balance; the partsupp relation is lineitem-derived as in Q2.

    Scale design: pairs are hash-distinct key pairs; the part filters
    prune before the un-hinted join; the anti-join's right side is the
    filtered supplier keys (un-hinted — supplier scales); count
    distinct over the (brand,type,size) grouping is a two-phase
    hash-agg. No payload columns ever shuffle."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCLUDED_BRAND)
        & (F.col("p_type") != Q16_EXCLUDED_TYPE)
        & (F.col("p_size").isin(*Q16_SIZES))
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_suppkey"))
    )
    kept = pairs.join(
        bad_supp, F.col("l_suppkey") == F.col("bad_suppkey"), "left_anti"
    ).join(part, F.col("l_partkey") == F.col("p_partkey"))
    return (
        kept.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


def _q16_sizes_sql() -> str:
    return ", ".join(str(s) for s in Q16_SIZES)


ORACLE_SUPPLIER_PART_COUNTS = f"""
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{Q16_EXCLUDED_BRAND}'
  AND p_type <> '{Q16_EXCLUDED_TYPE}'
  AND p_size IN ({_q16_sizes_sql()})
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""

# --------------------------------------------------------------------------
# Q17 shape: small-quantity revenue for one brand
# --------------------------------------------------------------------------

Q17_BRAND = "Brand#3"


def query_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from lines whose quantity is below 20% of
    the part's average order quantity — the correlated AVG subquery,
    decorrelated into a per-part window.

    The textbook threshold ``l_quantity < 0.2 * AVG(l_quantity)`` is
    restated exactly as ``5 * l_quantity * cnt < sum`` — quantities are
    small integers, so every term is an exactly-representable integer
    double and the comparison cannot diverge between engines or
    partition orders (``x < 0.2*(s/c)  ⇔  5xc < s`` for positive c).

    Scale design: the brand filter prunes part before the un-hinted
    partkey join, so the window's per-part sum/count runs only over the
    brand's lines; partitions are bounded by lines-per-part, not data
    size. Final reduce is a single 1-row aggregate."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == Q17_BRAND)
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    brand_lines = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("p_partkey")
    with_stats = brand_lines.withColumn(
        "qty_sum", F.sum("l_quantity").over(w)
    ).withColumn("qty_cnt", F.count(F.lit(1)).over(w))
    small = with_stats.filter(
        F.lit(5) * F.col("l_quantity") * F.col("qty_cnt") < F.col("qty_sum")
    )
    agg = small.agg(
        F.sum(F.col("l_extendedprice").cast(_DEC)).alias("price_dec"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        round_portable(F.col("price_dec").cast("double") / F.lit(7.0), 2).alias(
            "avg_yearly"
        ),
        "n_items",
    )


ORACLE_SMALL_QUANTITY_REVENUE = f"""
WITH brand_lines AS (
    SELECT l_partkey, l_quantity, l_extendedprice,
           SUM(l_quantity) OVER (PARTITION BY l_partkey) AS qty_sum,
           COUNT(*) OVER (PARTITION BY l_partkey) AS qty_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = '{Q17_BRAND}'
)
SELECT {round_portable_sql("CAST(price_dec AS DOUBLE) / 7.0", 2)} AS avg_yearly,
       n_items
FROM (
    SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS price_dec,
           COUNT(*) AS n_items
    FROM brand_lines
    WHERE 5 * l_quantity * qty_cnt < qty_sum
)
"""

# --------------------------------------------------------------------------
# Q20 shape: suppliers dominating a part's volume
# --------------------------------------------------------------------------

Q20_BRAND = "Brand#4"
Q20_DATE_LO, Q20_DATE_HI = "1997-01-01", "1998-01-01"
Q20_NATION = "NATION_3"


def query_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers in one nation who shipped a MAJORITY of
    some brand-B part's volume in a year — the nested
    quantity-threshold subquery. availqty doesn't exist, so "more than
    half the part's shipped volume" replaces "stock exceeding half the
    shipments"; the majority test ``share > 0.5`` is the exact
    cross-multiplication ``2*qty > total`` on DECIMAL sums.

    Scale design: one hash-agg to (partkey, suppkey) grain over the
    brand/date-pruned fact, a per-part window sum (bounded partitions),
    then a hash-distinct of qualifying suppkeys semi-joins the
    nation-filtered supplier dim — nation is the only broadcast."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == Q20_BRAND)
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q20_DATE_LO) & (F.col("l_shipdate") < Q20_DATE_HI)
    )
    per_ps = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("qty_dec"))
    )
    w = Window.partitionBy("p_partkey")
    dominant = (
        per_ps.withColumn("total_dec", F.sum("qty_dec").over(w))
        .filter(F.lit(2) * F.col("qty_dec") > F.col("total_dec"))
        .select("l_suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q20_NATION)
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supp.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


ORACLE_DOMINANT_SUPPLIERS = f"""
WITH per_ps AS (
    SELECT p_partkey, l_suppkey,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand = '{Q20_BRAND}'
      AND l_shipdate >= TIMESTAMP '{Q20_DATE_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q20_DATE_HI} 00:00:00'
    GROUP BY 1, 2
),
dominant AS (
    SELECT DISTINCT l_suppkey
    FROM (
        SELECT l_suppkey, qty_dec,
               SUM(qty_dec) OVER (PARTITION BY p_partkey) AS total_dec
        FROM per_ps
    )
    WHERE 2 * qty_dec > total_dec
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{Q20_NATION}'
  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
ORDER BY s_suppkey
"""

# --------------------------------------------------------------------------
# Q21 shape: suppliers who kept orders waiting
# --------------------------------------------------------------------------

Q21_LATE_DAYS = 90
Q21_NATION = "NATION_1"


def query_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: for finished orders with 2+ suppliers where EXACTLY
    ONE supplier shipped late, count that supplier's late lines — the
    EXISTS / NOT-EXISTS double-correlation. Lateness is
    ship-more-than-90-days-after-order (no commit/receipt dates in the
    fixture).

    The oracle keeps the textbook EXISTS/NOT-EXISTS form verbatim; the
    engine side uses the equivalent two-level DISTINCT-FREE
    aggregation: collapse to (order, supplier) grain first (count of
    lines / late lines), then per order count suppliers and
    late-suppliers as plain sums — n_supp ≥ 2 ⇔ EXISTS(other
    supplier), n_late_supp = 1 ⇔ the late supplier exists AND NOT
    EXISTS(another late supplier). Distinct-free matters twice: a
    multi-countDistinct aggregate plans an Expand that triples the
    joined fact before shuffling (measured 1.56 s → the rewrite's
    sub-second), and at 100 TB the (order, supplier) pre-aggregate is
    map-side combinable while Expand's row multiplication is pure
    shuffle volume. Replaces two correlated probes of the fact with
    two tiny keyed aggregates.

    Scale design: the status filter prunes orders before the un-hinted
    orderkey join; both aggregates are map-side-combinable; the final
    per-supplier rollup groups ~|supplier| rows. nation broadcast only.
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lines = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "is_late",
        F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), Q21_LATE_DAYS),
    )
    per_os = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("n_late")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("n_late") > 0, 1).otherwise(0)).alias("n_late_supp"),
        F.max(F.when(F.col("n_late") > 0, F.col("l_suppkey"))).alias("late_supp"),
        F.sum("n_late").alias("n_late_lines"),
    )
    blamed = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == Q21_NATION)
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        blamed.join(supp, F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


ORACLE_WAITING_SUPPLIERS = f"""
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
  )
  AND s_nationkey = n_nationkey
  AND n_name = '{Q21_NATION}'
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""

# --------------------------------------------------------------------------
# Q22 shape: dormant high-balance customers by nation
# --------------------------------------------------------------------------

Q22_DORMANT_SINCE = "2000-01-01"
Q22_NATIONS = (
    "NATION_1",
    "NATION_3",
    "NATION_5",
    "NATION_7",
    "NATION_9",
    "NATION_11",
    "NATION_13",
)


def query_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers in a nation set with above-average positive
    balance and NO RECENT orders — the global-scalar-subquery +
    anti-join pair. Phone country codes don't exist, so the cohort is a
    nation-name set; "never ordered" becomes "no order since
    {Q22_DORMANT_SINCE}" (the fixture's order density gives every
    customer some all-time order, which would make the textbook
    anti-join vacuously empty — the date-windowed variant preserves the
    identical anti-join topology with a non-degenerate answer).

    The textbook ``c_acctbal > (SELECT AVG(...))`` is restated as the
    exact cross-multiplication ``bal * cnt > sum`` on DECIMAL(18,2), so
    Spark's partition-parallel sum and DuckDB's sequential one cannot
    disagree on a boundary customer.

    Scale design: the avg aggregate is 1 row — a provably bounded
    broadcast. The no-orders test is a left-anti join against the
    distinct custkeys of orders (keys only; at scale this is the
    smallest possible right side short of a bloom filter). Final
    rollup groups 7 nations."""
    nation = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*Q22_NATIONS))
        .select("n_nationkey", F.col("n_name").alias("nation"))
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).withColumn("bal_dec", F.col("c_acctbal").cast(_DEC))
    stats = cust.filter(F.col("bal_dec") > 0).agg(
        F.sum("bal_dec").alias("sum_dec"), F.count(F.lit(1)).alias("cnt")
    )
    rich = cust.join(F.broadcast(stats)).filter(
        F.col("bal_dec") * F.col("cnt") > F.col("sum_dec")
    )
    ordered_custs = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= Q22_DORMANT_SINCE)
        .select("o_custkey")
        .distinct()
    )
    dormant = rich.join(
        ordered_custs, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        dormant.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            round_portable(F.sum("bal_dec").cast("double"), 2).alias("totacctbal"),
        )
        .orderBy("nation")
    )


def _q22_nations_sql() -> str:
    return ", ".join(f"'{n}'" for n in Q22_NATIONS)


ORACLE_DORMANT_CUSTOMERS = f"""
WITH cohort AS (
    SELECT c_custkey, n_name AS nation,
           CAST(c_acctbal AS DECIMAL(18,2)) AS bal_dec
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name IN ({_q22_nations_sql()})
),
stats AS (
    SELECT SUM(bal_dec) AS sum_dec, COUNT(*) AS cnt
    FROM cohort WHERE bal_dec > 0
)
SELECT nation, COUNT(*) AS numcust,
       {round_portable_sql("CAST(SUM(bal_dec) AS DOUBLE)", 2)} AS totacctbal
FROM cohort, stats
WHERE bal_dec * cnt > sum_dec
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_DORMANT_SINCE} 00:00:00')
GROUP BY nation
ORDER BY nation
"""

# --------------------------------------------------------------------------
# Q6 shape: forecast revenue change
# --------------------------------------------------------------------------

Q6_DATE_LO, Q6_DATE_HI = "1997-01-01", "1998-01-01"
Q6_DISC_LO, Q6_DISC_HI = "0.02", "0.04"
Q6_MAX_QTY = 24


def query_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: revenue increase from eliminating small discounts — the
    single-table selective sum, TPC-H's pure scan-predicate benchmark.

    Scale design: all three predicates (ship-year, discount band,
    quantity cap) push into the parquet reader (PushedFilters), the
    projection prunes to three columns, and the DECIMAL
    multiply-and-sum runs entirely inside whole-stage codegen — one
    scan, one 1-row exchange, nothing else. The discount band compares
    DECIMAL-cast values against DECIMAL literals so the boundary rows
    (0.02/0.04 are not exact doubles) judge identically on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast(_DEC)
    kept = li.filter(
        (F.col("l_shipdate") >= Q6_DATE_LO)
        & (F.col("l_shipdate") < Q6_DATE_HI)
        & (disc >= F.lit(Q6_DISC_LO).cast(_DEC))
        & (disc <= F.lit(Q6_DISC_HI).cast(_DEC))
        & (F.col("l_quantity") < Q6_MAX_QTY)
    )
    agg = kept.agg(
        F.sum(F.col("l_extendedprice").cast(_DEC) * disc).alias("rev_dec"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return _revenue_items(agg)


ORACLE_FORECAST_REVENUE = f"""
SELECT {round_portable_sql("CAST(rev_dec AS DOUBLE)", 2)} AS revenue,
       n_items
FROM (
    SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(18,2))) AS rev_dec,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q6_DATE_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q6_DATE_HI} 00:00:00'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
      AND l_quantity < {Q6_MAX_QTY}
)
"""


QUERIES = {
    "agg_best_supplier": (query_best_supplier, ORACLE_BEST_SUPPLIER),
    "agg_customer_distribution": (query_customer_distribution, ORACLE_CUSTOMER_DISTRIBUTION),
    "agg_dominant_suppliers": (query_dominant_suppliers, ORACLE_DOMINANT_SUPPLIERS),
    "agg_dormant_customers": (query_dormant_customers, ORACLE_DORMANT_CUSTOMERS),
    "agg_forecast_revenue": (query_forecast_revenue, ORACLE_FORECAST_REVENUE),
    "agg_late_by_class": (query_late_by_class, ORACLE_LATE_BY_CLASS),
    "agg_nation_profit": (query_nation_profit, ORACLE_NATION_PROFIT),
    "agg_small_qty_revenue": (query_small_quantity_revenue, ORACLE_SMALL_QUANTITY_REVENUE),
    "agg_supplier_part_counts": (query_supplier_part_counts, ORACLE_SUPPLIER_PART_COUNTS),
    "agg_top_supplier": (query_top_supplier, ORACLE_TOP_SUPPLIER),
    "agg_waiting_suppliers": (query_waiting_suppliers, ORACLE_WAITING_SUPPLIERS),
}
