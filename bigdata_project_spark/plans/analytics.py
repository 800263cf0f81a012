"""Aggregation / window / set-op analytics the reference lacks.

The reference has *no* GROUP BY, window functions, or top-k anywhere
(SURVEY.md §2.4-§2.6) — DuckDB internals supply them implicitly for the
notebooks. A complete engine needs them as first-class, scale-designed
operators, so each one is declared here with a DuckDB oracle.

Float-parity design (see registry docstring): aggregate sums run through
DECIMAL casts on both engines — Spark sums partitions in parallel and
DuckDB sequentially, so double summation would differ in the last ulps;
decimal summation is exact and order-independent.

Scale notes:
- Every groupBy below is a hash aggregate with map-side partial
  aggregation — one shuffle of the (small) group space, never of raw rows.
- Window functions shuffle once on the partition key; running sums stream
  within each partition.
- Top-k per group uses rank-limit pushdown (WindowGroupLimit in Spark 4):
  each input partition forwards at most k rows per key before the shuffle.
- Global top-k (`orderBy().limit(k)`) uses TakeOrderedAndProject — a
  per-partition heap + driver merge, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, GroupedData, SparkSession, Window as W
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

_DEC = "decimal(18,2)"


def query_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical multi-aggregate scan."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast(_DEC)
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    tax = F.col("l_tax").cast(_DEC)
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast(_DEC) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1).cast(_DEC) - disc) * (F.lit(1).cast(_DEC) + tax))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def query_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject, deterministic tiebreak."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey").asc())
        .limit(10)
    )


ORACLE_TOP_CUSTOMERS = """
SELECT o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY total_spent DESC, o_custkey ASC
LIMIT 10
"""


def query_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — rank-limit pushdown pattern."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(w))
        .filter(F.col("rank_in_cust") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "rank_in_cust",
        )
    )


ORACLE_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice, rank_in_cust
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_in_cust
    FROM orders
)
WHERE rank_in_cust <= 3
"""


def query_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-customer spend over time (frame-bounded window agg)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("running_spent"),
    )


ORACLE_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spent
FROM orders
"""


def query_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (explicit value list → static schema)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


ORACLE_PIVOT_STATUS = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
"""


def _lattice_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared base for the grouping-lattice family (r16): ONE plain hash
    aggregate to the (l_returnflag, l_linestatus) cells, then
    rollup/cube/groupingSets run over the ~6-row cell frame. The naive
    form expands every scanned row once per grouping set (Expand ×3-4
    ahead of the partial aggregate — at 100 TB that triples the hot
    scan-path CPU); COUNT and the DECIMAL SUM are decomposable
    (sum-of-sums / sum-of-counts, decimal addition is exact and
    order-independent), so re-aggregating the cells is bit-identical to
    expanding the raw rows, and the Expand now touches 6 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("l_quantity").cast(_DEC)).alias("__q"),
    )


def _lattice_totals(grouped: GroupedData) -> DataFrame:
    """Sum a grouping lattice over :func:`_lattice_cells`, with ``ALL``
    where a set leaves a column out."""
    return grouped.agg(
        F.sum("__n").alias("n_rows"),
        F.sum("__q").cast("double").alias("sum_qty"),
    ).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "n_rows",
        "sum_qty",
    )


def _lattice_oracle(group_by: str) -> str:
    """The grouping-lattice oracle for one ``GROUP BY`` clause."""
    return f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY {group_by}
"""


def query_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (grouping-set aggregation)."""
    return _lattice_totals(_lattice_cells(spark, sf_dir).rollup("l_returnflag", "l_linestatus"))


ORACLE_ROLLUP_SUMMARY = _lattice_oracle("ROLLUP (l_returnflag, l_linestatus)")


def query_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^n grouping combinations (rollup's lattice superset).
    Runs over the pre-aggregated cells — see :func:`_lattice_cells`."""
    return _lattice_totals(_lattice_cells(spark, sf_dir).cube("l_returnflag", "l_linestatus"))


ORACLE_CUBE_SUMMARY = _lattice_oracle("CUBE (l_returnflag, l_linestatus)")


def query_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family in ONE window pass (rank,
    dense_rank, percent_rank, cume_dist, ntile) — customers ranked by
    account balance within market segment. One sort+exchange serves all
    five functions; the (c_acctbal, c_custkey) order is total, so every
    output is deterministic."""
    cust = load_table(spark, sf_dir, "customer")
    w = (
        W.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    )
    return cust.filter(F.col("c_custkey") < 500).select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        round_portable(F.percent_rank().over(w), 6).alias("prnk"),
        round_portable(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


ORACLE_RANK_FAMILY = f"""
SELECT c_custkey, c_mktsegment,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       {round_portable_sql("PERCENT_RANK() OVER w", 6)} AS prnk,
       {round_portable_sql("CUME_DIST() OVER w", 6)} AS cdist,
       NTILE(4) OVER w AS quartile
FROM customer
WHERE c_custkey < 500
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def query_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the chosen-lattice generalization of
    ROLLUP/CUBE, via the Spark 4 DataFrame ``groupingSets`` API. Same
    single Expand+aggregate pass; only the requested sets materialize
    (here the two 1-D marginals plus the 2-D cells, NOT the grand
    total — exactly what CUBE can't express without a filter). Runs
    over the pre-aggregated cells — see :func:`_lattice_cells`."""
    sets = [["l_returnflag", "l_linestatus"], ["l_returnflag"], ["l_linestatus"]]
    return _lattice_totals(
        _lattice_cells(spark, sf_dir).groupingSets(sets, "l_returnflag", "l_linestatus")
    )


ORACLE_GROUPING_SETS = _lattice_oracle(
    "GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))"
)


def query_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregates (the approx variant is rows-only, below)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_DISTINCT_COUNTS = """
SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
"""


def query_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate. Sketch internals differ from
    DuckDB's approx_count_distinct, so raw estimates can never hash-match;
    the checkable contract is the one a user relies on — |approx − exact|
    ≤ 5%·exact — which each engine materializes as a boolean next to the
    exact count. Both engines assert their own sketch; the hash matches
    iff both sketches are inside the bound and the exact counts agree.

    Plan shape: ANY exact count_distinct next to a non-distinct aggregate
    (the HLL sketch included) triggers Catalyst's distinct-agg Expand
    rewrite — MEASURED 1.9 s vs 0.4+0.3 s for the pieces at sf0.1, even
    on the same column. The Expand-free form: distinct() the key first (a
    plain partial-agg groupBy), then take count(1) AND the HLL over the
    distinct keys in one ordinary aggregate — HLL register updates are
    duplicate-insensitive, so the estimate is bit-identical to sketching
    the raw column. One column pass each, cross-joined 1-row results,
    0.73 s at sf0.1. The 5% bound is pure integer arithmetic
    (20·|approx−exact| ≤ exact) so no float boundary can flip the boolean
    between engines."""
    li = load_table(spark, sf_dir, "lineitem")

    def one(col: str, exact_alias: str, flag_alias: str) -> DataFrame:
        dist = li.select(col).distinct()
        agg = dist.agg(
            F.count(F.lit(1)).alias(exact_alias),
            F.approx_count_distinct(col, 0.02).alias("__approx"),
        )
        return agg.select(
            exact_alias,
            (
                F.lit(20) * F.abs(F.col("__approx") - F.col(exact_alias))
                <= F.col(exact_alias)
            ).alias(flag_alias),
        )

    orders = one("l_orderkey", "exact_orders", "orders_within_eps")
    parts = one("l_partkey", "exact_parts", "parts_within_eps")
    return orders.crossJoin(parts).select(
        "exact_orders", "exact_parts", "orders_within_eps", "parts_within_eps"
    )


ORACLE_APPROX_DISTINCT = """
SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       20 * abs(CAST(approx_count_distinct(l_orderkey) AS BIGINT)
                - COUNT(DISTINCT l_orderkey))
           <= COUNT(DISTINCT l_orderkey) AS orders_within_eps,
       20 * abs(CAST(approx_count_distinct(l_partkey) AS BIGINT)
                - COUNT(DISTINCT l_partkey))
           <= COUNT(DISTINCT l_partkey) AS parts_within_eps
FROM lineitem
"""


def query_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch twin of query_approx_distinct: each engine's own
    approximate percentile sketch (Spark GK via approx_percentile, DuckDB
    t-digest via approx_quantile) asserted against the exact DISCRETE
    percentile, in pure integer arithmetic (price cents, BIGINT), with
    the hash-checkable contract 20·|approx − exact| ≤ exact per quantile.

    The exact side runs the textbook distributed exact-quantile plan —
    the price-cent domain is ≈n distinct values (583k at sf0.1), so a
    cumulative window over it would be a global serial sort. Instead:
    (1) a coarse histogram on $100 buckets (~1k groups, map-side
    combined); (2) a cumulative window over those ~1k bucket counts to
    locate the bucket holding rank ⌈q·n⌉ and the residual rank inside
    it; (3) a fine cumulative window restricted to THAT bucket's
    distinct values (~600 rows, reached via a broadcast join). No stage
    ever windows more than max(buckets, bucket-width) rows regardless
    of corpus size. The discrete percentile (least value whose
    cumulative count reaches the rank) is an actual data value, so both
    engines agree exactly — interpolated definitions differ in last-ulp
    arithmetic across engines and would make the exact columns
    unhashable."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    # r16 settled: dist/bck feed six consumers (both exact_disc branches
    # × the target-bucket, in-bucket and n subtrees) and the STATIC plan
    # copies the subtree per consumer (14 lineitem scans) — but a
    # mid-round lazy-localCheckpoint pin of both frames was A/B'd and
    # REVERTED: every copy ends in the same canonical groupBy exchange,
    # so runtime stage reuse already computes the histogram once, and
    # the pins measured 1.93 s vs 0.79 s unpinned (interleaved, sf0.1)
    # — two materialization round-trips on the query's critical path.
    dist = (
        li.select(cents.alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("b", F.expr("c div 10000"))
    )
    bck = dist.groupBy("b").agg(F.sum("cnt").alias("bcnt"))
    cumb = bck.withColumn(
        # ~1k bucket-count rows: the single-value partition key (b % 1,
        # non-foldable) marks the one task as intended and silences the
        # WindowExec single-partition warning
        "cum",
        F.sum("bcnt").over(
            W.partitionBy(F.col("b") % 1)
            .orderBy("b")
            .rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    # r16: n comes from the ~1k-row bucket table already in the plan
    # (Σ bcnt ≡ COUNT(*) over lineitem), broadcast-joined in, instead of
    # a driver li.count() — one action and one fewer full lineitem pass.
    # ⌈q·n⌉ uses integer `div` (== Python // for non-negative n), so the
    # rank arithmetic is unchanged bit for bit.
    n_df = bck.agg(F.sum("bcnt").alias("__n"))

    def exact_disc(pct: int, alias: str) -> DataFrame:
        k = F.expr(f"(__n * {pct} + 99) div 100")
        tgt = (
            cumb.crossJoin(F.broadcast(n_df))
            .filter(F.col("cum") >= k)
            .orderBy("b")
            .limit(1)
            .select("b", (k - (F.col("cum") - F.col("bcnt"))).alias("off"))
        )
        inb = dist.join(F.broadcast(tgt), "b").withColumn(
            "cum_in",
            F.sum("cnt").over(
                W.partitionBy("b").orderBy("c").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        return inb.filter(F.col("cum_in") >= F.col("off")).agg(
            F.min("c").alias(alias)
        )

    exact = exact_disc(50, "exact_p50_cents").crossJoin(
        exact_disc(95, "exact_p95_cents")
    )
    approx = li.select(cents.alias("c")).agg(
        F.percentile_approx("c", 0.5, 10000).alias("a50"),
        F.percentile_approx("c", 0.95, 10000).alias("a95"),
    )
    return exact.crossJoin(approx).select(
        "exact_p50_cents",
        "exact_p95_cents",
        (
            F.lit(20) * F.abs(F.col("a50") - F.col("exact_p50_cents"))
            <= F.col("exact_p50_cents")
        ).alias("p50_within_eps"),
        (
            F.lit(20) * F.abs(F.col("a95") - F.col("exact_p95_cents"))
            <= F.col("exact_p95_cents")
        ).alias("p95_within_eps"),
    )


ORACLE_APPROX_QUANTILES = """
WITH cents AS (
    SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c FROM lineitem
),
cum AS (
    SELECT c, SUM(cnt) OVER (ORDER BY c) AS cum FROM (
        SELECT c, COUNT(*) AS cnt FROM cents GROUP BY c
    )
),
n AS (SELECT COUNT(*) AS n FROM cents),
exact AS (
    SELECT MIN(CASE WHEN cum >= (n.n * 50 + 99) // 100 THEN c END) AS exact_p50_cents,
           MIN(CASE WHEN cum >= (n.n * 95 + 99) // 100 THEN c END) AS exact_p95_cents
    FROM cum, n
),
approx AS (
    SELECT CAST(approx_quantile(c, 0.5) AS BIGINT) AS a50,
           CAST(approx_quantile(c, 0.95) AS BIGINT) AS a95
    FROM cents
)
SELECT exact_p50_cents, exact_p95_cents,
       20 * abs(a50 - exact_p50_cents) <= exact_p50_cents AS p50_within_eps,
       20 * abs(a95 - exact_p95_cents) <= exact_p95_cents AS p95_within_eps
FROM exact, approx
"""


def query_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (EXISTS / NOT EXISTS) — absent from the
    reference (§2.3 'not present') but core engine surface."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 200000.0)
    with_big = cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", F.lit("has_big_order").alias("status")
    )
    without_any = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", F.lit("no_orders").alias("status"))
    return with_big.unionByName(without_any)


def query_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION DISTINCT — absent from the reference
    (§2.7 'not present') but core engine surface. Each set op is a
    distinct-aggregate-shaped shuffle on the key; tagged union of the
    three results."""
    orders = load_table(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    done = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = open_.intersect(done).select("o_custkey", F.lit("both").alias("op"))
    only_open = open_.subtract(done).select("o_custkey", F.lit("only_open").alias("op"))
    either = open_.union(done).distinct().select("o_custkey", F.lit("either").alias("op"))
    return both.unionByName(only_open).unionByName(either)


ORACLE_SET_OPS = """
WITH o AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
SELECT o_custkey, 'both' AS op FROM (SELECT * FROM o INTERSECT SELECT * FROM f)
UNION ALL
SELECT o_custkey, 'only_open' AS op FROM (SELECT * FROM o EXCEPT SELECT * FROM f)
UNION ALL
SELECT o_custkey, 'either' AS op FROM (SELECT * FROM o UNION SELECT * FROM f)
"""


def query_cogroup_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided grouped-pandas operator: events and orders co-grouped on
    the shared key, each pair of per-key frames processed together in one
    Arrow batch (``cogroup().applyInPandas`` — the API for custom logic
    that needs BOTH sides of a key at once, e.g. feature joins that are
    not expressible as a SQL join). One shuffle per side, no driver
    involvement. Money sums are integer cents so the Python-side
    summation is exact and order-independent.

    Granularity matters: cogrouping on the raw key means one Python call
    per key — MEASURED 9.5 s at sf0.1 (~15k keys) vs 1.3 s cogrouped on
    a 64-way bucket of the key with vectorized per-key pandas inside
    each bucket. Bucket-the-key is the standing pattern for grouped-
    pandas ops over high-cardinality keys."""
    import pandas as pd

    n_buckets = 64
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), (F.col("user_id") % n_buckets).alias("b"), "value"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"), (F.col("o_custkey") % n_buckets).alias("b"), "o_totalprice"
    )

    def stats(key, ev_pdf: pd.DataFrame, ord_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(ev_pdf):
            e = ev_pdf.assign(
                cents=np.floor(ev_pdf["value"].to_numpy() * 100.0).astype("int64")
            ).groupby("k", as_index=False).agg(n_events=("k", "size"), sum_value_cents=("cents", "sum"))
        else:
            e = pd.DataFrame({"k": [], "n_events": [], "sum_value_cents": []})
        o = (
            ord_pdf.groupby("k", as_index=False).agg(n_orders=("k", "size"))
            if len(ord_pdf)
            else pd.DataFrame({"k": [], "n_orders": []})
        )
        m = e.merge(o, on="k", how="outer")
        for c in ("n_events", "n_orders", "sum_value_cents"):
            if c not in m:
                m[c] = 0
        m[["n_events", "n_orders", "sum_value_cents"]] = (
            m[["n_events", "n_orders", "sum_value_cents"]].fillna(0).astype("int64")
        )
        return m[["k", "n_events", "n_orders", "sum_value_cents"]]

    return ev.groupBy("b").cogroup(orders.groupBy("b")).applyInPandas(
        stats, schema="k long, n_events long, n_orders long, sum_value_cents long"
    )


ORACLE_COGROUP_ACTIVITY = """
WITH e AS (
    SELECT user_id AS k, COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events GROUP BY 1
),
o AS (
    SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders GROUP BY 1
)
SELECT COALESCE(e.k, o.k) AS k,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(n_orders, 0) AS n_orders,
       COALESCE(sum_value_cents, 0) AS sum_value_cents
FROM e FULL OUTER JOIN o ON e.k = o.k
"""


def query_lead_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag analytics: per-user inter-event gap and value delta —
    one shuffle on user_id, streaming within partition."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_ts = F.lag(ts_us).over(w)
    return ev.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        (ts_us - prev_ts).alias("gap_us"),
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


ORACLE_LEAD_LAG = """
SELECT event_id, user_id,
       epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
       epoch_us(CAST(ts AS TIMESTAMP))
         - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS gap_us,
       value - lag(value) OVER w AS value_delta,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC)
"""


def query_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: ``parse_json`` once
    into the binary variant encoding, then typed ``variant_get`` path
    extraction. Versus per-field ``get_json_object`` (which re-parses the
    string per access), variant parses once and stores a shredded binary
    — the modern engine answer to open-schema JSON columns at scale.
    Values must agree exactly with DuckDB's JSON extraction."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    parsed = ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
    )
    return (
        parsed.withColumn("k_bucket", F.col("k") % 7)
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("min_event"),
            F.max("k").alias("max_k"),
        )
    )


ORACLE_VARIANT_PROPS = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 AS k_bucket,
       COUNT(*) AS n,
       MIN(event_id) AS min_event,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY 1
"""


def query_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events ``props`` column (semi-
    structured payload — the engine's json surface): per-key-bucket
    counts and value sums. ``get_json_object`` stays JVM-side/codegen;
    for repeated multi-field access, ``from_json`` with an explicit
    schema amortizes the parse — both demonstrated here."""
    ev = load_table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    parsed = ev.select(
        "event_type",
        k_str.cast("bigint").alias("k"),
        F.from_json("props", "k BIGINT").getField("k").alias("k2"),
    )
    return (
        parsed.withColumn("k_bucket", F.col("k") % 10)
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            # coalesce: an all-NULL-k group must yield 0 like the oracle's
            # SUM(0), not NULL
            F.coalesce(F.sum(F.col("k2") - F.col("k")), F.lit(0).cast("bigint")).alias(
                "parse_diff"
            ),
        )
    )


ORACLE_JSON_PROPS = """
SELECT event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(0) AS BIGINT) AS parse_diff
FROM events
GROUP BY 1, 2
"""


ORACLE_SEMI_ANTI_JOIN = """
SELECT c_custkey, 'has_big_order' AS status
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
UNION ALL
SELECT c_custkey, 'no_orders' AS status
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def query_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of the pivot above: widen-form
    lineitem measures (quantity / extendedprice / discount / tax) melt
    into (measure, value) long form, then roll up per measure per
    return flag. Long form is the shape feature stores and metric
    tables want; Spark's native ``unpivot`` is a zero-shuffle
    projection (each input row fans out map-side), so the only exchange
    is the final small-key aggregate.

    Decimal-exact: values cast to DECIMAL before aggregation so the sum
    reduces exactly on both engines. NULL semantics are pinned by
    construction (r6 advice): the original melt filtered
    ``value IS NOT NULL`` (Spark's ``unpivot`` RETAINS nulls, DuckDB's
    UNPIVOT drops them), which the aggregate-first form reproduces with
    per-column ``count(col)``/``sum``/``max`` (all null-skipping) and a
    ``n_rows > 0`` filter for the all-null-group edge — identical
    output even if a nullable measure ever appears (lineitem measures
    happen to be non-null).

    r17 (§2.3 — don't multiply the scan path): the melt-then-aggregate
    form ran ``unpivot``'s Expand over every scanned row (×4 rows into
    the partial aggregate — the same pre-aggregation class as the r16
    cube/rollup fix). COUNT/SUM/MAX are per-column decomposable, so the
    query now runs ONE hash aggregate over the scan (12 column
    aggregates, no Expand) and melts the 3-row per-flag result instead.
    Interleaved A/B at sf0.1 and plans in
    plans/r17/agg_unpivot_measures_{before,after}.txt."""
    li = load_table(spark, sf_dir, "lineitem")
    measures = [
        ("quantity", "l_quantity"),
        ("extendedprice", "l_extendedprice"),
        ("discount", "l_discount"),
        ("tax", "l_tax"),
    ]
    aggs = []
    for name, col in measures:
        v = F.col(col).cast(_DEC)
        aggs += [
            F.count(v).alias(f"n_{name}"),
            F.sum(v).alias(f"s_{name}"),
            F.max(v).alias(f"m_{name}"),
        ]
    per_flag = li.groupBy("l_returnflag").agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("measure"),
                F.col(f"n_{name}").alias("n_rows"),
                F.col(f"s_{name}").alias("s"),
                F.col(f"m_{name}").alias("m"),
            )
            for name, _ in measures
        ]
    )
    return (
        per_flag.select("l_returnflag", F.explode(rows).alias("r"))
        .select(
            "l_returnflag",
            F.col("r.measure").alias("measure"),
            F.col("r.n_rows").alias("n_rows"),
            F.col("r.s").cast("double").alias("sum_value"),
            F.col("r.m").cast("double").alias("max_value"),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy("l_returnflag", "measure")
    )


ORACLE_UNPIVOT_MEASURES = """
WITH melted AS (
    SELECT l_returnflag, measure, value
    FROM (
        SELECT l_returnflag,
               CAST(l_quantity AS DECIMAL(18,2)) AS quantity,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS extendedprice,
               CAST(l_discount AS DECIMAL(18,2)) AS discount,
               CAST(l_tax AS DECIMAL(18,2)) AS tax
        FROM lineitem
    )
    UNPIVOT (value FOR measure IN (quantity, extendedprice, discount, tax))
)
SELECT l_returnflag, measure,
       COUNT(*) AS n_rows,
       CAST(SUM(value) AS DOUBLE) AS sum_value,
       CAST(MAX(value) AS DOUBLE) AS max_value
FROM melted
GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
"""


QUERIES = {
    "agg_approx_quantiles": (query_approx_quantiles, ORACLE_APPROX_QUANTILES),
    "agg_unpivot_measures": (query_unpivot_measures, ORACLE_UNPIVOT_MEASURES),
    "events_json_props": (query_json_props, ORACLE_JSON_PROPS),
    "events_variant_props": (query_variant_props, ORACLE_VARIANT_PROPS),
    "join_semi_anti": (query_semi_anti_join, ORACLE_SEMI_ANTI_JOIN),
    "win_lead_lag": (query_lead_lag_delta, ORACLE_LEAD_LAG),
    "win_rank_family": (query_rank_family, ORACLE_RANK_FAMILY),
    "win_running_total": (query_running_total, ORACLE_RUNNING_TOTAL),
    "win_topk_per_group": (query_topk_per_group, ORACLE_TOPK_PER_GROUP),
    "agg_pricing_summary": (query_pricing_summary, ORACLE_PRICING_SUMMARY),
    "agg_top_customers": (query_top_customers, ORACLE_TOP_CUSTOMERS),
    "agg_pivot_status": (query_pivot_status, ORACLE_PIVOT_STATUS),
    "agg_rollup_summary": (query_rollup_summary, ORACLE_ROLLUP_SUMMARY),
    "agg_cube_summary": (query_cube_summary, ORACLE_CUBE_SUMMARY),
    "agg_grouping_sets": (query_grouping_sets, ORACLE_GROUPING_SETS),
    "agg_distinct_counts": (query_distinct_counts, ORACLE_DISTINCT_COUNTS),
    "agg_approx_distinct": (query_approx_distinct, ORACLE_APPROX_DISTINCT),
    "set_ops": (query_set_ops, ORACLE_SET_OPS),
    "cogroup_activity": (query_cogroup_activity, ORACLE_COGROUP_ACTIVITY),
}
