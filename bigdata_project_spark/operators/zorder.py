"""Z-order (Morton-curve) multi-dimensional clustering.

Range-partitioning on ONE key gives perfect file-level min/max pruning on
that key and none on any other. Interleaving the bits of two keys into a
Morton z-value and range-partitioning on THAT bounds every file's extent
in BOTH dimensions — the published layout trick (Morton 1966; used by
Delta/Iceberg OPTIMIZE ZORDER) that turns parquet footer min/max stats
into 2-D data skipping. Beyond-reference surface: the reference never
controls physical layout (DuckLake writes whatever order arrives,
SURVEY §4).

Spark-first mechanics:
- the z-value is a pure codegen integer expression (no UDF);
- ``write_zordered`` = repartitionByRange(z) + sortWithinPartitions(z) →
  parquet: each output file covers one contiguous z-range, so its
  min/max footer stats are tight in both source dims;
- at 100 TB this is one range-exchange (sampled boundaries, skew-proof)
  + local sort — the same cost as any clustered write, no extra pass.

The registered query computes per-z-range-bucket extents of both dims —
the measurable clustering quality a reader's pruning would see — and is
oracle-checked (ntile over a unique total order is deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.sources.readers import load_table

Z_BITS = 16  # per dimension → 32-bit z-value; exact in BIGINT arithmetic
N_BUCKETS = 32


def zvalue(x: Column, y: Column) -> Column:
    """Interleave the low Z_BITS bits of two non-negative ints:
    z = Σⱼ bitⱼ(x)·4ʲ + 2·bitⱼ(y)·4ʲ. floor-div/mod arithmetic (not
    engine bit-ops) so the DuckDB twin is textually identical."""
    z: Column | None = None
    for j in range(Z_BITS):
        bx = F.floor(x / (2**j)) % 2
        by = F.floor(y / (2**j)) % 2
        term = (bx * (2 ** (2 * j)) + by * (2 ** (2 * j + 1))).cast("bigint")
        z = term if z is None else z + term
    return z


# (shift, mask) steps of the classic "Interleave bits by Binary Magic
# Numbers" spread (public bit-twiddling identity; Morton 1966): each
# step doubles the gap between the low 16 bits — 4 steps and ~12 integer
# ops per dimension versus the 64-term floor-div/mod interleave above.
# Value-identity vs zvalue() is pinned by
# tests/test_zorder.py::test_zvalue_spread_equals_arithmetic_zvalue and
# the hypothesis property in tests/test_properties.py.
_SPREAD_STEPS: tuple[tuple[int, int], ...] = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def with_zvalue_spread(
    df: DataFrame, x: Column, y: Column, out: str = "z"
) -> DataFrame:
    """Append the Morton z-value of two pre-scaled 16-bit columns via
    the 4-step shift-mask spread. Each step lands in its OWN projection
    (chained ``withColumn``), so the previous step — referenced twice
    as ``v | (v << s)`` — is evaluated once per row: Catalyst's
    CollapseProject declines to inline a non-trivial alias used more
    than once, and whole-stage codegen fuses the chain into straight-
    line long arithmetic. ~30 integer ops total, far below any JIT
    method-size cliff — which is what lets the registered query drop
    the persist lifecycle the 64-term form needed (see
    query_zorder_extents)."""
    df = df.withColumn("__zx", x.cast("bigint")).withColumn(
        "__zy", y.cast("bigint")
    )
    for c in ("__zx", "__zy"):
        for sh, m in _SPREAD_STEPS:
            df = df.withColumn(
                c,
                F.col(c).bitwiseOR(F.shiftleft(F.col(c), sh)).bitwiseAND(F.lit(m)),
            )
    return df.withColumn(
        out, F.col("__zx").bitwiseOR(F.shiftleft(F.col("__zy"), 1))
    ).drop("__zx", "__zy")


def _zvalue_spread_sql_ctes(
    source_sql: str, zx_expr: str, zy_expr: str, keep_cols: str
) -> str:
    """DuckDB mirror of :func:`with_zvalue_spread`: chained CTE selects
    using ``* REPLACE`` so — exactly like the Column chain — every
    spread step is a named column evaluated once, never a textually
    exploded sub-expression. Returns CTE text ending in relation ``zz``
    with ``keep_cols`` plus the interleaved ``z``. Pure integer bit
    ops: bit-exact on both engines by construction."""
    ctes = [
        f"s0 AS (SELECT {keep_cols}, {zx_expr} AS zx, {zy_expr} AS zy"
        f" FROM {source_sql})"
    ]
    prev = "s0"
    for i, (sh, m) in enumerate(_SPREAD_STEPS, start=1):
        ctes.append(
            f"s{i} AS (SELECT * REPLACE ("
            f"((zx | (zx << {sh})) & {m}) AS zx, "
            f"((zy | (zy << {sh})) & {m}) AS zy) FROM {prev})"
        )
        prev = f"s{i}"
    ctes.append(
        f"zz AS (SELECT {keep_cols}, (zx | (zy << 1)) AS z FROM {prev})"
    )
    return ",\n".join(ctes)


def _scaled_sql(col: str, lo: str, hi: str) -> str:
    """Min/max-scale the integer ``col`` onto [0, 2^Z_BITS), in both
    engines. Raw-bit interleave degenerates when one dim's domain is much
    narrower than the other's (its high bits are constant zero and stop
    participating in the ordering), so — like Delta's OPTIMIZE ZORDER,
    which interleaves range-partition ids — we interleave *scaled*
    positions. The bounds ``lo``/``hi`` are literals or columns (a
    broadcast 1-row min/max aggregate keeps the whole scale+interleave+
    bucket computation in ONE lazy plan). (v-lo)*65535 stays ≤ ~2^53,
    so the DOUBLE division is exact-rounded identically on both engines."""
    return (
        f"CAST(floor(CAST(({col} - {lo}) * {(2**Z_BITS) - 1} AS DOUBLE)"
        f" / greatest({hi} - {lo}, 1)) AS BIGINT)"
    )


def write_zordered(
    df: DataFrame, xcol: str, ycol: str, path: str, n_files: int = N_BUCKETS
) -> None:
    """Clustered parquet write: files cover contiguous z-ranges, tight in
    both ``xcol`` and ``ycol`` — parquet min/max footers then skip files
    for selective predicates on either column. One extra tiny aggregate
    computes the per-column ranges for scaling (at 100 TB: a footer-stats
    read or a sample, not a full scan)."""
    lo_x, hi_x, lo_y, hi_y = df.agg(
        F.min(xcol), F.max(xcol), F.min(ycol), F.max(ycol)
    ).first()
    (
        with_zvalue_spread(
            df,
            F.expr(_scaled_sql(xcol, str(lo_x), str(hi_x))),
            F.expr(_scaled_sql(ycol, str(lo_y), str(hi_y))),
            out="__z",
        )
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def distributed_ntile(
    df: DataFrame,
    n_buckets: int,
    order_cols: list[str],
    n_parts: int = 32,
    lead_range: tuple[int, int] | None = None,
) -> DataFrame:
    """``ntile(n_buckets) OVER (ORDER BY order_cols)`` without the global
    single-task window.

    Classic distributed ranking, the same boundary idea
    ``repartitionByRange`` uses, made branch-deterministic: the
    range-partition id is a *pure function of the row*. When the
    leading column's domain is known statically (``lead_range`` —
    z-values always are: [0, 4^bits)), the id is one integer division;
    otherwise sampled cut points are collected ONCE driver-side
    (``approxQuantile``). A per-range ``row_number`` window
    (partitioned — parallel) plus a broadcast join against the tiny
    per-range offset table turns local row numbers into exact global
    ranks. Every window here runs over either a partition-local frame
    or the ≤``n_parts``-row count table (the one deliberately
    unpartitioned window in the repo — its input is bounded by
    construction, never data-sized) — no
    ``WindowExec: No Partition Defined`` path on any data-sized
    relation.

    The whole computation is ONE lazy plan (r6 advice): per-range
    counts, exclusive-cumsum offsets, the global row total, and the
    ntile quotient/remainder are all columns of the broadcast side —
    no driver collect sits between a counts pass and a rank pass, so
    there is no cross-job consistency window at all. The counts and
    rank subtrees each re-evaluate the source projection; that is
    deterministic (pure row-functions over a file listing pinned at
    plan time) and, with the non-null ``__pid`` below, cheap.

    Bucket assignment replays SQL ntile's exact semantics (first
    ``n mod N`` buckets one row larger), so results — and the oracle —
    are identical to the serial window form. Requires the order key to
    be unique overall (true here: it ends in the lineitem primary key);
    ties on the *leading* column are fine because equal leading values
    always land in the same range (uniform-width ranges only skew
    parallelism under data skew, never correctness)."""
    lead = order_cols[0]
    if lead_range is not None:
        lo, hi = lead_range
        span = max(hi - lo + 1, 1)
        pid: Column = F.expr(f"CAST((({lead} - {lo}) * {n_parts}) div {span} AS INT)")
    else:
        probs = [i / n_parts for i in range(1, n_parts)]
        cuts = sorted(set(df.stat.approxQuantile(lead, probs, 0.001)))
        pid = F.lit(0)
        for c in cuts:
            pid = pid + (F.col(lead) > F.lit(c)).cast("int")
    # The coalesce is a NULLABILITY DECLARATION, not a data change (the
    # order key is required non-null/unique, see above): a nullable
    # join key makes InferFiltersFromConstraints add isnotnull(__pid)
    # to the probe side, and PushDownPredicates then substitutes the
    # ENTIRE upstream projection chain into that filter — each alias
    # inlined at every use site, i.e. exponential expansion for a
    # chained expression like the Morton spread. That expanded filter
    # was the real mechanism behind the r12b "JIT cliff" (11.6 s): the
    # then-persist fixed it only because the cache boundary blocks
    # pushdown. A non-nullable key means the constraint is never
    # inferred, so nothing is pushed and no persist is needed —
    # measured 6.3-7.5 s → 0.9-1.4 s on the zorder consumer at sf0.1.
    keyed = df.withColumn("__pid", F.coalesce(pid, F.lit(-1)))
    # per-range counts → exclusive cumsum + global total, all in-plan:
    # both windows run over the ≤n_parts-row count table
    counts = keyed.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stats = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_all).alias("__n"),
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    ranked = keyed.join(F.broadcast(stats), "__pid").withColumn(
        "__rank", F.row_number().over(w_local) + F.col("__off")
    )
    # SQL ntile over n rows: q = n div N, rem = n mod N; the first rem
    # buckets hold q+1 rows, the rest q. greatest(q,1) guards q=0 (then
    # rem=n and every rank falls in the first branch). All quotients use
    # integer `div`, not floor(/): double division is exact only below
    # 2^53 rows, and this must hold at any row count.
    ranked = ranked.withColumn(
        "__q", F.expr(f"__n div {n_buckets}")
    ).withColumn("__rem", F.col("__n") % n_buckets)
    big = F.col("__rem") * (F.col("__q") + 1)  # rows in q+1-sized buckets
    bucket = F.when(
        F.col("__rank") <= big,
        F.expr("(__rank - 1) div (__q + 1)") + 1,
    ).otherwise(
        F.col("__rem")
        + F.expr("(__rank - 1 - __rem * (__q + 1)) div greatest(__q, 1L)")
        + 1
    )
    return ranked.withColumn("bucket", bucket.cast("int")).drop(
        "__pid", "__rank", "__off", "__n", "__q", "__rem"
    )


def query_zorder_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality of the z-order layout: bucket lineitem into
    N_BUCKETS contiguous z-ranges (what repartitionByRange produces) and
    report each bucket's row count and min/max extent in BOTH dims.
    Tight extents in both columns = 2-D pruning works.

    Bucketing runs through :func:`distributed_ntile` — exact SQL-ntile
    semantics with no global window, so the plan scales like any range
    exchange while the oracle keeps its plain ``ntile``.

    r16 rework (the r15 verdict's zorder watch item — 1.9-2.2× of the
    oracle at stable hours, borderline on the 2× gate): ONE action
    instead of three. The min/max domain bounds become a broadcast
    1-row aggregate cross-joined into the plan (exactly the oracle's
    ``FROM lineitem, r`` shape) instead of a driver ``.first()``; the
    64-term floor-div Morton projection becomes the 4-step shift-mask
    spread (:func:`with_zvalue_spread`, value-identity pinned by
    test); and the r12-era evict+persist+eager-count lifecycle is
    dropped entirely — its cache-materialization job only ever papered
    over the inferred-isnotnull pushdown blowup that
    :func:`distributed_ntile` now prevents at the source by declaring
    ``__pid`` non-null (see the coalesce note there: 11.6 s at r12b,
    re-reproduced and root-caused this round)."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("__lo_x"),
        F.max("l_partkey").alias("__hi_x"),
        F.min("l_suppkey").alias("__lo_y"),
        F.max("l_suppkey").alias("__hi_y"),
    )
    zed = with_zvalue_spread(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
        .crossJoin(F.broadcast(bounds)),
        F.expr(_scaled_sql("l_partkey", "__lo_x", "__hi_x")),
        F.expr(_scaled_sql("l_suppkey", "__lo_y", "__hi_y")),
    ).drop("__lo_x", "__hi_x", "__lo_y", "__hi_y")
    return (
        distributed_ntile(
            zed,
            N_BUCKETS,
            ["z", "l_orderkey", "l_linenumber"],
            lead_range=(0, 4**Z_BITS - 1),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_partkey"),
            F.max("l_partkey").alias("max_partkey"),
            F.min("l_suppkey").alias("min_suppkey"),
            F.max("l_suppkey").alias("max_suppkey"),
        )
    )


ORACLE_ZORDER_EXTENTS = f"""
WITH r AS (
    SELECT MIN(l_partkey) AS lo_x, MAX(l_partkey) AS hi_x,
           MIN(l_suppkey) AS lo_y, MAX(l_suppkey) AS hi_y
    FROM lineitem
),
{_zvalue_spread_sql_ctes(
    "lineitem, r",
    _scaled_sql("l_partkey", "lo_x", "hi_x"),
    _scaled_sql("l_suppkey", "lo_y", "hi_y"),
    "l_orderkey, l_linenumber, l_partkey, l_suppkey",
)},
b AS (
    SELECT *, ntile({N_BUCKETS}) OVER (ORDER BY z, l_orderkey, l_linenumber) AS bucket
    FROM zz
)
SELECT bucket, COUNT(*) AS n_rows,
       MIN(l_partkey) AS min_partkey, MAX(l_partkey) AS max_partkey,
       MIN(l_suppkey) AS min_suppkey, MAX(l_suppkey) AS max_suppkey
FROM b
GROUP BY bucket
"""


QUERIES = {
    "layout_zorder_extents": (query_zorder_extents, ORACLE_ZORDER_EXTENTS),
}
