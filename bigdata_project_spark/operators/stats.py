"""Exact single-pass statistics: correlation matrix, group-wise OLS.

Beyond-reference analytics the profiling tier feeds into (the reference
stops at DISTINCT-ON dedup + aggregates; these are the next ops a
feature-engineering user reaches for):

- **Correlation matrix** (``feature_corr_matrix``): Pearson r for every
  pair of numeric lineitem measures, from ONE scan + ONE reduce. All
  d + d + d(d+1)/2 moment sums (Σx, Σx², Σxy) are computed in a single
  hash aggregate with partial (map-side) combine, then the d(d-1)/2
  output rows are unpivoted driver-free via ``explode``. No shuffle of
  the fact table at any scale — the reduce carries ~15 decimals total.

- **Group-wise OLS** (``ml_group_ols``): closed-form slope/intercept of
  extendedprice ~ quantity per l_returnflag group — the groupwise-model
  shape (think: per-domain quality calibration) without leaving the
  JVM. One hash aggregate on the group key; the closed form runs on the
  aggregated moments, so cost is O(groups), not O(rows).

Float parity (the emb_gram_blas integer-scaling technique, see
operators/graph.py): each input is scaled to an exact integer
``floor(v·s + 0.5)`` — products and sums are then integer-exact on
both engines, and the scale cancels in every correlation/slope ratio,
so the closed forms run directly on the scaled sums in DOUBLE with one
shared operation order; only the OLS intercept needs one explicit
unscale. Two lanes:

- **corr** rides the BIGINT lane at scale 100 (r12, after the weak-list
  decomposition showed the old all-DECIMAL(19,0) aggregate was
  arithmetic-bound, not floor-bound: 1.91 s → 0.90 s at sf0.1,
  tools/probe_corr_zorder_r12.json). The inputs are 2-decimal currency/
  ratio fields, so scale 100 is exact; scaled values ≤ ~1.05e7 keep
  every per-row PRODUCT ≤ ~1.1e14 — far inside int64, so the hot
  multiply stays in whole-stage-codegen bigint arithmetic — and only
  the partition-parallel SUM crosses into DECIMAL(38,0), where a bigint
  accumulator would overflow (verified: ANSI ARITHMETIC_OVERFLOW at
  sf0.1).
- **OLS** keeps the DECIMAL(19,0) lane at scale 1e6: one grouped
  aggregate over 3 groups is floor-bound already, and its intercept
  unscale wants the finer grid.

The scaled inputs, the moment sums and the closed forms are one SQL
string each, which the builders pass to ``F.expr``/``selectExpr`` and the
oracles embed; only the final melt and ``round_portable`` keep two forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

#: numeric measures entering the correlation matrix, in output order
CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_SCALE = 1_000_000.0


def _scaled_sql(expr: str) -> str:
    """floor(v·1e6 + 0.5) as an exact integer-valued DECIMAL(19,0); both
    engines parse it, and products ride the int128 lane as (38,0)."""
    return f"CAST(floor(({expr}) * {_SCALE} + 0.5) AS DECIMAL(19,0))"


_CORR_SCALE = 100.0  # 2-dp inputs → exact; products fit int64 (see module doc)


def _corr_scaled_sql(expr: str) -> str:
    """floor(v·100 + 0.5) as an exact BIGINT (codegen-friendly lane)."""
    return f"CAST(floor(({expr}) * {_CORR_SCALE} + 0.5) AS BIGINT)"


# Per-row arithmetic in BIGINT (whole-stage codegen), accumulation in
# DECIMAL(38,0): bigint sums would overflow. Both engines parse these.
_CORR_SUMS = [
    "COUNT(*) AS n",
    *[f"SUM(CAST(v_{c} AS DECIMAL(38,0))) AS s_{c}" for c in CORR_COLS],
    *[
        f"SUM(CAST(v_{a} * v_{b} AS DECIMAL(38,0))) AS s_{a}_{b}"
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i:]
    ],
]
_CORR_PAIRS = [(a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1 :]]


def _corr_sql(a: str, b: str) -> str:
    """corr(a,b) = (n·Σab − Σa·Σb) / sqrt((n·Σa² − Σa²)(n·Σb² − Σb²)) over
    the moment sums; the 1e4 scale on every product term cancels top and
    bottom."""
    n, sa, sb = "CAST(n AS DOUBLE)", f"CAST(s_{a} AS DOUBLE)", f"CAST(s_{b} AS DOUBLE)"
    return (
        f"({n} * CAST(s_{a}_{b} AS DOUBLE) - {sa} * {sb})"
        f" / sqrt(({n} * CAST(s_{a}_{a} AS DOUBLE) - {sa} * {sa})"
        f" * ({n} * CAST(s_{b}_{b} AS DOUBLE) - {sb} * {sb}))"
    )


def query_feature_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.selectExpr(*[f"{_corr_scaled_sql(c)} AS v_{c}" for c in CORR_COLS])
    moments = scaled.agg(*map(F.expr, _CORR_SUMS))
    # the melt keeps two forms: an explode of structs here, UNION ALL in
    # the oracle
    return (
        moments.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(a).alias("col_a"),
                            F.lit(b).alias("col_b"),
                            round_portable(F.expr(_corr_sql(a, b)), 6).alias("corr"),
                        )
                        for a, b in _CORR_PAIRS
                    ]
                )
            ).alias("r")
        )
        .select("r.col_a", "r.col_b", "r.corr")
    )


def _oracle_corr() -> str:
    scaled = ", ".join(f"{_corr_scaled_sql(c)} AS v_{c}" for c in CORR_COLS)
    branches = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
        f"{round_portable_sql(_corr_sql(a, b), 6)} AS corr FROM m"
        for a, b in _CORR_PAIRS
    )
    return f"""
WITH r AS (SELECT {scaled} FROM lineitem),
m AS (SELECT {', '.join(_CORR_SUMS)} FROM r)
{branches}
"""


ORACLE_FEATURE_CORR_MATRIX = _oracle_corr()


# -------------------------------------------------------------- group OLS --


def query_ml_group_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit of extendedprice ~ quantity.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²); intercept from the means.
    The moments reduce through one combiner-friendly hash aggregate on
    the group key, so the plan is a single shuffle of O(groups) rows —
    the closed form never touches row-level data again.
    """
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.selectExpr(
        "l_returnflag",
        f"{_scaled_sql('l_quantity')} AS x",
        f"{_scaled_sql('l_extendedprice')} AS y",
    )
    moments = scaled.groupBy("l_returnflag").agg(*map(F.expr, _OLS_SUMS))
    return moments.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        round_portable(F.expr(_SLOPE), 6).alias("slope"),
        round_portable(F.expr(_INTERCEPT), 6).alias("intercept"),
    )


# Both engines parse these; the scale cancels in the slope, and the
# intercept takes one explicit unscale.
_OLS_SUMS = ["COUNT(*) AS n", "SUM(x) AS sx", "SUM(y) AS sy", "SUM(x * x) AS sxx", "SUM(x * y) AS sxy"]
_N = "CAST(n AS DOUBLE)"
_SLOPE = (
    f"({_N} * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    f" / ({_N} * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_INTERCEPT = f"(CAST(sy AS DOUBLE) - ({_SLOPE}) * CAST(sx AS DOUBLE)) / {_N} / {_SCALE}"

ORACLE_ML_GROUP_OLS = f"""
WITH r AS (
    SELECT l_returnflag,
           {_scaled_sql('l_quantity')} AS x,
           {_scaled_sql('l_extendedprice')} AS y
    FROM lineitem
),
m AS (
    SELECT l_returnflag, {", ".join(_OLS_SUMS)}
    FROM r GROUP BY l_returnflag
)
SELECT l_returnflag,
       n AS n_rows,
       {round_portable_sql(_SLOPE, 6)} AS slope,
       {round_portable_sql(_INTERCEPT, 6)} AS intercept
FROM m
"""


QUERIES = {
    "ml_group_ols": (query_ml_group_ols, ORACLE_ML_GROUP_OLS),
    "feature_corr_matrix": (query_feature_corr_matrix, ORACLE_FEATURE_CORR_MATRIX),
}
