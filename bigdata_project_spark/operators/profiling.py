"""Data-quality operators: single-pass column profiling and SCD2-style
change-interval extraction.

Beyond-reference surface (the reference's only QA is COUNT(*) + LIMIT-10
eyeballing, queries.ipynb cells 7-26; SURVEY §5): a 100 TB ingest needs a
machine-readable profile per load and change-history tracking for
dimension tables. Both are pure built-in plans, oracle-checked.

Scale notes:
- The profile runs one single-column aggregate per profiled column,
  unioned: each branch scans only its own column (parquet pruning), so
  total bytes read ≈ one scan of the profiled columns, with no Expand
  row inflation (see the measured comparison in the query docstring).
- SCD2 intervals: two window passes over the SAME (partition, order) —
  Catalyst reuses the single sort+exchange; the run-collapse filter
  (keep rows where the value changed) happens between them, so the
  second pass sees only change points.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.sources.readers import load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

# (column, kind) — kind drives which min/max slot is populated.
_PROFILE_COLS = [
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_shipdate", "ts"),
]


def query_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``lineitem``: nulls, exact distinct count,
    min/max (numeric columns in ``min_num``/``max_num``; strings and
    formatted timestamps in ``min_str``/``max_str``). min/max carry no
    arithmetic, so the stored values round-trip bit-exactly.

    Plan shape — MEASURED: one aggregate with k exact COUNT(DISTINCT)s
    plans as a single scan + Expand (k× row inflation through one giant
    hash aggregate keyed on every profiled column) = 7-9 s at sf0.1. The
    union-of-branches form below — one single-column aggregate per
    profiled column — is 1.3 s: each branch's parquet scan reads ONLY its
    column (pruned ReadSchema), partials collapse map-side, and the k
    branches schedule concurrently. k "scans" of one column each ≈ one
    scan of k columns in bytes read, so this holds at 100 TB; for very
    wide schemas swap exact distinct for approx_count_distinct and a
    single-pass plan wins again."""
    li = load_table(spark, sf_dir, "lineitem")
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    branches = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn: Column = F.min(c).alias("mn")
            mx: Column = F.max(c).alias("mx")
        elif kind == "ts":
            mn = F.date_format(F.min(c), _TS_FMT).alias("mn")
            mx = F.date_format(F.max(c), _TS_FMT).alias("mx")
        else:
            mn = F.min(c).alias("mn")
            mx = F.max(c).alias("mx")
        one = li.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(c).alias("cnt"),
            F.count_distinct(c).alias("d"),
            mn,
            mx,
        )
        is_num = kind == "num"
        branches.append(
            one.select(
                F.lit(c).alias("col_name"),
                (F.col("n") - F.col("cnt")).alias("n_nulls"),
                F.col("d").alias("n_distinct"),
                (F.col("mn") if is_num else null_d).alias("min_num"),
                (F.col("mx") if is_num else null_d).alias("max_num"),
                (null_s if is_num else F.col("mn").cast("string")).alias("min_str"),
                (null_s if is_num else F.col("mx").cast("string")).alias("max_str"),
            )
        )
    return reduce(DataFrame.unionByName, branches)


def _profile_select(c: str, kind: str) -> str:
    if kind == "num":
        return (
            f"SELECT '{c}' AS col_name, n - c_{c} AS n_nulls, d_{c} AS n_distinct,"
            f" min_{c} AS min_num, max_{c} AS max_num,"
            f" CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a"
        )
    return (
        f"SELECT '{c}' AS col_name, n - c_{c} AS n_nulls, d_{c} AS n_distinct,"
        f" CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,"
        f" min_{c} AS min_str, max_{c} AS max_str FROM a"
    )


def _profile_agg(c: str, kind: str) -> str:
    base = f"COUNT({c}) AS c_{c}, COUNT(DISTINCT {c}) AS d_{c}"
    if kind == "ts":
        return (
            f"{base}, strftime(MIN({c}), '%Y-%m-%d %H:%M:%S') AS min_{c},"
            f" strftime(MAX({c}), '%Y-%m-%d %H:%M:%S') AS max_{c}"
        )
    return f"{base}, MIN({c}) AS min_{c}, MAX({c}) AS max_{c}"


ORACLE_PROFILE_COLUMNS = (
    "WITH a AS (SELECT COUNT(*) AS n, "
    + ", ".join(_profile_agg(c, k) for c, k in _PROFILE_COLS)
    + " FROM lineitem)\n"
    + "\nUNION ALL\n".join(_profile_select(c, k) for c, k in _PROFILE_COLS)
)


# --------------------------------------------------------- feature binning --

N_BINS = 20


def query_feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram of ``l_extendedprice`` (the ML-prep binning /
    distribution-profile op): 20 bins over the observed range with
    per-bin count and exact value extent. One tiny range aggregate + one
    combiner-friendly hash aggregate on a dense integer key — map-side
    partials collapse to ≤ N_BINS rows per partition, so shuffle volume
    is constant regardless of table size.

    r16: the range aggregate is a broadcast 1-row cross join inside the
    ONE lazy plan (the oracle's own ``FROM lineitem, r`` shape) instead
    of a driver ``.first()`` — one action, no driver data pull; the bin
    expression is the identical double arithmetic with ``lo``/``hi`` as
    columns (same IEEE ops, bit-identical bins)."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("__lo"), F.max("l_extendedprice").alias("__hi")
    )
    v = F.col("l_extendedprice")
    bin_ = F.least(
        F.floor((v - F.col("__lo")) * N_BINS / (F.col("__hi") - F.col("__lo"))),
        F.lit(N_BINS - 1),
    ).cast("bigint")
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(v.alias("v"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
        )
    )


ORACLE_FEATURE_BINNING = f"""
WITH r AS (
    SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem
),
b AS (
    SELECT l_extendedprice AS v,
           CAST(least(floor((l_extendedprice - lo) * {N_BINS} / (hi - lo)),
                      {N_BINS - 1}) AS BIGINT) AS bin
    FROM lineitem, r
)
SELECT bin, COUNT(*) AS n_rows, MIN(v) AS min_val, MAX(v) AS max_val
FROM b GROUP BY bin
"""


# ------------------------------------------------------------------ SCD2 --


def query_scd2_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals from an event log: collapse each
    user's consecutive runs of the same ``event_type`` into one row with
    [valid_from, valid_to) bounds (valid_to NULL on the open current row)
    — the standard dimension-history build. Deterministic order via the
    (ts, event_id) tiebreak."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.date_format("ts", _TS_FMT).alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), _TS_FMT).alias("valid_to"),
    )


ORACLE_SCD2_EVENT_TYPE = """
WITH ev AS (SELECT * FROM events WHERE user_id < 200),
flagged AS (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM ev
),
changes AS (
    SELECT user_id, event_type, ts, event_id
    FROM flagged
    WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S') AS valid_to
FROM changes
"""


def query_feature_binning_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-DEPTH (quantile) histogram of ``l_extendedprice`` — the
    quantile-binning / calibration preprocessing twin of the equal-width
    ``feature_binning``: every bucket holds the same row count (±1), so
    bucket edges ARE the empirical deciles.

    Exact SQL-ntile bucketing with no global window, by reusing
    :func:`bigdata_project_spark.operators.zorder.distributed_ntile`
    (sampled-cut range ids + per-range ranks + driver-side offsets) —
    here through its ``approxQuantile`` branch, since a price column has
    no statically-known domain. One corpus pass cached across the two
    inherent rank passes, then a tiny per-bucket aggregate."""
    from bigdata_project_spark.operators.zorder import distributed_ntile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("price")
    )
    binned = distributed_ntile(
        li, 10, ["price", "l_orderkey", "l_linenumber"]
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )


ORACLE_FEATURE_BINNING_EQUIDEPTH = """
WITH b AS (
    SELECT l_extendedprice AS price,
           ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
    FROM lineitem
)
SELECT bucket, COUNT(*) AS n_rows,
       MIN(price) AS min_price, MAX(price) AS max_price
FROM b
GROUP BY bucket
"""


QUERIES = {
    "feature_binning_equidepth": (
        query_feature_binning_equidepth,
        ORACLE_FEATURE_BINNING_EQUIDEPTH,
    ),
    "feature_binning": (query_feature_binning, ORACLE_FEATURE_BINNING),
    "profile_columns": (query_profile_columns, ORACLE_PROFILE_COLUMNS),
    "scd2_event_type": (query_scd2_event_type, ORACLE_SCD2_EVENT_TYPE),
}
