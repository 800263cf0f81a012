"""Change-data-capture: diff two snapshots of a keyed state table.

``cdc_snapshot_diff`` reconstructs the standard lakehouse CDC feed —
given state(key) at two points in time, emit one row per changed key
with op ∈ {'I','U','D'} — over the fixtures: the "state" of an order is
its shipped-line count + shipped quantity within a trailing one-year
activity window, so keys genuinely appear (I), change (U), and expire
(D) between the two cutoffs.

Scale shape: the textbook form is FULL OUTER JOIN old ⋈ new on key —
one shuffle of BOTH snapshots. This implementation folds the two
snapshots into ONE conditional aggregate over a single scan (old_n =
SUM(in_old), new_n = SUM(in_new), …): half the scan volume, one shuffle
instead of two + join, and map-side combine applies. At 100 TB the two
snapshots are usually separate tables; then the full-outer join on
bucketed key layout is the fallback — the conditional-agg form is the
one to prefer whenever both snapshots derive from one event log, as
here (cf. sources/readers.py bucketing notes).

Output columns are nullable on the absent side exactly as a Debezium-
style feed would be; NOOP keys (state identical in both windows, which
the overlapping windows do produce) are dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

#: trailing-window snapshot cutoffs (fixture dates span 1995..2001)
OLD_LO, OLD_HI = "1997-01-01", "1998-01-01"
NEW_LO, NEW_HI = "1997-07-01", "1998-07-01"

_DEC = "decimal(15,6)"


def query_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    in_old = (F.col("l_shipdate") >= OLD_LO) & (F.col("l_shipdate") < OLD_HI)
    in_new = (F.col("l_shipdate") >= NEW_LO) & (F.col("l_shipdate") < NEW_HI)
    qty6 = round_portable(F.col("l_quantity"), 6).cast(_DEC)

    state = (
        li.filter(in_old | in_new)
        .groupBy("l_orderkey")
        .agg(
            F.sum(in_old.cast("bigint")).alias("old_n"),
            F.sum(F.when(in_old, qty6).otherwise(F.lit(0).cast(_DEC))).alias("old_q"),
            F.sum(in_new.cast("bigint")).alias("new_n"),
            F.sum(F.when(in_new, qty6).otherwise(F.lit(0).cast(_DEC))).alias("new_q"),
        )
    )
    op = (
        F.when(F.col("old_n") == 0, F.lit("I"))
        .when(F.col("new_n") == 0, F.lit("D"))
        .when(
            (F.col("old_n") != F.col("new_n")) | (F.col("old_q") != F.col("new_q")),
            F.lit("U"),
        )
    )  # NULL ⇒ NOOP, dropped below

    # Absent-side columns are NULL; emit the counts as DOUBLE so the
    # nullable columns arrive as float64 from both engines (a nullable
    # int64 degrades to float in pandas on one engine but not the other).
    def side(n: str, q: str, present):
        return (
            F.when(present, F.col(n).cast("double")).alias(n),
            F.when(present, round_portable(F.col(q).cast("double"), 2)).alias(
                q.replace("_q", "_qty")
            ),
        )

    o_n, o_q = side("old_n", "old_q", F.col("old_n") > 0)
    n_n, n_q = side("new_n", "new_q", F.col("new_n") > 0)
    return state.select(
        "l_orderkey", op.alias("op"), o_n, o_q, n_n, n_q
    ).filter(F.col("op").isNotNull())


ORACLE_CDC_SNAPSHOT_DIFF = f"""
WITH state AS (
    SELECT l_orderkey,
           SUM(CASE WHEN l_shipdate >= '{OLD_LO}' AND l_shipdate < '{OLD_HI}' THEN 1 ELSE 0 END) AS old_n,
           SUM(CASE WHEN l_shipdate >= '{OLD_LO}' AND l_shipdate < '{OLD_HI}'
                    THEN CAST({round_portable_sql('l_quantity', 6)} AS DECIMAL(15,6))
                    ELSE CAST(0 AS DECIMAL(15,6)) END) AS old_q,
           SUM(CASE WHEN l_shipdate >= '{NEW_LO}' AND l_shipdate < '{NEW_HI}' THEN 1 ELSE 0 END) AS new_n,
           SUM(CASE WHEN l_shipdate >= '{NEW_LO}' AND l_shipdate < '{NEW_HI}'
                    THEN CAST({round_portable_sql('l_quantity', 6)} AS DECIMAL(15,6))
                    ELSE CAST(0 AS DECIMAL(15,6)) END) AS new_q
    FROM lineitem
    WHERE (l_shipdate >= '{OLD_LO}' AND l_shipdate < '{OLD_HI}')
       OR (l_shipdate >= '{NEW_LO}' AND l_shipdate < '{NEW_HI}')
    GROUP BY l_orderkey
),
tagged AS (
    SELECT *,
           CASE WHEN old_n = 0 THEN 'I'
                WHEN new_n = 0 THEN 'D'
                WHEN old_n <> new_n OR old_q <> new_q THEN 'U'
           END AS op
    FROM state
)
SELECT l_orderkey, op,
       CASE WHEN old_n > 0 THEN CAST(old_n AS DOUBLE) END AS old_n,
       CASE WHEN old_n > 0 THEN {round_portable_sql('CAST(old_q AS DOUBLE)', 2)} END AS old_qty,
       CASE WHEN new_n > 0 THEN CAST(new_n AS DOUBLE) END AS new_n,
       CASE WHEN new_n > 0 THEN {round_portable_sql('CAST(new_q AS DOUBLE)', 2)} END AS new_qty
FROM tagged
WHERE op IS NOT NULL
"""


QUERIES = {
    "cdc_snapshot_diff": (query_cdc_snapshot_diff, ORACLE_CDC_SNAPSHOT_DIFF),
}
