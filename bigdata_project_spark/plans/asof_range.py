"""As-of join, interval (range) join, and exact percentiles — operators the
reference never needed (its workload is pure conformance ELT) but any
time-series/feature-engineering workload does, and which Spark lacks as
built-ins. Each is built from Spark primitives in its *distributed* form,
with DuckDB's native implementations (ASOF JOIN, IEJoin, quantile_cont) as
the oracles — the strongest possible cross-check, since the two engines
share no code path at all.

Scale notes:
- As-of: the union+window formulation shuffles each side ONCE on the key
  and sorts within partition — same cost as a sort-merge join, no
  per-row probing, no BNLJ. This is the standard distributed as-of
  (kdb/Flink temporal-join equivalent).
- Range join: naive theta joins explode into BNLJ; decomposing the
  intervals into fixed-width buckets turns it into an equi-join on
  bucket + residual predicate. Bucket width trades replication factor
  (intervals spanning many buckets) against probe selectivity.
- Percentiles: exact percentile is a full sort per group — fine for
  bounded group counts; at unbounded scale switch to approx_percentile
  (t-digest) and accept the documented error bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

# ------------------------------------------------------------ as-of join --


# direction -> (the right side's tag, the window frame, the fill): the
# right row sorts before a left row at equal ts going backward and after
# it going forward, so either way a left row matches a right row at its ts.
_ASOF_DIRECTIONS = {
    "backward": (0, (W.unboundedPreceding, W.currentRow), F.last),
    "forward": (1, (W.currentRow, W.unboundedFollowing), F.first),
}


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_cols: list[str],
    direction: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """As-of join per key. ``direction="backward"`` attaches the most
    recent ``right`` row with ``right.ts <= left.ts`` (``ASOF ... ON l.ts
    >= r.ts``); ``"forward"`` attaches the earliest one with ``right.ts >=
    left.ts``. Union + last/first_value(ignorenulls) over a
    (key)-partitioned (ts, side)-ordered window; state per task is one row.

    ``tiebreak`` names a right-side column that uniquely orders right rows
    within (key, ts); among equal-ts right rows the LARGEST tiebreak value
    wins going backward and the SMALLEST going forward (the first one the
    forward scan meets). Without it, equal-ts right rows are picked
    partition-layout-dependently (DuckDB ASOF is likewise arbitrary there)
    — pass a unique id whenever ties are possible so results are
    reproducible."""
    right_side, frame, fill = _ASOF_DIRECTIONS[direction]
    lcols = [c for c in left.columns if c not in (key, ts)]
    tb_r = F.col(tiebreak) if tiebreak else F.lit(0)
    tagged_r = right.select(
        key,
        ts,
        F.lit(right_side).alias("__side"),
        tb_r.alias("__tb"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
    )
    tb_type = dict(right.dtypes)[tiebreak] if tiebreak else "int"
    tagged_l = left.select(
        key,
        ts,
        F.lit(1 - right_side).alias("__side"),
        F.lit(None).cast(tb_type).alias("__tb"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_cols],
        *lcols,
    )
    w = (
        W.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__side").asc(), F.col("__tb").asc_nulls_last())
        .rowsBetween(*frame)
    )
    # carry the right row's ts alongside its payload
    enriched = tagged_r.withColumn("__r_ts", F.col(ts)).unionByName(
        tagged_l.withColumn("__r_ts", F.lit(None).cast(dict(right.dtypes)[ts]))
    )
    # Fill ONE struct keyed on the right-side marker so every right
    # field (ts + payload) comes from the SAME matched row — independent
    # per-column ignorenulls fills would mix rows whenever the matched
    # row holds a NULL payload column (DuckDB ASOF keeps the row intact).
    row_struct = F.when(
        F.col("__side") == right_side,
        F.struct(
            F.col("__r_ts").alias("__ts"),
            *[F.col(f"__r_{c}").alias(c) for c in right_cols],
        ),
    )
    filled = enriched.select(
        "*", fill(row_struct, ignorenulls=True).over(w).alias("__asof")
    )
    return (
        filled.filter(F.col("__side") == 1 - right_side)
        .select(
            key,
            ts,
            *lcols,
            *[F.col(f"__asof.{c}").alias(f"right_{c}") for c in right_cols],
            F.col("__asof.__ts").alias("right_ts"),
        )
    )


def query_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every purchase, the user's most recent click at-or-before it
    (NULLs where no prior click exists)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    # tiebreak=event_id: equal-(user_id, ts) clicks resolve to the max
    # event_id — the oracle encodes the same rule via arg_max
    out = asof_join(
        purchases, clicks, "user_id", "ts", ["value"], "backward", tiebreak="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").alias("purchase_value"),
        F.unix_micros(F.col("right_ts").cast("timestamp")).alias("click_ts_us"),
        F.col("right_value").alias("click_value"),
    )


ORACLE_ASOF = """
WITH c AS (
    -- one click per (user_id, ts): max-event_id wins, mirroring the
    -- engine's tiebreak — DuckDB ASOF alone picks ties arbitrarily
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           arg_max(value, event_id) AS value
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
),
p AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS ts_us,
       p.value AS purchase_value,
       epoch_us(c.ts) AS click_ts_us,
       c.value AS click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def query_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward twin of ``join_asof``: for every click, the user's next
    purchase at-or-after it (NULLs where none follows)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        clicks, purchases, "user_id", "ts", ["value"], "forward", tiebreak="event_id"
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").alias("click_value"),
        F.unix_micros(F.col("right_ts").cast("timestamp")).alias("purchase_ts_us"),
        F.col("right_value").alias("purchase_value"),
    )


ORACLE_ASOF_FORWARD = """
WITH p AS (
    -- one purchase per (user_id, ts): min-event_id wins, mirroring the
    -- engine's forward tiebreak
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           arg_min(value, event_id) AS value
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1, 2
),
c AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) AS ts_us,
       c.value AS click_value,
       epoch_us(p.ts) AS purchase_ts_us,
       p.value AS purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
"""


# ------------------------------------------------------------ range join --

_N_BANDS = 20
_BAND_LO = 30.0  # lo = band_id * 30
_BAND_W = 50.0  # hi = lo + 50  (overlapping: width > spacing)
_BUCKET = 10.0


def _bands(spark: SparkSession) -> DataFrame:
    return spark.range(_N_BANDS).select(
        F.col("id").alias("band_id"),
        (F.col("id") * _BAND_LO).cast("double").alias("lo"),
        (F.col("id") * _BAND_LO + _BAND_W).cast("double").alias("hi"),
    )


def query_range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: events.value ∈ [band.lo, band.hi) over overlapping
    bands, as a bucketed equi-join — each band explodes into the
    fixed-width buckets it spans, events join on their single bucket,
    and the residual range predicate filters exact matches. No BNLJ at
    any scale; the oracle runs DuckDB's native IEJoin formulation."""
    ev = load_table(spark, sf_dir, "events")
    bands = _bands(spark)
    exploded = bands.select(
        "band_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / _BUCKET).cast("long"),
                F.floor(F.col("hi") / _BUCKET).cast("long"),
            )
        ).alias("bucket"),
    )
    probes = ev.select(
        "event_id", "event_type", "value", F.floor(F.col("value") / _BUCKET).cast("long").alias("bucket")
    )
    joined = probes.join(F.broadcast(exploded), "bucket").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return (
        joined.groupBy("band_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


ORACLE_RANGE_JOIN = f"""
WITH bands AS (
    SELECT i AS band_id,
           CAST(i * {_BAND_LO} AS DOUBLE) AS lo,
           CAST(i * {_BAND_LO} + {_BAND_W} AS DOUBLE) AS hi
    FROM range({_N_BANDS}) t(i)
)
SELECT band_id, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY band_id, event_type
"""

# ----------------------------------------------------------- percentiles --


def query_percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark ``percentile``
    ≡ DuckDB ``quantile_cont`` — both linear interpolation over the
    sorted group)."""
    ev = load_table(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("p25_raw"),
        F.expr("percentile(value, 0.5)").alias("p50_raw"),
        F.expr("percentile(value, 0.9)").alias("p90_raw"),
        F.count(F.lit(1)).alias("n"),
    )
    return out.select(
        "event_type",
        round_portable(F.col("p25_raw"), 6).alias("p25"),
        round_portable(F.col("p50_raw"), 6).alias("p50"),
        round_portable(F.col("p90_raw"), 6).alias("p90"),
        "n",
    )


ORACLE_PERCENTILES = f"""
SELECT event_type,
       {round_portable_sql("quantile_cont(value, 0.25)", 6)} AS p25,
       {round_portable_sql("quantile_cont(value, 0.5)", 6)} AS p50,
       {round_portable_sql("quantile_cont(value, 0.9)", 6)} AS p90,
       COUNT(*) AS n
FROM events
GROUP BY event_type
"""


QUERIES = {
    "join_asof": (query_asof_click_before_purchase, ORACLE_ASOF),
    "join_asof_forward": (query_asof_next_purchase, ORACLE_ASOF_FORWARD),
    "join_range_bands": (query_range_join_value_bands, ORACLE_RANGE_JOIN),
    "agg_percentiles": (query_percentiles_by_type, ORACLE_PERCENTILES),
}
