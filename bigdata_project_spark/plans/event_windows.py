"""Event-time windowing over the ``events`` table.

The reference is batch-only (SURVEY.md §2.10), but a complete engine needs
event-time semantics. These are the *batch* forms — identical logic runs
under Structured Streaming in ``bigdata_project_spark.streaming`` (same
``F.window``/``session_window`` calls + watermarks; the hourly aggregate
is literally shared), drained through a memory sink by the ``stream_*``
queries.

Oracle design: tumbling = date_trunc grid; sliding (width w, slide s) =
each event belongs to exactly w/s grid windows, reconstructed in SQL by
cross-joining k offsets; sessions = classic gaps-and-islands (lag + flag +
running sum), which is also exactly how the batch sessionizer works.

Scale notes:
- Tumbling/sliding aggregation is a hash aggregate keyed on
  (window_start, key): map-side partial, one shuffle of the window space.
- Sliding windows multiply rows by w/s before aggregation — kept at 2×
  here; watermarked streaming bounds the state instead of the data volume.
- Sessionization shuffles once on user_id; within a partition it is a
  streaming scan. Skewed users are the classic hazard — AQE skew-join
  handles the join case; for pathological single-user skew, range-split
  sessions by day first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bigdata_project_spark.sources.readers import load_table

_DEC = "decimal(18,2)"
_FMT = "yyyy-MM-dd HH:mm:ss"


def query_interval_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming.windows.join_clicks_purchases (the
    watermarked stream-stream interval join): purchases matched to same-
    user clicks in the preceding 30 minutes. The equi-key (user_id) makes
    it a hash join with the interval as residual — never a cartesian."""
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.streaming.windows import join_clicks_purchases

    out = join_clicks_purchases(load_table(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.date_format("purchase_ts", _FMT).alias("purchase_ts"),
        F.date_format("click_ts", _FMT).alias("click_ts"),
    )


ORACLE_INTERVAL_JOIN_CLICKS = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
"""


def query_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: one pass producing hour,
    day, and grand-total grains via ROLLUP(day, hour) — the hierarchical
    time dimension means partial aggregates reuse across grains (Spark
    expands grouping sets before the single shuffle; no re-scan per
    grain, which is the point of a rollup vs three separate queries)."""
    ev = load_table(spark, sf_dir, "events")
    based = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "value",
    )
    agg = based.rollup("day", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        F.grouping("day").alias("g_day"),
        F.grouping("hour").alias("g_hour"),
    )
    grain = (
        F.when(F.col("g_day") == 1, F.lit("total"))
        .when(F.col("g_hour") == 1, F.lit("day"))
        .otherwise(F.lit("hour"))
    )
    return agg.select(
        grain.alias("grain"),
        F.date_format("day", _FMT).alias("day"),
        F.date_format("hour", _FMT).alias("hour"),
        "n_events",
        "total_value",
    )


ORACLE_TIME_ROLLUP = """
SELECT CASE WHEN GROUPING(day) = 1 THEN 'total'
            WHEN GROUPING(hour) = 1 THEN 'day'
            ELSE 'hour' END AS grain,
       strftime(day, '%Y-%m-%d %H:%M:%S') AS day,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM (
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           value
    FROM events
)
GROUP BY ROLLUP(day, hour)
"""


def hourly_type_totals(events: DataFrame) -> DataFrame:
    """Event count and decimal-exact value sum per (1-hour tumbling
    window ``w``, event_type) — the one aggregate behind both
    ``events_tumbling_1h`` and the drained ``stream_tumbling`` (which
    passes a watermarked stream)."""
    return events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
    )


def hourly_rows(totals: DataFrame) -> DataFrame:
    """:func:`hourly_type_totals` in ``ORACLE_TUMBLING_1H``'s columns."""
    return totals.select(
        F.date_format("w.start", _FMT).alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def query_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_rows(hourly_type_totals(load_table(spark, sf_dir, "events")))


ORACLE_TUMBLING_1H = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def query_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n_events",
        )
    )


# Each event lands in exactly 2 windows: starts floor5(ts) and floor5(ts)-5m.
ORACLE_SLIDING_10M_5M = """
WITH assigned AS (
    SELECT make_timestamp((CAST(floor(epoch(ts) / 300) AS BIGINT) - k) * 300 * 1000000) AS window_start
    FROM events, (SELECT UNNEST([0, 1]) AS k)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n_events
FROM assigned
GROUP BY 1
"""


def query_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts after a >30 min
    silence per user. Output: one row per session."""
    ev = load_table(spark, sf_dir, "events")
    order_w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev_us = F.lag(us).over(order_w)
    with_flag = ev.withColumn(
        "new_session",
        (prev_us.isNull() | ((us - prev_us) > 30 * 60 * 1_000_000)).cast("int"),
    )
    with_id = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(
            order_w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.date_format(F.min("ts"), _FMT).alias("session_start"),
            F.date_format(F.max("ts"), _FMT).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("session_value"),
        )
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
with_id AS (
    SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM with_id
GROUP BY user_id, session_seq
"""


def query_win_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day rolling sum per user via a RANGE window frame (the
    value-based frame family, complementing the ROWS frames elsewhere):
    daily per-user totals first (hash aggregate — the frame input is
    O(users × days)), then `rangeBetween(-6, 0)` over the integer day
    ordinal, so a sparse user's frame spans calendar days, not rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.unix_date(F.to_date("ts")).alias("day_no")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).alias("day_value"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("day_no")
        .rangeBetween(-6, W.currentRow)
    )
    return daily.select(
        "user_id",
        F.date_format(F.date_from_unix_date("day_no"), "yyyy-MM-dd").alias("day"),
        "n_events",
        F.sum("n_events").over(w).alias("n_7d"),
        F.sum("day_value").over(w).cast("double").alias("value_7d"),
    )


ORACLE_WIN_RANGE_7D = """
WITH daily AS (
    SELECT user_id,
           datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_no,
           COUNT(*) AS n_events,
           SUM(CAST(value AS DECIMAL(18,2))) AS day_value
    FROM events GROUP BY 1, 2
)
SELECT user_id,
       strftime(DATE '1970-01-01' + to_days(CAST(day_no AS INTEGER)), '%Y-%m-%d') AS day,
       n_events,
       CAST(SUM(n_events) OVER w AS BIGINT) AS n_7d,
       CAST(SUM(day_value) OVER w AS DOUBLE) AS value_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day_no
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


QUERIES = {
    "win_range_7d": (query_win_range_7d, ORACLE_WIN_RANGE_7D),
    "events_sessionize": (query_sessionize, ORACLE_SESSIONIZE),
    "events_sliding_10m_5m": (query_sliding_10m_5m, ORACLE_SLIDING_10M_5M),
    "events_time_rollup": (query_time_rollup, ORACLE_TIME_ROLLUP),
    "events_tumbling_1h": (query_tumbling_1h, ORACLE_TUMBLING_1H),
    "join_interval_clicks": (query_interval_join_clicks, ORACLE_INTERVAL_JOIN_CLICKS),
}
