"""Event-sequence analytics: ordered funnels and cohort retention.

Product-analytics staples over the `events` stream table (beyond the
reference's own surface — its notebooks stop at per-day aggregates,
reference notebooks/; these are the sequence-aware follow-ups).

Scale shape: every step is a filter + hash aggregate on ``user_id``
followed by a join on the same key, so the whole funnel runs in ONE
shuffle partitioning reused across stages (Catalyst reuses the exchange
when the join keys match the aggregate keys). Nothing is windowed over
an unpartitioned order, nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table


def query_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel view → click → purchase.

    A user converts to stage k+1 at the EARLIEST event of that type at
    or after their stage-k conversion time (the classic "first touch
    after" semantics; simultaneous timestamps count, matching the
    ``>=`` in the oracle). Output: one row per stage with the surviving
    user count and the conversion ratio from the previous stage.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    # r16 settled: each stage frame is consumed twice (next stage's gate
    # + its own count sink) and the STATIC plan copies the subtree per
    # consumer (6 events scans) — but a mid-round lazy-localCheckpoint
    # pin of the stage frames was A/B'd and REVERTED: the duplicated
    # subtrees end in identical aggregate exchanges, so runtime stage
    # reuse already evaluates each stage once, and the pins measured
    # 0.75 s vs 0.23 s unpinned (interleaved, sf0.1) — the
    # materialization round-trips tripled the query.
    view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_view"))
    )
    click = (
        ev.filter(F.col("event_type") == "click")
        .join(view, "user_id")
        .filter(F.col("ts") >= F.col("ts_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_click"))
    )
    purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .filter(F.col("ts") >= F.col("ts_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_purchase"))
    )

    n_v = view.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(1).alias("stage_no"), F.lit("view").alias("stage"), "n"
    )
    n_c = click.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(2).alias("stage_no"), F.lit("click").alias("stage"), "n"
    )
    n_p = purchase.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(3).alias("stage_no"), F.lit("purchase").alias("stage"), "n"
    )
    stages = n_v.unionByName(n_c).unionByName(n_p)
    from pyspark.sql import Window

    # 3-row frame: driver-trivial window; the single-value partition key
    # (stage_no % 1, non-foldable) marks the one task as intended and
    # keeps the WindowExec single-partition warning out of the logs
    w = Window.partitionBy(F.col("stage_no") % 1).orderBy("stage_no")
    return stages.select(
        "stage_no",
        "stage",
        F.col("n").alias("n_users"),
        round_portable(
            F.col("n") / F.coalesce(F.lag("n").over(w), F.col("n")), 6
        ).alias("conv_from_prev"),
    )


ORACLE_EVENTS_FUNNEL = f"""
WITH v AS (
    SELECT user_id, MIN(ts) AS ts_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS ts_click
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'click' AND e.ts >= v.ts_view
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS ts_purchase
    FROM events e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= c.ts_click
    GROUP BY e.user_id
),
stages AS (
    SELECT 1 AS stage_no, 'view' AS stage, COUNT(*) AS n FROM v
    UNION ALL
    SELECT 2, 'click', COUNT(*) FROM c
    UNION ALL
    SELECT 3, 'purchase', COUNT(*) FROM p
)
SELECT stage_no, stage, n AS n_users,
       {round_portable_sql("n * 1.0 / COALESCE(LAG(n) OVER (ORDER BY stage_no), n)", 6)} AS conv_from_prev
FROM stages
"""


def query_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users grouped by the ISO week
    of their first event; one row per (cohort_week, week_offset) with
    the count of cohort members active that week.

    Both the cohort assignment and the activity matrix are hash
    aggregates on user_id keys — the single-shuffle shape that survives
    any corpus size; week arithmetic is integer day math on DATEs (no
    engine-specific week-of-year semantics).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_day")
    )
    activity = ev.join(firsts, "user_id").select(
        "user_id",
        "cohort_day",
        F.expr(
            "datediff(cast(date_trunc('week', ts) as date), cohort_day) div 7"
        ).alias("week_offset"),
    )
    return (
        activity.groupBy("cohort_day", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


ORACLE_RETENTION_COHORT = """
WITH firsts AS (
    SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_day
    FROM events GROUP BY user_id
),
activity AS (
    SELECT e.user_id, f.cohort_day,
           datediff('day', f.cohort_day,
                    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_offset
    FROM events e JOIN firsts f ON f.user_id = e.user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_week,
       week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM activity
GROUP BY cohort_day, week_offset
"""


def query_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the behavioral prior behind session synthesis and curriculum
    ordering of interaction data.

    Per user, events ordered by (ts, event_id) yield (prev → next)
    event-type transitions; counts aggregate globally and each row
    carries P(dst | src). Scale shape: one LAG window PARTITIONED by
    user_id (parallel, no global order), one combiner-friendly hash
    aggregate on the tiny (src, dst) key space, and a probability
    window partitioned by src — every frame is either per-user or
    per-event-type, never global.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNotNull()
    )
    trans = seq.groupBy(
        F.col("prev").alias("src_event"), F.col("event_type").alias("dst_event")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_src = Window.partitionBy("src_event")
    return trans.select(
        "src_event",
        "dst_event",
        "n",
        round_portable((F.col("n") * F.lit(1.0)) / F.sum("n").over(w_src), 6).alias(
            "p"
        ),
    )


ORACLE_EVENTS_TRANSITIONS = f"""
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
t AS (
    SELECT prev AS src_event, event_type AS dst_event, COUNT(*) AS n
    FROM seq
    WHERE prev IS NOT NULL
    GROUP BY prev, event_type
)
SELECT src_event, dst_event, n,
       {round_portable_sql("(n * 1.0) / SUM(n) OVER (PARTITION BY src_event)", 6)} AS p
FROM t
"""


def query_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the product-
    analytics engagement rollup. WAU must count DISTINCT users over a
    sliding window, which no window frame can do directly; the
    distributed form explodes each active (day, user) pair into the 7
    grid days it contributes to (map-side `sequence`, no range join →
    no nested loop) and equi-semi-joins the observed-day grid before
    the distinct re-count. Shuffle volume is ≤7× the (day, user) pair
    count — pairs, never payloads — and both aggregates are Catalyst's
    native two-pass distinct plans."""
    ev = load_table(spark, sf_dir, "events")
    day_user = ev.select(
        F.unix_date(F.to_date("ts")).alias("d"), "user_id"
    ).distinct()
    days = day_user.select("d").distinct()
    dau = day_user.groupBy("d").agg(F.count_distinct("user_id").alias("dau"))
    contrib = day_user.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("d"),
    )
    wau = (
        contrib.join(F.broadcast(days), "d", "left_semi")
        .groupBy("d")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format(F.date_from_unix_date(F.col("d").cast("int")), "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            round_portable(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


ORACLE_EVENTS_DAU_WAU = f"""
WITH day_user AS (
    SELECT DISTINCT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
           user_id
    FROM events
),
days AS (SELECT DISTINCT d FROM day_user),
dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM day_user GROUP BY d),
wau AS (
    SELECT days.d, COUNT(DISTINCT du.user_id) AS wau
    FROM days JOIN day_user du
      ON du.d <= days.d AND du.d >= days.d - 6
    GROUP BY days.d
)
SELECT strftime(DATE '1970-01-01' + to_days(CAST(dau.d AS INTEGER)), '%Y-%m-%d') AS day,
       dau, wau,
       {round_portable_sql("dau * 1.0 / wau", 6)} AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
"""


QUERIES = {
    "agg_retention_cohort": (query_retention_cohort, ORACLE_RETENTION_COHORT),
    "events_dau_wau": (query_events_dau_wau, ORACLE_EVENTS_DAU_WAU),
    "events_funnel": (query_events_funnel, ORACLE_EVENTS_FUNNEL),
    "events_transitions": (query_events_transitions, ORACLE_EVENTS_TRANSITIONS),
}
