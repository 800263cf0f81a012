"""Time-series operators over the events stream: gap-filled resampling
with forward fill, per-key anomaly z-scores, and an exact windowed EWMA.

Beyond-reference additions (the reference aggregates calendar tables but
has no dense-grid / trend operators); these are the monitoring-tier
queries a 100 TB event pipeline runs hourly:

- **Gap-fill + forward fill** (``ts_gapfill_ffill``): resample events to
  a dense per-key hourly grid (missing hours materialized with 0
  events) and carry the last observed hourly average forward. The grid
  is generated distributively (`sequence` + `explode` per key — no
  driver loop), the observed aggregate joins back on (key, hour) — one
  hash-partitioned join — and the fill is `last(ignorenulls)` over a
  window PARTITIONED BY key: state per task is one value, and no
  single-partition window ever forms.

- **Anomaly z-score** (``events_anomaly_zscore``): daily event counts
  per type scored against that type's own mean/std. Moments (N, Σx,
  Σx²) reduce per key in one hash aggregate over the already-aggregated
  daily frame; the closed form runs on exact integer moments so both
  engines share one operation order. This frame is O(keys × days) — a
  rollup, never row-level data.

- **Windowed EWMA** (``ts_ewma_hourly``): exponentially-weighted moving
  average of hourly counts over the trailing 12 hours. The weights
  (1-α)^k are precomputed as exact scaled-integer literals, so the
  whole EWMA is integer arithmetic over 12 LAG projections on one
  per-key window — bit-identical across engines, no float summation
  order anywhere. At scale this is a single narrow window per key over
  the dense grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"
_DEC = "decimal(18,2)"

#: EWMA configuration: alpha=0.3, trailing 12-hour window, weights
#: (1-alpha)^k scaled to exact integers (shared literals in both plans)
EWMA_ALPHA = 0.3
EWMA_LAGS = 12
_W_SCALE = 10**9
EWMA_WEIGHTS = [round((1 - EWMA_ALPHA) ** k * _W_SCALE) for k in range(EWMA_LAGS)]


def _hourly_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (event_type, hour) grid with observed n/sum per hour.

    Grid rows are generated per key from its own [min, max] hour span —
    `sequence` + `explode`, fully distributed, bounded by span length.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        F.col("value").cast(_DEC).alias("v"),
    )
    observed = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("sum_value"),
    )
    spans = ev.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "event_type",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    return grid.join(observed, ["event_type", "h"], "left")


_GRID_SQL = """
    observed AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               COUNT(*) AS n_events,
               SUM(CAST(value AS DECIMAL(18,2))) AS sum_value
        FROM events GROUP BY 1, 2
    ),
    spans AS (
        SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM observed GROUP BY 1
    ),
    grid AS (
        SELECT spans.event_type, g.h
        FROM spans, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g(h)
    ),
    dense AS (
        SELECT grid.event_type, grid.h, observed.n_events, observed.sum_value
        FROM grid LEFT JOIN observed
          ON grid.event_type = observed.event_type AND grid.h = observed.h
    )
"""


def query_ts_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _hourly_grid(spark, sf_dir)
    avg = F.when(
        F.col("n_events").isNotNull(),
        round_portable(
            F.col("sum_value").cast("double") / F.col("n_events"), 6
        ),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        "event_type",
        F.date_format("h", _FMT).alias("hour"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last(avg, ignorenulls=True).over(w).alias("avg_value_ffill"),
    )


ORACLE_TS_GAPFILL_FFILL = f"""
WITH {_GRID_SQL}
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       COALESCE(n_events, 0) AS n_events,
       last_value(
           CASE WHEN n_events IS NOT NULL
                THEN {round_portable_sql("CAST(sum_value AS DOUBLE) / n_events", 6)}
           END IGNORE NULLS
       ) OVER (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_ffill
FROM dense
"""


# ------------------------------------------------------ anomaly z-score --


def query_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts per type, z-scored against the type's own
    mean/std (population). |z| > 2 flags the anomalous days. A
    degenerate key (one day, or constant counts) has zero variance —
    there the z-score is NULL and the flag false on BOTH engines
    (unguarded, Spark's non-ANSI divide returns NULL where DuckDB's
    IEEE ops return Inf/NaN, a latent cross-engine mismatch)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("x"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("nd").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    x = F.col("x").cast("double")
    mean = sx / nd
    var = (sxx - sx * sx / nd) / nd
    z = F.when(var > 0, (x - mean) / F.sqrt(var))
    return (
        daily.join(F.broadcast(m), "event_type")
        .select(
            "event_type",
            "day",
            F.col("x").alias("n_events"),
            round_portable(z, 6).alias("zscore"),
            F.coalesce(F.abs(z) > 2, F.lit(False)).alias("is_anomaly"),
        )
    )


_VAR = (
    "((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    " / CAST(nd AS DOUBLE)) / CAST(nd AS DOUBLE))"
)
_Z = (
    "(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(nd AS DOUBLE))"
    f" / sqrt({_VAR})"
)

ORACLE_EVENTS_ANOMALY_ZSCORE = f"""
WITH daily AS (
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS x
    FROM events GROUP BY 1, 2
),
m AS (
    SELECT event_type, COUNT(*) AS nd, SUM(x) AS sx, SUM(x * x) AS sxx
    FROM daily GROUP BY 1
)
SELECT daily.event_type, day, x AS n_events,
       CASE WHEN {_VAR} > 0 THEN {round_portable_sql(_Z, 6)} END AS zscore,
       COALESCE(CASE WHEN {_VAR} > 0 THEN abs({_Z}) > 2 END, false) AS is_anomaly
FROM daily JOIN m ON daily.event_type = m.event_type
"""


# ----------------------------------------------------------------- EWMA --


def query_ts_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA of hourly event counts over the trailing 12 hours, exact:
    Σ x_{t-k}·W_k / Σ W_k with integer weights W_k = round((1-α)^k·1e9);
    partial windows (first hours of a key) normalize by the weights of
    the rows that exist."""
    dense = _hourly_grid(spark, sf_dir).select(
        "event_type", "h", F.coalesce("n_events", F.lit(0)).alias("x")
    )
    return dense.select(
        "event_type",
        F.date_format("h", _FMT).alias("hour"),
        F.col("x").cast("long").alias("n_events"),
        round_portable(F.expr(_EWMA), 6).alias("ewma"),
    )


# Both engines parse these. Each lag carries its window inline (Spark's
# F.expr takes no WINDOW clause); the 12 share one spec, so Spark plans one
# Window. BIGINT is exact while an hourly count stays under ~2.8e9.
_LAG = "lag(x, {k}) OVER (PARTITION BY event_type ORDER BY h)"
_EWMA_NUM = " + ".join(
    f"COALESCE({_LAG.format(k=k)} * CAST({wk} AS BIGINT), 0)"
    for k, wk in enumerate(EWMA_WEIGHTS)
)
_EWMA_DEN = " + ".join(
    f"CASE WHEN {_LAG.format(k=k)} IS NOT NULL"
    f" THEN CAST({wk} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for k, wk in enumerate(EWMA_WEIGHTS)
)
_EWMA = f"CAST({_EWMA_NUM} AS DOUBLE) / CAST({_EWMA_DEN} AS DOUBLE)"

ORACLE_TS_EWMA_HOURLY = f"""
WITH {_GRID_SQL},
x AS (
    SELECT event_type, h, COALESCE(n_events, 0) AS x FROM dense
)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(x AS BIGINT) AS n_events,
       {round_portable_sql(_EWMA, 6)} AS ewma
FROM x
"""


# ----------------------------------------------------------------- OHLC --


def query_ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling of the event value stream per type — the
    classic resample (open/high/low/close + volume) every metrics /
    market-data pipeline materializes. Open/close are the values of the
    hour's first/last event under the total order (ts, event_id) —
    event_id breaks ts ties deterministically (unique in the fixture,
    and any real pipeline carries such an id).

    Plan: ONE hash aggregate per (type, hour). Open/close fall out of
    min/max over (ts, event_id, value) structs — Spark compares struct
    fields lexicographically, so the value rides along as payload — no
    windows, no second scan, map-side combinable. The DuckDB twin uses
    row_number windows instead, proving the struct-extremum trick against
    an independent formulation."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
        "ts",
        "event_id",
        "value",
    )
    first_s = F.min(F.struct("ts", "event_id", "value"))
    last_s = F.max(F.struct("ts", "event_id", "value"))
    agg = ev.groupBy("event_type", "h").agg(
        first_s.alias("fs"),
        last_s.alias("ls"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "h",
        F.col("fs.value").alias("open"),
        "high",
        "low",
        F.col("ls.value").alias("close"),
        "n_events",
    )


ORACLE_TS_OHLC_HOURLY = """
WITH ev AS (
    SELECT event_type, date_trunc('hour', ts) AS h, ts, event_id, value
    FROM events
),
ranked AS (
    SELECT event_type, h, value,
           row_number() OVER (
               PARTITION BY event_type, h ORDER BY ts ASC, event_id ASC
           ) AS rn_open,
           row_number() OVER (
               PARTITION BY event_type, h ORDER BY ts DESC, event_id DESC
           ) AS rn_close
    FROM ev
),
hl AS (
    SELECT event_type, h,
           MAX(value) AS high, MIN(value) AS low, COUNT(*) AS n_events
    FROM ev GROUP BY 1, 2
)
SELECT hl.event_type, hl.h,
       o.value AS open, hl.high, hl.low, c.value AS close, hl.n_events
FROM hl
JOIN ranked o ON o.event_type = hl.event_type AND o.h = hl.h AND o.rn_open = 1
JOIN ranked c ON c.event_type = hl.event_type AND c.h = hl.h AND c.rn_close = 1
"""


QUERIES = {
    "ts_ewma_hourly": (query_ts_ewma_hourly, ORACLE_TS_EWMA_HOURLY),
    "ts_gapfill_ffill": (query_ts_gapfill_ffill, ORACLE_TS_GAPFILL_FFILL),
    "events_anomaly_zscore": (query_events_anomaly_zscore, ORACLE_EVENTS_ANOMALY_ZSCORE),
    "ts_ohlc_hourly": (query_ts_ohlc_hourly, ORACLE_TS_OHLC_HOURLY),
}
