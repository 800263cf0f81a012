"""Skew-mitigation operators: salting for hot keys.

At 100 TB a handful of hot keys (the reference analogue: a mega-city zone
in the OD matrix receiving a large share of all trips) turn one shuffle
partition into the straggler that owns the job's tail latency. Two
standing fixes, both pure DataFrame:

- **AQE skew-join splitting** (``spark.sql.adaptive.skewJoin.enabled``,
  on in session.py): runtime re-plan that splits oversized partitions.
  First line of defense; needs no code change.
- **Explicit salting** (this module): when AQE can't help — skewed
  *aggregations* (AQE only splits joins) or deterministic plans for
  repeated production runs.

Both operators are semantics-preserving: tests/test_skew.py checks
salted == unsalted on a deliberately skewed corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    n_salts: int = 16,
    row_entropy: Column | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation: SUM/COUNT per key.

    Phase 1 aggregates on (keys, salt) — the hot key's rows spread over
    ``n_salts`` partitions — phase 2 re-aggregates the (tiny) salted
    partials on the true keys. Works for any algebraic aggregate; SUM and
    COUNT are wired here (the engine's common case).

    ``row_entropy``: expression whose hash spreads rows (defaults to
    ``monotonically_increasing_id()`` — deterministic per partition
    layout; pass a stable column for bit-exact reruns across layouts).
    """
    entropy = (
        row_entropy if row_entropy is not None else F.monotonically_increasing_id()
    )
    salt = F.pmod(F.hash(entropy), F.lit(n_salts)).alias("__salt")
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            *[F.sum(c).alias(f"__s_{a}") for c, a in sum_cols.items()],
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"__s_{a}").alias(a) for a in sum_cols.values()],
        F.sum("__n").alias("n_rows"),
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    row_entropy: Column | None = None,
) -> DataFrame:
    """Skew-safe equi-join: replicate the (small) dim ``n_salts`` times,
    salt the fact side, join on (key, salt).

    The hot fact key's rows land in ``n_salts`` different partitions, each
    meeting its own dim replica. Replication factor × dim size is the
    cost — use for dims too big to broadcast outright but small enough to
    replicate; below broadcast threshold, plain ``broadcast(dim)`` wins.

    ``row_entropy``: same contract as :func:`salted_sum_count` — pass a
    stable column for a layout-independent salt assignment (reruns over a
    repartitioned input place every row in the same salted partition).
    """
    entropy = (
        row_entropy if row_entropy is not None else F.monotonically_increasing_id()
    )
    fact_salted = fact.withColumn(
        "__salt", F.pmod(F.hash(entropy), F.lit(n_salts))
    )
    dim_rep = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = fact_salted.join(dim_rep, [key, "__salt"])
    return out.drop("__salt")


def query_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible salted aggregation: SUM/COUNT of events per
    event_type — a handful of distinct values, so at scale EVERY group is
    a hot key and the two-phase salted plan is the one that survives.
    Semantics-preserving by construction, so the oracle is the plain
    one-phase GROUP BY; sums go through DECIMAL for order-independence.
    ``row_entropy=event_id`` keeps the salt layout-independent."""
    from bigdata_project_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,2)")
    )
    out = salted_sum_count(
        ev, ["event_type"], {"value_dec": "sum_dec"}, row_entropy=F.col("event_id")
    )
    return out.select(
        "event_type",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "n_rows",
    )


ORACLE_SKEW_SALTED_AGG = """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       COUNT(*) AS n_rows
FROM events
GROUP BY event_type
"""


def query_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible salted join: events (fact; user_id is the skewable
    key at scale) against the customer dim replicated n_salts ways —
    the mid-size-dim regime where broadcast is too big and a plain
    shuffle join straggles on hot keys. Semantics-preserving by
    construction, so the oracle is the plain join + aggregate.
    ``row_entropy=event_id`` keeps the salt layout-independent."""
    from bigdata_project_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        ev, dim, "c_custkey", row_entropy=F.col("value")
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


ORACLE_SKEW_SALTED_JOIN = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
JOIN customer ON c_custkey = user_id
GROUP BY c_mktsegment
"""


QUERIES = {
    "skew_salted_agg": (query_skew_salted_agg, ORACLE_SKEW_SALTED_AGG),
    "skew_salted_join": (query_skew_salted_join, ORACLE_SKEW_SALTED_JOIN),
}
