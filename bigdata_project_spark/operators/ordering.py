"""Deterministic global corpus shuffle + sharding.

LLM training pipelines need a REPRODUCIBLE random document order: the
order must be a pure function of (corpus, seed) so a re-run, a resumed
run, and an auditor all see the same sequence. The standard trick is a
hash shuffle — order by ``md5(seed || doc_id)`` — which this operator
implements with an EXACT global position (not just a sort) plus a
derived shard id, so downstream packing can address "shard 17" stably.

Scale design — the global position is computed WITHOUT a global
single-task window (the ``row_number() OVER (ORDER BY ...)`` trap):

1. the first two hex digits of the md5 key give a statically-known
   range-partition id (0..255) — a pure function of the row, no
   sampling pass;
2. a per-range ``row_number`` window runs partitioned (parallel);
3. the exclusive cumsum of the ≤256-row per-range count table turns
   local row numbers into exact global positions — the same
   rank-decomposition zorder.py's distributed_ntile uses, with the
   hash's leading byte as the free range key (md5 is uniform, so the
   256 ranges are balanced by construction — no skew handling needed).

The offsets are computed IN-PLAN (a window over the ≤256-row count
table, broadcast-joined back — the one bounded-input unpartitioned
window this module allows itself) rather than collected driver-side
between two jobs: everything is one lazy plan, so there is no
cross-job window in which a rewritten source could hand the count pass
and the rank pass different row sets (r6 advice — the old two-pass
form relied on an implicit static-source invariant). One data-sized
shuffle total (the per-range window); md5 emits identical lowercase
hex on both engines, and ties are impossible (doc_id is unique, and it
tiebreaks anyway).

Reference parity: the reference has no ordering/sharding operators —
beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.sources.readers import load_table

SHUFFLE_SEED = "r6seed"
SHARD_SIZE = 64


def query_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc with its seeded shuffle key, exact global position,
    and shard assignment (fixed-size shards in shuffle order)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.withColumn(
        "shuffle_key",
        F.md5(F.concat(F.lit(SHUFFLE_SEED + ":"), F.col("doc_id").cast("string"))),
    ).withColumn(
        "__pid", F.conv(F.substring("shuffle_key", 1, 2), 16, 10).cast("int")
    )
    # ≤256-row count table → exclusive cumsum, in-plan and broadcast
    counts = keyed.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0)).alias("__off")
    )
    w = Window.partitionBy("__pid").orderBy("shuffle_key", "doc_id")
    pos = F.col("__off") + F.row_number().over(w) - F.lit(1)
    return (
        keyed.join(F.broadcast(offs), "__pid")
        .withColumn("position", pos.cast("long"))
        .withColumn(
            "shard", F.floor(F.col("position") / F.lit(SHARD_SIZE)).cast("long")
        )
        .select("doc_id", "shuffle_key", "position", "shard")
        .orderBy("position")
    )


ORACLE_GLOBAL_SHUFFLE = f"""
SELECT doc_id, shuffle_key,
       CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT)
           AS position,
       CAST(floor((ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) - 1)
                  / {SHARD_SIZE}) AS BIGINT) AS shard
FROM (
    SELECT doc_id,
           md5('{SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
)
ORDER BY position
"""


QUERIES = {
    "pipeline_global_shuffle": (query_global_shuffle, ORACLE_GLOBAL_SHUFFLE),
}
