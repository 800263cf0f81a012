"""Vector-column aggregate operators: per-label centroids in long form.

The centroid table (class mean vector) is the workhorse of embedding-
space curation — cluster pruning, label-noise detection, and the IVF
coarse quantizer's supervised cousin. Spark-first shape: ``posexplode``
the vector column → ONE combiner-friendly hash aggregate on
(label, pos) — no Python, no per-row UDF, and the long-form output
avoids array re-assembly entirely (callers that need array form pivot
the ≤ labels×dim rows driver-side; that table is tiny by construction).

Float-sum parity: partition-parallel float addition is order-dependent,
so values are portable-rounded to 6 decimals and summed as
DECIMAL(27,8) — exact, associative, identical across engines (the same
contract the pricing aggregates use).

Scale: explode inflates rows ×dim, but entirely map-side before the one
shuffle on (label, pos); partial aggregation collapses each partition to
≤ labels×dim rows before the exchange, so shuffle volume is independent
of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

_DEC = "decimal(27,8)"


def query_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    long = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),  # 1-based to match SQL subscripts
        round_portable(F.col("val").cast("double"), 6).alias("v6"),
    )
    return long.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        round_portable(
            F.sum(F.col("v6").cast(_DEC)).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("centroid_val"),
    )


ORACLE_EMB_LABEL_CENTROIDS = f"""
WITH long AS (
    SELECT label,
           generate_subscripts(embedding, 1) AS pos,
           {round_portable_sql("CAST(unnest(embedding) AS DOUBLE)", 6)} AS v6
    FROM embeddings
)
SELECT label, pos, COUNT(*) AS n_vectors,
       {round_portable_sql("CAST(SUM(CAST(v6 AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*)", 6)} AS centroid_val
FROM long
GROUP BY label, pos
"""


def query_emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension symmetric int8 quantization summary — the embedding
    compression step (4× memory) ahead of ANN serving, reported as one
    row per dimension: the absolute-max scale anchor, an exact integer
    code checksum, and the mean absolute reconstruction error.

    Scale shape: posexplode is map-side row inflation ×dim; both
    aggregates key on the 64-value ``pos`` domain, so partial
    aggregation collapses every partition to ≤ dim rows before each of
    the two exchanges, and the per-dim stats table broadcasts back for
    the encode pass. Codes are integers (identical floor arithmetic on
    both engines) and the error average goes through a 12-dp DECIMAL
    sum, so the whole result is engine-exact — no float tolerance.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    long = emb.select("vec_id", F.posexplode("embedding").alias("pos0", "val")).select(
        (F.col("pos0") + 1).alias("pos"),
        round_portable(F.col("val").cast("double"), 6).alias("v6"),
    )
    stats = long.groupBy("pos").agg(F.max(F.abs(F.col("v6"))).alias("amax"))
    scale = F.col("amax") / F.lit(127.0)
    code = F.when(F.col("amax") == 0, F.lit(0)).otherwise(
        F.floor(F.col("v6") / scale + F.lit(0.5)).cast("int")
    )
    err12 = round_portable(F.abs(code * scale - F.col("v6")), 12).cast(
        "decimal(27,12)"
    )
    return (
        long.join(F.broadcast(stats), "pos")
        .groupBy("pos", "amax")
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.sum(code).alias("code_sum"),
            round_portable(
                F.sum(err12).cast("double") / F.count(F.lit(1)), 9
            ).alias("avg_abs_err"),
        )
    )


_Q_ERR = "abs(code * (amax / 127.0) - v6)"

ORACLE_EMB_INT8_QUANTIZE = f"""
WITH long AS (
    SELECT generate_subscripts(embedding, 1) AS pos,
           {round_portable_sql("CAST(unnest(embedding) AS DOUBLE)", 6)} AS v6
    FROM embeddings
),
stats AS (SELECT pos, MAX(abs(v6)) AS amax FROM long GROUP BY pos),
q AS (
    SELECT l.pos, s.amax, l.v6,
           CASE WHEN s.amax = 0 THEN 0
                ELSE CAST(floor(l.v6 / (s.amax / 127.0) + 0.5) AS INT)
           END AS code
    FROM long l JOIN stats s USING (pos)
)
SELECT pos, amax, COUNT(*) AS n_vals,
       CAST(SUM(code) AS BIGINT) AS code_sum,
       {round_portable_sql(
           "CAST(SUM(CAST(" + round_portable_sql(_Q_ERR, 12) + " AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)", 9
       )} AS avg_abs_err
FROM q
GROUP BY pos, amax
"""


QUERIES = {
    "emb_label_centroids": (query_emb_label_centroids, ORACLE_EMB_LABEL_CENTROIDS),
    "emb_int8_quantize": (query_emb_int8_quantize, ORACLE_EMB_INT8_QUANTIZE),
}
