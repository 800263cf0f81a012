"""RAG-style document chunking: fixed-size overlapping token windows.

The retrieval-pipeline precursor step (chunk → embed → index): each
document becomes ⌈n/stride⌉ windows of ``CHUNK_TOKENS`` tokens starting
every ``CHUNK_STRIDE`` tokens, with the trailing partial window kept.

Plan shape: tokenization + window generation is one map-side
`sequence`/`explode` over the token array — no shuffle at any scale,
chunks stay co-partitioned with their document. `slice`/`concat_ws`
reassemble the chunk text JVM-side (no UDF). Output cardinality is
Σ⌈n_d/stride⌉ — linear in corpus token count, same as the downstream
embedding job reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.text import tokens
from bigdata_project_spark.sources.readers import load_table

CHUNK_TOKENS = 64
CHUNK_STRIDE = 32


def query_pipeline_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    starts = F.explode(
        F.sequence(F.lit(1), F.size("t"), F.lit(CHUNK_STRIDE))
    ).alias("s")
    chunked = toked.select("doc_id", "t", starts).select(
        "doc_id",
        (((F.col("s") - 1) / CHUNK_STRIDE).cast("long")).alias("chunk_idx"),
        F.col("s").alias("chunk_start"),
        F.slice(F.col("t"), F.col("s"), F.lit(CHUNK_TOKENS)).alias("ct"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "chunk_start",
        F.size("ct").alias("n_chunk_tokens"),
        F.concat_ws(" ", "ct").alias("chunk_text"),
    )


ORACLE_PIPELINE_CHUNK_DOCS = f"""
WITH toked AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
),
chunked AS (
    SELECT doc_id, s,
           CAST((s - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           t[s : least(s + {CHUNK_TOKENS} - 1, len(t))] AS ct
    FROM toked, UNNEST(range(1, len(t) + 1, {CHUNK_STRIDE})) AS r(s)
    WHERE len(t) > 0
)
SELECT doc_id, chunk_idx,
       s AS chunk_start,
       len(ct) AS n_chunk_tokens,
       array_to_string(ct, ' ') AS chunk_text
FROM chunked
"""


QUERIES = {
    "pipeline_chunk_docs": (query_pipeline_chunk_docs, ORACLE_PIPELINE_CHUNK_DOCS),
}
