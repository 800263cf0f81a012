"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: media lives as a ``binary`` column
(or object-store URI) beside typed metadata; decode/resize/feature steps
run as Arrow-batched pandas functions over ``mapInPandas`` so each task
touches only its partition's bytes. The actual codecs (PIL/ffmpeg/etc.)
are NOT in this container, so the decode kernels are stubbed — clearly
marked — while everything Spark-side (schema, batching, partitioning, UDF
signatures) is real and tested (tests/test_multimodal.py).

``query_binary_meta`` is the oracle-checked part: building the binary
column and computing metadata (sizes, hashes) with JVM builtins.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_project_spark.sources.readers import load_table


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    In production the payload is the media blob read from object storage;
    here it's the utf-8 text bytes (deterministic stand-in)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
            F.lit("text/plain").alias("mime"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def query_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    payload = with_binary_payload(docs)
    return payload.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.origin").alias("origin"),
        F.md5("payload").alias("payload_md5"),
        F.sha2("payload", 256).alias("payload_sha256"),
    )


# DuckDB 1.0 lacks md5(BLOB); md5/sha256 on VARCHAR hash the utf-8 bytes,
# which is exactly what the Spark side feeds in.
ORACLE_BINARY_META = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       'text/plain' AS mime,
       source AS origin,
       md5(text) AS payload_md5,
       sha256(text) AS payload_sha256
FROM documents
"""


# ------------------------------------------------------------- stubs --

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def decode_image_stub(payload: bytes) -> object:
    """REAL CODEC NOT AVAILABLE IN THIS ENVIRONMENT.

    Production: ``PIL.Image.open(io.BytesIO(payload))``. The Spark-side
    plumbing that would call this (mapInPandas batching, schema) is what's
    tested; the codec itself is a stub by design."""
    raise NotImplementedError("image codec not available in this container")


def extract_features_fake(df: DataFrame) -> DataFrame:
    """Deterministic fake feature extractor with REAL Spark plumbing:
    Arrow-batched mapInPandas over the binary column, one partition's
    payloads per task, vectorized numpy byte math as the decode stand-in."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def byte_mean(b: bytes) -> float:
            if not len(b):
                return 0.0
            # exact integer sum then one division then 1e-6 rounding:
            # order-independent and bit-identical to the SQL twin
            s = int(np.frombuffer(b, dtype=np.uint8).astype(np.int64).sum())
            return float(np.floor(s / len(b) * 1e6 + 0.5) / 1e6)

        for pdf in it:
            payloads = pdf["payload"]
            n = payloads.str.len().to_numpy()
            mean = payloads.map(byte_mean)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                    "mean_byte": mean,
                }
            )

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


def query_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the binary column. The deterministic decode
    stand-in (byte mean + size-derived dims) has an exact SQL twin
    (ORACLE_FEATURES re-derives each byte from the hex dump), so the whole
    mapInPandas plumbing is oracle-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features_fake(with_binary_payload(docs))


def _features_oracle() -> str:
    from bigdata_project_spark.functions.scalars import round_portable_sql

    # byte i of the payload, recovered from the uppercase hex dump
    byte_i = (
        "(strpos('0123456789ABCDEF', h[2*i-1]) - 1) * 16"
        " + (strpos('0123456789ABCDEF', h[2*i]) - 1)"
    )
    mean = round_portable_sql(
        f"CAST(list_sum([{byte_i} for i in range(1, n + 1)]) AS DOUBLE) / n", 6
    )
    return f"""
WITH b AS (
    SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
    FROM documents
)
SELECT doc_id,
       CAST(n % 640 AS INTEGER) AS width,
       CAST(n % 480 AS INTEGER) AS height,
       CASE WHEN n = 0 THEN 0.0e0 ELSE {mean} END AS mean_byte
FROM b
"""


ORACLE_FEATURES = _features_oracle()


def query_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per sampled frame offset — the explode-shaped plumbing of a
    video frame sampler, oracle-checked (fake frame hash is portable md5)."""
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample_fake(with_binary_payload(docs))


ORACLE_FRAME_SAMPLE = """
SELECT doc_id,
       frame_idx,
       md5(CAST(doc_id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_hash
FROM (
    SELECT doc_id,
           unnest(range(0, greatest(octet_length(encode(text)) // 64, 1))) AS frame_idx
    FROM documents
)
"""


def frame_sample_fake(df: DataFrame) -> DataFrame:
    """Fake video frame sampler: emits one row per sampled 'frame' offset,
    one frame per 64 payload bytes (at least one) — the explode-shaped
    output a real frame sampler produces, with deterministic fake frame
    hashes."""
    n_frames = F.greatest((F.octet_length("payload") / 64).cast("int"), F.lit(1))
    return df.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).withColumn(
        "frame_hash",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("frame_idx").cast("string"))),
    )


def query_multimodal_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of binary media payloads by content hash — the first
    pass of any multimodal curation pipeline (identical images/audio
    re-crawled under different ids). One combiner-friendly hash
    aggregate on the md5 key; at 100 TB the hash is computed map-side
    next to the bytes and only (hash, id) pairs shuffle, never payloads.

    The fixture corpus has no exact raw duplicates, so every 50th doc's
    payload is replaced with one of 7 canned blobs (deterministic, same
    planting technique as ``text_pii_redact``) — what's verified is the
    hash → group → keeper chain on real duplicate groups. Output: one
    row per duplicated payload with its copy count and the
    deterministic keeper (lowest doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    blob = F.when(
        F.col("doc_id") % 50 == 0,
        F.concat(F.lit("CANNED-BLOB-"), (F.col("doc_id") % 7).cast("string")),
    ).otherwise(F.col("text"))
    payload = docs.select("doc_id", F.encode(blob, "UTF-8").alias("payload"))
    return (
        payload.select("doc_id", F.md5("payload").alias("payload_md5"))
        .groupBy("payload_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


ORACLE_MULTIMODAL_DEDUP_BINARY = """
WITH payloads AS (
    SELECT doc_id,
           CASE WHEN doc_id % 50 = 0
                THEN 'CANNED-BLOB-' || CAST(doc_id % 7 AS VARCHAR)
                ELSE text END AS payload
    FROM documents
)
SELECT md5(payload) AS payload_md5,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_doc_id
FROM payloads
GROUP BY md5(payload)
HAVING COUNT(*) > 1
"""


QUERIES = {
    "multimodal_binary_meta": (query_binary_meta, ORACLE_BINARY_META),
    "multimodal_dedup_binary": (query_multimodal_dedup_binary, ORACLE_MULTIMODAL_DEDUP_BINARY),
    "multimodal_features": (query_features, ORACLE_FEATURES),
    "multimodal_frame_sample": (query_frame_sample, ORACLE_FRAME_SAMPLE),
}
