"""Product-quantization (PQ) ANN: compressed-domain top-k via ADC.

Jégou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search"): split the D-dim space into M subspaces, learn a K-codeword
codebook per subspace, store each vector as M small codes, and answer
queries by Asymmetric Distance Computation — a per-query M×K table of
query-to-codeword sub-distances, so each database vector costs M table
lookups instead of D multiplies. The billion-vector memory story: codes
are M bytes (here M=8) vs 4·D bytes of floats.

Spark-first decomposition:
- **encode** (corpus-sized): one Arrow ``mapInPandas`` pass, per-subspace
  argmin against the broadcast M×K×(D/M) codebook — map-only, no shuffle;
- **ADC scoring** (corpus-sized): the M×K query table is a tiny broadcast
  join keyed (m, code); per-vector distance is a SUM over the M joined
  lookups — one hash aggregate; top-k is TakeOrderedAndProject;
- **codebook** (k-sized): seeded from the sub-slices of the first K
  vectors (the deterministic k-means init, matching operators/ivf.py) so
  the whole pipeline has an exact DuckDB twin.

Cross-engine float parity: sub-distances are L2² left-folds in index
order (bit-identical doubles), immediately converted to integer
micro-units (floor(x·1e6 + 0.5) as BIGINT). Argmin compares micro ints
(ties → lowest code); the ADC total is a SUM of BIGINTs — order-free, so
Spark's partition-parallel aggregation cannot diverge from DuckDB's
sequential one. The only double op after that is one division by 1e6,
identical on both engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.ivf import (
    K_CELLS,
    N_PROBE,
    _assign_cells,
    _probe_order,
    _seed_centroids,
    _seed_vectors,
)
from bigdata_project_spark.sources.readers import load_table

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (M * SUB = embedding dim 64)
PQ_K = 8  # codewords per subspace
TOP_K = 10


def _micro_l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """L2² between trailing-dim-8 arrays in integer micro-units. The
    trailing-axis sum is sequential for <128 elements (numpy's pairwise
    blocking), matching the SQL left fold exactly."""
    d = a - b
    return np.floor((d * d).sum(axis=-1) * 1e6 + 0.5).astype(np.int64)


def _codebook_and_query(
    emb: DataFrame,
) -> tuple[np.ndarray, np.ndarray]:
    """(K, M, SUB) codebook from the first PQ_K vectors' sub-slices and the
    (M, SUB) query sub-slices — one k-row driver pull
    (ivf._seed_vectors), whose row 0 is the query vector vec_id=0."""
    seeds = _seed_vectors(emb, PQ_K)
    return seeds.reshape(PQ_K, PQ_M, PQ_SUB), seeds[0].reshape(PQ_M, PQ_SUB)


def encode_pq(emb: DataFrame, codebook: np.ndarray) -> DataFrame:
    """(vec_id, m, code) long-form PQ codes: per-subspace micro-int argmin
    against the broadcast codebook; ties go to the lowest code (argmin
    returns the first minimum and codes are ascending)."""
    cb = codebook  # (K, M, SUB)

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            x = x.reshape(len(pdf), PQ_M, PQ_SUB)
            # (n, K, M) micro distances: vector sub-slice vs codeword sub-slice
            d = _micro_l2(x[:, None, :, :], cb[None, :, :, :])
            codes = d.argmin(axis=1)  # (n, M)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), PQ_M),
                    "m": np.tile(np.arange(PQ_M, dtype=np.int64), n),
                    "code": codes.reshape(-1),
                }
            )

    return emb.mapInPandas(batches, schema="vec_id long, m long, code long")


def adc_table(spark: SparkSession, codebook: np.ndarray, qv: np.ndarray) -> DataFrame:
    """(m, code, micro) query-to-codeword table — M×K rows, broadcastable
    at any corpus size (it does not depend on the corpus at all)."""
    rows = [
        (int(m), int(k), int(_micro_l2(qv[m], codebook[k, m])))
        for m in range(PQ_M)
        for k in range(PQ_K)
    ]
    return spark.createDataFrame(rows, "m long, code long, micro long")


def query_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbours of vec_id=0 by PQ/ADC approximate L2 distance:
    encode once, then one broadcast join + one hash aggregate + a heap.
    adc_dist is the single exact double division of the BIGINT total."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook, qv = _codebook_and_query(emb)
    codes = encode_pq(emb.filter(F.col("vec_id") != 0), codebook)
    table = adc_table(spark, codebook, qv)
    return (
        codes.join(F.broadcast(table), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("micro").alias("micro_total"))
        .select(
            "vec_id",
            (F.col("micro_total").cast("double") / F.lit(1e6)).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


def query_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed — the FAISS IVFPQ architecture at Spark scale:
    coarse seeded-cell assignment prunes the corpus to ~nprobe/k, then
    PQ/ADC scores only the surviving candidates in the compressed
    domain. Every stage is the proven plan of its standalone query
    (ivf: broadcast-centroid mapInPandas assign; pq: map-only encode +
    broadcast ADC join + one hash aggregate + heap), so the composition
    adds no new shuffle — the candidate filter simply shrinks every
    downstream stage."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, cell_ids = _seed_centroids(emb)
    assigned = _assign_cells(emb, centroids, cell_ids)

    qn = centroids[0] / np.linalg.norm(centroids[0])  # row 0 is vec_id 0
    probe = _probe_order(centroids, cell_ids, qn)[:N_PROBE]

    cands = assigned.filter(
        F.col("cell").isin(probe) & (F.col("vec_id") != 0)
    ).select("vec_id", "embedding")

    codebook, qv = _codebook_and_query(emb)
    codes = encode_pq(cands, codebook)
    table = adc_table(spark, codebook, qv)
    return (
        codes.join(F.broadcast(table), ["m", "code"])
        .groupBy("vec_id")
        .agg(F.sum("micro").alias("micro_total"))
        .select(
            "vec_id",
            (F.col("micro_total").cast("double") / F.lit(1e6)).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


def _l2_micro_sql(a: str, b: str) -> str:
    """DuckDB twin of _micro_l2 on two float lists: sequential left-fold
    of squared diffs in index order, then floor(x·1e6 + 0.5) as BIGINT."""
    sq = (
        f"[(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"for i in range(1, len({a}) + 1)]"
    )
    return f"CAST(floor(list_reduce({sq}, (x, y) -> x + y) * 1000000 + 0.5) AS BIGINT)"


def _sub(col: str, m: str) -> str:
    """1-based inclusive sub-slice of subspace ``m`` (DuckDB list slicing)."""
    return f"{col}[{m} * {PQ_SUB} + 1 : {m} * {PQ_SUB} + {PQ_SUB}]"


def _build_oracle_ivfpq() -> str:
    """Composed DuckDB twin: the ivf oracle's assign/probe CTEs feeding
    the pq oracle's codes/qt CTEs, with encoding restricted to probed
    candidates exactly like the Spark plan."""
    from bigdata_project_spark.functions.scalars import round_portable_sql
    from bigdata_project_spark.operators.similarity import _cos_sql

    return f"""
WITH cc AS (
    SELECT vec_id AS cell, embedding AS cemb
    FROM embeddings WHERE vec_id < {K_CELLS}
),
q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
assign AS (
    SELECT vec_id, cell, embedding FROM (
        SELECT e.vec_id, cc.cell, e.embedding,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {round_portable_sql(_cos_sql("e.embedding", "cc.cemb"), 6)} DESC,
                            cc.cell ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cc
    ) WHERE rn = 1
),
probe AS (
    SELECT cell FROM (
        SELECT cc.cell,
               row_number() OVER (
                   ORDER BY {round_portable_sql(_cos_sql("cc.cemb", "q.qemb"), 6)} DESC,
                            cc.cell ASC
               ) AS rn
        FROM cc CROSS JOIN q
    ) WHERE rn <= {N_PROBE}
),
cand AS (
    SELECT a.vec_id, a.embedding
    FROM assign a JOIN probe USING (cell)
    WHERE a.vec_id <> 0
),
ms AS (SELECT unnest(range({PQ_M})) AS m),
cw AS (
    SELECT ms.m, e.vec_id AS code, {_sub("e.embedding", "ms.m")} AS cvec
    FROM embeddings e, ms
    WHERE e.vec_id < {PQ_K}
),
qt AS (
    SELECT cw.m, cw.code,
           {_l2_micro_sql("cw.cvec", _sub("qq.embedding", "cw.m"))} AS micro
    FROM cw, (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
),
codes AS (
    SELECT vec_id, m, code FROM (
        SELECT c.vec_id, cw.m, cw.code,
               row_number() OVER (
                   PARTITION BY c.vec_id, cw.m
                   ORDER BY {_l2_micro_sql(_sub("c.embedding", "cw.m"), "cw.cvec")} ASC,
                            cw.code ASC
               ) AS rn
        FROM cand c CROSS JOIN cw
    ) WHERE rn = 1
)
SELECT vec_id, CAST(SUM(micro) AS DOUBLE) / 1000000 AS adc_dist
FROM codes JOIN qt USING (m, code)
GROUP BY vec_id
ORDER BY adc_dist ASC, vec_id ASC
LIMIT {TOP_K}
"""


ORACLE_PQ_ADC_TOPK = f"""
WITH ms AS (SELECT unnest(range({PQ_M})) AS m),
cw AS (
    SELECT ms.m, e.vec_id AS code, {_sub("e.embedding", "ms.m")} AS cvec
    FROM embeddings e, ms
    WHERE e.vec_id < {PQ_K}
),
qt AS (
    SELECT cw.m, cw.code,
           {_l2_micro_sql("cw.cvec", _sub("q.embedding", "cw.m"))} AS micro
    FROM cw, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
),
codes AS (
    SELECT vec_id, m, code FROM (
        SELECT e.vec_id, cw.m, cw.code,
               row_number() OVER (
                   PARTITION BY e.vec_id, cw.m
                   ORDER BY {_l2_micro_sql(_sub("e.embedding", "cw.m"), "cw.cvec")} ASC,
                            cw.code ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cw
        WHERE e.vec_id <> 0
    ) WHERE rn = 1
)
SELECT vec_id, CAST(SUM(micro) AS DOUBLE) / 1000000 AS adc_dist
FROM codes JOIN qt USING (m, code)
GROUP BY vec_id
ORDER BY adc_dist ASC, vec_id ASC
LIMIT {TOP_K}
"""

ORACLE_IVFPQ_TOPK = _build_oracle_ivfpq()


QUERIES = {
    "sim_ivfpq_topk": (query_ivfpq_topk, ORACLE_IVFPQ_TOPK),
    "sim_pq_adc_topk": (query_pq_adc_topk, ORACLE_PQ_ADC_TOPK),
}
