"""Product-quantization (PQ) ANN: compressed-domain top-k via ADC.

Jégou, Douze, Schmid 2011 ("Product Quantization for Nearest Neighbor
Search"): split the D-dim space into M subspaces, learn a K-codeword
codebook per subspace, store each vector as M small codes, and answer
queries by Asymmetric Distance Computation — a per-query M×K table of
query-to-codeword sub-distances, so each database vector costs M table
lookups instead of D multiplies. The billion-vector memory story: codes
are M bytes (here M=8) vs 4·D bytes of floats.

Spark-first decomposition:
- **ADC scoring** (corpus-sized): one Arrow ``mapInPandas`` pass per
  batch encodes each vector (per-subspace argmin against the broadcast
  M×K×(D/M) codebook) and sums its M lookups in the M×K query table, so
  only (vec_id, micro_total) leaves Python — map-only, no join, no
  aggregate, no shuffle; top-k is TakeOrderedAndProject;
- **codebook** (k-sized): seeded from the sub-slices of the first K
  vectors (the deterministic k-means init, matching operators/ivf.py) so
  the whole pipeline has an exact DuckDB twin. The oracle keeps the
  long-form (vec_id, m, code) join plus SUM, so the engines prove the
  row-local fold equal to the relational one.

Cross-engine float parity: sub-distances are L2² left-folds over the
SUB axis in index order — the fold of DuckDB's ``list_reduce``, not
numpy's pairwise ``sum`` — so the doubles are bit-identical, and are
immediately converted to integer micro-units (floor(x·1e6 + 0.5) as
BIGINT). Argmin compares micro ints (ties → lowest code); the ADC total
is a sum of BIGINTs — exact and order-free, so the per-vector numpy sum
cannot diverge from DuckDB's SUM. The only double op after that is one
division by 1e6, identical on both engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.ivf import (
    CELL_ASSIGN_SQL,
    K_CELLS,
    N_PROBE,
    _assign_cells,
    _probe_order,
    _probe_sql,
    _seed_vectors,
)
from bigdata_project_spark.sources.readers import load_table

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (M * SUB = embedding dim 64)
PQ_K = 8  # codewords per subspace
TOP_K = 10


def _l2_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """L2² over the trailing SUB axis as a left fold in index order —
    ``((s0 + s1) + s2) + …``, the fold of the oracle's ``list_reduce``.
    ``np.sum`` would pair the terms instead and can differ in the last
    bit."""
    d = a - b
    sq = d * d
    acc = sq[..., 0]
    for i in range(1, sq.shape[-1]):
        acc = acc + sq[..., i]
    return acc


def _micro_l2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """L2² between trailing-dim-SUB arrays in integer micro-units."""
    return np.floor(_l2_fold(a, b) * 1e6 + 0.5).astype(np.int64)


def _codebook_and_query(seeds: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(K, M, SUB) codebook from the first PQ_K seed vectors' sub-slices
    and the (M, SUB) query sub-slices of seed row 0 (vec_id=0)."""
    return seeds[:PQ_K].reshape(PQ_K, PQ_M, PQ_SUB), seeds[0].reshape(PQ_M, PQ_SUB)


def adc_scores(emb: DataFrame, codebook: np.ndarray, qv: np.ndarray) -> DataFrame:
    """(vec_id, micro_total) in one Arrow pass: per batch, the
    per-subspace micro-int argmin against the broadcast codebook (ties go
    to the lowest code: argmin returns the first minimum and codes are
    ascending), then the sum of the M lookups in the (K, M) query table.
    An int64 sum is exact, so it equals the oracle's SUM bit for bit."""
    table = _micro_l2(qv[None, :, :], codebook)  # (K, M) query-to-codeword micros
    subspaces = np.arange(PQ_M)

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            x = x.reshape(len(pdf), PQ_M, PQ_SUB)
            # (n, K, M) micro distances: vector sub-slice vs codeword sub-slice
            codes = _micro_l2(x[:, None, :, :], codebook[None, :, :, :]).argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "micro_total": table[codes, subspaces].sum(axis=1, dtype=np.int64),
                }
            )

    return emb.mapInPandas(batches, schema="vec_id long, micro_total long")


def _adc_topk(scores: DataFrame) -> DataFrame:
    """Top-TOP_K by (adc_dist asc, vec_id asc) — a heap; adc_dist is the
    single exact double division of the BIGINT total."""
    return (
        scores.select(
            "vec_id",
            (F.col("micro_total").cast("double") / F.lit(1e6)).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


def query_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbours of vec_id=0 by PQ/ADC approximate L2 distance:
    one encode-and-score Arrow pass, then a heap."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook, qv = _codebook_and_query(_seed_vectors(emb, PQ_K))
    return _adc_topk(adc_scores(emb.filter(F.col("vec_id") != 0), codebook, qv))


def query_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed — the FAISS IVFPQ architecture at Spark scale:
    coarse seeded-cell assignment prunes the corpus to ~nprobe/k, then
    PQ/ADC scores only the surviving candidates in the compressed
    domain. Both stages are map-only Arrow passes (ivf's broadcast-
    centroid assign, then adc_scores), so the only exchange is the
    heap's single-partition merge. One seed pull serves both quantizers
    (row 0 is vec_id 0, the query)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = _seed_vectors(emb, max(K_CELLS, PQ_K))
    centroids, cell_ids = seeds[:K_CELLS], np.arange(K_CELLS, dtype=np.int64)
    assigned = _assign_cells(emb, centroids, cell_ids)

    qn = centroids[0] / np.linalg.norm(centroids[0])
    probe = _probe_order(centroids, cell_ids, qn)[:N_PROBE]

    cands = assigned.filter(
        F.col("cell").isin(probe) & (F.col("vec_id") != 0)
    ).select("vec_id", "embedding")
    return _adc_topk(adc_scores(cands, *_codebook_and_query(seeds)))


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


# The ADC top-k over the CTE ``cand`` (vec_id, embedding): each
# candidate's subvectors are PQ-encoded against the codebook (the first
# PQ_K vectors, per subspace), and candidates rank by the summed
# query-table distances.
_ADC_TOPK_SQL = f"""ms AS (SELECT unnest(range({PQ_M})) AS m),
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
        SELECT e.vec_id, cw.m, cw.code,
               row_number() OVER (
                   PARTITION BY e.vec_id, cw.m
                   ORDER BY {_l2_micro_sql(_sub("e.embedding", "cw.m"), "cw.cvec")} ASC,
                            cw.code ASC
               ) AS rn
        FROM cand e CROSS JOIN cw
    ) WHERE rn = 1
)
SELECT vec_id, CAST(SUM(micro) AS DOUBLE) / 1000000 AS adc_dist
FROM codes JOIN qt USING (m, code)
GROUP BY vec_id
ORDER BY adc_dist ASC, vec_id ASC
LIMIT {TOP_K}
"""

ORACLE_PQ_ADC_TOPK = f"""
WITH cand AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
{_ADC_TOPK_SQL}"""

# Composed twin: the ivf oracle's cell and probe CTEs pick the
# candidates, so encoding is restricted to probed candidates exactly
# like the Spark plan.
ORACLE_IVFPQ_TOPK = f"""
WITH {CELL_ASSIGN_SQL},
q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
probe AS ({_probe_sql(N_PROBE)}),
cand AS (
    SELECT a.vec_id, a.embedding
    FROM assign a JOIN probe USING (cell)
    WHERE a.vec_id <> 0
),
{_ADC_TOPK_SQL}"""


QUERIES = {
    "sim_ivfpq_topk": (query_ivfpq_topk, ORACLE_IVFPQ_TOPK),
    "sim_pq_adc_topk": (query_pq_adc_topk, ORACLE_PQ_ADC_TOPK),
}
