"""IVF ANN search: coarse quantizer cells + probe-only-nearest-cells.

The centroids are the first K_CELLS vectors (the deterministic k-means
init). Assignment, probe selection, and final ranking all compare
1e-6-rounded cosines with a lowest-cell-id tiebreak, so the whole
pipeline has an exact DuckDB SQL twin (ORACLE_IVF_KMEANS_TOPK) despite
the BLAS execution path; recall vs brute force is asserted in
tests/test_similarity.py and swept over nprobe by ``sim_ann_recall_at_k``.

Scale shape: assignment is one Arrow-batched ``mapInPandas`` pass
BLAS-scoring each partition against the broadcast k×d centroid matrix
(k·d ≈ KBs even for k=65536, d=1024 — always broadcastable); search
scores ~nprobe/k of the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable_sql
from bigdata_project_spark.operators.similarity import _cos_sql
from bigdata_project_spark.sources.readers import load_table

K_CELLS = 8
N_PROBE = 2
TOP_K = 10  # neighbours returned by _probe_and_rank (and RECALL_K's base)


def _round6(a: np.ndarray) -> np.ndarray:
    """The numpy twin of round_portable(·, 6) — floor(x·1e6 + 0.5)/1e6."""
    return np.floor(a * 1e6 + 0.5) / 1e6


def _unit_rows(pdf: pd.DataFrame) -> np.ndarray:
    """A batch's embeddings as unit-norm float64 rows."""
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _cell_of(centroids: np.ndarray, cell_ids: np.ndarray):
    """unit rows -> nearest cell id by ROUNDED cosine, BLAS per batch;
    ties go to the lowest cell id (argmax returns the first max, and
    ``cell_ids`` is ascending)."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    ids = np.asarray(cell_ids, dtype=np.int64)
    return lambda m: ids[_round6(m @ C.T).argmax(axis=1)]


def _assign_cells(
    emb: DataFrame, centroids: np.ndarray, cell_ids: np.ndarray
) -> DataFrame:
    """Distributed assignment: (vec_id, embedding, cell) per vector."""
    cell_of = _cell_of(centroids, cell_ids)

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cell": cell_of(_unit_rows(pdf)),
                }
            )

    return emb.mapInPandas(
        batches, schema="vec_id long, embedding array<float>, cell long"
    )


def _seed_vectors(emb: DataFrame, k: int) -> np.ndarray:
    """The first ``k`` vectors (vec_id 0..k-1) as a (k, d) float64 matrix,
    row i = vec_id i, so row 0 is the query vector. One driver pull,
    bounded by ``k`` and sorted on the driver: a Spark ``orderBy`` here
    would add a sampling job and a sort job for k rows."""
    seeds = (
        emb.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    if seeds["vec_id"].tolist() != list(range(k)):
        raise ValueError(
            f"seed pull expected {k} vectors with vec_id 0..{k - 1}, "
            f"got {len(seeds)}: vec_id {seeds['vec_id'].tolist()}"
        )
    return np.stack(seeds["embedding"].to_numpy()).astype(np.float64)


def _seed_centroids(emb: DataFrame, k: int = K_CELLS) -> tuple[np.ndarray, np.ndarray]:
    """The k seed centroids and their ascending cell ids (= vec_id)."""
    return _seed_vectors(emb, k), np.arange(k, dtype=np.int64)


def _probe_order(centroids: np.ndarray, cell_ids: np.ndarray, qn: np.ndarray) -> list[int]:
    """Cell ids nearest the normalized query ``qn`` first: rounded cosine
    desc, lowest cell id on ties — the probe rule every IVF query shares."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cos_q = _round6(C @ qn)
    order = sorted(range(len(cell_ids)), key=lambda i: (-cos_q[i], cell_ids[i]))
    return [int(cell_ids[i]) for i in order]


def _probe_and_rank(
    emb: DataFrame, centroids: np.ndarray, cell_ids: np.ndarray, qv: np.ndarray
) -> DataFrame:
    """Probe the N_PROBE cells nearest the normalized query ``qv``
    (vec_id=0) and exact-rank inside them: top-TOP_K by (rounded cosine
    desc, vec_id asc). One Arrow pass assigns each vector's cell, keeps
    the candidates (cell in the probe set, vec_id != 0) and scores them,
    so only candidate rows leave Python; the heap follows."""
    cell_of = _cell_of(centroids, cell_ids)
    probe = _probe_order(centroids, cell_ids, qv)[:N_PROBE]

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = _unit_rows(pdf)
            cell = cell_of(m)
            keep = np.isin(cell, probe) & (pdf["vec_id"].to_numpy() != 0)
            if keep.any():
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy()[keep],
                        "cell": cell[keep],
                        "cos_sim": _round6(m[keep] @ qv),
                    }
                )

    scored = emb.mapInPandas(score, schema="vec_id long, cell long, cos_sim double")
    return scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc()).limit(TOP_K)


def query_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbours of vec_id=0 probing N_PROBE of K_CELLS seeded
    cells — the scale ANN path (scores ~nprobe/k of the corpus), with the
    deterministic seed quantizer so every step is oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, cell_ids = _seed_centroids(emb)
    qn = centroids[0] / np.linalg.norm(centroids[0])  # row 0 is vec_id 0
    return _probe_and_rank(emb, centroids, cell_ids, qn)


RECALL_PROBES = (1, 2, 4, K_CELLS)
RECALL_K = TOP_K


def query_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness (r7 verdict item 8): recall@10 of the seeded
    IVF search vs the brute-force cosine anchor, swept over nprobe ∈
    {1, 2, 4, 8=K_CELLS} — the exhaustive probe MUST reach recall 1.0,
    and the curve quantifies the probe-vs-recall trade the IVF design
    buys. Output: one row per nprobe (n_hits, recall), fully
    deterministic (both rankings tiebreak on vec_id), so the whole
    sweep has an exact DuckDB twin.

    Scale: assignment AND query scoring run ONCE — a single mapInPandas
    pass emits (vec_id, cell_rank, cos_sim), where cell_rank is the
    cell's position in the probe order (nearest-to-query first, the
    same (-cos, cell_id) sort of _probe_order), and the frame is
    lineage-truncated so every probe level is just a filter
    ``cell_rank <= nprobe`` + top-k over it — level p's candidate set
    is exactly "the p nearest cells", so this is plan-for-plan
    equivalent to re-probing per level minus the 4 redundant scoring
    passes (r9 verdict item 6: 1.84 s → target ≤ 1.2 s, A/B'd
    in-commit). The exact side IS the nprobe=K_CELLS row (all cells =
    brute force over every vector), produced by the SAME kernel pass —
    recall 1.0 at the exhaustive level is true by construction, not
    contingent on two summation orders (Spark column fold vs numpy
    matmul) agreeing at a round-to-6 boundary. The DuckDB twin keeps
    its independent brute-force exact CTE, so cross-engine parity
    still verifies the kernel against a second implementation."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    centroids, cell_ids = _seed_centroids(emb)
    qnorm = centroids[0] / np.linalg.norm(centroids[0])  # row 0 is vec_id 0
    rank_of_cell = {
        c: r + 1 for r, c in enumerate(_probe_order(centroids, cell_ids, qnorm))
    }
    assigned = _assign_cells(emb, centroids, cell_ids)

    def score(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = _unit_rows(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell_rank": pdf["cell"].map(rank_of_cell).astype("int64"),
                    "cos_sim": _round6(m @ qnorm),
                }
            )

    # one scoring pass consumed by the exact anchor + all 4 probe levels
    scored = (
        assigned.filter(F.col("vec_id") != 0)
        .mapInPandas(score, schema="vec_id long, cell_rank long, cos_sim double")
        .localCheckpoint(eager=False)
    )
    exact = (
        scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(RECALL_K)
        .select("vec_id")
    )
    sweeps = []
    for n_probe in RECALL_PROBES:
        approx = (
            scored.filter(F.col("cell_rank") <= n_probe)
            .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            .limit(RECALL_K)
            .select("vec_id", F.lit(n_probe).cast("long").alias("nprobe"))
        )
        sweeps.append(approx)
    allp = sweeps[0]
    for s in sweeps[1:]:
        allp = allp.unionByName(s)
    hits = allp.join(exact, "vec_id", "left_semi")
    counts = hits.groupBy("nprobe").agg(F.count(F.lit(1)).alias("n_hits"))
    # anchor on the literal probe levels so a zero-hit level still emits
    # its recall-0.0 row — the regime the harness exists to quantify
    levels = spark.createDataFrame(
        [(int(p),) for p in RECALL_PROBES], "nprobe long"
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
    return levels.join(counts, "nprobe", "left").select(
        "nprobe",
        n_hits.alias("n_hits"),
        (n_hits / F.lit(float(RECALL_K))).alias("recall"),
    )


# DuckDB twin of the seeded cells: the K_CELLS seed vectors ``c`` and
# each vector's ``assign``ed cell, the rounded-cosine argmax with the
# lowest cell on ties. The IVF, IVF-PQ and semantic-dedup oracles open
# with these CTEs.
CELL_ASSIGN_SQL = f"""c AS (
    SELECT vec_id AS cell, embedding AS cemb
    FROM embeddings WHERE vec_id < {K_CELLS}
),
assign AS (
    SELECT vec_id, cell, embedding FROM (
        SELECT e.vec_id, c.cell, e.embedding,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {round_portable_sql(_cos_sql("e.embedding", "c.cemb"), 6)} DESC,
                            c.cell ASC
               ) AS rn
        FROM embeddings e CROSS JOIN c
    ) WHERE rn = 1
)"""


def _probe_sql(n_probe: int) -> str:
    """The ``n_probe`` cells of ``c`` nearest the query ``q``, as SQL."""
    return f"""
    SELECT cell FROM (
        SELECT c.cell,
               row_number() OVER (
                   ORDER BY {round_portable_sql(_cos_sql("c.cemb", "q.qemb"), 6)} DESC,
                            c.cell ASC
               ) AS rn
        FROM c CROSS JOIN q
    ) WHERE rn <= {n_probe}
    """


def _ivf_topk_sql(n_probe: int) -> str:
    """The seeded-IVF top-10 as SQL, parameterized by nprobe (the body of
    ORACLE_IVF_KMEANS_TOPK without the final projection)."""
    return f"""
    SELECT vec_id FROM (
        SELECT a.vec_id,
               {round_portable_sql(_cos_sql("a.embedding", "q.qemb"), 6)} AS cos_sim
        FROM assign a
        JOIN ({_probe_sql(n_probe)}) USING (cell)
        CROSS JOIN q
        WHERE a.vec_id <> 0
    )
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT {RECALL_K}
    """


# DuckDB twin of the seeded variant: same seeds, same rounded-cosine
# argmax with lowest-cell tiebreak, same probe rule, same final ranking.
ORACLE_IVF_KMEANS_TOPK = f"""
WITH {CELL_ASSIGN_SQL},
q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
probe AS ({_probe_sql(N_PROBE)})
SELECT vec_id, cell, cos_sim FROM (
    SELECT a.vec_id, a.cell,
           {round_portable_sql(_cos_sql("a.embedding", "q.qemb"), 6)} AS cos_sim
    FROM assign a JOIN probe USING (cell) CROSS JOIN q
    WHERE a.vec_id <> 0
)
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""

# Recall sweep twin: same assign/probe CTEs, one UNION ALL block per
# nprobe level, recall counted against the brute-force top-10.
_RECALL_BLOCKS = "\nUNION ALL\n".join(
    f"SELECT CAST({p} AS BIGINT) AS nprobe, vec_id FROM ({_ivf_topk_sql(p)})"
    for p in RECALL_PROBES
)

ORACLE_ANN_RECALL_AT_K = f"""
WITH {CELL_ASSIGN_SQL},
q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
exact AS (
    SELECT vec_id FROM (
        SELECT e.vec_id,
               {round_portable_sql(_cos_sql("e.embedding", "q.qemb"), 6)} AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    )
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT {RECALL_K}
),
sweep AS (
{_RECALL_BLOCKS}
),
counts AS (
    SELECT nprobe, COUNT(*) AS n_hits
    FROM sweep JOIN exact USING (vec_id)
    GROUP BY nprobe
),
levels AS (
    SELECT CAST(unnest([{", ".join(str(p) for p in RECALL_PROBES)}]) AS BIGINT) AS nprobe
)
SELECT l.nprobe,
       COALESCE(c.n_hits, 0) AS n_hits,
       COALESCE(c.n_hits, 0) / {float(RECALL_K)} AS recall
FROM levels l LEFT JOIN counts c USING (nprobe)
"""


QUERIES = {
    "sim_ann_recall_at_k": (query_ann_recall_at_k, ORACLE_ANN_RECALL_AT_K),
    "sim_ivf_kmeans_topk": (query_ivf_kmeans_topk, ORACLE_IVF_KMEANS_TOPK),
}
