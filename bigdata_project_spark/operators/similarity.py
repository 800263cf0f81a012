"""Similarity search over the ``embeddings`` table (array<float> column).

- **Brute-force cosine top-k** — the exactness baseline: one pass over all
  vectors against a broadcast query vector; dot/norms as JVM-side
  ``zip_with``/``aggregate`` folds (no UDF, no Python).
- **Threshold pair search (IVF-style)** — all near pairs *within a coarse
  partition* (``label`` plays the IVF cell id): the scale path, because the
  join key prunes the O(n²) pair space to per-cell blocks.
- **Random-hyperplane LSH bucketing** — rows-only scale variant: 32-bit
  sign signatures from deterministic md5-derived hyperplanes; candidate
  pairs share a signature band. Recall vs the exact baseline is asserted
  in tests/test_similarity.py.

Float-parity: both engines fold element products sequentially in index
order with a double accumulator — bit-identical, verified; DuckDB's
``list_cosine_similarity`` builtin computes in float32 and does NOT match,
so oracles use the explicit fold.

Scale notes: top-k against a broadcast query is a map-only scan + per-
partition heap (TakeOrderedAndProject). The pair searches shuffle once on
the cell/bucket key; cells bound memory, and skewed cells split under AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (index order, double accumulator)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# DuckDB twins of the folds above — identical op order via list_reduce
# (no-init left fold; 0.0-init and no-init agree exactly for IEEE adds).
# Two definitions stay: DuckDB's list comprehension and Spark's
# zip_with/aggregate higher-order functions do not parse in the other.
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in range(1, len({a}) + 1)], (x, y) -> x + y)"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"


def query_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 nearest neighbours of vec_id=0, brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    scored = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    return (
        scored.select(
            "vec_id",
            "label",
            round_portable(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


ORACLE_COSINE_TOPK = f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       {round_portable_sql(_cos_sql("embedding", "q_emb"), 6)} AS cos_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


def _cell_cosine_pairs(pdf, tau: float):
    """The pairs of one cell's rows whose cosine, rounded to 1e-6, is at
    least ``tau``: ``(rows sorted by vec_id, ia, ib, cos)`` with ``ia <
    ib`` row positions. The Gram matrix is one BLAS matmul in float64."""
    import numpy as np

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", m, m))
    # round to 1e-6 BEFORE thresholding: BLAS and the oracle's
    # sequential fold differ by ~1 ulp, so a pair sitting exactly on
    # the threshold must be judged on the rounded value both engines
    # agree on
    gram = np.floor((m @ m.T) / np.outer(norms, norms) * 1e6 + 0.5) / 1e6
    ia, ib = np.triu_indices(len(pdf), k=1)
    keep = gram[ia, ib] >= tau
    ia, ib = ia[keep], ib[keep]
    return pdf, ia, ib, gram[ia, ib]


def query_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style same-cell pair search: cosine ≥ 0.35 within each label.

    Implementation is the true scale path: shuffle vectors once by cell
    (``label``), then compute each cell's pair block with a BLAS matmul in
    an Arrow-batched ``applyInPandas`` — O(cell²) flops at memory-bandwidth
    speed instead of per-element interpreted folds. The sequential-fold
    dot product (the oracle's formulation) is reproduced by computing the
    Gram matrix in float64; at fold-vs-BLAS the results differ by ≲1 ulp,
    far inside the 1e-6 rounding used for comparison."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, ia, ib, cos = _cell_cosine_pairs(pdf, 0.35)
        return pd.DataFrame(
            {
                "vec_a": pdf["vec_id"].to_numpy()[ia],
                "vec_b": pdf["vec_id"].to_numpy()[ib],
                "label": pdf["label"].to_numpy()[ia],
                "cos_sim": cos,
            }
        )

    return emb.groupBy("label").applyInPandas(
        cell_pairs, schema="vec_a long, vec_b long, label int, cos_sim double"
    )


ORACLE_NEARDUP_PAIRS = f"""
WITH pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           {_cos_sql("a.embedding", "b.embedding")} AS raw_cos
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, cos_sim
FROM (
    SELECT vec_a, vec_b, label, {round_portable_sql("raw_cos", 6)} AS cos_sim
    FROM pairs
)
WHERE cos_sim >= 0.35
"""

def query_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection over ``documents``.

    The corpus is documents ∪ a re-keyed copy of the first 50 (the same
    planted-duplicate scheme as dedup_exact); their embeddings ride along
    via the 1:1 doc_id↔vec_id fixture mapping. Candidates are blocked by
    IVF cell (``label`` — a planted copy keeps its cell, so recall for
    true dups is exact), verified cos ≥ 0.99, and resolved to a dedup
    decision: keep the lower doc_id, drop the higher. Per-cell pair
    blocks run as BLAS matmuls in applyInPandas (see query_neardup_pairs);
    at 100 TB cells shard the O(n²) into bounded bucket blocks."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") < 50).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, ia, ib, cos = _cell_cosine_pairs(pdf, 0.99)
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {
                "keep_doc": ids[ia],
                "dup_doc": ids[ib],
                "cos_sim": cos,
            }
        )

    pairs = corpus.groupBy("label").applyInPandas(
        cell_pairs, schema="keep_doc long, dup_doc long, cos_sim double"
    )
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.select(F.col("doc_id").alias("keep_doc"), "source", "n_chars")
    return pairs.join(F.broadcast(kept), "keep_doc")


ORACLE_DEDUP_EMBEDDING = f"""
WITH corpus AS (
    SELECT * FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id, embedding, label
    FROM embeddings WHERE vec_id < 50
),
pairs AS (
    SELECT a.vec_id AS keep_doc, b.vec_id AS dup_doc,
           {_cos_sql("a.embedding", "b.embedding")} AS raw_cos
    FROM corpus a JOIN corpus b
      ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT keep_doc, dup_doc, cos_sim, d.source, d.n_chars
FROM (
    SELECT keep_doc, dup_doc, {round_portable_sql("raw_cos", 6)} AS cos_sim
    FROM pairs
) p
JOIN documents d ON d.doc_id = p.keep_doc
WHERE cos_sim >= 0.99
"""


# --------------------------------------------------- LSH scale variant --

N_PLANES = 32
_EMB_DIM = 64


def _plane_signs(plane: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5(plane, dim-index).

    Materialized driver-side (hashlib gives the same md5 the engines do)
    and shipped as a literal array: computing 16×64 md5s *per row* inside
    the plan was the difference between 20 s and 0.5 s at sf0.1."""
    import hashlib

    out = []
    for i in range(_EMB_DIM):
        h = hashlib.md5(f"p{plane}d{i}".encode()).hexdigest()
        out.append(1.0 if int(h[:4], 16) % 2 == 1 else -1.0)
    return out


def lsh_signatures_np(emb: DataFrame) -> DataFrame:
    """32-bit sign signature per vector: sig bit p = (v · plane_p) > 0.

    Hyperplane components are ±1 derived from md5 — reproducible on any
    engine/cluster with no stored model. Arrow-batched: one 64×32
    sign-matrix matmul per batch instead of 32 interpreted folds per
    row."""
    import pandas as pd

    planes = [_plane_signs(p) for p in range(N_PLANES)]
    powers = [2**p for p in range(N_PLANES)]

    def batches(it):
        import numpy as np

        P = np.array(planes, dtype=np.float64).T  # dim × planes
        pw = np.array(powers, dtype=np.int64)
        for pdf in it:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            # sign taken on the 1e-6-rounded projection so BLAS/fold/SQL
            # evaluation orders can never flip a bit near zero
            bits = (np.floor((m @ P) * 1e6 + 0.5) / 1e6) > 0
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "embedding": pdf["embedding"],
                    "lsh_sig": (bits * pw).sum(axis=1),
                }
            )

    return emb.mapInPandas(
        batches, schema="vec_id long, label int, embedding array<float>, lsh_sig long"
    )


def query_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs sharing one of four 8-bit LSH signature bands,
    verified by exact cosine ≥ 0.35. Fully oracle-checked: the md5-derived
    ±1 planes are engine-portable literals, so ORACLE_ANN_LSH replays the
    identical signature → band → verify pipeline in DuckDB SQL; recall vs
    the exact baseline is additionally asserted in tests.

    Plan shape matters more than constants here: the bucket join carries
    only (vec_id, band, byte) — embeddings are re-attached *after* the
    candidate pairs are deduplicated, so the wide float arrays never ride
    through the n²-ish part of the shuffle. Band width 8 bits keeps bucket
    populations (→ candidate volume) under control; 4-bit bands produced
    ~3M candidates at sf0.1 versus ~100k with 8-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    sigs = lsh_signatures_np(emb)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.floor(F.col("lsh_sig") / (2 ** (8 * b))).cast("bigint").__mod__(256).alias("nib"),
            )
            for b in range(4)
        ]
    )
    melted = sigs.select("vec_id", F.explode(bands).alias("bs")).select(
        "vec_id", F.col("bs.band").alias("band"), F.col("bs.nib").alias("nib")
    )
    # r16: bucket groupBy + in-bucket pair explode instead of a melt
    # self-join — the self-join evaluated the mapInPandas signature
    # subtree TWICE when the planner broadcast one side (exchange reuse
    # does not fire across a BroadcastExchange; verified on the sibling
    # minhash melt), i.e. two full Python passes over the embeddings.
    # One collect_list shuffle of (vec_id, band, nib) rows runs the
    # Python pass once; the in-bucket expansion applies the identical
    # vec_a < vec_b cut, so the candidate set is unchanged.
    pair_ids = (
        melted.groupBy("band", "nib")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        .select("ids", F.explode("ids").alias("vec_a"))
        .select("vec_a", F.explode("ids").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    # no broadcast hint: tiny at test SF (auto-broadcast), shuffle join at
    # cluster scale — AQE picks per run
    cands = pair_ids.join(ea, "vec_a").join(eb, "vec_b")

    def verify(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            ma = np.stack(pdf["emb_a"].to_numpy()).astype(np.float64)
            mb = np.stack(pdf["emb_b"].to_numpy()).astype(np.float64)
            cos = np.einsum("ij,ij->i", ma, mb) / (
                np.sqrt(np.einsum("ij,ij->i", ma, ma))
                * np.sqrt(np.einsum("ij,ij->i", mb, mb))
            )
            cos = np.floor(cos * 1e6 + 0.5) / 1e6
            keep = cos >= 0.35
            yield pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy()[keep],
                    "vec_b": pdf["vec_b"].to_numpy()[keep],
                    "cos_sim": cos[keep],
                }
            )

    return cands.mapInPandas(verify, schema="vec_a long, vec_b long, cos_sim double")


def _ann_lsh_oracle() -> str:
    """DuckDB twin of query_ann_lsh_buckets: the ±1 hyperplanes are shipped
    as DOUBLE-array literals (e0 suffix — bare 1.0 parses as DECIMAL), the
    projection is the same sequential fold as the engine's, and the sign is
    taken on the 1e-6-rounded value on both sides."""
    plane_rows = ",\n       ".join(
        "({p}, [{vals}])".format(
            p=p, vals=", ".join(f"{s:.1f}e0" for s in _plane_signs(p))
        )
        for p in range(N_PLANES)
    )
    proj = (
        "list_reduce([CAST(e.embedding[i] AS DOUBLE) * p.signs[i] "
        "for i in range(1, len(p.signs) + 1)], (x, y) -> x + y)"
    )
    return f"""
WITH planes(plane, signs) AS (
    VALUES {plane_rows}
),
sigs AS (
    SELECT e.vec_id,
           CAST(SUM(CASE WHEN {round_portable_sql(proj, 6)} > 0
                         THEN CAST(power(2, p.plane) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS lsh_sig
    FROM embeddings e CROSS JOIN planes p
    GROUP BY e.vec_id
),
melted AS (
    SELECT vec_id, t.b AS band,
           (lsh_sig // CAST(power(2, 8 * t.b) AS BIGINT)) % 256 AS nib
    FROM sigs, range(4) t(b)
),
pairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
    FROM melted a JOIN melted b2
      ON a.band = b2.band AND a.nib = b2.nib AND a.vec_id < b2.vec_id
),
scored AS (
    SELECT vec_a, vec_b,
           {round_portable_sql(_cos_sql("ea.embedding", "eb.embedding"), 6)} AS cos_sim
    FROM pairs
    JOIN embeddings ea ON ea.vec_id = pairs.vec_a
    JOIN embeddings eb ON eb.vec_id = pairs.vec_b
)
SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.35
"""


ORACLE_ANN_LSH = _ann_lsh_oracle()


# ------------------------------------------------------------ k-NN join --

#: query-set size and neighbours-per-query for the batch k-NN join
KNN_QUERIES = 16
KNN_K = 5


def query_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-KNN_K cosine neighbours for EVERY query in a
    KNN_QUERIES-vector query set (vec_id < 16), self excluded — the
    multi-query generalization of ``sim_cosine_topk`` and the retrieval
    shape embedding pipelines actually run (a batch of probes, not one).

    Scale plan: the query matrix broadcasts (Q×d — KBs; at thousands of
    queries still MBs), one Arrow ``mapInPandas`` pass BLAS-scores each
    batch against ALL queries at once and keeps only each batch's LOCAL
    top-k per query — ≤ Q·k rows leave any batch, so the shuffle is
    bounded by Q·k·(batches), never N·Q. A final per-query window over
    those candidates is exact: the global top-k is a subset of the
    union of per-batch top-k's (every dropped row lost to k better rows
    of the same query in its own batch). Ranking is deterministic end
    to end: 1e-6-rounded cosine desc, vec_id asc — same contract as the
    IVF family, so the DuckDB twin is exact.

    Float parity: scores come from a float64 BLAS matmul; the oracle's
    sequential fold differs by ≲1 ulp, far inside the 1e-6 rounding
    (the established neardup_pairs/IVF assumption)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qpd = (
        emb.filter(F.col("vec_id") < KNN_QUERIES).orderBy("vec_id").toPandas()
    )  # k-bounded driver collect of the query set (Q rows)
    Q = np.stack(qpd["embedding"].to_numpy()).astype(np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    qids = qpd["vec_id"].to_numpy()

    def batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            cos = np.floor(m @ Q.T * 1e6 + 0.5) / 1e6  # numpy round_portable
            vids = pdf["vec_id"].to_numpy()
            frames = []
            for j, qid in enumerate(qids):
                mask = vids != qid
                col = cos[mask, j]
                vv = vids[mask]
                keep = np.lexsort((vv, -col))[:KNN_K]  # local exact top-k
                frames.append(
                    pd.DataFrame(
                        {"q_id": qid, "vec_id": vv[keep], "cos_sim": col[keep]}
                    )
                )
            yield pd.concat(frames)

    local = emb.mapInPandas(
        batches, schema="q_id long, vec_id long, cos_sim double"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("q_id", "vec_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
    )


ORACLE_SIM_KNN_JOIN = f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS q_emb
    FROM embeddings WHERE vec_id < {KNN_QUERIES}
),
scored AS (
    SELECT q.q_id, e.vec_id,
           {round_portable_sql(_cos_sql("e.embedding", "q.q_emb"), 6)} AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> q.q_id
),
ranked AS (
    SELECT q_id, vec_id, cos_sim,
           row_number() OVER (
               PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC
           ) AS rnk
    FROM scored
)
SELECT q_id, vec_id, cos_sim, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {KNN_K}
"""


QUERIES = {
    "dedup_embedding_cosine": (query_dedup_embedding, ORACLE_DEDUP_EMBEDDING),
    "sim_ann_lsh_buckets": (query_ann_lsh_buckets, ORACLE_ANN_LSH),
    "sim_cosine_topk": (query_cosine_topk, ORACLE_COSINE_TOPK),
    "sim_neardup_pairs": (query_neardup_pairs, ORACLE_NEARDUP_PAIRS),
    "sim_knn_join": (query_sim_knn_join, ORACLE_SIM_KNN_JOIN),
}
