"""PCA projection of the embedding column — the whitening/visualization
step after `emb_gram_blas`.

Split exactly like IVF's k-means (operators/ivf.py) and BPE's merge loop
(operators/bpe.py): the *corpus-sized* work (the Gram matrix, the
projection of every vector) is distributed DataFrame compute; the
*dimension-bounded* work (eigendecomposition of the d×d Gram, d(d+1)/2
rows regardless of corpus size) runs driver-side in numpy — the same
cut SentencePiece/FAISS make. The eigenvector weights then re-enter the
plan as a broadcast literal table, so the projection itself is one
posexplode + broadcast join + decimal-exact aggregate per vector.

Engine parity: both engines build the weights from the SAME input — the
portable-rounded Gram matrix that `emb_gram_blas` already hash-matches
across Spark and DuckDB — via the same numpy call on the same machine,
with eigenvector signs canonicalized (largest-|component| positive) and
weights portable-rounded before use. The oracle embeds the weights as a
VALUES literal, the same technique as bpe.oracle_bpe_merges_sql.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

_DEC = "decimal(27,12)"
N_COMPONENTS = 2
DIM = 64


def _pca_weights(gram_rows: list[tuple[int, int, float]]) -> list[tuple[int, float, float]]:
    """Top-N_COMPONENTS eigenvectors of the (1-based i ≤ j long-form)
    Gram matrix, sign-canonicalized and 6-dp rounded.

    Deterministic: eigh on the identical rounded Gram (both engines
    hash-match it), descending-eigenvalue order, sign fixed so each
    vector's largest-magnitude component is positive (np.argmax ties
    break on the first index)."""
    G = np.zeros((DIM, DIM))
    for i, j, v in gram_rows:
        G[i - 1, j - 1] = v
        G[j - 1, i - 1] = v
    _, vecs = np.linalg.eigh(G)
    out = []
    for k in range(N_COMPONENTS):
        v = vecs[:, -(k + 1)]  # eigh sorts ascending; take the largest
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        out.append(np.floor(v * 1e6 + 0.5) / 1e6)  # round_portable twin
    return [(p + 1, *(float(w[p]) for w in out)) for p in range(DIM)]


def query_emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the BLAS partial-sum form is bit-identical to the relational Gram
    # (tests/test_graph_funnel.py) at a fraction of the shuffle — use it
    # for the weight derivation
    from bigdata_project_spark.operators.graph import query_emb_gram_blas

    gram_rows = [
        (r["i"], r["j"], r["gram"]) for r in query_emb_gram_blas(spark, sf_dir).collect()
    ]
    emb = load_table(spark, sf_dir, "embeddings")
    # Per-row projection, no explode: the d-element dot product runs as
    # zip_with + a DECIMAL-fold aggregate INSIDE the row — zero shuffle
    # (the old posexplode → join → groupBy form shuffled N×d rows to
    # reassemble what was already row-local). DECIMAL addition is exact
    # and associative, so the fold matches the oracle's unordered SUM
    # bit-for-bit; the (acc + x) cast back to the acc type is lossless
    # (operands share the 12-digit scale; the integer part never nears
    # 15 digits).
    ws = {p: (w1, w2) for p, w1, w2 in _pca_weights(gram_rows)}
    dim = len(ws)
    w1_arr = F.array(*[F.lit(ws[p + 1][0]) for p in range(dim)])
    w2_arr = F.array(*[F.lit(ws[p + 1][1]) for p in range(dim)])
    v6 = F.transform(
        F.col("embedding"), lambda x: round_portable(x.cast("double"), 6)
    )

    def _proj(w_arr):
        terms = F.zip_with(v6, w_arr, lambda v, w: (v * w).cast(_DEC))
        total = F.aggregate(
            terms,
            F.lit(0).cast(_DEC),
            lambda acc, x: (acc + x).cast(_DEC),
        )
        return round_portable(total.cast("double"), 6)

    return emb.select(
        "vec_id", _proj(w1_arr).alias("pc1"), _proj(w2_arr).alias("pc2")
    )


def oracle_emb_pca_sql(sf_dir: str) -> str:
    """DuckDB twin: recompute the weights from DuckDB's own Gram matrix
    (hash-identical to Spark's) and embed them as a VALUES literal."""
    import duckdb

    from bigdata_project_spark.operators.graph import LONG_EMBEDDINGS_SQL, ORACLE_EMB_GRAM_MATRIX

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    gram_rows = con.execute(ORACLE_EMB_GRAM_MATRIX).fetchall()
    con.close()
    values = ", ".join(
        f"({p}, {w1!r}, {w2!r})" for p, w1, w2 in _pca_weights(gram_rows)
    )
    return f"""
WITH {LONG_EMBEDDINGS_SQL},
w(pos, w1, w2) AS (VALUES {values})
SELECT vec_id,
       {round_portable_sql("CAST(SUM(CAST(v6 * w1 AS DECIMAL(27,12))) AS DOUBLE)", 6)} AS pc1,
       {round_portable_sql("CAST(SUM(CAST(v6 * w2 AS DECIMAL(27,12))) AS DOUBLE)", 6)} AS pc2
FROM long JOIN w USING (pos)
GROUP BY vec_id
"""


QUERIES = {
    "emb_pca_project": (query_emb_pca_project, oracle_emb_pca_sql),
}
