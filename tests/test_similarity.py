"""Similarity-search semantics beyond oracle parity."""

from __future__ import annotations

import math

from bigdata_project_spark.operators.similarity import (
    query_ann_lsh_buckets,
    query_cosine_topk,
    query_neardup_pairs,
)
from bigdata_project_spark.sources.readers import load_table


def test_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in load_table(spark, sf_dir, "embeddings").collect()}
    q = emb[0]
    scored = sorted(
        (
            (float(v @ q / (math.sqrt(v @ v) * math.sqrt(q @ q))), vid)
            for vid, v in emb.items()
            if vid != 0
        ),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    got = [(r["cos_sim"], r["vec_id"]) for r in query_cosine_topk(spark, sf_dir).collect()]
    assert [vid for _, vid in got] == [vid for _, vid in scored]
    for (g, _), (w, _) in zip(got, scored):
        assert abs(g - w) < 1e-6


def test_ivf_kmeans_recall_vs_brute_force(spark, sf_dir):
    """Probing 2/8 seeded cells must recover most of the true top-10."""
    from bigdata_project_spark.operators.ivf import query_ivf_kmeans_topk
    from bigdata_project_spark.operators.similarity import query_cosine_topk

    truth = {r["vec_id"] for r in query_cosine_topk(spark, sf_dir).collect()}
    got = {r["vec_id"] for r in query_ivf_kmeans_topk(spark, sf_dir).collect()}
    assert len(got) == 10
    assert len(truth & got) >= 6  # ≥60% recall at nprobe=2/8


def test_pq_adc_recall_vs_exact_l2(spark, sf_dir):
    """PQ/ADC top-10 with an 8×8 seeded codebook must recover a usable
    share of the true L2 top-10 and return sane, sorted distances."""
    import numpy as np

    from bigdata_project_spark.operators.pq import query_pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb}
    q = vecs[0]
    exact = sorted(
        ((np.sum((v - q) ** 2), vid) for vid, v in vecs.items() if vid != 0),
    )[:10]
    truth = {vid for _, vid in exact}

    rows = query_pq_adc_topk(spark, sf_dir).collect()
    assert len(rows) == 10
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists)
    assert all(d >= 0 for d in dists)
    got = {r["vec_id"] for r in rows}
    # unlearned seeds: expect coarse but real recall (planted near-dups of
    # vec 0 quantize to the same codes)
    assert len(truth & got) >= 4


def test_lsh_buckets_subset_of_brute_force(spark, sf_dir):
    brute = {
        (r["vec_a"], r["vec_b"])
        for r in query_neardup_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in query_ann_lsh_buckets(spark, sf_dir).collect()
    }
    # LSH verifies with exact cosine, so every pair it keeps that shares a
    # label must exist in the same-label brute force set; cross-label pairs
    # are extra coverage the IVF variant can't see.
    emb = load_table(spark, sf_dir, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.collect()}
    same_label_lsh = {p for p in lsh if labels[p[0]] == labels[p[1]]}
    assert same_label_lsh <= brute


def test_knn_join_agrees_with_brute_anchor(spark, sf_dir):
    """Batch k-NN join invariants: exactly KNN_K ranked neighbours per
    query, no self-matches, and the q_id=0 column must reproduce the
    head of the registered brute-force anchor (same rounding, same
    tiebreak) — proving the local-top-k-then-window plan is exact."""
    from bigdata_project_spark.operators.similarity import (
        KNN_K,
        KNN_QUERIES,
        query_cosine_topk,
        query_sim_knn_join,
    )

    out = query_sim_knn_join(spark, sf_dir).toPandas()
    assert set(out["q_id"]) == set(range(KNN_QUERIES))
    per_q = out.groupby("q_id")
    assert (per_q.size() == KNN_K).all()
    assert (out["q_id"] != out["vec_id"]).all()
    for _, g in per_q:
        g = g.sort_values("rnk")
        assert list(g["rnk"]) == list(range(1, KNN_K + 1))
        # ranking is (cos desc, vec_id asc)
        key = list(zip(-g["cos_sim"], g["vec_id"]))
        assert key == sorted(key)
    anchor = query_cosine_topk(spark, sf_dir).toPandas().head(KNN_K)
    q0 = out[out["q_id"] == 0].sort_values("rnk")
    assert list(q0["vec_id"]) == list(anchor["vec_id"])
    assert (abs(q0["cos_sim"].to_numpy() - anchor["cos_sim"].to_numpy()) == 0).all()


def test_seed_pulls_start_one_job_each(spark, sf_dir, count_jobs):
    """The PQ codebook + query and the IVF seed centroids each come from
    one k-row driver pull: no Spark sort, no second vec_id=0 pull."""
    import numpy as np

    from bigdata_project_spark.operators.ivf import K_CELLS, _seed_centroids
    from bigdata_project_spark.operators.pq import PQ_K, _codebook_and_query

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    jobs, (codebook, qv) = count_jobs(_codebook_and_query, emb)
    assert jobs == 1
    jobs, (centroids, cell_ids) = count_jobs(_seed_centroids, emb)
    assert jobs == 1

    want = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.filter(f"vec_id < {max(PQ_K, K_CELLS)}").collect()
    }
    assert cell_ids.tolist() == list(range(K_CELLS))
    for i in range(K_CELLS):
        assert np.array_equal(centroids[i], want[i])
    for i in range(PQ_K):
        assert np.array_equal(codebook[i].reshape(-1), want[i])
    assert np.array_equal(qv.reshape(-1), want[0])


def test_seed_pull_rejects_missing_vec_id(spark, tmp_path):
    """An embeddings table without vec_id 0 cannot seed the quantizers:
    the pull raises and names the count it expected."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from bigdata_project_spark.operators.ivf import K_CELLS, _seed_centroids
    from bigdata_project_spark.operators.pq import PQ_K, _codebook_and_query

    ids = list(range(1, 20))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array([[float(i)] * 64 for i in ids], pa.list_(pa.float32())),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    emb = load_table(spark, str(tmp_path), "embeddings")
    with pytest.raises(ValueError, match=f"expected {K_CELLS} vectors"):
        _seed_centroids(emb)
    with pytest.raises(ValueError, match=f"expected {PQ_K} vectors"):
        _codebook_and_query(emb)
