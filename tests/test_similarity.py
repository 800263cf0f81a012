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
    one k-row driver pull: no Spark sort, no second vec_id=0 pull. The
    IVFPQ builder slices one pull for both quantizers."""
    import numpy as np

    from bigdata_project_spark.operators.ivf import K_CELLS, _seed_centroids, _seed_vectors
    from bigdata_project_spark.operators.pq import (
        PQ_K,
        _codebook_and_query,
        query_ivfpq_topk,
        query_pq_adc_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    jobs, seeds = count_jobs(_seed_vectors, emb, PQ_K)
    assert jobs == 1
    codebook, qv = _codebook_and_query(seeds)
    jobs, (centroids, cell_ids) = count_jobs(_seed_centroids, emb)
    assert jobs == 1
    for builder in (query_pq_adc_topk, query_ivfpq_topk):
        assert count_jobs(builder, spark, sf_dir)[0] == 1, builder.__name__

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
    from bigdata_project_spark.operators.pq import PQ_K, query_pq_adc_topk

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
        query_pq_adc_topk(spark, str(tmp_path))


def test_l2_fold_is_the_sql_left_fold():
    """PQ sub-distances must be the oracle's ``list_reduce`` left fold bit
    for bit; numpy's pairwise ``sum`` differs in the last bit on some of
    the same inputs, so the check can tell the two apart."""
    import functools

    import numpy as np

    from bigdata_project_spark.operators.pq import PQ_SUB, _l2_fold

    rng = np.random.default_rng(11)
    a = rng.standard_normal((2000, PQ_SUB)).astype(np.float32).astype(np.float64)
    b = rng.standard_normal((2000, PQ_SUB)).astype(np.float32).astype(np.float64)
    want = np.array(
        [
            functools.reduce(
                lambda x, y: x + y, [(p - q) * (p - q) for p, q in zip(ra.tolist(), rb.tolist())]
            )
            for ra, rb in zip(a, b)
        ]
    )
    got = _l2_fold(a, b)
    assert np.array_equal(got.view(np.int64), want.view(np.int64))
    d = a - b
    assert (np.sum(d * d, axis=-1) != want).any()


def test_adc_scores_match_long_form_reference(spark):
    """adc_scores' one-pass fold equals the long form the oracle runs:
    per (vector, subspace) the lowest-micro code (lowest code on ties),
    then the per-vector sum of table lookups. Vector 1 carries a planted
    subspace-0 tie between codes 2 and 5 whose table entries differ, so
    picking the higher code would change its total."""
    import functools
    import math

    import numpy as np

    from bigdata_project_spark.operators.pq import PQ_K, PQ_M, PQ_SUB, adc_scores

    rng = np.random.default_rng(3)
    # eighths in [-1, 1] are exact in float32, so the frame loses nothing
    emb = rng.integers(-8, 9, size=(6, PQ_M * PQ_SUB)) / 8.0
    codebook = rng.integers(-8, 9, size=(PQ_K, PQ_M, PQ_SUB)) / 8.0
    qv = rng.integers(-8, 9, size=(PQ_M, PQ_SUB)) / 8.0
    emb[1, :PQ_SUB] = 0.0
    codebook[2, 0] = 0.125
    codebook[5, 0] = -0.125
    qv[0] = 0.125

    def micro(u, v):
        fold = functools.reduce(lambda x, y: x + y, [(p - q) * (p - q) for p, q in zip(u, v)])
        return math.floor(fold * 1e6 + 0.5)

    want = {}
    for vid, row in enumerate(emb.tolist()):
        total = 0
        for m in range(PQ_M):
            sub = row[m * PQ_SUB : (m + 1) * PQ_SUB]
            dist = [micro(sub, codebook[k, m].tolist()) for k in range(PQ_K)]
            code = min(range(PQ_K), key=lambda k: (dist[k], k))
            if (vid, m) == (1, 0):
                assert dist[2] == dist[5] == min(dist) and code == 2
            total += micro(qv[m].tolist(), codebook[code, m].tolist())
        want[vid] = total
    assert micro(qv[0].tolist(), codebook[2, 0].tolist()) != micro(
        qv[0].tolist(), codebook[5, 0].tolist()
    )

    df = spark.createDataFrame(
        [(vid, row) for vid, row in enumerate(emb.tolist())],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r["micro_total"] for r in adc_scores(df, codebook, qv).collect()}
    assert got == want
