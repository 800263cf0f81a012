"""Funnel/retention monotonicity; Gram vs numpy; PageRank vs numpy."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bigdata_project_spark.operators.funnel import (
    query_events_funnel,
    query_retention_cohort,
)
from bigdata_project_spark.operators.graph import (
    DAMPING,
    coactivity_edges,
    pagerank,
)
from bigdata_project_spark.functions.scalars import round_portable
from bigdata_project_spark.sources.readers import load_table


def _gram_long_form(spark, sf_dir):
    """The relational Gram matrix — the Spark twin of
    ``ORACLE_EMB_GRAM_MATRIX``: posexplode to long form, one self
    equi-join on vec_id, one hash aggregate on (i, j), with 6-dp inputs
    and DECIMAL(27,12) products summed exactly."""
    long = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        round_portable(F.col("val").cast("double"), 6).alias("v6"),
    )
    a, b = long.alias("a"), long.alias("b")
    return (
        a.join(b, "vec_id")
        .filter(F.col("a.pos") <= F.col("b.pos"))
        .select(
            F.col("a.pos").alias("i"),
            F.col("b.pos").alias("j"),
            (F.col("a.v6") * F.col("b.v6")).cast("decimal(27,12)").alias("prod"),
        )
        .groupBy("i", "j")
        .agg(round_portable(F.sum("prod").cast("double"), 6).alias("gram"))
    )


def test_funnel_counts_monotone(spark, sf_dir):
    rows = sorted(query_events_funnel(spark, sf_dir).collect(), key=lambda r: r["stage_no"])
    assert [r["stage"] for r in rows] == ["view", "click", "purchase"]
    counts = [r["n_users"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert rows[0]["conv_from_prev"] == 1.0
    for r in rows[1:]:
        assert 0.0 <= r["conv_from_prev"] <= 1.0


def test_retention_offset_zero_covers_cohort(spark, sf_dir):
    """Every user is active in their own first week."""
    rows = query_retention_cohort(spark, sf_dir).collect()
    zero = {r["cohort_week"]: r["n_users"] for r in rows if r["week_offset"] == 0}
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_format(F.date_trunc("week", F.min("ts")), "yyyy-MM-dd").alias("w")
    )
    cohort_sizes = {
        r["w"]: r["n"] for r in firsts.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert zero == cohort_sizes
    assert all(r["week_offset"] >= 0 for r in rows)


def test_gram_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").orderBy("vec_id")
    X = np.array([r["embedding"] for r in emb.collect()], dtype=np.float64)
    X6 = np.floor(X * 1e6 + 0.5) / 1e6  # round_portable
    G = X6.T @ X6
    got = {(r["i"], r["j"]): r["gram"] for r in _gram_long_form(spark, sf_dir).collect()}
    d = X.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), v in got.items():
        assert abs(v - G[i - 1, j - 1]) < 1e-5, (i, j, v, G[i - 1, j - 1])


def test_pagerank_matches_numpy(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    edges = coactivity_edges(ev)
    e = [(r["src"], r["dst"]) for r in edges.collect()]
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for u, _ in e:
        outdeg[idx[u]] += 1
    pr = np.full(n, 1.0 / n)
    for _ in range(2):
        nxt = np.full(n, (1.0 - DAMPING) / n)
        for u, v in e:
            nxt[idx[v]] += DAMPING * pr[idx[u]] / outdeg[idx[u]]
        pr = nxt
    got = {r["id"]: r["pr"] for r in pagerank(edges).collect()}
    assert set(got) == set(nodes)
    for u in nodes:
        assert abs(got[u] - pr[idx[u]]) < 1e-9, u
    # rank leaks through dangling nodes only: total mass bounded by 1
    assert sum(got.values()) <= 1.0 + 1e-9


def test_gram_blas_exactly_matches_relational(spark, sf_dir):
    """The mapInPandas XᵀX path must be bit-identical to the relational
    decimal form — integer-scaled partials, no float tolerance."""
    from bigdata_project_spark.operators.graph import query_emb_gram_blas

    a = {(r["i"], r["j"]): r["gram"] for r in _gram_long_form(spark, sf_dir).collect()}
    b = {(r["i"], r["j"]): r["gram"] for r in query_emb_gram_blas(spark, sf_dir).collect()}
    assert a == b


def test_pca_builder_targets_fixture_and_orders_variance(spark, duck, sf_dir):
    """Oracle-builder twin of test_bpe: the VALUES-literal weight SQL is
    regenerated per fixture and runs in DuckDB; projections put more
    variance on pc1 than pc2."""
    from bigdata_project_spark.operators.pca import (
        N_COMPONENTS,
        oracle_emb_pca_sql,
        query_emb_pca_project,
    )

    assert N_COMPONENTS == 2
    sql = oracle_emb_pca_sql(sf_dir)
    n_oracle = len(duck.execute(sql).fetchall())
    n_emb = duck.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    assert n_oracle == n_emb
    pdf = query_emb_pca_project(spark, sf_dir).toPandas()
    assert len(pdf) == n_emb
    assert pdf["pc1"].var() >= pdf["pc2"].var() - 1e-9


def test_triangles_degree_orientation_hub_safe(spark):
    """r6 verdict item 3: a celebrity hub must pivot no wedges. Star
    K1,20 + planted triangles: counts match brute force, the hub's
    out-degree under (deg, id) orientation is 0, and the plan carries
    the degree-attach joins (the oriented edge list is real)."""
    from itertools import combinations

    from bigdata_project_spark.operators.graph import (
        orient_by_degree,
        triangle_counts,
    )

    # hub 0 linked to 1..20; triangles (1,2,100), (3,4,101), (0,1,2)
    edges = [(0, i) for i in range(1, 21)]
    edges += [(1, 2), (1, 100), (2, 100), (3, 4), (3, 101), (4, 101)]
    und = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "a long, b long"
    ).distinct()

    # brute force on the driver
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict[int, int] = {}
    nodes = sorted(adj)
    for x, y, z in combinations(nodes, 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for v in (x, y, z):
                want[v] = want.get(v, 0) + 1

    got = {
        r["user_id"]: r["n_triangles"] for r in triangle_counts(und).collect()
    }
    assert got == want

    # the hub (degree 20, max) must be every edge's DST → out-degree 0
    ori = orient_by_degree(und)
    assert ori.filter(F.col("src") == 0).count() == 0
    # the degree-attach joins are real in the orientation plan
    # (pre-checkpoint; triangle_counts truncates lineage below)
    ori_plan = ori._jdf.queryExecution().optimizedPlan().toString()
    assert "deg_a" in ori_plan and "deg_b" in ori_plan
    # and triangle_counts enumerates from the checkpointed oriented
    # list: its optimized plan starts from LogicalRDDs, not a re-derived
    # degree attach (lazy localCheckpoint materializes on first action,
    # which the .collect() above already triggered)
    tri_plan = (
        triangle_counts(und)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LogicalRDD" in tri_plan
    assert "deg_a" not in tri_plan
