"""Connected-components dedup clustering — the completion step of
near-dup detection for a training corpus.

Pairwise near-dup detection (MinHash-LSH, operators/text_dedup.py) yields
*edges*; an actual dedup decision needs *clusters*: near-duplication is
not transitive pairwise, but the keep/drop policy must be ("keep one doc
per connected component of the near-dup graph" — the standard corpus-
dedup formulation, e.g. the C4/Gopher/RefinedWeb pipelines). Absent from
the reference (its only dedup is row-level MERGE, bronze/utils.py:348-366);
this is BASELINE.json north-star surface.

Algorithm (Spark side): iterative **min-label propagation** over the
symmetrized edge list. label₀(v) = v; labelᵢ₊₁(v) = min(labelᵢ(v),
min over neighbors' labelᵢ) — after d rounds every node holds the minimum
doc_id within distance d, so the loop converges in graph-diameter rounds
to the component minimum. The loop stops on an actual fixpoint check
(no label changed), not a guessed round count.

Scale notes:
- Near-dup components are near-cliques (every member pairwise-similar to
  the canonical), so diameter ≈ 1-3 and the loop runs 2-4 rounds even at
  corpus scale. Each round is one shuffle join (edges ⋈ labels, both
  hash-partitioned on the same key after round 1 → AQE reuses the
  exchange) plus one combiner-friendly min-aggregate.
- Lineage is truncated per round with ``localCheckpoint`` — without it
  the plan doubles every iteration and the driver re-optimizes an
  exponentially growing tree.
- The edge list is orders of magnitude smaller than the corpus (only
  near-dup docs appear), so even at 100 TB of text the graph fits the
  cluster comfortably; the propagation shuffles only (node, label) pairs.
- For adversarial chain-shaped graphs (diameter O(n)) the published
  O(log² n) alternation of large-star/small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) is the
  drop-in upgrade; near-dup graphs never need it.

Oracle: DuckDB ``WITH RECURSIVE`` transitive closure — min reachable
label per node is the component representative by definition, so both
engines must produce identical clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.text_dedup import (
    lsh_verified_pairs,
    lsh_verified_pairs_sql,
)
from bigdata_project_spark.sources.readers import load_table

MAX_ITERATIONS = 25  # backstop only; the fixpoint check exits far earlier


def connected_components(pairs: DataFrame) -> DataFrame:
    """(node, cluster_id) for every node appearing in the ``(doc_a,
    doc_b)`` edges of ``pairs``, where cluster_id = min node id of the
    node's connected component."""
    # symmetrize by per-row explode, NOT by union of e with e.swapped —
    # a union would put the (expensive) pairs DAG in the plan twice and
    # execute it once per branch (MEASURED at sf0.1: 3.5 s → 2.1 s for
    # the edges materialization over the LSH pair generator)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                    F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("old_label"), F.col("node").alias("label"))
    )

    def one_round(lbl: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(lbl.select(F.col("node").alias("v"), "label"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("u").alias("node"), "nbr_label")
        )
        return lbl.select("node", "label").join(nbr_min, "node", "left").select(
            "node",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "label"
            ),
        )

    # Near-dup components are near-cliques (diameter 1-2), so the common
    # case converges inside the first two rounds. Those two run as ONE
    # lazy DAG with a single fixpoint-check action at the end — on a
    # local[32] session each extra action on the (tiny relative to the
    # corpus) label frame costs more in job scheduling than the data does
    # (MEASURED at sf0.1: per-round eager checkpoint + separate change-
    # check join was ~3 s of overhead on a 377-edge graph; batched lazy
    # rounds ≈ 1 s). Only the last round's old_label is compared: the
    # propagation is monotone, so "round k changed nothing" ⇔ fixpoint.
    # Rarer deep-diameter graphs continue one checkpointed round at a
    # time, lineage truncated per round as before.
    it, batch = 0, 2
    while it < MAX_ITERATIONS:
        for _ in range(min(batch, MAX_ITERATIONS - it)):
            labels = one_round(labels)
            it += 1
        labels = labels.localCheckpoint(eager=False)
        # one action: materializes the checkpoint AND answers the check
        changed = labels.filter(F.col("label") != F.col("old_label")).count()
        if changed == 0:
            break
        batch = 1
    return labels.select("node", F.col("label").alias("cluster_id"))


# Corpus with planted duplicate *clusters*: a triangle {d, d+1M, d+2M}
# for d < 30 and a pair {d, d+1M} for 30 ≤ d < 60 — so the components
# have size > 2 and the propagation genuinely iterates.
def _cc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dup1 = docs.filter(F.col("doc_id") < 60).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    dup2 = docs.filter(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    return docs.unionByName(dup1).unionByName(dup2)


_CC_CORPUS_SQL = """
    SELECT * FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id < 60
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id < 30
"""


def query_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup-clustering pipeline: LSH near-dup pairs → connected
    components → per-doc (cluster_id, cluster_size, is_canonical).
    ``is_canonical`` marks the one doc per cluster a dedup pass keeps
    (min doc_id — deterministic). Docs with no near-dups never enter the
    graph; the caller's keep-list is ``all_docs LEFT ANTI JOIN (output
    WHERE NOT is_canonical)``."""
    pairs = lsh_verified_pairs(_cc_corpus(spark, sf_dir))
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labels.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
    )


# Connected components of the LSH-verified pairs of the cc corpus, by
# recursive reachability: ``labels`` maps each node to its component's
# smallest doc_id.
_CC_LABELS_SQL = f"""RECURSIVE corpus AS ({_CC_CORPUS_SQL}),
pairs AS ({lsh_verified_pairs_sql("corpus")}),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
    SELECT DISTINCT u AS node, u AS label FROM edges
    UNION
    SELECT e.v AS node, r.label
    FROM reach r JOIN edges e ON e.u = r.node
),
labels AS (
    SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node
)"""

ORACLE_DEDUP_CLUSTER_CC = f"""
WITH {_CC_LABELS_SQL},
sizes AS (
    SELECT cluster_id, COUNT(*) AS cluster_size FROM labels GROUP BY cluster_id
)
SELECT l.node AS doc_id, l.cluster_id, s.cluster_size,
       l.node = l.cluster_id AS is_canonical
FROM labels l JOIN sizes s ON l.cluster_id = s.cluster_id
"""


def query_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that actually produces a deduplicated corpus: per near-dup
    cluster, keep the highest-quality member (C4/RefinedWeb keep-best
    policy; ties → lowest doc_id). Composes the LSH→connected-components
    clustering with the quality heuristic — both already oracle-checked
    standalone — and resolves each cluster with one deterministic
    DISTINCT ON. Ordering compares the 1e-6-rounded quality (the exact
    column both engines hash-match), so the pick is engine-identical."""
    from bigdata_project_spark.operators.distinct_on import distinct_on
    from bigdata_project_spark.operators.text_analysis import quality_frame

    corpus = _cc_corpus(spark, sf_dir)
    labels = connected_components(lsh_verified_pairs(corpus))
    nodes = labels.select(F.col("node").alias("doc_id"), "cluster_id")
    # score quality only for cluster members: the label table is tiny
    # relative to the corpus (only near-dup docs enter the graph), so the
    # semi-restriction broadcasts and the regex-heavy quality pass skips
    # the singleton majority of the corpus
    q = quality_frame(corpus.join(F.broadcast(nodes.select("doc_id")), "doc_id")).select(
        "doc_id", "quality"
    )
    members = nodes.join(q, "doc_id")
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    best = distinct_on(
        members,
        ["cluster_id"],
        [F.col("quality").desc(), F.col("doc_id").asc()],
    )
    return best.join(sizes, "cluster_id").select(
        "cluster_id",
        F.col("doc_id").alias("canonical_doc_id"),
        F.col("quality").alias("canonical_quality"),
        "cluster_size",
    )


def _build_oracle_dedup_canonical() -> str:
    from bigdata_project_spark.operators.text_analysis import quality_sql

    return f"""
WITH {_CC_LABELS_SQL},
q AS (SELECT doc_id, quality FROM ({quality_sql("corpus")})),
members AS (
    SELECT l.node AS doc_id, l.cluster_id, q.quality
    FROM labels l JOIN q ON q.doc_id = l.node
),
sizes AS (
    SELECT cluster_id, COUNT(*) AS cluster_size FROM members GROUP BY cluster_id
),
best AS (
    SELECT doc_id, cluster_id, quality,
           row_number() OVER (
               PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC
           ) AS rn
    FROM members
)
SELECT b.cluster_id,
       b.doc_id AS canonical_doc_id,
       b.quality AS canonical_quality,
       s.cluster_size
FROM best b JOIN sizes s USING (cluster_id)
WHERE b.rn = 1
"""


ORACLE_DEDUP_CANONICAL = _build_oracle_dedup_canonical()


QUERIES = {
    "dedup_cluster_cc": (query_dedup_cluster_cc, ORACLE_DEDUP_CLUSTER_CC),
    "pipeline_dedup_canonical": (query_dedup_canonical, ORACLE_DEDUP_CANONICAL),
}
