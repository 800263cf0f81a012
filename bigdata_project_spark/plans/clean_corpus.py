"""End-to-end training-data cleaning pipeline: the operators composed.

``dedup_exact`` → ``quality_frame`` → threshold → per-language corpus
stats, in ONE DataFrame chain — demonstrating that the registry's
operators are a library, not isolated demos. Plan shape at scale: one
hash-aggregate shuffle for dedup (32-char uniform keys), quality scoring
fused into the scan projection (pure codegen expressions), one tiny
final aggregate on the (lang, source) space.

The mean quality goes through DECIMAL(18,6) summation of the already-
rounded per-doc scores, so the group mean is order-independent and
bit-identical across engines (registry float-parity rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import content_hash
from bigdata_project_spark.operators.text_analysis import ORACLE_QUALITY_SCORE, quality_frame
from bigdata_project_spark.operators.text_dedup import _CORPUS_SQL, _corpus_with_dups

_Q_THRESHOLD = 0.5

# 80/10/10 split thresholds over the 32-bit hash space — integer compares,
# no float arithmetic anywhere in the assignment.
_T_TRAIN = int(0.8 * 2**32)
_T_VAL = int(0.9 * 2**32)


def query_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, reproducible train/val/test assignment: each doc's
    split is a pure function of its id (md5 → 32-bit int → integer
    thresholds), so re-runs, engine changes, and repartitions can never
    reshuffle the split — the property a training pipeline actually needs
    from 'random' sampling. Stratification falls out per key for free
    (hash uniformity holds within every stratum)."""
    from bigdata_project_spark.functions.text import hex32_to_int
    from bigdata_project_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    v = hex32_to_int(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")))
    split = (
        F.when(v < _T_TRAIN, F.lit("train"))
        .when(v < _T_VAL, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


from bigdata_project_spark.functions.text import HEX32_TO_INT_SQL  # noqa: E402

ORACLE_TRAIN_VAL_SPLIT = f"""
SELECT CASE WHEN v < {_T_TRAIN} THEN 'train'
            WHEN v < {_T_VAL} THEN 'val'
            ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
    SELECT lang, n_chars,
           {HEX32_TO_INT_SQL.format(h="md5(CAST(doc_id AS VARCHAR))")} AS v
    FROM documents
)
GROUP BY 1, 2
"""


def query_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_with_dups(spark, sf_dir)
    survivors = (
        corpus.withColumn("content_hash", content_hash(F.col("text")))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = corpus.join(survivors, "doc_id")
    # r16: quality_frame is a pure per-row projection, so joining its
    # output back onto `kept` for lang/source was a corpus self-join —
    # Spark re-derived the whole dedup subtree for the second copy
    # (8 parquet scans in the before-plan). Carrying the two columns
    # through the projection removes the join outright.
    scored = quality_frame(kept, carry=["lang", "source"])
    good = scored.filter(F.col("quality") >= _Q_THRESHOLD)
    return good.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        round_portable(
            (
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("mean_quality"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# The quality CTE is the oracle of query_quality_score retargeted at the
# deduped corpus (same expressions, same rounding).
_QUALITY_ON_CORPUS = ORACLE_QUALITY_SCORE.replace("FROM documents", "FROM kept")

ORACLE_CLEAN_CORPUS = f"""
WITH corpus AS ({_CORPUS_SQL}),
survivors AS (
    SELECT MIN(doc_id) AS doc_id
    FROM (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash
        FROM corpus
    )
    GROUP BY content_hash
),
kept AS (
    SELECT corpus.* FROM corpus JOIN survivors USING (doc_id)
),
scored AS ({_QUALITY_ON_CORPUS}),
good AS (
    SELECT s.doc_id, s.quality, s.n_tokens, k.lang, k.source
    FROM scored s JOIN kept k USING (doc_id)
    WHERE s.quality >= {_Q_THRESHOLD}
)
SELECT lang, source,
       COUNT(*) AS n_docs,
       {round_portable_sql(
           "CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)", 6
       )} AS mean_quality,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM good
GROUP BY lang, source
"""


QUERIES = {
    "pipeline_train_val_split": (query_train_val_split, ORACLE_TRAIN_VAL_SPLIT),
    "pipeline_clean_corpus": (query_clean_corpus, ORACLE_CLEAN_CORPUS),
}
