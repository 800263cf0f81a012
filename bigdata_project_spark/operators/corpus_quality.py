"""Corpus-level quality scoring: bigram-LM perplexity, OOV rate, and the
multi-stage filter yield funnel.

Beyond-reference LLM-data-pipeline operators (the reference stops at
SQL aggregates; these are the standard pretraining-corpus QC steps —
CCNet/Gopher-style):

- **Bigram-LM perplexity** (``text_bigram_perplexity``): score every
  document by its mean negative log-likelihood under an add-one
  (Laplace) bigram model fitted on the corpus itself. High-NLL docs are
  the boilerplate/garbled outliers a perplexity filter drops. Plan: one
  map-side explode to bigram rows, two hash aggregates for the LM
  tables (bigram + unigram counts), one shuffle join keyed on the
  bigram (both sides hash-partitioned — co-located at any scale), the
  unigram table broadcast (vocab-sized; at a web-corpus vocab of tens
  of millions, drop the broadcast hint and it becomes the second
  shuffle join, same plan otherwise), then one per-doc hash aggregate.
  Nothing driver-side; LM tables scale with vocab, not corpus.

- **OOV rate** (``text_oov_rate``): fraction of tokens outside the
  top-K corpus vocabulary — the tokenizer-coverage audit. Top-K via
  TakeOrderedAndProject (K rows to the driver, broadcast back), then a
  map-side broadcast left join + per-doc aggregate: the token stream is
  never shuffled.

- **Filter funnel** (``pipeline_quality_funnel``): per-stage survivor
  counts for a cascade of quality filters (language keep-list → length
  band → minimum token count → exact-dedup). The first four stage
  counts come from ONE scan with conditional aggregation (no shuffle of
  the corpus — ~4 longs reduce); the dedup stage is one distinct-count
  over the md5 content hash of survivors. This is the yield report
  every corpus-cleaning run prints.

Float parity: log-likelihoods are scaled to integers
(``floor(ln(·)·1e6 + 0.5)`` in DECIMAL) before summing, so the
cross-engine sum is order-independent and exact; the single ln() call
per LM row is the only libm touch and is computed from identical
integer-ratio doubles on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import CONTENT_HASH_SQL, content_hash, tokens
from bigdata_project_spark.operators.text_dedup import shingle_rows_raw
from bigdata_project_spark.sources.readers import load_table

_DEC = "decimal(19,0)"
_LL_SCALE = 1_000_000.0

_GRAMS_SQL_1 = """
    SELECT doc_id, t[i] AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)
         , UNNEST(range(1, len(t) + 1)) AS r(i)
"""

_GRAMS_SQL_2 = """
    SELECT doc_id, t[i] || ' ' || t[i+1] AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)
         , UNNEST(range(1, len(t))) AS r(i)
    WHERE len(t) >= 2
"""


# ------------------------------------------------- bigram-LM perplexity --


def query_text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean NLL (nats) under an add-one bigram LM fitted on the
    corpus: P(w2|w1) = (c12 + 1) / (c1 + V)."""
    docs = load_table(spark, sf_dir, "documents")
    bi = shingle_rows_raw(docs, 2)
    uni = shingle_rows_raw(docs, 1)

    # LM tables: global bigram counts; unigram counts with the vocab size
    # V attached (V is a 1-row cross join — a literal at execution time).
    c_bi = bi.groupBy("shingle").agg(F.count(F.lit(1)).alias("c12"))
    c_uni = uni.groupBy(F.col("shingle").alias("w1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    v = uni.agg(F.count_distinct("shingle").alias("v"))

    # per-(doc, bigram) multiplicity, then one shuffle join on the bigram
    per_doc = bi.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("m"))
    w1 = F.split(F.col("shingle"), " ").getItem(0)
    scored = (
        per_doc.join(c_bi, "shingle")
        .withColumn("w1", w1)
        .join(F.broadcast(c_uni), "w1")
        .crossJoin(F.broadcast(v))
        # nll = ln((c1 + V) / (c12 + 1)), scaled to an exact integer
        .withColumn(
            "nll_scaled",
            F.floor(
                F.log((F.col("c1") + F.col("v")) / (F.col("c12") + F.lit(1)))
                * _LL_SCALE
                + F.lit(0.5)
            ).cast(_DEC),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("nll_scaled")).alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            round_portable(
                F.col("s").cast("double") / F.col("n_bigrams") / F.lit(_LL_SCALE), 6
            ).alias("avg_nll"),
        )
    )


ORACLE_TEXT_BIGRAM_PERPLEXITY = f"""
WITH bi AS ({_GRAMS_SQL_2}),
uni AS ({_GRAMS_SQL_1}),
c_bi AS (SELECT shingle, COUNT(*) AS c12 FROM bi GROUP BY shingle),
c_uni AS (SELECT shingle AS w1, COUNT(*) AS c1 FROM uni GROUP BY shingle),
vocab AS (SELECT COUNT(DISTINCT shingle) AS v FROM uni),
per_doc AS (SELECT doc_id, shingle, COUNT(*) AS m FROM bi GROUP BY doc_id, shingle),
scored AS (
    SELECT per_doc.doc_id, per_doc.m,
           CAST(floor(ln((c1 + v) * 1.0 / (c12 + 1)) * {_LL_SCALE} + 0.5)
                AS DECIMAL(19,0)) AS nll_scaled
    FROM per_doc
    JOIN c_bi USING (shingle)
    JOIN c_uni ON string_split(per_doc.shingle, ' ')[1] = c_uni.w1
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(SUM(m) AS BIGINT) AS n_bigrams,
       {round_portable_sql(
           f"CAST(SUM(m * nll_scaled) AS DOUBLE) / CAST(SUM(m) AS BIGINT) / {_LL_SCALE}", 6
       )} AS avg_nll
FROM scored GROUP BY doc_id
"""


# ------------------------------------------------------------- OOV rate --

#: vocabulary size for the OOV audit (fixture vocab is ~31 tokens, so a
#: small K keeps the rate non-degenerate; production would use 32-256k)
OOV_TOP_K = 16


def query_text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary token fraction vs the top-K corpus
    vocabulary (count desc, token asc tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = shingle_rows_raw(docs, 1).withColumnRenamed("shingle", "tok")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(OOV_TOP_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            round_portable(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


ORACLE_TEXT_OOV_RATE = f"""
WITH toks AS (SELECT doc_id, shingle AS tok FROM ({_GRAMS_SQL_1})),
vocab AS (
    SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ) ORDER BY c DESC, tok ASC LIMIT {OOV_TOP_K}
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       {round_portable_sql(
           "SUM(CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 6
       )} AS oov_rate
FROM toks LEFT JOIN vocab USING (tok)
GROUP BY doc_id
"""


# ------------------------------------------------------- quality funnel --

#: cascade definition (each stage applies on top of the previous one)
FUNNEL_LANGS = ("en", "es", "de")
FUNNEL_MIN_CHARS, FUNNEL_MAX_CHARS = 100, 500
FUNNEL_MIN_TOKENS = 30


def query_pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor count per quality-filter stage: input → language
    keep-list → length band → minimum tokens → exact-dedup."""
    docs = load_table(spark, sf_dir, "documents")
    f1 = F.col("lang").isin(*FUNNEL_LANGS)
    f2 = f1 & F.col("n_chars").between(FUNNEL_MIN_CHARS, FUNNEL_MAX_CHARS)
    f3 = f2 & (F.size(tokens(F.col("text"))) >= FUNNEL_MIN_TOKENS)

    flagged = docs.select(
        f1.cast("long").alias("f1"),
        f2.cast("long").alias("f2"),
        f3.cast("long").alias("f3"),
        # same key as dedup_exact
        F.when(f3, content_hash(F.col("text"))).alias("h"),
    )
    m = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("f1").alias("n1"),
        F.sum("f2").alias("n2"),
        F.sum("f3").alias("n3"),
        F.count_distinct("h").alias("n4"),
    )
    stages = [
        ("0_input", "n0"),
        ("1_lang", "n1"),
        ("2_length", "n2"),
        ("3_min_tokens", "n3"),
        ("4_exact_dedup", "n4"),
    ]
    return m.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("stage"),
                        F.col(c).cast("long").alias("n_docs"),
                    )
                    for name, c in stages
                ]
            )
        ).alias("r")
    ).select("r.stage", "r.n_docs")


_FUNNEL_F1 = "lang IN (" + ", ".join(f"'{l}'" for l in FUNNEL_LANGS) + ")"
_FUNNEL_F2 = f"({_FUNNEL_F1}) AND n_chars BETWEEN {FUNNEL_MIN_CHARS} AND {FUNNEL_MAX_CHARS}"
_FUNNEL_F3 = (
    f"({_FUNNEL_F2}) AND len(string_split_regex(lower(trim(text)), '\\s+'))"
    f" >= {FUNNEL_MIN_TOKENS}"
)

ORACLE_PIPELINE_QUALITY_FUNNEL = f"""
WITH flagged AS (
    SELECT CAST({_FUNNEL_F1} AS BIGINT) AS f1,
           CAST({_FUNNEL_F2} AS BIGINT) AS f2,
           CAST({_FUNNEL_F3} AS BIGINT) AS f3,
           CASE WHEN {_FUNNEL_F3} THEN {CONTENT_HASH_SQL.format(t="text")} END AS h
    FROM documents
),
m AS (
    SELECT COUNT(*) AS n0, SUM(f1) AS n1, SUM(f2) AS n2, SUM(f3) AS n3,
           COUNT(DISTINCT h) AS n4
    FROM flagged
)
SELECT '0_input' AS stage, CAST(n0 AS BIGINT) AS n_docs FROM m
UNION ALL SELECT '1_lang', CAST(n1 AS BIGINT) FROM m
UNION ALL SELECT '2_length', CAST(n2 AS BIGINT) FROM m
UNION ALL SELECT '3_min_tokens', CAST(n3 AS BIGINT) FROM m
UNION ALL SELECT '4_exact_dedup', CAST(n4 AS BIGINT) FROM m
"""


# ------------------------------------------------- character entropy ----

#: ln(2) to full double precision — embedded as the same literal in both
#: engines so the bits conversion divides by an identical constant
_LN2 = 0.6931471805599453


def query_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon character entropy (bits/char) — the classic
    gibberish/boilerplate signal: natural text sits ~4.0-4.5 bits,
    repeated padding collapses toward 0, random bytes push toward 8.

    Float parity: H = ln(n) - (1/n)·Σ c·ln(c) needs two order-dependent
    float sums, so both ln() terms are scaled to exact integers
    (floor(ln(·)·1e6 + 0.5), the perplexity trick above) and summed in
    DECIMAL — the cross-engine reduce is exact; the final
    subtract/divide chain runs in the same op order on both engines.

    Scale design: explode to characters is map-side; the (doc_id, ch)
    histogram and the per-doc rollup are two hash aggregates keyed by
    doc — partials combine map-side, and nothing beyond (doc, char,
    count) rows ever shuffles. No windows, no driver state.

    UNICODE CAVEAT (r6 advice): ``F.split(text, "")`` splits per UTF-16
    code unit in Spark, while DuckDB's ``string_split(text, '')`` splits
    per Unicode codepoint — a non-BMP character (emoji, rare CJK) counts
    as TWO surrogate units here and one character there, shifting
    n_chars / n_uniq_chars / entropy. The fixture corpus is ASCII/BMP,
    where the two definitions coincide exactly. Before shipping a
    non-BMP corpus, normalize both sides to codepoints (e.g. explode
    ``sequence(1, char_length)`` + ``substr`` on both engines, which
    index by codepoint) — documented here rather than paid for now, as
    the surrogate-aware explode roughly doubles the map-side work."""
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    hist = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    scored = hist.withColumn(
        "cln_scaled",
        (
            F.col("c")
            * F.floor(F.log(F.col("c").cast("double")) * _LL_SCALE + F.lit(0.5))
        ).cast(_DEC),
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_uniq_chars"),
        F.sum("cln_scaled").alias("s"),
    )
    ln_n_scaled = F.floor(
        F.log(F.col("n_chars").cast("double")) * _LL_SCALE + F.lit(0.5)
    )
    return per_doc.select(
        "doc_id",
        "n_chars",
        "n_uniq_chars",
        round_portable(
            (ln_n_scaled - F.col("s").cast("double") / F.col("n_chars"))
            / F.lit(_LL_SCALE)
            / F.lit(_LN2),
            6,
        ).alias("entropy_bits"),
    )


ORACLE_TEXT_CHAR_ENTROPY = f"""
WITH chars AS (
    SELECT doc_id, ch
    FROM (SELECT doc_id, UNNEST(string_split(text, '')) AS ch
          FROM documents WHERE length(text) > 0)
    WHERE ch <> ''
),
hist AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
per_doc AS (
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_uniq_chars,
           SUM(CAST(c * floor(ln(CAST(c AS DOUBLE)) * {_LL_SCALE} + 0.5)
                    AS DECIMAL(19,0))) AS s
    FROM hist GROUP BY doc_id
)
SELECT doc_id, n_chars, n_uniq_chars,
       {round_portable_sql(
           f"(floor(ln(CAST(n_chars AS DOUBLE)) * {_LL_SCALE} + 0.5)"
           f" - CAST(s AS DOUBLE) / n_chars) / {_LL_SCALE} / {_LN2}", 6
       )} AS entropy_bits
FROM per_doc
"""


QUERIES = {
    "pipeline_quality_funnel": (query_pipeline_quality_funnel, ORACLE_PIPELINE_QUALITY_FUNNEL),
    "text_bigram_perplexity": (query_text_bigram_perplexity, ORACLE_TEXT_BIGRAM_PERPLEXITY),
    "text_oov_rate": (query_text_oov_rate, ORACLE_TEXT_OOV_RATE),
    "text_char_entropy": (query_text_char_entropy, ORACLE_TEXT_CHAR_ENTROPY),
}
