"""Corpus-curation signal operators: repetition ratios (the Gopher-rule
family), PII redaction, and deterministic stratified sampling.

Beyond-reference training-data surface (the reference's text handling
stops at regex conformance of Spanish municipality names,
silver/ine/ine_renta.py:24-29). All three queries are pure built-in
expression/aggregate plans — zero Python in the row path — and each is
oracle-checked against DuckDB.

Scale notes:
- Repetition signals: two explodes (bigram/trigram) each feeding a
  combiner-friendly hash aggregate keyed on doc_id (+gram for the top-
  gram pass) — the same shape as the MinHash shingle pipeline, linear in
  corpus size, no joins wider than doc_id.
- PII redaction is map-only (regexp_replace/regexp_count chains inside
  WholeStageCodegen) — at 100 TB it pipelines with the scan.
- Stratified sampling must NOT use rand(): a resample on retry/speculative
  re-execution would silently change the corpus. The hash-threshold form
  is a pure function of (doc_id, lang) — idempotent, repartition-proof,
  and exactly reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import HEX32_TO_INT_SQL, hex32_to_int, tokens
from bigdata_project_spark.operators.text_dedup import shingle_rows_raw
from bigdata_project_spark.sources.readers import load_table

# ------------------------------------------------------ repetition signals --


def query_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition ratios (Gopher-style quality rules): duplicate
    trigram fraction, most-frequent-bigram share, most-frequent-word
    share. High values flag boilerplate/spam docs that length or stopword
    heuristics miss. Docs with < 3 tokens have no trigram and drop out."""
    docs = load_table(spark, sf_dir, "documents")
    tri = shingle_rows_raw(docs, 3)
    tri_stats = tri.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.count_distinct("shingle").alias("n_distinct_trigrams"),
    )
    bi = shingle_rows_raw(docs, 2)
    bi_top = (
        bi.groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_count"), F.sum("c").alias("n_bigrams"))
    )
    words = shingle_rows_raw(docs, 1)
    w_top = (
        words.groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_count"), F.sum("c").alias("n_words"))
    )
    return (
        tri_stats.join(bi_top, "doc_id")
        .join(w_top, "doc_id")
        .select(
            "doc_id",
            "n_words",
            round_portable(
                1.0 - F.col("n_distinct_trigrams") / F.col("n_trigrams"), 6
            ).alias("frac_dup_trigrams"),
            round_portable(
                F.col("top_bigram_count") / F.col("n_bigrams"), 6
            ).alias("top_bigram_frac"),
            round_portable(
                F.col("top_word_count") / F.col("n_words"), 6
            ).alias("top_word_frac"),
        )
    )


def _grams_sql(n: int) -> str:
    """DuckDB twin of shingle_rows_raw(docs, n) (duplicates kept)."""
    gram = " || ' ' || ".join(f"t[i+{k}]" for k in range(n)).replace("t[i+0]", "t[i]")
    return f"""
    SELECT doc_id, {gram} AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents)
         , UNNEST(range(1, len(t) - {n - 2})) AS r(i)
    WHERE len(t) >= {n}
    """


ORACLE_TEXT_REPETITION = f"""
WITH tri AS ({_grams_sql(3)}),
tri_stats AS (
    SELECT doc_id, COUNT(*) AS n_trigrams,
           COUNT(DISTINCT shingle) AS n_distinct_trigrams
    FROM tri GROUP BY doc_id
),
bi AS ({_grams_sql(2)}),
bi_top AS (
    SELECT doc_id, MAX(c) AS top_bigram_count, SUM(c) AS n_bigrams
    FROM (SELECT doc_id, shingle, COUNT(*) AS c FROM bi GROUP BY 1, 2)
    GROUP BY doc_id
),
w AS ({_grams_sql(1)}),
w_top AS (
    -- CAST: SUM(BIGINT) is HUGEINT in DuckDB, int64 in Spark
    SELECT doc_id, MAX(c) AS top_word_count, CAST(SUM(c) AS BIGINT) AS n_words
    FROM (SELECT doc_id, shingle, COUNT(*) AS c FROM w GROUP BY 1, 2)
    GROUP BY doc_id
)
SELECT t.doc_id, n_words,
       {round_portable_sql("1.0 - n_distinct_trigrams * 1.0 / n_trigrams", 6)} AS frac_dup_trigrams,
       {round_portable_sql("top_bigram_count * 1.0 / n_bigrams", 6)} AS top_bigram_frac,
       {round_portable_sql("top_word_count * 1.0 / n_words", 6)} AS top_word_frac
FROM tri_stats t
JOIN bi_top b ON t.doc_id = b.doc_id
JOIN w_top w2 ON t.doc_id = w2.doc_id
"""

# ----------------------------------------------------------- PII redaction --

# Patterns restricted to syntax Java regex and RE2 interpret identically
# (no backrefs, no lookaround, no \d shorthand-class edge cases).
_RE_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_RE_URL = "https?://[^ \\t\\n]+"
_RE_LONGNUM = "[0-9]{7,}"


def query_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub emails / URLs / long digit runs (phone-ish) into typed
    placeholder tokens, counting each. The fixture corpus is synthetic
    word soup, so PII is planted deterministically per doc_id first —
    what's verified is the redaction chain, counts included.

    Order matters and is fixed: URLs before emails (a URL may embed an
    '@' userinfo), numbers last (so digits inside already-redacted spans
    are gone)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" see https://site"), F.col("doc_id").cast("string"), F.lit(".example/path")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" call 55512"), (F.col("doc_id") % 100000 + 100000).cast("string")),
        ).otherwise(F.lit("")),
    )
    with_pii = docs.select("doc_id", planted.alias("t"))
    step1 = F.regexp_replace(F.col("t"), _RE_URL, "[URL]")
    step2 = F.regexp_replace(step1, _RE_EMAIL, "[EMAIL]")
    step3 = F.regexp_replace(step2, _RE_LONGNUM, "[NUM]")
    return with_pii.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_RE_URL)).alias("n_urls"),
        F.regexp_count(step1, F.lit(_RE_EMAIL)).alias("n_emails"),
        F.regexp_count(step2, F.lit(_RE_LONGNUM)).alias("n_longnums"),
        F.length(step3).alias("redacted_len"),
        F.substring(step3, 1, 60).alias("redacted_prefix"),
    )


ORACLE_TEXT_PII_REDACT = f"""
WITH with_pii AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' see https://site' || CAST(doc_id AS VARCHAR) || '.example/path'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' call 55512' || CAST(doc_id % 100000 + 100000 AS VARCHAR)
                   ELSE '' END AS t
    FROM documents
),
steps AS (
    SELECT doc_id, t,
           regexp_replace(t, '{_RE_URL}', '[URL]', 'g') AS s1
    FROM with_pii
),
steps2 AS (
    SELECT doc_id, t, s1,
           regexp_replace(s1, '{_RE_EMAIL}', '[EMAIL]', 'g') AS s2
    FROM steps
),
steps3 AS (
    SELECT doc_id, t, s1, s2,
           regexp_replace(s2, '{_RE_LONGNUM}', '[NUM]', 'g') AS s3
    FROM steps2
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_RE_URL}')) AS n_urls,
       len(regexp_extract_all(s1, '{_RE_EMAIL}')) AS n_emails,
       len(regexp_extract_all(s2, '{_RE_LONGNUM}')) AS n_longnums,
       length(s3) AS redacted_len,
       substring(s3, 1, 60) AS redacted_prefix
FROM steps3
"""

# -------------------------------------------------------- decontamination --


def query_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any distinct
    word-5-gram with the held-out eval set (docs 0-19 stand in for the
    benchmark) — the standard n-gram-overlap scrub run before every LLM
    training job (13-grams in the published recipes; 5 here because the
    fixture docs are short).

    Scale shape: the benchmark side is always tiny → its distinct shingle
    set broadcasts; the corpus side is one map-side explode feeding a
    broadcast hash semi-join, then one hash aggregate on doc_id. No
    shuffle ever carries more than the flagged rows."""
    from bigdata_project_spark.operators.text_dedup import shingle_rows

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    bench_sh = shingle_rows(bench, 5).select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    corpus_sh = shingle_rows(corpus, 5)
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("shingle").alias("n_shared_grams"),
            F.count_distinct("bench_doc").alias("n_bench_docs"),
        )
    )


def _distinct_grams_sql(n: int, pred: str) -> str:
    gram = " || ' ' || ".join(f"t[i+{k}]" for k in range(n)).replace("t[i+0]", "t[i]")
    return f"""
    SELECT DISTINCT doc_id, {gram} AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents WHERE {pred})
         , UNNEST(range(1, len(t) - {n - 2})) AS r(i)
    WHERE len(t) >= {n}
    """


ORACLE_TEXT_DECONTAMINATE = f"""
WITH bench AS (
    SELECT doc_id AS bench_doc, shingle FROM ({_distinct_grams_sql(5, "doc_id < 20")})
),
corpus AS ({_distinct_grams_sql(5, "doc_id >= 20")})
SELECT corpus.doc_id,
       COUNT(DISTINCT corpus.shingle) AS n_shared_grams,
       COUNT(DISTINCT bench.bench_doc) AS n_bench_docs
FROM corpus JOIN bench ON corpus.shingle = bench.shingle
GROUP BY corpus.doc_id
"""


# ------------------------------------------------------- bigram LM counts --


def query_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model counts: top-200 bigrams with their
    conditional probability P(w2|w1) = c(w1 w2)/c(w1) — the n-gram-LM /
    tokenizer-merge precursor table. Two hash aggregates (bigram counts,
    unigram counts) + one broadcast join on the first word; top-k via
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    bi = (
        shingle_rows_raw(docs, 2)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c_bigram"))
        .withColumn("w1", F.split(F.col("shingle"), " ").getItem(0))
    )
    uni = (
        shingle_rows_raw(docs, 1)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("c_w1"))
        .withColumnRenamed("shingle", "w1")
    )
    return (
        bi.join(F.broadcast(uni), "w1")
        .select(
            F.col("shingle").alias("bigram"),
            "c_bigram",
            "c_w1",
            round_portable(F.col("c_bigram") / F.col("c_w1"), 6).alias("p_cond"),
        )
        .orderBy(F.col("c_bigram").desc(), F.col("bigram").asc())
        .limit(200)
    )


ORACLE_TEXT_BIGRAM_LM = f"""
WITH bi AS (
    SELECT shingle, COUNT(*) AS c_bigram
    FROM ({_grams_sql(2)}) GROUP BY shingle
),
uni AS (
    SELECT shingle AS w1, COUNT(*) AS c_w1
    FROM ({_grams_sql(1)}) GROUP BY shingle
)
SELECT bi.shingle AS bigram, c_bigram, c_w1,
       {round_portable_sql("c_bigram * 1.0 / c_w1", 6)} AS p_cond
FROM bi JOIN uni ON string_split(bi.shingle, ' ')[1] = uni.w1
ORDER BY c_bigram DESC, bigram ASC
LIMIT 200
"""


# ---------------------------------------------------- stratified sampling --

# Per-language keep rates expressed as integer thresholds over the 32-bit
# hash space — integer compares only, no float arithmetic in the decision.
_RATES = {"en": 0.5, "es": 0.25, "de": 0.25}
_DEFAULT_RATE = 0.1
_THRESHOLDS = {lang: int(r * 2**32) for lang, r in _RATES.items()}
_DEFAULT_THRESHOLD = int(_DEFAULT_RATE * 2**32)


def query_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-deterministic stratified sample: per-language keep rates via
    integer thresholds on md5(doc_id) — the reproducible replacement for
    ``df.sampleBy`` (whose seed-based sample shifts under repartition and
    can't be replayed across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    v = hex32_to_int(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")))
    threshold = F.lit(_DEFAULT_THRESHOLD)
    for lang, t in _THRESHOLDS.items():
        threshold = F.when(F.col("lang") == lang, F.lit(t)).otherwise(threshold)
    return (
        docs.withColumn("v", v)
        .filter(F.col("v") < threshold)
        .select("doc_id", "lang", "source")
    )


_threshold_case = " ".join(
    f"WHEN lang = '{lang}' THEN {t}" for lang, t in _THRESHOLDS.items()
)

ORACLE_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang, source
FROM (
    SELECT doc_id, lang, source,
           {HEX32_TO_INT_SQL.format(h="md5(CAST(doc_id AS VARCHAR))")} AS v
    FROM documents
)
WHERE v < CASE {_threshold_case} ELSE {_DEFAULT_THRESHOLD} END
"""


# ------------------------------------------------------------ URL domains --


def query_text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL statistics — the input to domain-level blocklists
    and source-mix audits in corpus curation. URLs are planted
    deterministically (the fixture corpus is word soup, same technique
    as ``text_pii_redact``); what's verified is the extract → host-parse
    → aggregate chain.

    Scale shape: regexp extraction is map-side, the explode inflates
    only actual matches, and the one hash aggregate keys on the
    low-cardinality host domain (count-distinct via Catalyst's native
    two-pass plan) — shuffle volume is match count, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" https://host"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example/p/"),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" http://mirror"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(".example.org/x"),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(planted, F.lit(_RE_URL), F.lit(0))
        ).alias("url"),
    )
    return (
        urls.select(
            "doc_id",
            F.lower(F.regexp_extract("url", "https?://([^/]+)", 1)).alias("host"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


ORACLE_TEXT_URL_DOMAINS = f"""
WITH with_urls AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0
                   THEN ' https://host' || CAST(doc_id % 7 AS VARCHAR)
                        || '.example/p/' || CAST(doc_id AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 4 = 0
                   THEN ' http://mirror' || CAST(doc_id % 3 AS VARCHAR)
                        || '.example.org/x' || CAST(doc_id AS VARCHAR)
                   ELSE '' END AS t
    FROM documents
),
urls AS (
    SELECT doc_id, unnest(regexp_extract_all(t, '{_RE_URL}')) AS url
    FROM with_urls
)
SELECT lower(regexp_extract(url, 'https?://([^/]+)', 1)) AS host,
       COUNT(*) AS n_urls,
       COUNT(DISTINCT doc_id) AS n_docs
FROM urls
GROUP BY host
"""


# ------------------------------------------------------ URL-canonical dedup --


def query_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup — the web-corpus first pass (CC-style: the
    same page crawled as http/https, with/without ``www.``, with
    tracking params, is ONE document). URLs are planted with those exact
    variants (scheme by doc_id%2, ``www.`` by %3, ``?utm=`` by %4) over
    a (host, path) space small enough to collide; verified is the
    canonicalize → group → keep-min chain.

    Canonicalization is two map-side regexp_replaces (strip scheme +
    ``www.``, strip query string); the dedup is one hash aggregate keyed
    on the canonical URL — shuffle carries (canonical, doc_id) pairs
    only, never document payloads, the same contract as content-hash
    dedup (text_dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("host"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example/page/"),
        (F.col("doc_id") % 37).cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm=x"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    canon = F.regexp_replace(
        F.regexp_replace(url, r"^https?://(www\.)?", ""), r"\?.*$", ""
    )
    return (
        docs.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


ORACLE_DEDUP_URL_CANONICAL = """
WITH urls AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
           || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
           || 'host' || CAST(doc_id % 20 AS VARCHAR)
           || '.example/page/' || CAST(doc_id % 37 AS VARCHAR)
           || (CASE WHEN doc_id % 4 = 0 THEN '?utm=x' || CAST(doc_id AS VARCHAR) ELSE '' END)
           AS url
    FROM documents
),
canon AS (
    SELECT doc_id,
           regexp_replace(regexp_replace(url, '^https?://(www\\.)?', ''),
                          '\\?.*$', '') AS canonical_url
    FROM urls
)
SELECT canonical_url,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_docs
FROM canon
GROUP BY canonical_url
"""


# ------------------------------------------- cross-source overlap audit --

#: n-gram width for the cross-source contamination audit (longer grams =
#: near-certain true duplication, the train/test-leak setting)
OVERLAP_N = 8


def _overlap_grams(docs: DataFrame) -> DataFrame:
    """Distinct (source, gh) gram vocabulary — the melt both overlap
    audits share. md5 makes the distinct/join key fixed-width; keying
    the shingle melt by source instead of doc_id folds the per-doc
    dimension away before the distinct."""
    from bigdata_project_spark.operators.text_dedup import shingle_rows_raw

    return (
        shingle_rows_raw(
            docs.select(F.col("source").alias("doc_id"), "text"), OVERLAP_N
        )
        .select(
            F.col("doc_id").alias("source"),
            F.md5(F.encode(F.col("shingle"), "UTF-8")).alias("gh"),
        )
        .distinct()
    )


def query_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap audit: for every pair of document
    sources that share at least one distinct OVERLAP_N-token gram,
    report the shared-gram count and Jaccard similarity of their gram
    vocabularies — the standard train/test-contamination and
    source-redundancy screen (the per-doc benchmark form of this is
    ``text_decontaminate``; this is the corpus-level source-pair view).
    Pairs sharing zero grams are deliberately absent: the audit reports
    overlap, and at thousands of sources the zero-pair cross product
    would dominate the output for no signal.

    Scale shape: tokenize + gram-melt is map-side; ONE distinct hash
    aggregate builds the (gram, source) vocabulary (uniform md5 keys);
    the self-join is co-partitioned on the gram hash with per-gram
    fan-out bounded by the source count (not the corpus); totals and the
    final joins touch only source-cardinality rows. At thousands of
    sources, swap the pairwise join for per-gram source-bitmap
    aggregation — the melt and distinct are unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = _overlap_grams(docs).localCheckpoint(
        eager=False  # consumed three times (pair join both sides + totals)
    )
    totals = grams.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = grams.alias("a"), grams.alias("b")
    shared = (
        a.join(b, "gh")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return _with_jaccard(
        shared.join(
            totals.select(F.col("source").alias("source_a"), F.col("n").alias("n_a")),
            "source_a",
        ).join(
            totals.select(F.col("source").alias("source_b"), F.col("n").alias("n_b")),
            "source_b",
        )
    )


def _with_jaccard(pairs: DataFrame) -> DataFrame:
    """The source-pair overlap columns of ``pairs``, with the Jaccard of
    the two sources' gram sets."""
    return pairs.select(
        "source_a",
        "source_b",
        "n_shared",
        "n_a",
        "n_b",
        round_portable(
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")), 6
        ).alias("jaccard"),
    )


def _overlap_gram_sql() -> str:
    n = OVERLAP_N
    return f"""
    SELECT DISTINCT source,
           md5(array_to_string(t[i:i + {n - 1}], ' ')) AS gh
    FROM (SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents)
         , UNNEST(range(1, len(t) - {n - 2})) AS r(i)
    WHERE len(t) >= {n}
    """


ORACLE_TEXT_SOURCE_OVERLAP = f"""
WITH grams AS ({_overlap_gram_sql()}),
totals AS (SELECT source, COUNT(*) AS n FROM grams GROUP BY source),
shared AS (
    SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
    FROM grams a JOIN grams b USING (gh)
    WHERE a.source < b.source
    GROUP BY 1, 2
)
SELECT s.source_a, s.source_b, s.n_shared, ta.n AS n_a, tb.n AS n_b,
       {round_portable_sql("s.n_shared / (ta.n + tb.n - s.n_shared)", 6)} AS jaccard
FROM shared s
JOIN totals ta ON ta.source = s.source_a
JOIN totals tb ON tb.source = s.source_b
"""


def source_overlap_bitmap(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The thousands-of-sources escape hatch the pairwise audit's
    docstring promises, over any (source, text) frame: identical output
    to :func:`query_text_source_overlap`, but the per-gram work is a
    SOURCE BITMAP aggregation instead of a gram-keyed self-join.

    The self-join emits one row per (gram, source-pair) — fan-out
    quadratic in per-gram source count. Here each gram folds to
    ceil(S/64) longs via bit_or (one hash aggregate), then grams
    COLLAPSE BY IDENTICAL BITMAP, so the pair explode runs once per
    distinct source-combination, not once per gram. The source
    dimension (names -> bit index, lexicographic so idx order == the
    pairwise query's string order) is collected once at plan time.
    Unregistered; tests/test_text_signals.py checks it against the
    pairwise query on the fixture and on a >64-source planted corpus."""
    sources = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )
    n_src = len(sources)
    n_words = (n_src + 63) // 64
    idx_df = F.broadcast(
        spark.createDataFrame(
            [(s, i) for i, s in enumerate(sources)], "source string, idx int"
        )
    )
    grams = _overlap_grams(docs).join(idx_df, "source")
    # per-gram bitmap: one bit_or per 64-source word, single hash agg
    word_aggs = [
        F.bit_or(
            F.when(
                F.expr("idx DIV 64") == w,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("bigint"))
        ).alias(f"w{w}")
        for w in range(n_words)
    ]
    bm = (
        grams.groupBy("gh")
        .agg(*word_aggs)
        .select(F.array(*[F.col(f"w{w}") for w in range(n_words)]).alias("bitmap"))
        .groupBy("bitmap")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        # consumed twice (totals + pair explode): the distinct-bitmap
        # frame is tiny, so materializing it is free
        .localCheckpoint(eager=False)
    )
    # decode set bits; arithmetic shiftright is safe under &1
    idxs = F.expr(
        f"filter(sequence(0, {n_src - 1}),"
        " i -> (shiftright(element_at(bitmap, CAST(i DIV 64 AS INT) + 1),"
        " CAST(i % 64 AS INT)) & 1) = 1)"
    )
    with_idxs = bm.select(idxs.alias("idxs"), "n_grams")
    totals = (
        with_idxs.select(F.explode("idxs").alias("idx"), "n_grams")
        .groupBy("idx")
        .agg(F.sum("n_grams").alias("n"))
    )
    pairs_expr = F.expr(
        "flatten(transform(idxs, (x, xi) ->"
        " transform(slice(idxs, xi + 2, size(idxs)),"
        " y -> named_struct('ia', x, 'ib', y))))"
    )
    shared = (
        with_idxs.filter(F.size("idxs") >= 2)
        .select(F.explode(pairs_expr).alias("p"), "n_grams")
        .groupBy(F.col("p.ia").alias("ia"), F.col("p.ib").alias("ib"))
        .agg(F.sum("n_grams").alias("n_shared"))
    )
    names_a = idx_df.select(F.col("idx").alias("ia"), F.col("source").alias("source_a"))
    names_b = idx_df.select(F.col("idx").alias("ib"), F.col("source").alias("source_b"))
    return _with_jaccard(
        shared.join(totals.select(F.col("idx").alias("ia"), F.col("n").alias("n_a")), "ia")
        .join(totals.select(F.col("idx").alias("ib"), F.col("n").alias("n_b")), "ib")
        .join(F.broadcast(names_a), "ia")
        .join(F.broadcast(names_b), "ib")
    )


QUERIES = {
    "text_url_domains": (query_text_url_domains, ORACLE_TEXT_URL_DOMAINS),
    "text_source_overlap": (query_text_source_overlap, ORACLE_TEXT_SOURCE_OVERLAP),
    "pipeline_sample_stratified": (query_sample_stratified, ORACLE_SAMPLE_STRATIFIED),
    "text_bigram_lm": (query_text_bigram_lm, ORACLE_TEXT_BIGRAM_LM),
    "text_decontaminate": (query_text_decontaminate, ORACLE_TEXT_DECONTAMINATE),
    "text_pii_redact": (query_text_pii_redact, ORACLE_TEXT_PII_REDACT),
    "text_repetition": (query_text_repetition, ORACLE_TEXT_REPETITION),
    "dedup_url_canonical": (query_dedup_url_canonical, ORACLE_DEDUP_URL_CANONICAL),
}
