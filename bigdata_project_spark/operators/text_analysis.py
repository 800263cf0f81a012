"""Text-analysis operators over ``documents``: language-ID, quality
scoring, token counting, document fingerprinting.

All per-row expression work (plus one explode+aggregate for the marker
scorer and fingerprint) — zero Python in the row path, every query
oracle-checked against DuckDB with portable arithmetic.

Scale: per-row expressions are map-only; the explode-based scorers are a
single combiner-friendly hash aggregate on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import WORD_HASH16_SQL, tokens, word_hash16
from bigdata_project_spark.sources.readers import load_table

# ------------------------------------------------------------ token count --

# BPE-ish segmentation: letter runs, digit runs, single non-space symbols.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def query_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_RE)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
        round_portable(
            F.length(F.regexp_replace(F.lower("text"), r"[^a-z]", ""))
            / F.greatest(F.length("text"), F.lit(1)),
            6,
        ).alias("alpha_ratio"),
    )


ORACLE_TOKEN_STATS = f"""
SELECT doc_id,
       len(string_split_regex(lower(trim(text)), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
       length(text) AS n_chars_actual,
       {round_portable_sql("length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 1.0 / greatest(length(text), 1)", 6)} AS alpha_ratio
FROM documents
"""

# ---------------------------------------------------------------- lang id --

_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "los"),
    "de": ("der", "die", "und", "das", "ist"),
}


def query_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language guess (n-gram-heuristic family): count marker
    hits per language over exploded tokens, argmax with a fixed tie order.
    The fixture text is synthetic word soup, so the *guess* is arbitrary —
    what's verified is the distributed scoring machinery."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w"))
    scores = words.groupBy("doc_id", "lang").agg(
        *[
            F.sum(F.when(F.col("w").isin(*marks), 1).otherwise(0)).cast("bigint").alias(f"s_{lang}")
            for lang, marks in _MARKERS.items()
        ]
    )
    guess = (
        F.when(
            (F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de")), "en"
        )
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de")
    )
    return scores.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        "s_en",
        "s_es",
        "s_de",
        guess.alias("guessed_lang"),
    )


def _marker_case(lang: str) -> str:
    marks = ", ".join(f"'{m}'" for m in _MARKERS[lang])
    return f"CAST(SUM(CASE WHEN w IN ({marks}) THEN 1 ELSE 0 END) AS BIGINT) AS s_{lang}"


ORACLE_LANG_ID = f"""
WITH words AS (
    SELECT doc_id, lang, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
),
scores AS (
    SELECT doc_id, lang,
           {_marker_case("en")},
           {_marker_case("es")},
           {_marker_case("de")}
    FROM words GROUP BY doc_id, lang
)
SELECT doc_id, lang AS labeled_lang, s_en, s_es, s_de,
       CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
            WHEN s_es >= s_de THEN 'es'
            ELSE 'de' END AS guessed_lang
FROM scores
"""

def query_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 tokens by frequency with doc frequency —
    the tokenizer-training precursor (BPE merges start from exactly this
    table). One explode + one hash aggregate; top-k via
    TakeOrderedAndProject, deterministic tiebreak on the token."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    return (
        words.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("w").asc())
        .limit(100)
    )


ORACLE_VOCAB_TOPK = """
SELECT w, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM (
    SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
)
GROUP BY w
ORDER BY tf DESC, w ASC
LIMIT 100
"""


def query_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights over the top-50 vocabulary for the first 20 docs —
    the classic sparse doc-vector builder. The vocab is broadcast (it is
    always tiny relative to the corpus); term counting is one explode +
    hash aggregate; N and the join are the only other moving parts.

    ln() is not IEEE-correctly-rounded and may differ between libms in
    the last ulp — the 1e-6 rounding absorbs ~1e-15 relative error, the
    same contract the cosine/sqrt operators rely on.

    r16: N is a broadcast 1-row COUNT aggregate cross-joined onto the
    (tiny, post-aggregation) tf⋈vocab frame — the oracle's own scalar
    subquery shape — instead of a driver ``docs.count()``: one action,
    one fewer full corpus pass (count(*) pruned all columns, but at
    100 TB it still lists and scans row-group footers of every file)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs_df = docs.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("tf_corpus"), F.count_distinct("doc_id").alias("df"))
        .orderBy(F.col("tf_corpus").desc(), F.col("w").asc())
        .limit(50)
        .select("w", "df")
    )
    tf = (
        words.filter(F.col("doc_id") < 20)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.join(F.broadcast(vocab), "w")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "doc_id",
            "w",
            "tf",
            "df",
            round_portable(
                F.col("tf").cast("double")
                * F.log(F.col("__n_docs") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )


ORACLE_TFIDF = f"""
WITH words AS (
    SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM documents
),
vocab AS (
    SELECT w, COUNT(DISTINCT doc_id) AS df
    FROM words
    GROUP BY w
    ORDER BY COUNT(*) DESC, w ASC
    LIMIT 50
),
tf AS (
    SELECT doc_id, w, COUNT(*) AS tf
    FROM words WHERE doc_id < 20
    GROUP BY doc_id, w
)
SELECT doc_id, tf.w AS w, tf, df,
       {round_portable_sql(
           "CAST(tf AS DOUBLE) * ln((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) / CAST(df AS DOUBLE))",
           6,
       )} AS tfidf
FROM tf JOIN vocab ON tf.w = vocab.w
"""


# ---------------------------------------------------------- quality score --

_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "for", "on", "at")


def query_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality: length, punctuation density, stopword
    ratio, mean word length — the standard cheap pre-filter for LLM data."""
    return quality_frame(load_table(spark, sf_dir, "documents"))


def quality_frame(docs: DataFrame, carry: list[str] | None = None) -> DataFrame:
    """Per-row quality projection (no shuffle). ``carry`` lists extra
    input columns to pass through the select — callers that need them
    alongside the scores can then skip a doc_id self-join back onto
    their input (r16: clean_corpus re-derived its whole deduped-corpus
    subtree for exactly that join)."""
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    n_punct = F.length(F.regexp_replace("text", r"[^\.,;:!\?]", ""))
    mean_wl = F.aggregate(
        toks, F.lit(0.0), lambda acc, w: acc + F.length(w).cast("double")
    ) / F.greatest(n_tok, F.lit(1)).cast("double")
    stop_ratio = n_stop.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    punct_ratio = n_punct.cast("double") / F.greatest(F.length("text"), F.lit(1)).cast("double")
    length_score = F.least(F.length("text").cast("double") / 500.0, F.lit(1.0))
    quality = length_score * 0.4 + stop_ratio * 0.3 + (1.0 - punct_ratio) * 0.2 + F.least(mean_wl / 10.0, F.lit(1.0)) * 0.1
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        round_portable(stop_ratio, 6).alias("stopword_ratio"),
        round_portable(punct_ratio, 6).alias("punct_ratio"),
        round_portable(mean_wl, 6).alias("mean_word_len"),
        round_portable(quality, 6).alias("quality"),
        *(carry or []),
    )


_stop_list = ", ".join(f"'{w}'" for w in _STOPWORDS)


def quality_sql(src: str) -> str:
    """The quality-score SQL twin over an arbitrary (doc_id, text)
    relation — embeddable as a CTE body (dedup_cluster's canonical-pick
    reuses it over the duplicated corpus)."""
    return _QUALITY_SQL_T.format(src=src)


_QUALITY_SQL_T = f"""
WITH base AS (
    SELECT doc_id, text,
           string_split_regex(lower(trim(text)), '\\s+') AS toks
    FROM {{src}}
),
m AS (
    SELECT doc_id, text, toks,
           len(toks) AS n_tok,
           len([w for w in toks if w IN ({_stop_list})]) AS n_stop,
           length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g')) AS n_punct,
           list_reduce(list_prepend(0.0, [CAST(length(w) AS DOUBLE) for w in toks]), (x, y) -> x + y)
               / CAST(greatest(len(toks), 1) AS DOUBLE) AS mean_wl
    FROM base
)
SELECT doc_id,
       n_tok AS n_tokens,
       {round_portable_sql("n_stop * 1.0 / greatest(n_tok, 1)", 6)} AS stopword_ratio,
       {round_portable_sql("n_punct * 1.0 / greatest(length(text), 1)", 6)} AS punct_ratio,
       {round_portable_sql("mean_wl", 6)} AS mean_word_len,
       {round_portable_sql(
           "least(length(text) * 1.0 / 500.0, 1.0) * 0.4"
           " + (n_stop * 1.0 / greatest(n_tok, 1)) * 0.3"
           " + (1.0 - n_punct * 1.0 / greatest(length(text), 1)) * 0.2"
           " + least(mean_wl / 10.0, 1.0) * 0.1",
           6,
       )} AS quality
FROM m
"""

ORACLE_QUALITY_SCORE = quality_sql("documents")

# ------------------------------------------------------------ fingerprint --

_MOD = 1_000_000_007
_BASE = 131


def query_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial fingerprint over token hashes:
    fold acc → (acc*131 + h(w)) mod 1e9+7 — order-sensitive, so it
    distinguishes permutations (unlike bag-of-words hashes). Pure
    sequential fold per row; identical in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # A Spark lambda's variable has no SQL name, so this hash stays a Column.
    hashes = F.transform(toks, lambda w: word_hash16(w).cast("bigint"))
    fp = F.aggregate(
        hashes,
        F.lit(0).cast("bigint"),
        lambda acc, h: (acc * _BASE + h) % _MOD,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


ORACLE_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        [CAST({WORD_HASH16_SQL.format(w="w")} AS BIGINT)
                         for w in string_split_regex(lower(trim(text)), '\\s+')]),
           (acc, h) -> (acc * {_BASE} + h) % {_MOD}
       ) AS fingerprint
FROM documents
"""


# ------------------------------------------------------ hashing trick --

#: fixed feature dimensionality for the hashed bag-of-ngrams
HASH_DIM = 64


def query_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: token bigrams hashed into a fixed
    HASH_DIM-dimensional count vector, emitted in sparse long form
    (doc_id, dim, n) — the fastText/Vowpal-Wabbit input representation,
    and the feature stage ahead of any linear quality classifier over
    the corpus.

    Spark-first shape: build the bigram array per row with ``zip_with``
    over the token array and its tail (no self-join), explode, hash with
    the engine-portable md5-based word hash, ONE combiner-friendly
    aggregate on (doc_id, dim). Output rows ≤ docs × HASH_DIM regardless
    of text length; the hash space is fixed, so downstream feature
    tables never reshape as the corpus grows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    exploded = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    return (
        exploded.select("doc_id", F.expr(_DIM_SQL).alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: a bigram's feature dimension, in both engines
_DIM_SQL = f"CAST({WORD_HASH16_SQL.format(w='bg')} % {HASH_DIM} AS INT)"

ORACLE_HASHING_FEATURES = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
),
bigrams AS (
    SELECT doc_id,
           unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))]) AS bg
    FROM toks
)
SELECT doc_id,
       {_DIM_SQL} AS dim,
       COUNT(*) AS n
FROM bigrams
GROUP BY doc_id, dim
"""


# ---------------------------------------------------- n-gram novelty --


def query_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a doc's DISTINCT word trigrams
    whose first corpus occurrence (minimum doc_id) is this document —
    the dedup-adjacent freshness signal used to down-weight boilerplate
    when ordering/weighting training data.

    Two combiner-friendly aggregates: distinct (doc, trigram) pairs,
    a min-agg per trigram for first-occurrence, then a count-agg per
    doc after a broadcast-free equi-join on the trigram key (both sides
    already hash-partitioned by it — Catalyst reuses the exchange).
    Docs with fewer than three tokens have no trigrams and drop out on
    both engines alike.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n3 = F.greatest(F.size(toks) - 2, F.lit(0))
    tri = F.zip_with(
        F.zip_with(
            F.slice(toks, 1, n3),
            F.slice(toks, 2, n3),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        F.slice(toks, 3, n3),
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    doc_tris = (
        docs.select("doc_id", F.explode(tri).alias("tri")).distinct()
    )
    firsts = doc_tris.groupBy("tri").agg(F.min("doc_id").alias("first_doc"))
    return (
        doc_tris.join(firsts, "tri")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_tri",
            F.col("n_novel").cast("bigint").alias("n_novel"),
            round_portable(
                (F.col("n_novel") * F.lit(1.0)) / F.col("n_tri"), 6
            ).alias("novelty"),
        )
    )


ORACLE_TEXT_NGRAM_NOVELTY = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
    FROM documents
),
doc_tris AS (
    SELECT DISTINCT doc_id,
           unnest([t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                   for i in range(1, len(t) - 1)]) AS tri
    FROM toks
),
firsts AS (SELECT tri, MIN(doc_id) AS first_doc FROM doc_tris GROUP BY tri)
SELECT d.doc_id,
       COUNT(*) AS n_tri,
       CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       {round_portable_sql("SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) * 1.0 / COUNT(*)", 6)} AS novelty
FROM doc_tris d JOIN firsts f USING (tri)
GROUP BY d.doc_id
"""


# ------------------------------------------------ linear quality scorer --

#: weight lattice size: w(dim) = (hash16('w:'||dim) % 2001 - 1000) milli-units
_W_SPAN = 2001
_W_MILLI_SQL = f"""(({WORD_HASH16_SQL.format(w="'w:' || CAST(dim AS STRING)")}) % {_W_SPAN} - 1000)"""


def query_text_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (fastText-style) classifier scoring over the hashed bigram
    features: score(doc) = Σ_dim n(doc, dim) · w(dim) — the inference
    stage of any bag-of-ngrams quality model, with deterministic
    engine-portable weights w(dim) ∈ [-1, 1] derived from the md5 hash
    of the dimension index (a stand-in for trained weights; the plan is
    what a real model would run).

    Integer milli-unit weights keep the whole score in exact BIGINT
    arithmetic — no float tolerance anywhere; the double `score` column
    is one exact division at the end. One hash aggregate on doc_id over
    the feature table; the weight is a per-row expression, not a join.
    """
    feats = query_hashing_features(spark, sf_dir)
    return (
        feats.groupBy("doc_id")
        .agg(F.expr(f"SUM(n * {_W_MILLI_SQL})").alias("score_milli"))
        .select(
            "doc_id",
            F.col("score_milli").cast("bigint").alias("score_milli"),
            (F.col("score_milli") / F.lit(1000.0)).alias("score"),
        )
    )


ORACLE_TEXT_QUALITY_LINEAR = f"""
WITH feats AS ({ORACLE_HASHING_FEATURES}),
scored AS (
    SELECT doc_id,
           SUM(n * {_W_MILLI_SQL}) AS score_milli
    FROM feats
    GROUP BY doc_id
)
SELECT doc_id,
       CAST(score_milli AS BIGINT) AS score_milli,
       score_milli / 1000.0 AS score
FROM scored
"""


# ----------------------------------------------------- inverted index --

#: minimum document frequency for a term to enter the index summary
IDX_MIN_DF = 5


def query_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index summary: for every term with document frequency ≥
    IDX_MIN_DF, its df, collection frequency, and the head posting (the
    doc where it occurs most, ties to the lowest doc_id) — the
    statistics a BM25/posting-list build materializes per term.

    Plan: one tokenize+explode (map-side), one (term, doc) hash
    aggregate, one term aggregate where the head posting falls out of a
    max over (tf, -doc_id) structs — all combiner-friendly, key space =
    vocabulary, no windows, no joins."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    best = F.max(F.struct(F.col("tf"), (-F.col("doc_id")).alias("neg_doc")))
    agg = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
        best.alias("best"),
    )
    return agg.filter(F.col("df") >= IDX_MIN_DF).select(
        "term",
        "df",
        "cf",
        (-F.col("best.neg_doc")).alias("top_doc_id"),
        F.col("best.tf").alias("top_tf"),
    )


ORACLE_TEXT_INVERTED_INDEX = f"""
WITH tf AS (
    SELECT term, doc_id, COUNT(*) AS tf
    FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
        FROM documents
    )
    GROUP BY term, doc_id
),
ranked AS (
    SELECT term, doc_id, tf,
           COUNT(*) OVER (PARTITION BY term) AS df,
           SUM(tf) OVER (PARTITION BY term) AS cf,
           row_number() OVER (
               PARTITION BY term ORDER BY tf DESC, doc_id ASC
           ) AS rn
    FROM tf
)
SELECT term, df, CAST(cf AS BIGINT) AS cf,
       doc_id AS top_doc_id, tf AS top_tf
FROM ranked
WHERE rn = 1 AND df >= {IDX_MIN_DF}
"""


QUERIES = {
    "text_hashing_features": (query_hashing_features, ORACLE_HASHING_FEATURES),
    "text_ngram_novelty": (query_text_ngram_novelty, ORACLE_TEXT_NGRAM_NOVELTY),
    "text_quality_linear": (query_text_quality_linear, ORACLE_TEXT_QUALITY_LINEAR),
    "text_fingerprint": (query_fingerprint, ORACLE_FINGERPRINT),
    "text_lang_id": (query_lang_id, ORACLE_LANG_ID),
    "text_inverted_index": (query_text_inverted_index, ORACLE_TEXT_INVERTED_INDEX),
    "text_quality_score": (query_quality_score, ORACLE_QUALITY_SCORE),
    "text_tfidf": (query_tfidf, ORACLE_TFIDF),
    "text_token_stats": (query_token_stats, ORACLE_TOKEN_STATS),
    "text_vocab_topk": (query_vocab_topk, ORACLE_VOCAB_TOPK),
}
