"""Training-batch assembly operators: sequence packing + domain mixture.

Two ops every LLM pretraining pipeline runs between "clean corpus" and
"write training shards" (beyond the reference's own surface — its silver
layer stops at conformed tables, reference silver/** — these are the
next stage a 100 TB corpus needs):

- **Sequence packing** (``pack_sequences``): concatenate documents in a
  deterministic order and split the token stream into fixed-size
  training sequences (GPT-style concat-and-chunk, documents spanning
  chunk boundaries split across them). The core primitive is a GLOBAL
  prefix sum of token counts — the naive Spark form is a window over an
  unpartitioned ordering, i.e. every row through ONE reducer, which is
  exactly what dies at 100 TB. Implemented instead as the textbook
  two-pass distributed scan:

      1. per-bucket token sums (one combiner-friendly hash agg),
      2. exclusive cumsum over the tiny bucket table (thousands of rows
         even at 100 TB — window over a broadcast-sized frame),
      3. broadcast the bucket offsets back; within-bucket window cumsum
         (partitioned by bucket → parallel across buckets).

  Per-doc offsets then yield each doc's [start_bin, end_bin] span by
  integer arithmetic; ``F.sequence`` explodes the span and one hash agg
  per sequence finishes. No stage sees an unpartitioned window.

- **Domain mixture** (``domain_mixture``): deterministically subsample
  each domain so the kept corpus matches target mixture weights — the
  "20% code, 50% web …" knob. Feasible total T = min_d(n_d / w_d);
  keep floor(w_d * T) docs of domain d, selected by md5(doc_id) rank so
  the sample is stable across runs and layouts. The per-domain
  ROW_NUMBER here is one reducer per domain — fine for the checked
  output; the 100 TB path replaces the rank with a hash-bucket
  histogram cut (count docs per (domain, first-16-bits-of-md5) bucket,
  cumsum the 64Ki-row histogram, keep whole buckets below the cut and
  rank only the single boundary bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import tokens
from bigdata_project_spark.sources.readers import load_table

#: training sequence length (tokens) for the registered query
SEQ_LEN = 512
#: docs per prefix-sum bucket; at 100 TB bump so the bucket table stays
#: ~thousands of rows (its cumsum is the only single-partition step)
BUCKET_DOCS = 128


def _pack_segments(docs: DataFrame, seq_len: int) -> DataFrame:
    """The shared packing core: one row per (doc_id, seq_id) carrying the
    doc's global token offset ``off`` and length ``tok`` — everything
    both the count summary (:func:`pack_sequences`) and the trainer
    segment contract (:func:`pack_sequences_masked`) need is integer
    arithmetic over these three columns, so the variants differ by
    projections only (identical shuffle set)."""
    toks = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("tok"),
        F.expr(f"doc_id div {BUCKET_DOCS}").alias("bucket"),
        # tok == 0 would make end_bin = start_bin - 1: F.sequence walks it
        # DESCENDING (2 spurious rows) where generate_series returns empty.
        # tokens('') yields [''] (size 1) so it can't happen on whitespace
        # tokenization, but don't lean on that invariant — zero-token docs
        # contribute no sequence tokens either way.
    ).filter(F.col("tok") > 0)
    # pass 1: per-bucket totals (tiny), exclusive cumsum over buckets
    bucket_tot = toks.groupBy("bucket").agg(F.sum("tok").alias("btok"))
    # single-value partition key (bucket % 1 — non-foldable, so it
    # survives the optimizer): the frame is the per-bucket rollup, tiny
    # by construction, and one task is intended. A bare orderBy would
    # execute identically but spam the WindowExec single-partition
    # warning over a deliberately bounded frame.
    w_b = (
        Window.partitionBy(F.col("bucket") % 1)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_off = bucket_tot.select(
        "bucket", F.coalesce(F.sum("btok").over(w_b), F.lit(0)).alias("boff")
    )
    # pass 2: within-bucket exclusive cumsum, shifted by the bucket offset
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = toks.join(F.broadcast(bucket_off), "bucket").select(
        "doc_id",
        "tok",
        (F.coalesce(F.sum("tok").over(w_in), F.lit(0)) + F.col("boff")).alias("off"),
    )
    spans = offs.select(
        "doc_id",
        "tok",
        "off",
        F.expr(f"off div {seq_len}").alias("start_bin"),
        F.expr(f"(off + tok - 1) div {seq_len}").alias("end_bin"),
    )
    return spans.select(
        "doc_id",
        "off",
        "tok",
        F.explode(F.sequence("start_bin", "end_bin")).alias("seq_id"),
    )


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Assign every document a [start_bin, end_bin] span of training
    sequences via a distributed prefix sum over whitespace-token counts.

    Returns one row per (doc_id, seq_id) with the token count that doc
    contributes to that sequence.
    """
    return _pack_segments(docs, SEQ_LEN).select(
        "doc_id",
        "seq_id",
        (
            F.least(F.col("off") + F.col("tok"), (F.col("seq_id") + 1) * SEQ_LEN)
            - F.greatest(F.col("off"), F.col("seq_id") * SEQ_LEN)
        ).alias("seq_tokens"),
    )


def pack_sequences_masked(docs: DataFrame) -> DataFrame:
    """The trainer-contract form of packing: one row per (seq_id, doc)
    SEGMENT with its position range inside the sequence and the
    boundary/loss-mask fields a dataloader materializes attention and
    loss masks from —

    - ``seg_start``/``seg_len``: the segment's [start, start+len) token
      window within the SEQ_LEN-token sequence (segments of one
      sequence tile it left-to-right; the last sequence may end short —
      the pad tail is ``SEQ_LEN - sum(seg_len)``, derivable, not a row);
    - ``doc_start``: the document's first token lies in this sequence —
      the position that gets the BOS/boundary token and (convention)
      no loss; also where block-diagonal attention resets;
    - ``doc_end``: the document finishes in this sequence (false = it
      continues into the next one, the split-across-boundary case);
    - ``loss_tokens``: ``seg_len`` minus the masked boundary position
      (``seg_len - 1`` when the doc starts here, else ``seg_len``).

    Same two-pass distributed prefix sum as :func:`pack_sequences` —
    the contract fields are pure integer arithmetic over (off, tok,
    seq_id), so the plan's shuffle set is IDENTICAL to the summary
    variant's (plan-asserted in tests)."""
    seg = _pack_segments(docs, SEQ_LEN)
    seq_lo = F.col("seq_id") * SEQ_LEN
    seg_start_abs = F.greatest(F.col("off"), seq_lo)
    seg_end_abs = F.least(F.col("off") + F.col("tok"), seq_lo + SEQ_LEN)
    doc_start = F.col("off") >= seq_lo
    return seg.select(
        "seq_id",
        "doc_id",
        (seg_start_abs - seq_lo).alias("seg_start"),
        (seg_end_abs - seg_start_abs).alias("seg_len"),
        doc_start.alias("doc_start"),
        (F.col("off") + F.col("tok") <= seq_lo + SEQ_LEN).alias("doc_end"),
        (
            seg_end_abs - seg_start_abs - doc_start.cast("long")
        ).alias("loss_tokens"),
    )


def query_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence packing summary: how many docs feed each training
    sequence and the doc-id range it covers (boundary docs count in both
    neighbours)."""
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs)
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("seq_tokens").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# Each non-empty document's whitespace token count ``tok`` and its
# offset ``off`` in the doc_id-ordered token stream, as oracle CTEs.
_OFFS_SQL = """toks AS (
    SELECT * FROM (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS tok
        FROM documents
    ) WHERE tok > 0
),
offs AS (
    SELECT doc_id, tok,
           COALESCE(SUM(tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
    FROM toks
)"""

# ... and one ``exploded`` row per (document, SEQ_LEN bin it spans).
_BINS_SQL = f"""{_OFFS_SQL},
spans AS (
    SELECT doc_id, tok, CAST(off AS BIGINT) AS off,
           CAST(off // {SEQ_LEN} AS BIGINT) AS start_bin,
           CAST((off + tok - 1) // {SEQ_LEN} AS BIGINT) AS end_bin
    FROM offs
),
exploded AS (
    SELECT doc_id, off, tok,
           unnest(generate_series(start_bin, end_bin)) AS seq_id
    FROM spans
)"""


ORACLE_PACK_SEQUENCES = f"""
WITH {_BINS_SQL},
scored AS (
    SELECT doc_id, seq_id,
           least(off + tok, (seq_id + 1) * {SEQ_LEN})
             - greatest(off, seq_id * {SEQ_LEN}) AS seq_tokens
    FROM exploded
)
SELECT seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(seq_tokens) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM scored
GROUP BY seq_id
"""

def query_pack_sequences_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment trainer contract over the documents corpus — see
    :func:`pack_sequences_masked`."""
    return pack_sequences_masked(load_table(spark, sf_dir, "documents"))


ORACLE_PACK_SEQUENCES_MASKED = f"""
WITH {_BINS_SQL}
SELECT seq_id,
       doc_id,
       greatest(off, seq_id * {SEQ_LEN}) - seq_id * {SEQ_LEN} AS seg_start,
       least(off + tok, (seq_id + 1) * {SEQ_LEN})
         - greatest(off, seq_id * {SEQ_LEN}) AS seg_len,
       off >= seq_id * {SEQ_LEN} AS doc_start,
       off + tok <= (seq_id + 1) * {SEQ_LEN} AS doc_end,
       least(off + tok, (seq_id + 1) * {SEQ_LEN})
         - greatest(off, seq_id * {SEQ_LEN})
         - CAST(off >= seq_id * {SEQ_LEN} AS BIGINT) AS loss_tokens
FROM exploded
"""

#: mixture weight numerators: domain ``src{i}`` gets weight (i+1)/210
_W_DENOM = 210.0


def query_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture subsample of `documents` by `source`.

    Target weight for domain ``src{i}`` is (i+1)/210 (sum of 1..20); the
    feasible total is capped by the scarcest domain relative to its
    weight, then each domain keeps its floor(w*T) docs with the smallest
    md5(doc_id) — a replay-stable sample independent of partitioning.
    """
    # Explicit domain-name contract, anchored and digit-bounded: an
    # unanchored src(\d+) admits tags like 'xsrc3y' or an overlong
    # 'src99999999999999999' whose INT cast is NULL on Spark (non-ANSI)
    # but an ERROR on DuckDB — the anchored ^src\d{1,9}$ filter makes
    # the subsequent cast total on BOTH engines (9 digits always fit
    # INT32; 10+ may overflow), so failure modes can't diverge
    # (ADVICE r4/r5) without narrowing any previously-valid tag.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").rlike(r"^src\d{1,9}$")
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    weighted = counts.select(
        "source",
        "n",
        (
            (F.regexp_extract("source", r"^src(\d{1,9})$", 1).cast("int") + 1) / F.lit(_W_DENOM)
        ).alias("w"),
    )
    cap = weighted.agg(F.min(F.col("n") / F.col("w")).alias("cap"))
    keep = weighted.crossJoin(F.broadcast(cap)).select(
        "source", F.floor(F.col("w") * F.col("cap")).alias("keep_n")
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w_rank).alias("rnk")
    )
    return (
        ranked.join(F.broadcast(keep), "source")
        .filter(F.col("rnk") <= F.col("keep_n"))
        .select("doc_id", "source")
    )


ORACLE_DOMAIN_MIXTURE = f"""
WITH d AS (
    SELECT doc_id, source FROM documents
    WHERE regexp_matches(source, '^src\\d{{1,9}}$')
),
c AS (
    SELECT source, COUNT(*) AS n,
           (CAST(regexp_extract(source, '^src(\\d{{1,9}})$', 1) AS INT) + 1) / {_W_DENOM} AS w
    FROM d
    GROUP BY source
),
t AS (SELECT MIN(n / w) AS cap FROM c),
k AS (SELECT source, CAST(floor(w * cap) AS BIGINT) AS keep_n FROM c, t),
r AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
    FROM d
)
SELECT r.doc_id, r.source
FROM r JOIN k USING (source)
WHERE rnk <= keep_n
"""


# ------------------------------------------------- domain reweighting --


def query_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain importance weights for a uniform target mixture
    (DoReMi-style reweighting, the sampling-weight precursor to
    ``query_domain_mixture``'s hard subsample): weight_s = target_share
    / observed_share = N / (S · n_s). Emits per-domain observed share,
    the resampling weight, and the effective epoch document count
    n_s · weight (uniform by construction — the oracle pins the
    algebra, not just the shares).

    One hash aggregate on `source` + a broadcast of the 1-row (N, S)
    totals: O(domains) work after the scan at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").cast("double").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("ss"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        round_portable(F.col("n_docs") / F.col("nn"), 6).alias("share"),
        round_portable(F.col("nn") / (F.col("ss") * F.col("n_docs")), 6).alias(
            "weight"
        ),
        round_portable(
            F.col("n_docs") * (F.col("nn") / (F.col("ss") * F.col("n_docs"))), 6
        ).alias("effective_n"),
    )


ORACLE_DOMAIN_REWEIGHT = f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(n_docs) AS DOUBLE) AS nn, CAST(COUNT(*) AS DOUBLE) AS ss
    FROM counts
)
SELECT source, n_docs,
       {round_portable_sql("n_docs / nn", 6)} AS share,
       {round_portable_sql("nn / (ss * n_docs)", 6)} AS weight,
       {round_portable_sql("n_docs * (nn / (ss * n_docs))", 6)} AS effective_n
FROM counts, tot
"""


# ------------------------------------------------------- shard manifest --

#: token budget per output shard for the registered manifest query
SHARD_TOKENS = 4096


def query_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard manifest: assign WHOLE documents to fixed-token-budget
    training shards (docs never split — the shard-file counterpart of
    ``pack_sequences``, which splits) and emit one manifest row per
    shard: doc count, token sum, doc-id range. This is the "write N
    balanced files" planning step every corpus export runs; the
    manifest is what a trainer's data loader indexes.

    Shard id is floor(cumulative-token-offset / budget) of each doc's
    FIRST token — deterministic, order-preserving, and computed with
    the same two-pass distributed prefix sum as packing (per-bucket
    sums -> tiny bucket cumsum -> broadcast back; no global window).
    Shards may overflow their budget by at most one document (the
    standard greedy bound) — budget+max_doc is the true file-size cap.
    """
    docs = load_table(spark, sf_dir, "documents")
    seg = _pack_segments(docs, SHARD_TOKENS)
    # _pack_segments explodes docs spanning bin boundaries; the manifest
    # wants each doc exactly once, in the shard its first token lands in
    # = its minimum bin. Dropping the duplicated boundary rows is a
    # filter on off: the doc's own start bin is off div budget.
    first_bin = seg.filter(
        F.col("seq_id") == F.expr(f"off div {SHARD_TOKENS}")
    ).select("doc_id", F.col("seq_id").alias("shard_id"), "tok")
    return first_bin.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


ORACLE_SHARD_MANIFEST = f"""
WITH {_OFFS_SQL}
SELECT CAST(off // {SHARD_TOKENS} AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM offs
GROUP BY 1
"""


# ------------------------------------------- temperature-scaled mixture --

#: temperature exponent for the sampling distribution q_i ∝ p_i^alpha —
#: the standard multilingual/multi-domain up-weighting of rare sources
#: (alpha=1 is proportional, alpha=0 uniform)
MIX_ALPHA = 0.3
#: sampling budget for the expected-docs readout (docs)
MIX_BUDGET = 10_000


def query_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain sampling weights: q_i ∝ p_i^alpha over
    the per-source document shares — the standard way multilingual /
    multi-domain pretraining up-weights rare sources without flattening
    the mixture entirely. Per source: docs, share p, sampling weight q,
    and expected docs drawn under a MIX_BUDGET-doc budget.

    Float-parity note: p_i^alpha is transcendental (engine libm pow,
    same accepted class as the HLL ln branch) — but its NORMALIZATION is
    made order-free by rounding each p^alpha to a scaled INTEGER first
    (floor(x*1e6 + 0.5), exact on both engines) and summing integers, so
    Spark's partition-parallel sum and DuckDB's sequential one cannot
    diverge; q is then one IEEE division of exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    p = F.col("n_docs") / F.col("total").cast("double")
    r = F.floor(
        F.pow(p, F.lit(MIX_ALPHA)) * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    scored = counts.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", p.alias("p"), r.alias("r")
    )
    rsum = scored.agg(F.sum("r").alias("rsum"))
    q = F.col("r") / F.col("rsum").cast("double")
    return scored.crossJoin(F.broadcast(rsum)).select(
        "source",
        "n_docs",
        round_portable(F.col("p"), 6).alias("p"),
        round_portable(q, 6).alias("q"),
        round_portable(q * F.lit(float(MIX_BUDGET)), 6).alias("expected_docs"),
    )


ORACLE_MIXTURE_TEMPERATURE = f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total FROM counts),
scored AS (
    SELECT source, n_docs,
           n_docs / tot.total AS p,
           CAST(floor(pow(n_docs / tot.total,
                          CAST({MIX_ALPHA!r} AS DOUBLE)) * 1e6 + 0.5)
                AS BIGINT) AS r
    FROM counts, tot
),
rs AS (SELECT CAST(SUM(r) AS DOUBLE) AS rsum FROM scored)
SELECT source, n_docs,
       {round_portable_sql("p", 6)} AS p,
       {round_portable_sql("r / rs.rsum", 6)} AS q,
       {round_portable_sql(f"r / rs.rsum * CAST({float(MIX_BUDGET)!r} AS DOUBLE)", 6)}
           AS expected_docs
FROM scored, rs
"""


QUERIES = {
    "pipeline_domain_reweight": (query_domain_reweight, ORACLE_DOMAIN_REWEIGHT),
    "pipeline_pack_sequences": (query_pack_sequences, ORACLE_PACK_SEQUENCES),
    "pipeline_domain_mixture": (query_domain_mixture, ORACLE_DOMAIN_MIXTURE),
    "pipeline_pack_masked": (query_pack_sequences_masked, ORACLE_PACK_SEQUENCES_MASKED),
    "pipeline_shard_manifest": (query_shard_manifest, ORACLE_SHARD_MANIFEST),
    "pipeline_mixture_temperature": (query_mixture_temperature, ORACLE_MIXTURE_TEMPERATURE),
}
