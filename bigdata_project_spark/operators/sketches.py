"""Count-min sketch heavy hitters over the corpus token stream.

The frequency question every corpus curation loop asks — "which tokens
dominate?" — answered the way it has to be answered at 100 TB: with a
MERGEABLE FIXED-SIZE sketch (Cormode & Muthukrishnan 2005), not an
exact count table. The sketch is D×W = 4×256 counters; counter updates
are sums, and sums merge, so the counters can be folded from the raw
stream (map-side combine to ≤ D·W partial cells per partition — the
oracle's construction) or from any partition-local pre-aggregation
(the registered plan folds the per-token count table, tokenizing and
shuffling the corpus exactly once) — identical sketches either way.
Estimation probes the broadcast sketch:
est(t) = min over d of cell(d, hash_d(t)) — the classic upward-biased
point estimate.

Everything is integer arithmetic on the engine-portable md5 hash
(functions/text.py), so the DuckDB oracle reproduces the sketch — and
therefore the estimates and the top-k — exactly.

Candidate enumeration (the distinct-token pass) is the one
corpus-sized aggregate; real deployments feed a candidate set (query
log, previous top-k) instead. The sketch build itself never
materializes per-token state — that is the point of CMS.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import (
    WORD_HASH16_SQL,
    WORD_HASH32_SQL,
    tokens,
)
from bigdata_project_spark.sources.readers import load_table

#: sketch depth (independent hash rows) and width (counters per row)
CMS_DEPTH = 4
CMS_WIDTH = 256
TOP_K = 15


def _cell_sql(tok_expr: str, d: int) -> str:
    """Row-d counter index for a token, in both engines: md5-based 16-bit
    hash of the seed-prefixed token, folded onto the sketch width."""
    h = WORD_HASH16_SQL.format(w=f"'{d}:' || {tok_expr}")
    return f"({h}) % {CMS_WIDTH}"


def query_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))

    # One corpus pass: partition-local token pre-aggregation. Folding a
    # pre-aggregated (tok, n) table into the counters yields the SAME
    # sketch as folding the raw stream — counter updates are sums, and
    # sums merge; that mergeability is the whole CMS contract. This also
    # doubles as the candidate set, so the corpus is tokenized and
    # shuffled exactly once.
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))

    cells = counts.select(
        "tok",
        "n",
        F.posexplode(
            F.array(*[F.expr(_cell_sql("tok", d)) for d in range(CMS_DEPTH)])
        ).alias("d", "cell"),
    )
    sketch = cells.groupBy("d", "cell").agg(F.sum("n").alias("cnt"))

    est = (
        cells.join(F.broadcast(sketch), ["d", "cell"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est_n"))
    )
    return est.orderBy(F.desc("est_n"), "tok").limit(TOP_K)


def _cells_union_sql(tok_expr: str) -> str:
    rows = ", ".join(f"({d}, {_cell_sql(tok_expr, d)})" for d in range(CMS_DEPTH))
    return rows


ORACLE_CMS_HEAVY_HITTERS = f"""
WITH toks AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
    FROM documents
),
stream_cells AS (
    SELECT u.d, u.cell
    FROM toks, LATERAL (VALUES {_cells_union_sql('tok')}) AS u(d, cell)
),
sketch AS (
    SELECT d, cell, COUNT(*) AS cnt FROM stream_cells GROUP BY d, cell
),
cand AS (SELECT DISTINCT tok FROM toks),
cand_cells AS (
    SELECT cand.tok, u.d, u.cell
    FROM cand, LATERAL (VALUES {_cells_union_sql('tok')}) AS u(d, cell)
)
SELECT c.tok, CAST(MIN(s.cnt) AS BIGINT) AS est_n
FROM cand_cells c JOIN sketch s USING (d, cell)
GROUP BY c.tok
ORDER BY est_n DESC, tok
LIMIT {TOP_K}
"""


# ------------------------------------------------- HyperLogLog roll-up --

#: HLL register count (b=8 index bits out of the 32-bit hash; the
#: remaining 24 bits feed the leading-zero rank, rho ∈ [1, 25])
HLL_M = 256
#: bias constant alpha_256 = 0.7213 / (1 + 1.079/m) (Flajolet et al.
#: 2007) — computed once in Python and injected as the SAME double
#: literal into both engines
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
#: alpha·m² as ONE Python-computed double injected verbatim into both
#: engines (computing it engine-side would multiply three doubles in
#: engine-specific literal types — DuckDB parses bare decimals as
#: DECIMAL, whose arithmetic rounds differently from double)
HLL_ALPHA_MM = HLL_ALPHA * float(HLL_M) * float(HLL_M)
#: small-range correction cut 2.5·m (exact in double)
HLL_SMALL_CUT = 2.5 * float(HLL_M)


def query_sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users via MERGED DAILY HyperLogLog sketches — the
    mergeability demo that is the whole reason sketches exist at 100 TB:
    per-day (register, max rho) tables are what a pipeline persists, and
    any time range folds out of them with a max per register, never
    rescanning the events. The DuckDB twin sketches each week DIRECTLY
    from the raw stream — daily-merge ≡ direct is exactly max's
    associativity, so identical output IS the mergeability proof.

    Float-parity design: every register term 2^-rho is a dyadic
    rational ≥ 2^-25, so the register sum is EXACT in double under any
    summation order (all partials are multiples of 2^-25 far below
    2^53); powers come from 1/shiftleft(1,rho), never pow(); rho uses
    integer bit-length (length(bin(w))), never log2. The one
    transcendental — ln(m/V) in the standard small-range correction —
    is cross-checked by parity on the fixed fixtures (both engines call
    their libm once on the same exact double ratio).

    Output per week: the HLL estimate, exact distinct (for the
    fixture-sized error readout), zero-register count, relative error.
    """
    from bigdata_project_spark.functions.text import word_hash32

    # NULL users are not counted, as in COUNT(DISTINCT user_id): md5(NULL)
    # would count a phantom NULL register in m_present
    ev = load_table(spark, sf_dir, "events").where("user_id IS NOT NULL").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    regs = (
        ev.select("day", word_hash32(F.col("user_id").cast("string")).alias("h"))
        .select(
            "day",
            F.expr(f"h % {HLL_M}").alias("register"),
            F.expr(f"h div {HLL_M}").alias("w"),  # remaining 24 hash bits
        )
        .select(
            "day",
            "register",
            F.when(F.col("w") == 0, F.lit(25))
            .otherwise(F.lit(25) - F.length(F.expr("bin(w)")))
            .alias("rho"),
        )
    )
    # the persisted artifact: one (register, max rho) table per day
    daily = regs.groupBy("day", "register").agg(F.max("rho").alias("rho"))
    # the roll-up: max per register across the week's daily sketches;
    # date-as-string: the repo's cross-engine convention for date-typed
    # output columns (pandas fetch paths disagree on date vs
    # midnight-timestamp otherwise)
    week = F.date_trunc("week", F.col("day")).cast("date").cast("string")
    weekly = daily.groupBy(week.alias("week"), "register").agg(
        F.max("rho").alias("rho")
    )
    exact = ev.groupBy(week.alias("week")).agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return hll_finalize(weekly, exact, "week")


def hll_finalize(regs: DataFrame, exact: DataFrame, key: str) -> DataFrame:
    """Estimate columns from a merged (key, register, rho) register frame
    + a (key, n_users_exact) frame — shared by the batch roll-up and the
    streaming sketch (both converge to the same registers, so the same
    finalizer proves them against the same oracle arithmetic)."""
    parts = regs.groupBy(key).agg(
        F.count(F.lit(1)).alias("m_present"),
        F.sum(F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), rho) AS DOUBLE)"))
        .alias("sum_present"),
    )
    m = float(HLL_M)
    v = F.lit(HLL_M) - F.col("m_present")
    sum_inv = F.col("sum_present") + v.cast("double")  # absent registers: 2^-0
    raw = F.lit(HLL_ALPHA_MM) / sum_inv
    est = F.when(
        (raw <= F.lit(HLL_SMALL_CUT)) & (v > 0),
        F.lit(m) * F.log(F.lit(m) / v.cast("double")),
    ).otherwise(raw)
    return (
        parts.join(exact, key)
        .select(
            key,
            round_portable(est, 6).alias("hll_estimate"),
            "n_users_exact",
            v.cast("bigint").alias("n_zero_registers"),
            round_portable(
                (est - F.col("n_users_exact")) / F.col("n_users_exact"), 6
            ).alias("rel_err"),
        )
    )


def _hll_oracle_sql(key: str, source: str) -> str:
    """The DuckDB HLL estimate per ``key`` over ``source``'s non-NULL
    user_ids, as CTEs and a final select."""
    h32 = WORD_HASH32_SQL.format(w="CAST(user_id AS VARCHAR)")
    return f"""h AS (
    SELECT {key}, {h32} AS h FROM {source} WHERE user_id IS NOT NULL
),
rho AS (
    SELECT {key}, h % {HLL_M} AS register,
           CASE WHEN h // {HLL_M} = 0 THEN 25
                ELSE 25 - length(bin(h // {HLL_M}))
           END AS rho
    FROM h
),
reg AS (SELECT {key}, register, MAX(rho) AS rho FROM rho GROUP BY 1, 2),
parts AS (
    SELECT {key}, COUNT(*) AS m_present,
           SUM(1.0 / CAST((CAST(1 AS BIGINT) << rho) AS DOUBLE)) AS sum_present
    FROM reg GROUP BY {key}
),
est AS (
    SELECT {key}, v,
           CASE WHEN raw_e <= CAST({HLL_SMALL_CUT!r} AS DOUBLE) AND v > 0
                THEN CAST({HLL_M} AS DOUBLE)
                     * ln(CAST({HLL_M} AS DOUBLE) / CAST(v AS DOUBLE))
                ELSE raw_e
           END AS e
    FROM (
        SELECT {key}, {HLL_M} - m_present AS v,
               CAST({HLL_ALPHA_MM!r} AS DOUBLE)
                 / (sum_present + CAST({HLL_M} - m_present AS DOUBLE)) AS raw_e
        FROM parts
    )
),
exact AS (
    SELECT {key}, COUNT(DISTINCT user_id) AS n_users_exact
    FROM {source} GROUP BY {key}
)
SELECT est.{key},
       {round_portable_sql("est.e", 6)} AS hll_estimate,
       exact.n_users_exact,
       CAST(est.v AS BIGINT) AS n_zero_registers,
       {round_portable_sql("(est.e - exact.n_users_exact) / exact.n_users_exact", 6)}
           AS rel_err
FROM est JOIN exact ON est.{key} = exact.{key}
"""


# the oracle sketches each week DIRECTLY (no daily stage): daily-merge
# equivalence is max's associativity, which the parity check proves
ORACLE_SKETCH_HLL_ROLLUP = f"""
WITH ev AS (
    SELECT CAST(CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS VARCHAR) AS week, user_id
    FROM events
),
{_hll_oracle_sql("week", "ev")}"""

# DuckDB twin for the STREAMING per-event-type HLL (streaming/stateful.py
# query_stream_hll_users): the batch sketch keyed by event_type — the
# drained increment stream max-merges to exactly these registers
ORACLE_STREAM_HLL_USERS = f"WITH {_hll_oracle_sql('event_type', 'events')}"

QUERIES = {
    "sketch_cms_topk": (query_cms_heavy_hitters, ORACLE_CMS_HEAVY_HITTERS),
    "sketch_hll_rollup": (query_sketch_hll_rollup, ORACLE_SKETCH_HLL_ROLLUP),
}
