"""Bloom-filter join pruning — the explicit, engine-portable form of the
runtime filter every warehouse pushes below selective joins (Spark's own
AQE runtime bloom — whose native plan injection is asserted in
tests/test_plans.py::test_runtime_bloom_filter_injects — plus
Iceberg/Delta bloom indexes). This query is the oracle-checkable twin of
that machinery: same sketch, same guarantee, cross-engine-verified.

The setting: a selective dimension predicate (here a 1% customer
segment) joined against the big fact table. At 100 TB you do NOT want
the fact rows that cannot match to reach the join shuffle: you build a
fixed-size bit array over the (few) surviving dim keys and prune the
fact side against it before anything wide happens. False positives
only — never false negatives — so the exact join afterwards touches a
tiny superset.

Hashing: ONE md5 per fact key (Kirsch-Mitzenmacher-style), with the
k=3 positions read from disjoint 8-hex-char chunks of the same digest —
measured 3× cheaper than k seeded digests at sf0.1, identical
independence properties at these fill rates. The bit array packs 63
usable bits per BIGINT word (bit 63 stays clear — DuckDB raises on
1<<63 where Spark wraps, so the portable layout never uses it).

Physical shape: the ~1000-word sketch stays a DataFrame and the
membership test is THREE BROADCAST HASH JOINS on the word index + a
filter — the same broadcast-the-sketch shape Spark's native runtime
bloom plans. (A per-row array-literal lookup was MEASURED 10× slower
at sf0.1: Catalyst rebuilds a 1042-element CreateArray per row rather
than constant-folding it.) Counts fold from ONE fact scan: per-key row
counts, pass/true flags per key, a single row-weighted aggregate after.
No hash table is ever built from lineitem; only the sketch and the ~1%
key set are broadcast.

Output (one row): dim key count, fact row count, bloom-pass count, true
match count, false positives, and the false-positive rate over true
negatives — n_pass - n_true == false positives ≥ 0 IS the
no-false-negative guarantee, oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import HEX32_TO_INT_SQL, hex32_to_int
from bigdata_project_spark.sources.readers import load_table

#: total bloom bits; 63 usable bits per 64-bit word (see module doc)
BLOOM_BITS = 65536
#: number of hash positions per key (8-hex-char chunks of one md5)
BLOOM_K = 3

#: the selective dim predicate: a deterministic 1% customer segment —
#: scale-invariant selectivity at every fixture size
_SEGMENT_SQL = "o_custkey % 100 = 1"


def _with_positions(df: DataFrame, key: str) -> DataFrame:
    """Add p0..p{k-1} bloom positions from ONE md5 of the key."""
    hashed = df.withColumn(
        "_hx", F.md5(F.encode(F.col(key).cast("string"), "UTF-8"))
    )
    return hashed.withColumns(
        {
            f"p{i}": hex32_to_int(F.substring(F.col("_hx"), 1 + 8 * i, 8))
            % BLOOM_BITS
            for i in range(BLOOM_K)
        }
    ).drop("_hx")


def _pos_sql(key_expr: str, i: int) -> str:
    h = HEX32_TO_INT_SQL.format(
        h=f"substring(md5(CAST({key_expr} AS VARCHAR)), {1 + 8 * i}, 8)"
    )
    return f"({h}) % {BLOOM_BITS}"


def query_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # ~1% of orders consumed by THREE sinks (sketch build, broadcast
    # truth join, n_keys count). Deliberately NOT lineage-truncated:
    # the r10 same-hour A/B measured localCheckpoint(eager=False) here
    # at 3.50 s vs 2.66 s without (5-run medians, all 5 runs worse) —
    # the checkpoint job + block write costs more than recomputing a
    # pushed-down 1%-selective scan whose two hot consumers are
    # broadcast builds anyway.
    keys = (
        orders.filter(F.expr(_SEGMENT_SQL))
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    # the sketch: one distributed bit_or aggregate over ≤ ceil(BLOOM_BITS / 63) rows
    melted = _with_positions(keys, "k").select(
        F.explode(F.array(*[F.col(f"p{i}") for i in range(BLOOM_K)])).alias("pos")
    ).select(
        F.expr("pos div 63").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("bit"),
    )
    # r16 settled: the sketch is consumed BLOOM_K times (one broadcast
    # side per hash function) and the STATIC plan copies the subtree per
    # consumer (14 scans) — but a mid-round lazy-localCheckpoint pin was
    # A/B'd and REVERTED: the three broadcast sides canonicalize equal,
    # so exchange reuse already builds the sketch once at runtime, and
    # the pin's materialization round-trip measured 1.83 s vs 1.15 s
    # unpinned (interleaved, sf0.1). Same verdict as the r10
    # keys-checkpoint A/B above: recompute-under-reuse beats a
    # checkpoint write at every scale here.
    bloom = melted.groupBy("word").agg(F.bit_or("bit").alias("bits"))

    # hash DISTINCT fact keys, not fact rows: lineitem repeats each
    # orderkey ~4x, so the md5+hex-parse work (the query's hot expression)
    # runs on ~150k keys instead of ~600k rows at sf0.1 (MEASURED
    # 3.7 -> ~2 s). Each key carries its row count, so the counts below
    # weight the per-key verdicts and lineitem is scanned once, with no
    # join back to the fact rows. The NULL key is a group of its own:
    # it never passes or matches, but its rows count in n_fact. At
    # 100 TB this is the standard hash-once-per-key shape for any
    # expensive per-key predicate.
    fact_keys = _with_positions(
        lineitem.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_rows")),
        "l_orderkey",
    )
    for i in range(BLOOM_K):
        side = bloom.select(
            F.col("word").alias(f"w{i}"), F.col("bits").alias(f"bits{i}")
        )
        fact_keys = fact_keys.join(
            F.broadcast(side),
            F.expr(f"p{i} div 63") == F.col(f"w{i}"),
            "left",
        )
    member = None
    for i in range(BLOOM_K):
        t = F.coalesce(
            F.expr(f"(shiftright(bits{i}, CAST(p{i} % 63 AS INT)) & 1) = 1"),
            F.lit(False),
        )
        member = t if member is None else (member & t)
    verdicts = fact_keys.select(
        "l_orderkey", "n_rows", member.alias("pass")
    ).join(
        F.broadcast(keys.withColumn("is_true", F.lit(1))),
        F.col("l_orderkey") == F.col("k"),
        "left",
    )
    # ONE aggregate pass over the per-key verdicts, weighted by n_rows
    n_rows = F.col("n_rows")
    counts = verdicts.agg(
        F.sum(n_rows).alias("n_fact"),
        F.sum(F.col("pass").cast("long") * n_rows).alias("n_pass"),
        F.coalesce(F.sum(F.col("is_true") * n_rows), F.lit(0)).alias("n_true"),
    )
    n_keys = keys.agg(F.count(F.lit(1)).alias("n_keys"))
    fp = F.col("n_pass") - F.col("n_true")
    neg = F.col("n_fact") - F.col("n_true")
    return counts.crossJoin(F.broadcast(n_keys)).select(
        "n_keys",
        "n_fact",
        "n_pass",
        "n_true",
        fp.alias("n_false_pos"),
        F.when(neg == 0, F.lit(0.0))
        .otherwise(round_portable(fp / neg.cast("double"), 6))
        .alias("fp_rate"),
    )


ORACLE_JOIN_BLOOM_PREFILTER = f"""
WITH keys AS (
    SELECT DISTINCT o_orderkey AS k FROM orders WHERE {_SEGMENT_SQL}
),
melted AS (
    SELECT u.pos // 63 AS word,
           CAST(1 AS BIGINT) << CAST(u.pos % 63 AS INTEGER) AS bit
    FROM keys, LATERAL (VALUES
        ({_pos_sql("k", 0)}), ({_pos_sql("k", 1)}), ({_pos_sql("k", 2)})
    ) AS u(pos)
),
bloom AS (SELECT word, bit_or(bit) AS bits FROM melted GROUP BY word),
-- row-preserving membership: one hashed row per FACT ROW (the synthetic
-- lineitem has no unique key — 6000 rows, 4599 distinct
-- (l_orderkey, l_linenumber) pairs at sf0.001 — so a melt+group-back
-- would collapse duplicates and undercount), three unique-key left joins
hashed AS (
    SELECT l_orderkey,
           {_pos_sql("l_orderkey", 0)} AS p0,
           {_pos_sql("l_orderkey", 1)} AS p1,
           {_pos_sql("l_orderkey", 2)} AS p2
    FROM lineitem
),
pass AS (
    SELECT h.l_orderkey
    FROM hashed h
    LEFT JOIN bloom b0 ON b0.word = h.p0 // 63
    LEFT JOIN bloom b1 ON b1.word = h.p1 // 63
    LEFT JOIN bloom b2 ON b2.word = h.p2 // 63
    WHERE COALESCE((b0.bits >> CAST(h.p0 % 63 AS INTEGER)) & 1, 0) = 1
      AND COALESCE((b1.bits >> CAST(h.p1 % 63 AS INTEGER)) & 1, 0) = 1
      AND COALESCE((b2.bits >> CAST(h.p2 % 63 AS INTEGER)) & 1, 0) = 1
),
counts AS (
    SELECT
        (SELECT COUNT(*) FROM keys) AS n_keys,
        (SELECT COUNT(*) FROM lineitem) AS n_fact,
        (SELECT COUNT(*) FROM pass) AS n_pass,
        (SELECT COUNT(*) FROM lineitem l
          WHERE EXISTS (SELECT 1 FROM keys WHERE k = l.l_orderkey)) AS n_true
)
SELECT n_keys, n_fact, n_pass, n_true,
       n_pass - n_true AS n_false_pos,
       CASE WHEN n_fact - n_true = 0 THEN 0.0
            ELSE {round_portable_sql(
                "(n_pass - n_true) * 1.0 / (n_fact - n_true)", 6)}
       END AS fp_rate
FROM counts
"""

# the oracle's row-preserving membership spells out one join per hash
assert BLOOM_K == 3, "update ORACLE_JOIN_BLOOM_PREFILTER's p0/p1/p2 joins"


QUERIES = {
    "join_bloom_prefilter": (query_join_bloom_prefilter, ORACLE_JOIN_BLOOM_PREFILTER),
}
