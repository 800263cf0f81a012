"""Deduplication operators over the ``documents`` table — the core
training-data-pipeline surface (BASELINE.json north star; absent from the
reference, which only ever needed row-level MERGE dedup).

Exact dedup is one hash aggregate (md5 of normalized text → min doc_id
per hash). Every NEAR-dup family finds its candidate pairs through one
shared pipeline:

    blocking key → :func:`blocking_melt` → :func:`skew_bounded_self_pairs`
                 → per-site verify → the caller's ``.distinct()``

The families differ only in the blocking key and the verify:

- **MinHash+LSH**  : word-3-gram shingles → k=12 portable min-hashes →
                     4 bands × 3 rows (the recall sweep melts all six
                     geometries at once, geometry id in the key) →
                     verified set-Jaccard (``_set_jaccard``).
- **SimHash**      : 32-bit simhash (:func:`simhash_column`) → one row
                     per 8-bit band → Hamming ≤ 3 verify in the join.
- **fuzzy edit**   : the same simhash → one row per PAIR of bands →
                     banded Levenshtein ≤ 5 on 40-char prefixes.
- **n-gram Jaccard**: PPJoin prefix shingles as the key → count-Jaccard
                     verify (``_count_jaccard``); the unfiltered all-pairs
                     form (``_jaccard_pairs``) stays as the tests/oracle
                     quality baseline.

The span, LCP and paragraph profiles share no candidate join and live
in :mod:`.dup_spans`; the incremental screen (:mod:`.sig_store`) reuses
the LSH melt against a stored band table.

Portability: hashes derive from md5 hex strings (identical in both
engines); min-hashes are a universal-hash family (a·v+b mod P) over the
md5-derived 32-bit shingle value; simhash bits come from the md5-derived
32-bit word hash (functions/text.py). No engine-specific hash function is
ever compared across engines. Where a scalar or aggregate fragment parses
the same in Spark SQL and DuckDB (the simhash bit sums and bands, the
min-hash aggregates), it is one string that the builder passes to
``F.expr`` and the oracle embeds.

Scale notes (the whole point of these designs):
- Shingling explodes ~L rows per doc — embarrassingly parallel, no shuffle.
- MinHash signatures: ONE hash-aggregate shuffle keyed on doc_id (k
  conditional mins aggregate map-side). Band melt is per-row; the LSH
  candidate join shuffles only (band, signature) buckets — at 100 TB this
  is the textbook near-dup plan (the brute-force all-pairs join is O(n²)
  and exists here only as the small-scale oracle baseline).
- Exact dedup: hash-aggregate on a 32-char key; combiner-friendly,
  skew-safe (hash keys are uniform).
- MEASURED: rewriting shingling/minhash as per-row array expressions
  (transform/array_distinct/array_min) to avoid the distinct+groupBy
  shuffles is 4-13× SLOWER at sf0.1 — Catalyst interprets higher-order
  lambdas per element (no codegen), which swamps the shuffle savings.
  The explode→codegen-projection→hash-aggregate forms below keep every
  hot expression inside WholeStageCodegen; prefer them until Spark
  codegens HOFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.scalars import round_portable, round_portable_sql
from bigdata_project_spark.functions.text import (
    CONTENT_HASH_SQL,
    HEX32_TO_INT_SQL,
    WORD_HASH32_SQL,
    content_hash,
    hex32_to_int,
    tokens,
    word_hash32,
)
from bigdata_project_spark.session import env_int
from bigdata_project_spark.sources.readers import load_table

# ---------------------------------------------------------------- exact --

def _corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ a re-keyed copy of the first 50 docs — a deterministic
    duplicated corpus so the dedup operators have real work to do."""
    docs = load_table(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return docs.unionByName(dups)


_CORPUS_SQL = """
    SELECT * FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id < 50
"""


def query_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus_with_dups(spark, sf_dir)
    return (
        corpus.withColumn("content_hash", content_hash(F.col("text")))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


ORACLE_DEDUP_EXACT = f"""
WITH corpus AS ({_CORPUS_SQL})
SELECT {CONTENT_HASH_SQL.format(t="text")} AS content_hash,
       MIN(doc_id) AS doc_id,
       COUNT(*) AS n_copies
FROM corpus
GROUP BY 1
"""

# ------------------------------------------------------------- shingles --

def shingle_rows_raw(docs: DataFrame, n: int = 3) -> DataFrame:
    """Word-n-gram shingles per doc (doc_id, shingle), WITH duplicates —
    a pure map-side explode, no shuffle. Consumers that are multiset-
    invariant (MinHash: min over duplicates == min over the set;
    collect_set: dedups inside the aggregate) should use this form and
    skip the global DISTINCT exchange entirely."""
    toked = docs.select("doc_id", tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= n
    )
    idx = F.explode(F.sequence(F.lit(1), F.size("t") - (n - 1))).alias("i")
    with_i = toked.select("doc_id", "t", idx)
    shingle = F.concat_ws(
        " ", *[F.element_at("t", F.col("i") + k) for k in range(n)]
    )
    return with_i.select("doc_id", shingle.alias("shingle"))


def shingle_rows(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingles per doc (doc_id, shingle) — for
    consumers that count rows (exact Jaccard's equality join)."""
    return shingle_rows_raw(docs, n).distinct()


_SHINGLES_SQL = """
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM {src})
         , UNNEST(range(1, len(t) - 1)) AS r(i)
    WHERE len(t) >= 3
"""

# -------------------------------------------------------- n-gram Jaccard --

def _shingle_counts(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))


def _count_jaccard(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """Jaccard tail, count form: (doc_a, doc_b, n_common) joined to both
    sides' shingle counts, |A∩B| / (|A| + |B| - |A∩B|)."""
    cnt = _shingle_counts(sh)
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("cb"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("ca") + F.col("cb") - F.col("n_common")),
        )
    )


def _set_jaccard(pairs: DataFrame, sh_a: str, sh_b: str) -> DataFrame:
    """Jaccard tail, set form: ``pairs`` already carries both sides'
    shingle arrays; adds n_common and jaccard."""
    return pairs.withColumn(
        "n_common", F.size(F.array_intersect(sh_a, sh_b))
    ).withColumn(
        "jaccard",
        F.col("n_common") / (F.size(sh_a) + F.size(sh_b) - F.col("n_common")),
    )


def _jaccard_pairs(sh: DataFrame) -> DataFrame:
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _count_jaccard(inter, sh)


# Jaccard threshold as an exact rational (9/10): prefix lengths must be
# computed in integer arithmetic — 0.9*20 in doubles is 18.000…04, whose
# ceil silently shortens the prefix and breaks the losslessness proof.
_J_NUM, _J_DEN = 9, 10
#: the same bar as a float: every near-dup verify (n-gram, LSH, the
#: incremental screen) keeps pairs at Jaccard >= this
NEAR_DUP_JACCARD = _J_NUM / _J_DEN


#: §2.5 skew bound for every candidate self-join in this module. The
#: joins bucket on data-dependent keys (LSH band signatures, PPJoin
#: prefix shingles) whose collision distribution is unbounded: one hot
#: bucket of n rows makes a single task do O(n²) pair work — the blowup
#: class the r16 bucket-group revert hit at toy scale (degenerate
#: single-minhash buckets >10k docs), and the case AQE's skew-join split
#: cannot fix (it cannot split a SINGLE enormous key; guide §2.5).
#: Buckets above this size are salt-split into ceil(n/T) deterministic
#: slices — candidate output is IDENTICAL (every in-bucket pair is
#: produced exactly once; property-tested in tests/test_dedup.py), only
#: the per-task bound changes from O(n²) to O(T·n) spread over ceil(n/T)
#: tasks.
#:
#: Default is SCALE-DEPENDENT (parameterized per the round rules, env
#: overridable both ways): ON (1024) under any cluster master — every
#: production deployment gets the bound without hand-configuration;
#: ``local-cluster[...]`` has separate executor JVMs and counts as a
#: cluster — and OFF under ``local`` / ``local[...]`` masters, where
#: (a) the fixture headroom is
#: probe-verified (max observed bucket at sf0.1 is 20 rows —
#: tools/lsh_bucket_stats_r17.json: recall melt 12×1 geometry; 7 for the
#: registered 4×3, 9 for the prefix buckets — 51× under the threshold,
#: so the salt NEVER fires locally and results are byte-identical
#: either way), and (b) detection itself costs 2-3 extra scheduling-
#: floor jobs per query, which at bench scale is pure constant overhead
#: (measured +0.2-0.8 s/query across the five affected queries,
#: tools/ab_skew_bound_r17.json — both a window-count and a
#: hot-list-join detection form) while at cluster scale it is one
#: partial-aggregated counting pass amortized against an O(n²)
#: single-task straggler.
_LSH_SALT_ENV = "SPARK_GRAFT_LSH_SALT_THRESHOLD"
_LSH_SALT_DEFAULT = 1024


def _salt_threshold(df: DataFrame) -> int:
    t = env_int(_LSH_SALT_ENV, 0)
    if t is not None:
        return t
    master = df.sparkSession.conf.get("spark.master", "") or ""
    local = master == "local" or master.startswith("local[")
    return 0 if local else _LSH_SALT_DEFAULT


def blocking_melt(df: DataFrame, keep: list[str], entries: list[dict]) -> DataFrame:
    """The one blocking-key melt: each row of ``df`` becomes one row per
    entry, carrying ``keep`` plus the entry's fields. An entry maps field
    name → literal (band / geometry id) or Column (the band value); all
    entries share field names and order. Per-row explode of a struct
    array — no shuffle."""
    structs = [
        F.struct(*[F.lit(v).alias(k) for k, v in e.items()]) for e in entries
    ]
    return df.select(*keep, F.explode(F.array(*structs)).alias("bs")).select(
        *keep, *[F.col(f"bs.{k}").alias(k) for k in entries[0]]
    )


#: working columns of the salted self-join; a melt carrying any of them
#: would be silently overwritten
_SALT_COLS = ("__bn", "__ns_hot", "__ns", "__salt")


def skew_bounded_self_pairs(
    melt: DataFrame,
    keys: list[str],
    *,
    carry: tuple[str, ...] = (),
    carry_b: tuple[str, ...] = (),
    extra_cond=None,
) -> DataFrame:
    """All in-bucket ``(doc_a, doc_b)`` pairs (``doc_a < doc_b``) of a
    melted bucket table keyed by ``doc_id``, with per-task work bounded
    by the threshold T of :func:`_salt_threshold` (guide §2.5 salting).

    Every bucket gets ``ns = ceil(bucket_size / T)`` salt slices:
    side a takes ONE deterministic slice per row
    (``pmod(xxhash64(doc_id), ns)``), side b is replicated into all ``ns``
    slices, and the join keys gain the slice id — so each pair is found
    exactly once (in a's slice), per-slice fan-in is ≤ T × n, and
    a hot bucket spreads over ns tasks instead of stalling one. With
    ``ns = 1`` (every bucket under the threshold — the fixture case) the
    salt column is constant 0 and the join degenerates to the plain
    bucket self-join, same rows out.

    Detection is priced for the common case: only the HOT bucket list
    (size > T) is computed — a groupBy count whose map-side
    partial aggregation shuffles (key, count) partials, never the melt —
    and left-joined back. With zero hot buckets (every fixture, and any
    healthy corpus) the join side is empty, AQE's empty-relation
    propagation collapses it, and the plan degenerates to the plain
    self-join plus one tiny counting job (a first window-based variant
    that shuffled + sorted the whole melt for the count was A/B'd at
    +0.23…+1.25 s per query and replaced by this form —
    tools/ab_skew_bound_r17.json records both). The hot list itself is
    bounded by rows/T and broadcastable in any non-degenerate
    corpus; the planner falls back to a keyed join when it is not.

    ``extra_cond`` may reference the aliases ``a``/``b`` (e.g. the PPJoin
    length-ratio prune). ``carry`` columns are taken from side a;
    ``carry_b`` columns come from side b with a ``_b`` suffix (r17: the
    simhash pair verify needs both sides' hashes). Callers apply their
    own ``.distinct()`` (pairs can repeat ACROSS buckets, exactly as
    with the plain self-join).

    ``melt`` must be deterministic: both join sides re-evaluate it (on
    the salted path, both re-evaluate ``sized``), so a melt that draws
    differently per evaluation would pair rows that never coexisted.
    It must not carry the reserved working columns ``_SALT_COLS``
    (ValueError).
    """
    clash = [c for c in _SALT_COLS if c in melt.columns]
    if clash:
        raise ValueError(f"melt has reserved salt column(s) {clash}")
    t = _salt_threshold(melt)
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    if t <= 0:
        a, b = melt.alias("a"), melt.alias("b")
    else:
        hot = (
            melt.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") > t)
            .select(
                *keys,
                F.ceil(F.col("__bn") / F.lit(t)).cast("int").alias("__ns_hot"),
            )
        )
        sized = melt.join(hot, list(keys), "left").withColumn(
            "__ns", F.coalesce(F.col("__ns_hot"), F.lit(1))
        )
        a = sized.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("doc_id")), F.col("__ns")).cast("int")
        ).alias("a")
        b = sized.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.col("__ns") - 1))
        ).alias("b")
        cond = (F.col("a.__salt") == F.col("b.__salt")) & cond
    for k in reversed(keys):
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    if extra_cond is not None:
        cond = cond & extra_cond
    return a.join(b, cond).select(
        *[F.col(f"a.{c}").alias(c) for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry_b],
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )


def _prefix_filtered_pairs(
    sh: DataFrame, j_num: int = _J_NUM, j_den: int = _J_DEN
) -> DataFrame:
    """Exact Jaccard ≥ j_num/j_den pairs with PPJoin prefix filtering
    (Xiao, Wang, Lin, Yu 2008): under any global shingle order, J(A,B) ≥ t
    forces the first ``|X| - ceil(t|X|) + 1`` shingles of each side to
    intersect — so only prefix rows enter the candidate self-join, and
    candidate volume is bounded by (rare-)prefix bucket sizes instead of
    whole-corpus shingle buckets. The all-pairs formulation remains the
    oracle/tests baseline; this produces identical output. The default
    threshold is the registered 0.9 near-dup bar; the minhash recall
    harness passes 7/10 (its planted variants sit in [0.7, 1))
    — the returned jaccard column is unfiltered either way, callers
    apply the final ≥ t cut.

    Plan: df-count per shingle (one hash agg), per-doc rank by global
    (freq, shingle) order (one shuffle on doc_id), prefix self-join on the
    rare shingles only, then a two-join verify that counts the true
    intersection for surviving candidates — all codegen, no HOFs."""
    from pyspark.sql import Window as W

    cnt = _shingle_counts(sh)
    df_freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    ranked = sh.join(df_freq, "shingle").withColumn(
        "pos",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("freq").asc(), F.col("shingle").asc())
        ),
    )
    with_size = ranked.join(cnt, "doc_id")
    # prefix length |A| - ceil(t|A|) + 1 with t = j_num/j_den; `div` is
    # Spark's integral division, so this stays in BIGINT end-to-end (no
    # double rounding at any magnitude — F.floor(x/y) would round
    # through double).
    prefix_len = F.expr(
        f"c - (({j_num} * c + {j_den - 1}) div {j_den}) + 1"
    )
    # r16 settled: this self-join form is the right one, unpinned.
    # Two alternatives were measured and REVERTED this round:
    # (a) bucket groupBy + collect_list + in-bucket pair explode — at
    #     the recall harness's degenerate (12,1)-adjacent bucket sizes
    #     the first explode copies the whole in-bucket array into every
    #     output row (O(n²) array cells per bucket); the hash-probe
    #     join streams the identical pairs without materializing
    #     arrays (interleaved A/B at sf0.1: ngram 3.09 → 2.05 s).
    # (b) a lazy localCheckpoint pin on the prefix frame — the
    #     materialization round-trip costs more than the recompute it
    #     saves at any planner choice (interleaved A/B, same session:
    #     the verified-pairs DAG reads ~0.5 s slower with pins, and
    #     stays slower with broadcast disabled, i.e. under the plan a
    #     100 TB corpus would get, where runtime stage reuse already
    #     single-evaluates the duplicate subtrees under SMJ).
    prefix = with_size.filter(F.col("pos") <= prefix_len).select(
        "doc_id", "shingle", "c"
    )

    # length-ratio prune (the other half of the PPJoin bound): J ≥ t
    # forces t·max(|A|,|B|) ≤ min(|A|,|B|); in exact integer arithmetic
    # both of j_num·c_a ≤ j_den·c_b and j_num·c_b ≤ j_den·c_a. Pairs
    # failing it cannot clear the caller's ≥ t cut, so pruning them in
    # the candidate join is output-identical — and at t = 0.7 (the
    # recall harness) it is the difference between the prefix buckets
    # pairing everything against everything and pairing only
    # comparable-length docs (MEASURED: truth pass 7.1 → ~3 s at sf0.1).
    # r17: the self-join runs through the §2.5 skew bound (hot prefix
    # buckets salt-split; no-op at fixture scale — see
    # _LSH_SALT_ENV).
    cand = skew_bounded_self_pairs(
        prefix,
        ["shingle"],
        extra_cond=(F.col("a.c") * j_num <= F.col("b.c") * j_den)
        & (F.col("b.c") * j_num <= F.col("a.c") * j_den),
    ).distinct()

    # verify: true intersection count, restricted to candidates
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _count_jaccard(inter, sh)


def query_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs (threshold 0.9), prefix-
    filtered so candidate generation is bounded at any scale.

    The shingle set feeds five consumers in the PPJoin DAG (counts,
    frequencies, ranking, both verify sides); localCheckpoint
    materializes the explode+distinct once instead of recomputing it per
    consumer — MEASURED 3.3 → 2.2 s at sf0.1, and at cluster scale the
    equivalent (checkpoint/persist before a multi-consumer DAG) avoids
    five scans of the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _prefix_filtered_pairs(
        shingle_rows(docs).localCheckpoint(eager=True)
    )
    return pairs.filter(F.col("jaccard") >= NEAR_DUP_JACCARD).select(
        "doc_a",
        "doc_b",
        "n_common",
        round_portable(F.col("jaccard"), 6).alias("jaccard"),
    )


def _jaccard_sql(sh: str) -> str:
    """(doc_a, doc_b, n_common, jaccard) over EVERY pair sharing a
    shingle of the relation ``sh`` — the naive all-pairs form the
    oracles keep as the independent baseline."""
    return f"""
    SELECT doc_a, doc_b, n_common,
           n_common * 1.0 / (ca.c + cb.c - n_common) AS jaccard
    FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
          FROM {sh} a JOIN {sh} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    JOIN (SELECT doc_id, COUNT(*) AS c FROM {sh} GROUP BY doc_id) ca ON ca.doc_id = doc_a
    JOIN (SELECT doc_id, COUNT(*) AS c FROM {sh} GROUP BY doc_id) cb ON cb.doc_id = doc_b
"""


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS ({_SHINGLES_SQL.format(src="documents")})
SELECT doc_a, doc_b, n_common, {round_portable_sql("jaccard", 6)} AS jaccard
FROM ({_jaccard_sql("sh")})
WHERE jaccard >= {NEAR_DUP_JACCARD}
"""

# --------------------------------------------------------- MinHash + LSH --

N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

# Universal-hash family h_i(v) = (a_i·v + b_i) mod P over the 32-bit
# md5-derived shingle value v: ONE md5 per shingle + k multiply-adds,
# instead of k salted md5s (k× the hashing cost — the difference is ~7M
# md5 calls at sf0.1, and grows linearly with corpus size).
# a·v < 2^31·2^32 = 2^63 keeps BIGINT arithmetic exact on both engines.
_MH_P = 1_000_000_007
_MH_A = [769, 1543, 3079, 6151, 12289, 24593, 49157, 98317, 196613, 393241, 786433, 1572869]
_MH_B = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47]
#: the k min-hash aggregates over the shingle value ``v``; both engines
#: parse these strings
_MH_MINS = [f"MIN((v * {a} + {b}) % {_MH_P}) AS mh{i}" for i, (a, b) in enumerate(zip(_MH_A, _MH_B))]


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """k universal-hash min-hashes per doc in ONE aggregate pass."""
    v = hex32_to_int(F.md5(F.encode(F.col("shingle"), "UTF-8")))
    return sh.withColumn("v", v).groupBy("doc_id").agg(*map(F.expr, _MH_MINS))


def _lsh_bands(n_bands: int, rows_per_band: int) -> list[dict]:
    """Blocking entries of one banding geometry: band ``b`` keys on the
    '|'-joined min-hashes ``mh{b·r} .. mh{b·r + r - 1}``."""
    return [
        {
            "band": b,
            "sig": F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ),
        }
        for b in range(n_bands)
    ]


def _band_melt(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) melt of a signature frame at the registered
    4×3 geometry — the LSH bucket key rows both the self-join
    (within-corpus pairs) and the asymmetric join (incremental
    new-vs-existing) bucket on."""
    return blocking_melt(sigs, ["doc_id"], _lsh_bands(N_BANDS, ROWS_PER_BAND))


def lsh_verified_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-dup pairs: LSH candidates (pairs
    agreeing on ≥1 band) verified by true Jaccard ≥ ``NEAR_DUP_JACCARD``.

    Verification joins the per-doc shingle *sets* onto the (few) candidate
    pairs and intersects them there — never the all-pairs shingle join the
    exact baseline does. That asymmetry is the entire point of LSH: the
    oracle uses the naive all-pairs form and must agree, since
    |A∩B|/|A∪B| is the same number either way."""
    # MinHash and collect_set are multiset-invariant, so the raw
    # (duplicate-keeping) shingle form is also correct here. MEASURED at
    # sf0.1: distinct-first wins by ~12% (early dedup shrinks the k min
    # aggregates; this corpus is duplicate-light). On duplicate-heavy
    # corpora flip to shingle_rows_raw — correctness is unaffected.
    # r16: deliberately NOT localCheckpoint-pinned, although sh feeds
    # the signature pass AND the set build, and sets feeds both verify
    # sides. Pinning all three was tried and measured SLOWER in an
    # interleaved same-session A/B at sf0.1 (median 1.95 s vs 1.47 s
    # unpinned; still slower with broadcast disabled — the plan shape a
    # 100 TB corpus gets), because runtime stage reuse already
    # single-evaluates the duplicated exchange subtrees under SMJ while
    # each pin adds a full materialization round-trip.
    sh = shingle_rows(docs)
    # r16 settled: the melt self-join, unpinned, is the right form. A
    # bucket groupBy + collect_list + in-bucket pair explode was measured
    # and REVERTED — big buckets copy the whole id array once per member
    # before the second explode (O(n²) array cells per bucket, 2-3×
    # slower at sf0.1 under the recall sweep's degenerate geometry)
    # while the hash-probe join streams the same pairs. r17: routed
    # through the §2.5 skew bound (hot (band, sig) buckets salt-split;
    # no-op at fixture scale — see _LSH_SALT_ENV).
    cands = skew_bounded_self_pairs(
        _band_melt(minhash_signatures(sh)), ["band", "sig"]
    ).distinct()
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("shingles"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = _set_jaccard(cands.join(sa, "doc_a").join(sb, "doc_b"), "sh_a", "sh_b")
    return verified.filter(F.col("jaccard") >= NEAR_DUP_JACCARD).select(
        "doc_a", "doc_b", "jaccard"
    )


def query_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_verified_pairs(docs)
    return pairs.select(
        "doc_a",
        "doc_b",
        round_portable(F.col("jaccard"), 6).alias("jaccard"),
    )


def _sigs_sql(sh: str) -> str:
    """DuckDB twin of :func:`minhash_signatures` over the shingle
    relation ``sh``: the same aggregates, with the Horner form of ``v``."""
    return f"""
    SELECT doc_id, {", ".join(_MH_MINS)}
    FROM (SELECT doc_id, {HEX32_TO_INT_SQL.format(h="md5(shingle)")} AS v FROM {sh})
    GROUP BY doc_id
"""


def _band_melt_sql(sigs: str, nb: int = N_BANDS, rpb: int = ROWS_PER_BAND) -> str:
    """DuckDB twin of :func:`blocking_melt` over :func:`_lsh_bands`: the
    (doc_id, band, sig) rows of the signature relation ``sigs``."""
    structs = ", ".join(
        "struct_pack(band := {b}, sig := {sig})".format(
            b=b,
            sig=" || '|' || ".join(f"mh{b * rpb + r}" for r in range(rpb)),
        )
        for b in range(nb)
    )
    return f"""
    SELECT doc_id, bs.band AS band, bs.sig AS sig
    FROM {sigs}, UNNEST([{structs}]) AS t(bs)
"""


def _band_pairs_sql(melted: str) -> str:
    """The LSH candidate pairs of a band-melt relation ``melted``."""
    return f"""
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM {melted} a JOIN {melted} b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def lsh_verified_pairs_sql(src: str) -> str:
    """DuckDB twin of :func:`lsh_verified_pairs` for an arbitrary relation
    ``src`` with (doc_id, text): yields (doc_a, doc_b, jaccard) pairs.
    Embeddable as a CTE body (DuckDB allows nested WITH in subqueries)."""
    return f"""
    WITH sh AS ({_SHINGLES_SQL.format(src=src)}),
    sigs AS ({_sigs_sql("sh")}),
    melted AS ({_band_melt_sql("sigs")}),
    cands AS ({_band_pairs_sql("melted")})
    SELECT cands.doc_a, cands.doc_b, jaccard
    FROM cands JOIN ({_jaccard_sql("sh")}) jac
      ON cands.doc_a = jac.doc_a AND cands.doc_b = jac.doc_b
    WHERE jaccard >= {NEAR_DUP_JACCARD}
    """


ORACLE_DEDUP_MINHASH_LSH = f"""
SELECT doc_a, doc_b, {round_portable_sql("jaccard", 6)} AS jaccard
FROM ({lsh_verified_pairs_sql("documents")})
"""

# ----------------------------------------- MinHash banding recall sweep --

#: (bands, rows-per-band) factorizations of the k=12 signature swept by
#: the recall harness — from "one band of everything" (near-exact only)
#: to "every hash its own band" (maximal candidate fan-out)
MINHASH_RECALL_CONFIGS = ((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))

#: ground-truth Jaccard threshold as an exact rational — 0.7 puts the
#: planted drop-3-token variants (J ≈ 0.75-0.97 by doc length) squarely
#: in the band where the configs disagree, which is the curve's point
_RECALL_J_NUM, _RECALL_J_DEN = 7, 10


def _corpus_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ the deterministic NEAR-dup :func:`_drop3_variants`:
    exact copies (J=1) are recalled by every banding, so the exact-dup
    corpus used by the other dedup queries cannot separate the configs
    — these variants land where the 1-(1-J^r)^b curves fan out."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(_drop3_variants(docs))


def _drop3_variants(docs: DataFrame) -> DataFrame:
    """Docs 0..39 with ≥15 tokens, last 3 tokens dropped, re-keyed +2e6
    — J ≈ (len-5)/(len-2) ∈ [0.75, 0.97) against their originals."""
    t = tokens(F.col("text"))
    return (
        docs.filter(F.col("doc_id") < 40)
        .select("doc_id", t.alias("t"))
        .filter(F.size("t") >= 15)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(F.col("t"), 1, F.size("t") - 3)).alias("text"),
        )
    )


# DuckDB twin of _drop3_variants. List slice t[1:n] is 1-based inclusive
# == Spark slice(t, 1, n); rebuilding the variant text from lowercased
# tokens is harmless because shingling lowercases + whitespace-splits anyway
_DROP3_SQL = """
    SELECT doc_id + 2000000 AS doc_id,
           array_to_string(t[1:len(t) - 3], ' ') AS text
    FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents WHERE doc_id < 40)
    WHERE len(t) >= 15
"""
_NEARDUP_CORPUS_SQL = f"SELECT doc_id, text FROM documents UNION ALL {_DROP3_SQL}"


def query_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH parameter-sweep harness (r8 verdict item 5, the
    missing counterpart to ``sim_ann_recall_at_k``): candidate
    precision/recall of every (bands, rows) factorization of the k=12
    signature against the EXACT Jaccard ≥ 0.7 pairs on a planted
    near-dup corpus. One row per config — quantifies the
    precision/recall trade the registered 4×3 geometry buys.

    Scale shape: signatures are computed ONCE (one hash-aggregate pass,
    localCheckpoint) and ALL SIX geometries band out of them in ONE
    melt (28 = 1+2+3+4+6+12 band rows per doc, geometry id in the
    bucket key) feeding ONE self-join + ONE per-geometry aggregate —
    six separate band joins were MEASURED ~2× slower at sf0.1, pure
    shuffle/job constants. Ground truth is the PPJoin prefix-filtered
    exact join (bounded candidate generation at threshold 0.7 with the
    length-ratio prune), never all-pairs; the DuckDB twin keeps the
    naive all-pairs form as the independent baseline, which is exactly
    the cross-check's point.

    Deployment note: this is a banding CALIBRATION harness, not a
    pipeline stage — at corpus scale it runs on a bounded sample (as
    every production LSH calibration does), because the sweep
    deliberately includes the (12,1) single-hash geometry, the
    unbounded fan-out extreme of the trade curve: on a pathological
    ~100%-duplicate corpus its candidate set degenerates toward
    all-pairs (that IS the measurement the curve reports). The
    production geometry it helps choose (the registered 4×3) has the
    usual per-band-bucket bound and is what the scale probes exercise."""
    corpus = _corpus_with_near_dups(spark, sf_dir)
    # shingles feed signatures + the 5-consumer PPJoin truth DAG
    sh = shingle_rows(corpus).localCheckpoint(eager=True)
    sigs = minhash_signatures(sh)
    truth = (
        _prefix_filtered_pairs(sh, _RECALL_J_NUM, _RECALL_J_DEN)
        .filter(F.col("jaccard") >= _RECALL_J_NUM / _RECALL_J_DEN)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # consumed by the count + hit join
    )
    n_true_df = truth.agg(F.count(F.lit(1)).alias("n_true"))
    truth_marked = truth.withColumn("is_true", F.lit(1))
    # one melt across every geometry: cfg (= n_bands, unique per
    # factorization of 12) joins into the bucket key, so one shuffle
    # carries all six candidate generations
    melted = blocking_melt(
        sigs,
        ["doc_id"],
        [
            {"cfg": nb, **band}
            for nb, rpb in MINHASH_RECALL_CONFIGS
            for band in _lsh_bands(nb, rpb)
        ],
    )
    # r16 settled: melt self-join, unpinned (the signature subtree
    # derives from the eagerly checkpointed `sh`, so a per-side
    # re-derivation is one in-memory aggregate, and runtime stage
    # reuse collapses even that under the SMJ plan large corpora get).
    # A bucket groupBy + collect_list + in-bucket explode variant was
    # tried and REVERTED: under this sweep's degenerate (12,1)
    # geometry the first explode copies the whole in-bucket id array
    # into every output row (O(n²) array cells per bucket) — measured
    # 9.9 s vs 3.9 s for the self-join at sf0.1 — while the hash-probe
    # join streams the identical pair set (same bucket equality, same
    # doc_a < doc_b cut). A lazy pin on `sigs` was also A/B'd and
    # measured slower (materialization round-trip > saved recompute).
    # r17: routed through the §2.5 skew bound — this melt is the round's
    # highest-risk site (the deliberately-degenerate 12×1 geometry makes
    # single-minhash buckets, whose size is collision-distribution-
    # bounded by NOTHING; the r16 bucket-group revert measured exactly
    # this class going quadratic). No-op at fixture scale (max bucket 20
    # rows vs threshold 1024 — tools/lsh_bucket_stats_r17.json).
    cands = skew_bounded_self_pairs(
        melted, ["cfg", "band", "sig"], carry=("cfg",)
    ).distinct()
    stats = (
        cands.join(truth_marked, ["doc_a", "doc_b"], "left")
        .groupBy("cfg")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.coalesce(F.sum("is_true"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    # literal geometry anchor: a zero-candidate geometry still emits its
    # row (same pattern as the ANN recall sweep's probe levels)
    levels = spark.createDataFrame(
        [(nb, rpb) for nb, rpb in MINHASH_RECALL_CONFIGS],
        "cfg int, rows_per_band long",
    )
    n_cand = F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
    prec = F.when(n_cand == 0, F.lit(0.0)).otherwise(
        round_portable(n_hits / n_cand, 6)
    )
    rec = F.when(F.col("n_true") == 0, F.lit(0.0)).otherwise(
        round_portable(n_hits / F.col("n_true"), 6)
    )
    return (
        levels.join(stats, "cfg", "left")
        .crossJoin(F.broadcast(n_true_df))
        .select(
            F.col("cfg").cast("bigint").alias("n_bands"),
            "rows_per_band",
            n_cand.alias("n_candidates"),
            "n_true",
            n_hits.alias("n_hits"),
            prec.alias("prec"),
            rec.alias("recall"),
        )
    )


_recall_cfg_blocks = "\nUNION ALL\n".join(
    f"""SELECT CAST({nb} AS BIGINT) AS n_bands,
       CAST({rpb} AS BIGINT) AS rows_per_band,
       COUNT(*) AS n_candidates,
       CAST(COALESCE(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_hits
FROM ({_band_pairs_sql(f"({_band_melt_sql('sigs', nb, rpb)})")}) c
LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b"""
    for nb, rpb in MINHASH_RECALL_CONFIGS
)

#: the oracle keeps the naive all-pairs exact-Jaccard truth — the PPJoin
#: prefix filter is provably output-identical, so the engines computing
#: the same curve through different candidate generators is the check
ORACLE_DEDUP_MINHASH_RECALL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
sh AS ({_SHINGLES_SQL.format(src="corpus")}),
truth AS (
    SELECT doc_a, doc_b FROM ({_jaccard_sql("sh")})
    WHERE jaccard >= {_RECALL_J_NUM} * 1.0 / {_RECALL_J_DEN}
),
tt AS (SELECT COUNT(*) AS n_true FROM truth),
sigs AS ({_sigs_sql("sh")}),
cfg AS (
{_recall_cfg_blocks}
)
SELECT s.n_bands, s.rows_per_band, s.n_candidates, tt.n_true, s.n_hits,
       CASE WHEN s.n_candidates = 0 THEN 0.0
            ELSE {round_portable_sql("s.n_hits * 1.0 / s.n_candidates", 6)}
       END AS prec,
       CASE WHEN tt.n_true = 0 THEN 0.0
            ELSE {round_portable_sql("s.n_hits * 1.0 / tt.n_true", 6)}
       END AS recall
FROM cfg s CROSS JOIN tt
"""

# --------------------------------------------------------------- SimHash --

SIMHASH_BITS = 32


def simhash_column(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): term-frequency-weighted 32-bit simhash —
    explode + ONE hash aggregate, fully distributed. Weighting by
    occurrence (not distinct words) is the published Charikar scheme and
    is what separates documents sharing a vocabulary but not a
    distribution."""
    words = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).withColumn("h", word_hash32(F.col("w")))
    bit_sums = words.groupBy("doc_id").agg(*map(F.expr, _SIMHASH_BIT_SUMS))
    return bit_sums.selectExpr("doc_id", _SIMHASH_COMBINE)


# Both engines parse these strings. Bit j of the non-negative 32-bit h is
# the integer-lane shift and mask (h >> j) & 1; the 32-term loop runs per
# WORD row, so the integer lane is the hot-path win (measured with the
# conv hash parse: 1.14 → 0.71 s on the sf0.1 aggregate).
_SIMHASH_BIT_SUMS = [
    f"SUM(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS b{j}"
    for j in range(SIMHASH_BITS)
]
_SIMHASH_COMBINE = "CAST({} AS BIGINT) AS simhash".format(
    " + ".join(f"(CASE WHEN b{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(SIMHASH_BITS))
)

_SIMHASH_SQL_T = f"""
    SELECT doc_id, {_SIMHASH_COMBINE}
    FROM (
        SELECT doc_id,
           {", ".join(_SIMHASH_BIT_SUMS)}
        FROM (
            SELECT doc_id, w, {WORD_HASH32_SQL.format(w="w")} AS h
            FROM (SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
                  FROM {{src}})
        )
        GROUP BY doc_id
    )
"""
_SIMHASH_SQL = _SIMHASH_SQL_T.format(src="documents")


def query_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_column(docs)


ORACLE_DEDUP_SIMHASH = _SIMHASH_SQL


def _simhash_band_sql(b: int) -> str:
    """8-bit band ``b`` of the ``simhash`` column, in both engines: the
    integer-lane shift and mask, non-nullable, so the band join needs no
    null filter."""
    return f"(simhash >> {8 * b}) & 255"


_BAND_PAIRS = [(i, j) for i in range(4) for j in range(i + 1, 4)]


def query_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-pairs by simhash: block on the four 8-bit bands (a pair within
    Hamming ≤ 3 must agree exactly on ≥1 band — pigeonhole, so 1-band
    blocking is COMPLETE for the Hamming ≤ 3 contract; the fuzzy-lev
    query's 2-band key would not be), then verify Hamming ≤ 3.

    The Hamming verify runs BEFORE the distinct: bit_count is a per-row
    codegen expression that cuts the candidate stream ~100× (2.9M → tens
    of thousands at sf0.1) ahead of the dedup shuffle — filter-then-
    distinct, never distinct-then-filter, when the filter needs no
    deduped view.

    r17 (§2.5): the band self-join routes through
    ``skew_bounded_self_pairs`` like the LSH/PPJoin sites — the 1-band
    ÷256 key makes this the hottest-bucketed candidate join in the
    registry (1358-doc bucket at sf0.1; a 10×-replicated probe corpus
    put ~92M pairs in ONE task and ran >12 min while every other query
    finished in ≤35 s — tools/scale_sweep_r17*.json). AQE skew handling
    cannot split a single enormous key; the salt slices can. The verify
    stays inside the join condition (``extra_cond``), so the candidate
    cut still happens before the dedup shuffle, salted or not."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the (doc_id, simhash) table once — 1 narrow row per
    # doc: without the checkpoint the self-join plans the explode +
    # 32-bit-sum aggregate TWICE (2 scans, no exchange reuse — verified
    # in the executed plan); at corpus scale that is two full tokenize
    # passes vs storing ~12 bytes/doc
    melted = blocking_melt(
        simhash_column(docs).localCheckpoint(eager=False),
        ["doc_id", "simhash"],
        [{"band": b, "nib": F.expr(_simhash_band_sql(b))} for b in range(4)],
    )
    hamming_ab = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    pairs = skew_bounded_self_pairs(
        melted,
        ["band", "nib"],
        carry=("simhash",),
        carry_b=("simhash",),
        extra_cond=hamming_ab <= 3,
    )
    hamming = F.bit_count(F.col("simhash").bitwiseXOR(F.col("simhash_b")))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            hamming.cast("bigint").alias("hamming"),
        )
        .distinct()
    )


_band_nibs = ", ".join(
    f"struct_pack(band := {b}, nib := {_simhash_band_sql(b)})" for b in range(4)
)

ORACLE_DEDUP_SIMHASH_PAIRS = f"""
WITH sims AS ({_SIMHASH_SQL}),
melted AS (
    SELECT doc_id, simhash, bs.band AS band, bs.nib AS nib
    FROM sims, UNNEST([{_band_nibs}]) AS t(bs)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.simhash AS sim_a, b.simhash AS sim_b
    FROM melted a JOIN melted b
      ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""

# -------------------------------------------------------- fuzzy (edit) --


def query_dedup_fuzzy_lev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over the FULL dup corpus: levenshtein
    ≤ 5 on 40-char prefixes, blocked on PAIRS of the 8-bit bands of
    :func:`simhash_column` — two bands must agree at once (pigeonhole:
    ≤ 2 flipped bits corrupt ≤ 2 of the 4 bands, so any pair within
    simhash-Hamming ≤ 2 shares an exact 2-band key; exact copies share
    all six).

    Why 2-band and not the simhash_pairs 1-band melt: MEASURED at sf0.1
    the single-band key (÷256) left 2.9M candidate pairs (hot bucket
    1358 docs — templated synthetic text clusters simhashes) and 74 s of
    Levenshtein DP; the 2-band key (÷65536) cuts that to 0.3M (hot
    bucket 297). The DP is the per-pair scale term; hot buckets past that
    are the skew bound's job (below). Both engines implement the same
    classic Levenshtein DP, so the distances are identical integers."""
    corpus = _corpus_with_dups(spark, sf_dir)
    # NOTE: no materialization needed for the self-join — both sides hash-
    # partition on the same band key, so Spark plans a ReusedExchange and
    # the simhash aggregation runs once (plan-verified; an explicit
    # localCheckpoint was MEASURED slower at sf0.1)
    melted = blocking_melt(
        simhash_column(corpus),
        ["doc_id"],
        [
            {
                "bi": i,
                "bj": j,
                "ni": F.expr(_simhash_band_sql(i)),
                "nj": F.expr(_simhash_band_sql(j)),
            }
            for i, j in _BAND_PAIRS
        ],
    )
    # candidates carry ONLY ids through the join+distinct (MEASURED 2.2×
    # at sf0.1 vs melting the prefixes in: the 40-char strings double the
    # shuffle width of the hot distinct); prefixes join back afterwards —
    # a per-doc-keyed join AQE broadcasts at small scale and hash-joins
    # at large, either way off the candidate join's critical path.
    # r17 (§2.5): the band-pair self-join routes through
    # skew_bounded_self_pairs like the other candidate sites — the
    # docstring's own numbers (hot bucket 297 at sf0.1, growing with
    # corpus dup mass) are a single-key straggler AQE cannot split.
    cand = skew_bounded_self_pairs(melted, ["bi", "bj", "ni", "nj"]).distinct()
    pre = corpus.select("doc_id", F.substring("text", 1, 40).alias("prefix"))
    pa = pre.select(F.col("doc_id").alias("doc_a"), F.col("prefix").alias("prefix_a"))
    pb = pre.select(F.col("doc_id").alias("doc_b"), F.col("prefix").alias("prefix_b"))
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        # banded DP: the threshold form fills only the 2k+1 diagonal band
        # (O(k·n) vs O(n²) cells) and short-circuits on |len_a − len_b| > k,
        # returning -1 past the threshold — exact distance otherwise, so
        # `>= 0` ≡ the oracle's `lev <= 5` (MEASURED at sf0.1: the
        # unbanded DP was 4.1 s over the 269k candidates, banded 0.6 s)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("prefix_a"), F.col("prefix_b"), 5).alias("lev"),
        )
        .filter(F.col("lev") >= 0)
    )


_band_pair_nibs = ", ".join(
    f"struct_pack(bi := {i}, bj := {j}, "
    f"ni := {_simhash_band_sql(i)}, nj := {_simhash_band_sql(j)})"
    for i, j in _BAND_PAIRS
)

ORACLE_DEDUP_FUZZY_LEV = f"""
WITH corpus AS ({_CORPUS_SQL}),
sims AS ({_SIMHASH_SQL_T.format(src="corpus")}),
melted AS (
    SELECT doc_id, bs.bi, bs.bj, bs.ni, bs.nj
    FROM sims, UNNEST([{_band_pair_nibs}]) AS t(bs)
),
pre AS (SELECT doc_id, substring(text, 1, 40) AS prefix FROM corpus),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM melted a JOIN melted b
      ON a.bi = b.bi AND a.bj = b.bj AND a.ni = b.ni AND a.nj = b.nj
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, levenshtein(pa.prefix, pb.prefix) AS lev
FROM cand
JOIN pre pa ON pa.doc_id = doc_a
JOIN pre pb ON pb.doc_id = doc_b
WHERE abs(length(pa.prefix) - length(pb.prefix)) <= 5
  AND levenshtein(pa.prefix, pb.prefix) <= 5
"""


QUERIES = {
    "dedup_exact": (query_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_simhash": (query_dedup_simhash, ORACLE_DEDUP_SIMHASH),
    "dedup_minhash_recall": (query_dedup_minhash_recall, ORACLE_DEDUP_MINHASH_RECALL),
    "dedup_fuzzy_lev": (query_dedup_fuzzy_lev, ORACLE_DEDUP_FUZZY_LEV),
    "dedup_minhash_lsh": (query_dedup_minhash_lsh, ORACLE_DEDUP_MINHASH_LSH),
    "dedup_ngram_jaccard": (query_dedup_ngram_jaccard, ORACLE_DEDUP_NGRAM_JACCARD),
    "dedup_simhash_pairs": (query_dedup_simhash_pairs, ORACLE_DEDUP_SIMHASH_PAIRS),
}
