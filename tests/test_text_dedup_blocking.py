"""Blocking keys and the signature store behind the text-dedup queries.

1. The simhash band keys that ``dedup_simhash_pairs`` and
   ``dedup_fuzzy_lev`` block on equal the DuckDB oracles' formula
   ``CAST(floor(simhash / 2^(8b)) AS BIGINT) % 256`` bit for bit, for
   both the 1-band and the band-pair melt.
2. The incremental store lifecycle (build → screen → append → compact →
   screen) classifies batches exactly as a full recompute does.
"""

from __future__ import annotations

from bigdata_project_spark.operators.text_dedup import (
    _BAND_PAIRS,
    _corpus_with_dups,
    _simhash_band,
    blocking_melt,
    simhash_column,
)


def test_simhash_band_keys_match_oracle_formula(spark, sf_dir):
    sims = simhash_column(_corpus_with_dups(spark, sf_dir))
    by_doc = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert by_doc and all(0 <= h < 2**32 for h in by_doc.values())

    def band(h, b):  # the oracle's floor-division form
        return (h // 2 ** (8 * b)) % 256

    single = blocking_melt(
        sims,
        ["doc_id"],
        [{"band": b, "nib": _simhash_band(b)} for b in range(4)],
    ).collect()
    assert len(single) == 4 * len(by_doc)
    assert all(r["nib"] == band(by_doc[r["doc_id"]], r["band"]) for r in single)

    pairs = blocking_melt(
        sims,
        ["doc_id"],
        [
            {"bi": i, "bj": j, "ni": _simhash_band(i), "nj": _simhash_band(j)}
            for i, j in _BAND_PAIRS
        ],
    ).collect()
    assert len(pairs) == 6 * len(by_doc)
    for r in pairs:
        h = by_doc[r["doc_id"]]
        assert (r["ni"], r["nj"]) == (band(h, r["bi"]), band(h, r["bj"]))


def test_incremental_store_append_two_batches(spark, duck, sf_dir):
    """The 100 TB incremental contract end-to-end (r10 verdict item 4):
    build the signature store once, screen batch 1, APPEND the kept
    docs' signatures, then screen batch 2 against the GROWN store.
    Three independent checks pin the append path:

    1. semantics — batch-2 exact resubmissions of batch-1 kept docs are
       ``exact_dup`` matched to the batch-1 doc (only the grown store
       knows those hashes), trimmed variants near-dup against batch-1
       docs, fresh docs stay ``kept``;
    2. append ≡ rebuild — the grown store screens batch 2 identically
       to a store rebuilt from scratch over corpus ∪ kept₁;
    3. oracle parity — DuckDB recomputes the batch-2 screen over the
       grown corpus via ``incremental_screen_sql`` and must match.
    """
    from pyspark.sql import functions as F

    from bigdata_project_spark.functions.text import tokens
    from bigdata_project_spark.operators import sig_store
    from bigdata_project_spark.oracle_check import canonicalize
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    hash_t, band_t = "t_incr_append_hash", "t_incr_append_band"
    hash_t2, band_t2 = "t_incr_rebuild_hash", "t_incr_rebuild_band"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig_store.build_sig_store(spark, docs, hash_t, band_t)
    try:
        # ---- batch 1: screen, then append the kept docs ----
        batch1 = sig_store._incremental_batch(spark, sf_dir)
        out1 = sig_store.screen_batch_against_store(
            spark, docs, batch1, hash_t, band_t
        ).toPandas()
        kept_ids = sorted(
            int(i) for i in out1.loc[out1.verdict == "kept", "doc_id"]
        )
        assert kept_ids, "fixture batch 1 must keep at least one doc"
        kept1 = batch1.filter(F.col("doc_id").isin(kept_ids))
        sig_store.append_batch_to_store(kept1, hash_t, band_t)

        # ---- batch 2: resubmissions + variants of kept₁, plus fresh ----
        t = tokens(F.col("text"))
        exact2 = kept1.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
        variants2 = (
            kept1.select("doc_id", t.alias("t"))
            .filter(F.size("t") >= 24)  # J=(m-4)/(m-2) >= 0.9 vs source
            .select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"),
                F.concat_ws(
                    " ", F.slice(F.col("t"), 1, F.size("t") - 2)
                ).alias("text"),
            )
        )
        fresh2 = spark.range(3).select(
            (F.col("id") + 9_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit(f"zq{k}x"), F.col("id").cast("string"))
                    for k in range(30)
                ],
            ).alias("text"),
        )
        batch2 = exact2.unionByName(variants2).unionByName(fresh2)
        corpus2 = docs.unionByName(kept1)
        out2 = sig_store.screen_batch_against_store(
            spark, corpus2, batch2, hash_t, band_t
        )
        out2_pdf = out2.toPandas()
        by_id = out2_pdf.set_index("doc_id")

        # 1) semantics on the grown store
        for k in kept_ids:  # exact resubmissions -> their batch-1 doc
            assert by_id.loc[k + 2_000_000, "verdict"] == "exact_dup"
            assert int(by_id.loc[k + 2_000_000, "matched_doc"]) == k
        near = out2_pdf[
            (out2_pdf.doc_id >= 3_000_000) & (out2_pdf.doc_id < 9_000_000)
        ]
        assert (
            (near.verdict == "near_dup") & (near.matched_doc >= 2_000_000)
        ).any(), "a trimmed variant must near-dup its batch-1 source"
        # boolean mask, NOT .loc[9_000_000:]: the doc_id index follows
        # Spark's arbitrary output order, and label-slicing a
        # non-monotonic index resolves positionally
        fresh_rows = out2_pdf[out2_pdf.doc_id >= 9_000_000]
        assert len(fresh_rows) == 3
        assert (fresh_rows.verdict == "kept").all()

        # 2) append-per-batch == full rebuild over the grown corpus
        sig_store.build_sig_store(spark, corpus2, hash_t2, band_t2)
        out2_rebuilt = sig_store.screen_batch_against_store(
            spark, corpus2, batch2, hash_t2, band_t2
        ).toPandas()
        assert canonicalize(out2_pdf).equals(canonicalize(out2_rebuilt))

        # 3) DuckDB oracle over the grown corpus (exact same texts —
        # the batch/corpus frames are handed over; the SCREEN itself is
        # recomputed from scratch by incremental_screen_sql)
        duck.register("t_corpus2", corpus2.toPandas())
        duck.register("t_batch2", batch2.toPandas())
        oracle = duck.execute(
            sig_store.incremental_screen_sql(
                "t_corpus2", "SELECT doc_id, text FROM t_batch2"
            )
        ).fetchdf()
        assert len(oracle) == len(out2_pdf)
        assert canonicalize(out2_pdf).equals(canonicalize(oracle))
    finally:
        for tbl in (hash_t, band_t, hash_t2, band_t2):
            drop_table_and_orphan_location(spark, tbl)
        for v in ("t_corpus2", "t_batch2"):
            try:
                duck.unregister(v)
            except Exception:
                pass


def test_incremental_store_compaction(spark, sf_dir):
    """append → COMPACT → screen (r11 verdict item 8): compaction must
    shrink the store's file count after repeated appends and leave every
    subsequent screen byte-identical."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.operators import sig_store
    from bigdata_project_spark.oracle_check import canonicalize
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = sig_store._incremental_batch(spark, sf_dir)
    hash_t, band_t = "t_cmp_hash", "t_cmp_band"
    try:
        sig_store.build_sig_store(spark, docs, hash_t, band_t)
        out1 = sig_store.screen_batch_against_store(
            spark, docs, batch, hash_t, band_t
        ).toPandas()
        kept_ids = sorted(
            int(i) for i in out1.loc[out1.verdict == "kept", "doc_id"]
        )
        assert kept_ids
        kept1 = batch.filter(F.col("doc_id").isin(kept_ids))
        # several small appends -> one file per table per append
        step = max(1, len(kept_ids) // 3)
        for lo in range(0, len(kept_ids), step):
            chunk = kept_ids[lo : lo + step]
            sig_store.append_batch_to_store(
                kept1.filter(F.col("doc_id").isin(chunk)), hash_t, band_t
            )
        corpus2 = docs.unionByName(kept1)
        resub = kept1.select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
        before = sig_store.screen_batch_against_store(
            spark, corpus2, resub, hash_t, band_t
        ).toPandas()
        files_before = {
            t: len(spark.table(t).inputFiles()) for t in (hash_t, band_t)
        }

        sig_store.compact_sig_store(spark, hash_t, band_t)

        # both tables shrink to their byte-sized count (1 at fixture scale)
        for t in (hash_t, band_t):
            assert len(spark.table(t).inputFiles()) < files_before[t]
        after = sig_store.screen_batch_against_store(
            spark, corpus2, resub, hash_t, band_t
        ).toPandas()
        assert canonicalize(before).equals(canonicalize(after))
    finally:
        for tbl in (hash_t, band_t):
            drop_table_and_orphan_location(spark, tbl)


def test_hex32_conv_matches_horner(spark, sf_dir):
    """The r12 conv fast path of hex32_to_int must be value-identical
    to the Horner fold it replaced (which stays live as the DuckDB
    oracle form, HEX32_TO_INT_SQL) — on real corpus tokens, every
    8-char slice position of the md5, the FULL 32-char md5 (the
    first-8 contract: bare conv would parse all 32 chars and overflow
    under ANSI — the regression that caught the first cut of this
    change), and the null edge."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.functions.text import (
        hex32_to_int,
        hex32_to_int_horner,
        tokens,
    )
    from bigdata_project_spark.sources.readers import load_table

    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("w"))
        .withColumn("md5", F.md5(F.encode(F.col("w"), "UTF-8")))
    )
    slices = words.select(
        *[F.substring("md5", 1 + 8 * i, 8).alias(f"s{i}") for i in range(4)]
    )
    cmp = slices
    for i in range(4):
        cmp = cmp.withColumn(f"c{i}", hex32_to_int(F.col(f"s{i}"))).withColumn(
            f"h{i}", hex32_to_int_horner(F.col(f"s{i}"))
        )
    bad = cmp.filter(
        " OR ".join(f"(c{i} IS DISTINCT FROM h{i})" for i in range(4))
    ).count()
    assert bad == 0
    # the first-8 contract on a LONGER-than-8 input (full 32-char md5)
    bad_full = (
        words.withColumn("c", hex32_to_int(F.col("md5")))
        .withColumn("h", hex32_to_int_horner(F.col("md5")))
        .filter("c IS DISTINCT FROM h")
        .count()
    )
    assert bad_full == 0
    # null propagates identically through both forms
    row = (
        spark.range(1)
        .select(
            hex32_to_int(F.lit(None).cast("string")).alias("c"),
            hex32_to_int_horner(F.lit(None).cast("string")).alias("h"),
        )
        .collect()[0]
    )
    assert row.c is None and row.h is None
    # the ≥8-char PRECONDITION boundary (r12 advice): below 8 chars the
    # forms diverge by design — Horner left-justifies (missing
    # positions read as 0), conv right-justifies. Pin the exact shape
    # so a future short-hex caller trips here, not in a silent oracle
    # hash mismatch.
    short = (
        spark.range(1)
        .select(
            hex32_to_int(F.lit("ff")).alias("c"),
            hex32_to_int_horner(F.lit("ff")).alias("h"),
        )
        .collect()[0]
    )
    assert short.c == 0xFF
    assert short.h == 0xFF000000
