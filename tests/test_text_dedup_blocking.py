"""Blocking keys and the signature store behind the text-dedup queries.

1. The simhash band keys that ``dedup_simhash_pairs`` and
   ``dedup_fuzzy_lev`` block on equal the DuckDB oracles' formula
   ``CAST(floor(simhash / 2^(8b)) AS BIGINT) % 256`` bit for bit, for
   both the 1-band and the band-pair melt.
2. The incremental store lifecycle (build → screen → append → compact →
   screen) classifies batches exactly as a full recompute does, on both
   store layouts.
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
    from bigdata_project_spark.operators import text_dedup as td
    from bigdata_project_spark.oracle_check import canonicalize
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    hash_t, band_t = "t_incr_append_hash", "t_incr_append_band"
    hash_t2, band_t2 = "t_incr_rebuild_hash", "t_incr_rebuild_band"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    td.build_sig_store(spark, docs, hash_t, band_t)
    try:
        # ---- batch 1: screen, then append the kept docs ----
        batch1 = td._incremental_batch(spark, sf_dir)
        out1 = td.screen_batch_against_store(
            spark, docs, batch1, hash_t, band_t
        ).toPandas()
        kept_ids = sorted(
            int(i) for i in out1.loc[out1.verdict == "kept", "doc_id"]
        )
        assert kept_ids, "fixture batch 1 must keep at least one doc"
        kept1 = batch1.filter(F.col("doc_id").isin(kept_ids))
        td.append_batch_to_store(spark, kept1, hash_t, band_t)

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
        out2 = td.screen_batch_against_store(
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
        td.build_sig_store(spark, corpus2, hash_t2, band_t2)
        out2_rebuilt = td.screen_batch_against_store(
            spark, corpus2, batch2, hash_t2, band_t2
        ).toPandas()
        assert canonicalize(out2_pdf).equals(canonicalize(out2_rebuilt))

        # 3) DuckDB oracle over the grown corpus (exact same texts —
        # the batch/corpus frames are handed over; the SCREEN itself is
        # recomputed from scratch by incremental_screen_sql)
        duck.register("t_corpus2", corpus2.toPandas())
        duck.register("t_batch2", batch2.toPandas())
        oracle = duck.execute(
            td.incremental_screen_sql(
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


def test_incremental_store_hash_prefix_layout(spark, sf_dir, monkeypatch):
    """The PRODUCTION store layout (r11): hash table partitioned by a
    2-hex-char md5 prefix. A batch screen must (a) produce output
    identical to the flat layout, (b) partition-prune the hash-store
    scan to the batch's prefixes, and (c) keep the append path working
    against the partitioned table."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.operators import text_dedup as td
    from bigdata_project_spark.oracle_check import canonicalize
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    flat_h, flat_b = "t_hp_flat_hash", "t_hp_flat_band"
    part_h, part_b = "t_hp_part_hash", "t_hp_part_band"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = td._incremental_batch(spark, sf_dir)
    try:
        td.build_sig_store(spark, docs, flat_h, flat_b)
        td.build_sig_store(
            spark, docs, part_h, part_b, partition_by_hash_prefix=True
        )

        out_flat = td.screen_batch_against_store(
            spark, docs, batch, flat_h, flat_b
        ).toPandas()
        screened = td.screen_batch_against_store(
            spark, docs, batch, part_h, part_b
        )
        out_part = screened.toPandas()
        assert canonicalize(out_flat).equals(canonicalize(out_part))

        # (b) the partitioned hash scan carries a real partition filter.
        # r16: the screen pins its fan-out frames with lazy
        # localCheckpoints, so the hash-store scan runs inside the
        # checkpoint's own job and is invisible from the final frame's
        # executedPlan. Re-derive and execute a probe with checkpointing
        # stubbed to identity (on the concrete runtime class) purely for
        # plan inspection — same code path, full lineage.
        with monkeypatch.context() as mp:
            mp.setattr(
                type(screened), "localCheckpoint", lambda self, eager=True: self
            )
            probe = td.screen_batch_against_store(
                spark, docs, batch, part_h, part_b
            )
            probe.toPandas()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        scan_lines = [
            l for l in plan.splitlines() if part_h in l and "FileScan" in l
        ]
        assert scan_lines, "partitioned hash store not scanned?"
        assert any(
            "PartitionFilters: [" in l and "hp" in l.split("PartitionFilters:")[1]
            for l in scan_lines
        ), f"no hp partition filter pushed:\n{scan_lines}"

        # (c) append kept docs into the PARTITIONED store, screen again:
        # the resubmitted kept docs must now come back exact_dup
        kept_ids = sorted(
            int(i) for i in out_part.loc[out_part.verdict == "kept", "doc_id"]
        )
        assert kept_ids
        kept1 = batch.filter(F.col("doc_id").isin(kept_ids))
        td.append_batch_to_store(spark, kept1, part_h, part_b)
        resub = kept1.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text")
        out2 = td.screen_batch_against_store(
            spark, docs.unionByName(kept1), resub, part_h, part_b
        ).toPandas().set_index("doc_id")
        for k in kept_ids:
            assert out2.loc[k + 2_000_000, "verdict"] == "exact_dup"
            assert int(out2.loc[k + 2_000_000, "matched_doc"]) == k
    finally:
        for tbl in (flat_h, flat_b, part_h, part_b):
            drop_table_and_orphan_location(spark, tbl)


def test_incremental_store_compaction(spark, sf_dir):
    """append → COMPACT → screen (r11 verdict item 8): compaction must
    shrink the store's file count after repeated appends and leave every
    subsequent screen byte-identical — on both the flat and the
    hash-prefix-partitioned layout."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.operators import text_dedup as td
    from bigdata_project_spark.oracle_check import canonicalize
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = td._incremental_batch(spark, sf_dir)
    for layout in (False, True):
        hash_t, band_t = f"t_cmp_hash_{int(layout)}", f"t_cmp_band_{int(layout)}"
        try:
            td.build_sig_store(
                spark, docs, hash_t, band_t, partition_by_hash_prefix=layout
            )
            out1 = td.screen_batch_against_store(
                spark, docs, batch, hash_t, band_t
            ).toPandas()
            kept_ids = sorted(
                int(i) for i in out1.loc[out1.verdict == "kept", "doc_id"]
            )
            assert kept_ids
            kept1 = batch.filter(F.col("doc_id").isin(kept_ids))
            # several small appends -> one file per table per append
            for lo in range(0, len(kept_ids), max(1, len(kept_ids) // 3)):
                chunk = kept_ids[lo : lo + max(1, len(kept_ids) // 3)]
                # out_partitions=2 exercises the production multi-file
                # append path (r12 verdict item 3: equivalence must
                # hold at >1 partition, not just the fixture default 1)
                td.append_batch_to_store(
                    spark,
                    kept1.filter(F.col("doc_id").isin(chunk)),
                    hash_t,
                    band_t,
                    out_partitions=2,
                )
            corpus2 = docs.unionByName(kept1)
            resub = kept1.select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
            before = td.screen_batch_against_store(
                spark, corpus2, resub, hash_t, band_t
            ).toPandas()
            files_before = {
                t: len(spark.table(t).inputFiles()) for t in (hash_t, band_t)
            }

            td.compact_sig_store(spark, hash_t, band_t)

            files_after = {
                t: len(spark.table(t).inputFiles()) for t in (hash_t, band_t)
            }
            # the band table is flat in both layouts and MUST shrink to
            # its byte-sized count (1 at fixture scale); the hash table
            # shrinks unless the partitioned layout already had 1/file
            assert files_after[band_t] < files_before[band_t]
            assert files_after[hash_t] <= files_before[hash_t]
            after = td.screen_batch_against_store(
                spark, corpus2, resub, hash_t, band_t
            ).toPandas()
            assert canonicalize(before).equals(canonicalize(after))
            # compaction must preserve the layout's partition pruning
            if layout:
                assert "hp" in spark.table(hash_t).columns
        finally:
            for tbl in (hash_t, band_t):
                drop_table_and_orphan_location(spark, tbl)


def test_screen_nondeterministic_batch_hp(spark, sf_dir):
    """r12 verdict item 2: the hash-prefix-pruned screen must evaluate
    the batch exactly ONCE. A genuinely non-deterministic batch (a
    nondeterministic-UDF row filter that re-selects a different subset
    on every evaluation) of texts that ALL exist in the store must
    still come back 100% exact_dup. Before screen_batch_against_store
    localCheckpoint-ed the hashed batch ahead of the prefix collect,
    the collect and the join saw two different evaluations, and stored
    exact dups whose re-evaluated hash prefix was not in the collected
    prune list leaked through as 'kept' (this test failed on that
    code with ~certainty at fixture scale: ~half the re-drawn rows
    land in unpruned-away prefixes)."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.operators import text_dedup as td
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    hash_t, band_t = "t_nondet_hash", "t_nondet_band"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # per-row Python UDF is deliberate HERE (test-only adversary, never
    # the package): unlike rand(), whose seed is fixed at analysis time,
    # an asNondeterministic() UDF re-draws on every plan evaluation —
    # the exact failure mode the checkpoint guards against.
    flaky = F.udf(
        lambda: __import__("random").random(), "double"
    ).asNondeterministic()
    batch = (
        docs.select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
        .filter(flaky() < 0.5)
    )
    try:
        td.build_sig_store(
            spark, docs, hash_t, band_t, partition_by_hash_prefix=True
        )
        out = td.screen_batch_against_store(
            spark, docs, batch, hash_t, band_t
        ).toPandas()
        assert not out.empty
        assert set(out.verdict) == {"exact_dup"}, (
            out.verdict.value_counts().to_dict()
        )
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
