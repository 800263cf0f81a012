"""Physical-plan shape assertions — the scale contract.

Correctness says what a query returns; these tests pin HOW Spark will
execute it, so a refactor can't silently regress the 100 TB story:
dimension joins stay broadcast, aggregates keep map-side partials,
top-k stays heap-based, rank-limits push into the shuffle, and nothing
ever plans a cartesian product.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_project_spark import registry


def _plan(spark, sf_dir, name: str) -> str:
    df = registry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


# deliberate tiny-side cross joins: 1-row broadcast query vector
# (sim_cosine_topk) and crosses of 1-row aggregate results
# (agg_approx_distinct / agg_approx_quantiles — Expand-free sketch-vs-
# exact contracts; pipeline_domain_mixture's feasible-total cap and
# graph_pagerank's 1/N node-count scalar are the same shape)
_CROSS_JOIN_OK = {
    "sim_cosine_topk",
    "agg_approx_distinct",
    "agg_approx_quantiles",
    "pipeline_domain_mixture",
    "graph_pagerank",
    # 1-row min/max domain-bounds aggregate crossed into the Morton
    # scaling (r16: replaces a driver-side .first() action)
    "layout_zorder_extents",
    # 1-row vocabulary-size scalar crossed into the LM score
    "text_bigram_perplexity",
    # 1-row (N, S) totals crossed into the per-domain weights
    "pipeline_domain_reweight",
    # Q22: 1-row (sum, cnt) balance aggregate crossed into the cohort
    "agg_dormant_customers",
    # 1-row global truth count crossed into the per-geometry stats
    # (sim_ann_recall_at_k needed the same exemption until r9 derived
    # its exact anchor from the all-cells probe — now exemption-free)
    "dedup_minhash_recall",
    # 1-row dim-key count crossed into the single-pass fact counts
    "join_bloom_prefilter",
    # 1-row corpus total + 1-row scaled-integer normalizer crossed into
    # the 20-row per-source weights
    "pipeline_mixture_temperature",
    # r16 one-action rewrites: 1-row min/max (or count) aggregate
    # broadcast-crossed into the plan, replacing a driver .first()/.count()
    "feature_binning",
    "text_tfidf",
}


def test_no_cartesian_products_anywhere(spark, sf_dir):
    for name in registry.queries():
        plan = _plan(spark, sf_dir, name)
        if name in _CROSS_JOIN_OK:
            continue
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} plans a BNLJ"


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ["silver_od", "silver_ine_empresas", "silver_ine_poblacion", "join_semi_anti"]:
        assert "BroadcastHashJoin" in _plan(spark, sf_dir, name), name


def test_aggregates_have_map_side_partials(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    assert "HashAggregate" in plan
    # partial + final pair around the exchange
    assert plan.count("HashAggregate") >= 2


def test_global_topk_is_heap_not_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_top_customers")
    assert "TakeOrderedAndProject" in plan


def test_grouped_topk_pushes_rank_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "win_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_parquet_scans_prune_columns(spark, sf_dir):
    """Column pruning reaches the scan: the pricing summary reads 7 of
    lineitem's 16 columns, never the full row."""
    plan = _plan(spark, sf_dir, "agg_pricing_summary")
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, "no parquet scan with ReadSchema found"
    schema = scan[0].split("ReadSchema:")[1]
    assert "l_comment" not in schema and "l_shipdate" not in schema
    assert "l_extendedprice" in schema


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Co-located join: both sides bucketed on the join key → the sort-
    merge join reads buckets directly, no Exchange on either side. This
    is the 100 TB answer for repeated fact-fact joins (bucket once,
    join shuffle-free forever)."""
    from bigdata_project_spark.sources.readers import load_table

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
        "o_custkey"
    ).mode("overwrite").saveAsTable("b_orders")
    load_table(spark, sf_dir, "customer").write.bucketBy(8, "c_custkey").sortBy(
        "c_custkey"
    ).mode("overwrite").saveAsTable("b_customer")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan[:2000]
        assert joined.count() == spark.table("b_orders").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    """dedup_exact's doc_id<50 planted-dup filter is pushed into the
    parquet reader (PushedFilters), not applied post-scan."""
    plan = _plan(spark, sf_dir, "dedup_exact")
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)]" in plan or (
        "PushedFilters" in plan and "LessThan(doc_id,50)" in plan
    ), plan[:2000]


def test_runtime_bloom_filter_injects(spark, sf_dir):
    """With runtime bloom filters enabled, a selective-dimension shuffle
    join pushes a bloom semi-join filter into the fact-side scan."""
    from bigdata_project_spark.session import enable_runtime_bloom_filters
    from bigdata_project_spark.sources.readers import load_table

    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        enable_runtime_bloom_filters(spark)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_pq_scoring_is_broadcast_join_plus_heap(spark, sf_dir):
    """PQ/ADC: the M×K query table joins by broadcast (never shuffles the
    codes) and the final top-k is a heap, not a global sort."""
    plan = _plan(spark, sf_dir, "sim_pq_adc_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_exact_quantile_windows_stay_bounded(spark, sf_dir):
    """The exact-percentile side must never window the raw cent domain:
    every Window in the plan runs over bucket counts (~1k rows) or one
    bucket's values — both reached only after a hash aggregate."""
    plan = _plan(spark, sf_dir, "agg_approx_quantiles")
    assert "Window" in plan
    # the coarse histogram aggregates exist below the windows, so every
    # window input is post-aggregate (bucket counts / one bucket's
    # distinct values), never the raw scan
    assert plan.count("HashAggregate") >= 4


def test_ilike_join_wildcard_fallback(spark):
    """J1 guard: a wildcard-free pattern dim takes the hash-join reading;
    any `%`/`_` row switches to faithful theta ILIKE semantics."""
    from bigdata_project_spark.plans.silver_ine import ilike_name_join

    fact = spark.createDataFrame(
        [(1, "madrid"), (2, "barcelona"), (3, "sevilla")], "id long, name string"
    )
    dim_plain = spark.createDataFrame(
        [("MADRID", 10), ("VALENCIA", 30)], "m_nombre string, code long"
    )
    plain = ilike_name_join(fact, "name", dim_plain, "m_nombre")
    assert {(r["id"], r["code"]) for r in plain.collect()} == {
        (1, 10),
        (2, None),
        (3, None),
    }
    # hash-join reading: no nested loop in the plan
    plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan

    dim_wild = spark.createDataFrame(
        [("MA%", 10), ("_EVILLA", 20)], "m_nombre string, code long"
    )
    wild = ilike_name_join(fact, "name", dim_wild, "m_nombre")
    assert {(r["id"], r["code"]) for r in wild.collect()} == {
        (1, 10),
        (2, None),
        (3, 20),
    }


def test_rank_decomposition_windows_are_partitioned(spark, sf_dir):
    """The distributed-ntile consumers must plan a PARTITIONED window
    (windowspecdefinition leading with __pid) over a hash exchange on
    __pid — never a global ntile window funneling into one task."""
    for name in ["layout_zorder_extents", "feature_binning_equidepth"]:
        plan = _plan(spark, sf_dir, name)
        assert "ntile" not in plan, name
        assert "windowspecdefinition(__pid" in plan, name
        assert "hashpartitioning(__pid" in plan, name


def test_round5_ops_broadcast_small_sides(spark, sf_dir):
    """The new ops' small sides (1024-cell sketch, 64-row dim stats)
    must broadcast, never shuffle-join. emb_pca_project no longer joins
    at all — the weight dot product folds inside the row (zip_with +
    aggregate), so its plan must be join-free AND exchange-free."""
    for name in ["sketch_cms_topk", "emb_int8_quantize"]:
        assert "BroadcastHashJoin" in _plan(spark, sf_dir, name), name
    pca = _plan(spark, sf_dir, "emb_pca_project")
    assert "Join" not in pca and "Exchange" not in pca


def test_moment_stats_never_shuffle_rows(spark, sf_dir):
    """feature_corr_matrix / ml_group_ols reduce the fact table to a
    handful of decimal moments: the plan must be scan → partial
    HashAggregate → ONE exchange of the tiny partials → final agg.
    Any second exchange means row-level data crossed the wire."""
    for name in ["feature_corr_matrix", "ml_group_ols"]:
        plan = _plan(spark, sf_dir, name)
        assert plan.count("HashAggregate") >= 2, name  # partial + final
        n_exchanges = plan.count("Exchange ")
        assert n_exchanges <= 1, f"{name}: {n_exchanges} exchanges"
        assert "Window" not in plan, name


def test_cdc_diff_is_single_pass(spark, sf_dir):
    """cdc_snapshot_diff folds both snapshots into one conditional
    aggregate: one scan of lineitem, one shuffle on the key, no join."""
    plan = _plan(spark, sf_dir, "cdc_snapshot_diff")
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2


def test_dup_spans_windows_are_partitioned(spark, sf_dir):
    """The gaps-and-islands merge must run per-doc, never as a global
    window (the WindowExec single-partition trap)."""
    plan = _plan(spark, sf_dir, "text_dup_spans")
    assert "windowspecdefinition(doc_id" in plan
    # the occurrence-count flag join keys on the uniform md5 hash
    assert "hashpartitioning(gh" in plan or "BroadcastHashJoin" in plan


def test_corpus_quality_plan_shapes(spark, sf_dir):
    """OOV: the token stream joins the top-K vocab via broadcast (never a
    shuffle of the exploded tokens). Funnel: single scan, conditional
    aggregation, no join of the corpus. Perplexity: the unigram LM side
    is broadcast; the bigram join is the only row-level shuffle join."""
    oov = _plan(spark, sf_dir, "text_oov_rate")
    assert "BroadcastHashJoin" in oov
    assert "SortMergeJoin" not in oov

    funnel = _plan(spark, sf_dir, "pipeline_quality_funnel")
    assert "Join" not in funnel
    assert funnel.count("Scan parquet") == 1
    assert funnel.count("HashAggregate") >= 2  # partial + final

    ppl = _plan(spark, sf_dir, "text_bigram_perplexity")
    assert "BroadcastHashJoin" in ppl
    assert "SortMergeJoin" not in ppl


def test_timeseries_windows_are_partitioned(spark, sf_dir):
    """Gap-fill ffill and EWMA must window PARTITION BY event_type over
    the dense grid — never a global single-partition window — and the
    z-score's per-key moment frame joins back by broadcast."""
    for name in ["ts_gapfill_ffill", "ts_ewma_hourly"]:
        plan = _plan(spark, sf_dir, name)
        assert "windowspecdefinition(event_type" in plan, name
    z = _plan(spark, sf_dir, "events_anomaly_zscore")
    assert "BroadcastHashJoin" in z
    assert "Window" not in z


def test_star_joins_broadcast_dimensions(spark, sf_dir):
    """Q3/Q5 shapes at TOY scale with the default broadcast threshold:
    the un-hinted fact-side joins (r6 policy — no F.broadcast on
    orders/customer/supplier/part) must still come out as broadcast
    hash joins because the OPTIMIZER sizes the filtered sides under the
    threshold — same local plan as the old hints, without the 100 TB
    OOM. Top-10 stays a heap, not a global sort. The scale half of the
    contract (shuffled joins when broadcast is off) is
    test_star_joins_survive_disabled_auto_broadcast."""
    q3 = _plan(spark, sf_dir, "agg_shipping_priority")
    assert q3.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in q3
    assert "TakeOrderedAndProject" in q3
    q5 = _plan(spark, sf_dir, "agg_region_revenue")
    # bounded dims broadcast (region->nation, nation->customer, the
    # supplier compound join); the big orders><customer pair may show
    # SortMergeJoin in the INITIAL adaptive plan — AQE converts it to
    # broadcast at runtime when the observed size allows, and a
    # shuffled join there is exactly the 100 TB-correct fallback.
    assert q5.count("BroadcastHashJoin") >= 3


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """The day-range predicate must prune hive partitions at the scan
    (PartitionFilters), so only the matching day directories are read."""
    from bigdata_project_spark.operators.layout_scan import (
        PRUNE_HI,
        PRUNE_LO,
        partition_pruned_daily,
    )

    out = partition_pruned_daily(spark, sf_dir, str(tmp_path / "pp"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]
    days = [r["event_date"] for r in out.collect()]
    assert days and all(PRUNE_LO <= d <= PRUNE_HI for d in days)


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Chunk generation is map-side only: no exchange anywhere."""
    plan = _plan(spark, sf_dir, "pipeline_chunk_docs")
    assert "Exchange" not in plan


def test_star_joins_survive_disabled_auto_broadcast(spark, sf_dir):
    """The r5 scale audit: fact-scaling tables (orders/customer/
    supplier/part/lineitem) must carry NO explicit broadcast hint — at
    100 TB a hint is an executor OOM. With the auto-broadcast threshold
    disabled (simulating inputs too big to broadcast), each star join
    must plan shuffled joins on the scaling sides, broadcast ONLY the
    hinted bounded dims (nation/region), and never degrade to a
    cartesian/BNLJ. Executing proves the plan is runnable."""
    # query -> number of bounded-dim broadcast hints it keeps
    expected_hints = {
        "agg_shipping_priority": 0,
        "agg_region_revenue": 2,   # region->nation, nation->customer
        "agg_returned_items": 1,   # nation
        "agg_order_priority": 0,
        "agg_promo_revenue": 0,
        "agg_volume_shipping": 2,  # 2-row nation slice into supp + cust
        "agg_market_share": 3,     # region->nation, mkt nations, supp nations
        "agg_large_orders": 0,
        "agg_bracket_revenue": 0,
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, n_hints in expected_hints.items():
            df = registry.queries()[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            got_bhj = plan.count("BroadcastHashJoin")
            assert got_bhj == n_hints, (
                f"{name}: {got_bhj} BroadcastHashJoin with auto-broadcast "
                f"off, expected {n_hints} (a scaling side is hinted?)"
            )
            # the un-hinted joins fall back to shuffled strategies
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
            assert df.count() >= 0  # plan executes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tpch_second_half_survives_disabled_auto_broadcast(spark, sf_dir):
    """Same scale contract as the first-half star joins, for the
    Q2/Q9/Q12/Q13/Q15/Q16/Q17/Q20/Q21/Q22 shapes: broadcast hints only
    on bounded sides (nation/region slices and provably-1-row scalar
    aggregates), shuffled joins everywhere else when auto-broadcast is
    off, no cartesian/BNLJ blowups — except Q22's deliberate 1-row
    scalar cross, which is the textbook scalar-subquery shape."""
    # query -> (bounded broadcast hints kept, 1-row BNLJ crosses allowed)
    expected = {
        "agg_best_supplier": (2, 0),   # region->nation, nation->supplier
        "agg_nation_profit": (1, 0),   # nation->supplier
        "agg_late_by_class": (0, 0),
        "agg_customer_distribution": (0, 0),
        "agg_top_supplier": (1, 0),    # 1-row max joined on equality
        "agg_supplier_part_counts": (0, 0),
        "agg_small_qty_revenue": (0, 0),
        "agg_dominant_suppliers": (1, 0),  # nation->supplier
        "agg_waiting_suppliers": (1, 0),   # nation->supplier
        # nation->customer appears in BOTH the scalar-stats branch and
        # the cohort branch (2 bounded hints), plus the 1-row avg cross
        "agg_dormant_customers": (2, 1),
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name, (n_hints, n_bnlj) in expected.items():
            df = registry.queries()[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan, name
            got_bnlj = plan.count("BroadcastNestedLoopJoin")
            assert got_bnlj == n_bnlj, (
                f"{name}: {got_bnlj} BNLJ with auto-broadcast off, "
                f"expected {n_bnlj}"
            )
            got_bhj = plan.count("BroadcastHashJoin")
            assert got_bhj == n_hints, (
                f"{name}: {got_bhj} BroadcastHashJoin with auto-broadcast "
                f"off, expected {n_hints} (a scaling side is hinted?)"
            )
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
            assert df.count() >= 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q6_predicates_push_to_scan(spark, sf_dir):
    """Q6 is the pure scan benchmark: all three predicates must reach
    the parquet reader and the projection must prune to the three
    needed columns — a Q6 that filters post-scan is wrong at any scale."""
    plan = _plan(spark, sf_dir, "agg_forecast_revenue")
    scan = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert scan, "no parquet scan with PushedFilters"
    pushed = scan[0].split("PushedFilters:")[1]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in schema and "l_orderkey" not in schema
    assert "Exchange" in plan  # exactly the 1-row final aggregate
    assert plan.count("HashAggregate") == 2  # partial + final, nothing more


def test_corpus_audit_joins_survive_disabled_auto_broadcast(spark, sf_dir):
    """The round-8 net-new corpus queries keep 100 TB-safe join shapes:
    with auto-broadcast off (simulating gram/candidate relations too big
    to broadcast), the source-overlap gram self-join and the LCP
    candidate/token joins must fall back to shuffled joins on their
    equi keys — never a cartesian/BNLJ — and still execute."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in ("text_source_overlap", "text_dup_spans_lcp"):
            df = registry.queries()[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "BroadcastHashJoin" not in plan, name  # nothing hinted
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
            assert df.count() >= 0  # plan executes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bloom_prefilter_broadcasts_sketch(spark, sf_dir):
    """The bloom membership path must broadcast the ~1000-word sketch
    (BroadcastHashJoin on the word index — the shape Spark's native
    runtime bloom plans) and test bits with the shiftright expression;
    the fact side must never plan a cartesian product or shuffle the
    sketch. (A per-row array-literal lookup was measured 10x slower —
    Catalyst rebuilds the 1042-element CreateArray per row.)"""
    from bigdata_project_spark.operators.bloom import query_join_bloom_prefilter

    df = query_join_bloom_prefilter(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # sketch broadcast, never shuffled
    assert "shiftright" in plan  # the bit-test membership expression


def test_incremental_store_never_broadcast(spark, sf_dir):
    """The 100 TB contract of the incremental screen: the STORED corpus
    signature tables (billions of rows at scale) must never sit under a
    BroadcastExchange — both stages broadcast the tiny batch side into
    a scan of the store (sig_store.screen_batch_against_store)."""
    from bigdata_project_spark.operators import sig_store

    hash_t, band_t = sig_store._incremental_sig_store(spark, sf_dir)
    df = sig_store.query_dedup_incremental_lsh(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert hash_t in plan and band_t in plan  # both stores scanned

    # walk the plan tree: a store FileScan may only sit under a
    # BroadcastExchange if a JOIN bounds the exchanged rows between the
    # two (the stage-1 shape: store ⋈ broadcast(batch hashes) → the
    # bounded HIT set is what gets broadcast, never the raw store)
    stack: list[tuple[int, str]] = []
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(": +-"))
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if hash_t in line or band_t in line:
            bcast_idx = [
                i
                for i, (_, name) in enumerate(stack)
                if "BroadcastExchange" in name or "BroadcastQueryStage" in name
            ]
            if bcast_idx:
                between = stack[bcast_idx[-1] + 1 :]
                assert any("Join" in name for _, name in between), (
                    f"raw store scan broadcast with no bounding join:\n{line}"
                )
        stack.append((indent, line))
    # and the joins are broadcast-shaped (batch side broadcast)
    assert plan.count("BroadcastHashJoin") >= 2


def test_gold_concurrent_first_builds(spark, sf_dir):
    """The silver-materialization memo must survive concurrent FIRST
    invocations (r10 ADVICE): same-key callers serialize on the per-key
    lock (one build, others reuse), different-key callers proceed in
    parallel. Clearing the memo forces every thread down the
    check-then-build path."""
    import threading

    from bigdata_project_spark.plans import gold

    for k in [k for k in list(gold._MATERIALIZED) if k[1] == sf_dir]:
        gold._MATERIALIZED.discard(k)

    errs: list[Exception] = []
    counts: dict[str, list[int]] = {}

    def run(tag, fn):
        try:
            counts.setdefault(tag, []).append(fn(spark, sf_dir).count())
        except Exception as e:  # noqa: BLE001 - collected for the assert
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(tag, fn))
        for tag, fn in (
            ("od", gold.query_gold_od_daily),
            ("od", gold.query_gold_od_daily),  # same-key race
            ("inc", gold.query_gold_income_mobility),
            ("ov", gold.query_gold_overnights_seasonality),
        )
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert len(set(counts["od"])) == 1  # both same-key runs agree
    assert all(v and v[0] > 0 for v in counts.values())


def test_unpivot_measures_preaggregates_without_expand(spark, sf_dir, tmp_path):
    """r17 §2.3: agg_unpivot_measures aggregates per-column FIRST and
    melts the tiny per-flag result — the unpivot Expand over every
    scanned row is gone from the plan, and the old melt's
    ``value IS NOT NULL`` semantics survive the rewrite (an all-null
    measure group must drop its row, exactly as the melt filter did)."""
    from bigdata_project_spark.plans.analytics import query_unpivot_measures

    plan = _plan(spark, sf_dir, "agg_unpivot_measures")
    assert "Expand" not in plan  # the scan path is a single hash aggregate

    # null-semantics edge: flag "Z" has l_tax entirely NULL -> no
    # ("Z", "tax") row; its other measures still appear.
    rows = [
        ("Z", 1.0, 10.0, 0.1, None),
        ("Z", 2.0, 20.0, 0.2, None),
        ("A", 3.0, 30.0, 0.3, 0.03),
    ]
    cols = ["l_returnflag", "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    spark.createDataFrame(rows, cols).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = query_unpivot_measures(spark, str(tmp_path)).collect()
    keys = {(r["l_returnflag"], r["measure"]) for r in out}
    assert ("Z", "tax") not in keys
    assert {("Z", "quantity"), ("Z", "extendedprice"), ("Z", "discount"),
            ("A", "tax")} <= keys
    z_qty = next(r for r in out if r["l_returnflag"] == "Z" and r["measure"] == "quantity")
    assert z_qty["n_rows"] == 2 and z_qty["sum_value"] == 3.0 and z_qty["max_value"] == 2.0
