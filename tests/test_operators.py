"""Unit semantics for the operator library on tiny inline data."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_project_spark.operators.distinct_on import distinct_on
from bigdata_project_spark.operators.merge import merge_all_columns, merge_keyed
from bigdata_project_spark.operators.union_conform import union_conform


def test_merge_all_columns_idempotent(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    merged = merge_all_columns(df, df)
    assert merged.count() == 2
    # re-merging the merge changes nothing (reference replay-safety contract)
    assert merge_all_columns(merged, df).count() == 2


def test_merge_keyed_incoming_wins(spark):
    old = spark.createDataFrame([(1, "old"), (2, "keep")], ["k", "v"])
    new = spark.createDataFrame([(1, "new"), (3, "ins")], ["k", "v"])
    got = {r["k"]: r["v"] for r in merge_keyed(old, new, ["k"]).collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}


def test_merge_keyed_null_keys(spark):
    """NULL keys follow the anti-join and window semantics: a NULL key
    never equals another NULL in the anti-join, so an old NULL-key row
    survives next to an incoming one; but the batch dedup partitions
    NULLs together, so two incoming NULL-key rows collapse to one."""
    schema = "k int, v string"
    old = spark.createDataFrame([(None, "old"), (1, "old1")], schema)
    new = spark.createDataFrame([(None, "b"), (None, "a"), (2, "new2")], schema)
    got = sorted(
        (r["k"] is None, r["k"], r["v"])
        for r in merge_keyed(old, new, ["k"]).collect()
    )
    assert got == [
        (False, 1, "old1"),
        (False, 2, "new2"),
        (True, None, "a"),  # the batch's NULL rows collapse to the first
        (True, None, "old"),  # the old NULL row is not replaced
    ]


def test_merge_keyed_map_column_deterministic(spark):
    """Duplicate-key rows differing only in a MAP column resolve to the
    row whose canonical (key-sorted JSON) serialization sorts first —
    stable across input order and partition layout."""
    rows = [
        (1, {"b": "2", "a": "1"}),
        (1, {"a": "0"}),
        (2, {"z": "9"}),
    ]
    schema = "k int, m map<string,string>"
    old = spark.createDataFrame([], schema)
    fwd = merge_keyed(old, spark.createDataFrame(rows, schema), ["k"])
    rev = merge_keyed(
        old, spark.createDataFrame(list(reversed(rows)), schema).repartition(3), ["k"]
    )
    got_f = {r["k"]: dict(r["m"]) for r in fwd.collect()}
    got_r = {r["k"]: dict(r["m"]) for r in rev.collect()}
    assert got_f == got_r
    # '{"a":"0"}' < '{"a":"1","b":"2"}' in the canonical ordering
    assert got_f == {1: {"a": "0"}, 2: {"z": "9"}}


def test_distinct_on_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 5, "x"), (1, 9, "y"), (2, 3, "z")], ["k", "score", "v"]
    )
    got = {
        r["k"]: r["v"]
        for r in distinct_on(df, ["k"], [F.col("score").desc()]).collect()
    }
    assert got == {1: "y", 2: "z"}


def test_union_conform_tags_branches(spark):
    a = spark.createDataFrame([(1,)], ["x"])
    b = spark.createDataFrame([(2,)], ["x"])
    rows = union_conform({"l": a, "r": b}).collect()
    assert {(r["x"], r["zone_level"]) for r in rows} == {(1, "l"), (2, "r")}


def test_approx_distinct_accuracy(spark, sf_dir):
    from bigdata_project_spark.plans.analytics import (
        query_approx_distinct,
        query_distinct_counts,
    )

    approx = query_approx_distinct(spark, sf_dir).first()
    exact = query_distinct_counts(spark, sf_dir).first()
    assert approx["orders_within_eps"] and approx["parts_within_eps"]
    assert approx["exact_orders"] == exact["n_orders"]
    assert approx["exact_parts"] == exact["n_parts"]


def test_hashing_features_dims_bounded(spark, sf_dir):
    from bigdata_project_spark.operators.text_analysis import (
        HASH_DIM,
        query_hashing_features,
    )

    out = query_hashing_features(spark, sf_dir)
    r = out.agg(F.min("dim"), F.max("dim"), F.min("n"), F.count(F.lit(1))).first()
    assert r[0] >= 0
    assert r[1] < HASH_DIM
    assert r[2] >= 1
    assert r[3] > 0


def test_cms_estimates_upper_bound_exact_counts(spark, sf_dir):
    """CMS point estimates are upward-biased: est_n >= the exact count
    for every reported heavy hitter."""
    from bigdata_project_spark.functions.text import tokens
    from bigdata_project_spark.operators.sketches import query_cms_heavy_hitters
    from bigdata_project_spark.sources.readers import load_table

    top = query_cms_heavy_hitters(spark, sf_dir).collect()
    assert len(top) > 0
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["tok"]: r["n"]
        for r in docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in top:
        assert r["est_n"] >= exact[r["tok"]]
    # the sketch can't invent mass: estimates are bounded by the stream size
    total = sum(exact.values())
    assert all(r["est_n"] <= total for r in top)


def test_transitions_probabilities_sum_to_one(spark, sf_dir):
    from bigdata_project_spark.operators.funnel import query_events_transitions

    rows = query_events_transitions(spark, sf_dir).collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["src_event"], []).append(r)
    for src, grp in by_src.items():
        assert abs(sum(g["p"] for g in grp) - 1.0) < 1e-4, src
        assert all(0 < g["p"] <= 1 for g in grp)


def test_int8_quantize_codes_bounded(spark, sf_dir):
    from bigdata_project_spark.operators.embedding_stats import (
        query_emb_int8_quantize,
    )

    out = query_emb_int8_quantize(spark, sf_dir).collect()
    assert len(out) == 64
    for r in out:
        # |code| <= 127 per value => |code_sum| <= 127 * n_vals
        assert abs(r["code_sum"]) <= 127 * r["n_vals"]
        # reconstruction error bounded by half a quantization step
        assert r["avg_abs_err"] <= (r["amax"] / 127.0) / 2 + 1e-9
        assert r["amax"] >= 0


def test_ngram_novelty_bounds(spark, sf_dir):
    from bigdata_project_spark.operators.text_analysis import query_text_ngram_novelty

    out = query_text_ngram_novelty(spark, sf_dir).collect()
    assert out
    for r in out:
        assert 0 <= r["n_novel"] <= r["n_tri"]
        assert 0.0 <= r["novelty"] <= 1.0
    # every trigram's first occurrence belongs to exactly one doc, so
    # total novel trigrams == number of distinct trigrams in the corpus
    assert sum(r["n_novel"] for r in out) > 0


def test_quality_linear_score_bounded_by_feature_mass(spark, sf_dir):
    from bigdata_project_spark.operators.text_analysis import (
        query_hashing_features,
        query_text_quality_linear,
    )

    feats = {
        r["doc_id"]: r["mass"]
        for r in query_hashing_features(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("n").alias("mass"))
        .collect()
    }
    for r in query_text_quality_linear(spark, sf_dir).collect():
        # |Σ n·w| ≤ Σn · max|w| = mass · 1000 milli-units
        assert abs(r["score_milli"]) <= feats[r["doc_id"]] * 1000
        assert abs(r["score"] - r["score_milli"] / 1000.0) < 1e-12


def test_hll_rollup_error_bound_and_merge(spark, sf_dir):
    """HLL weekly roll-up: estimates land inside the standard error
    envelope (1.04/sqrt(m) ~ 6.5% at m=256; allow 3 sigma), registers
    stay within [0, m], and merging the daily sketches in Spark equals
    sketching each week directly — max-associativity, asserted here
    engine-internally (the DuckDB twin asserts it cross-engine)."""
    from bigdata_project_spark.functions.text import word_hash32
    from bigdata_project_spark.operators.sketches import (
        HLL_M,
        query_sketch_hll_rollup,
    )
    from bigdata_project_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    out = query_sketch_hll_rollup(spark, sf_dir).toPandas()
    assert len(out) > 0
    assert (out["n_zero_registers"] >= 0).all()
    assert (out["n_zero_registers"] <= HLL_M).all()
    assert (out["rel_err"].abs() <= 3 * 1.04 / (HLL_M ** 0.5)).all()
    # direct weekly sketch (no daily stage) must produce identical
    # (week, register, rho) registers to the rolled-up form
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    regs = (
        ev.select("day", word_hash32(F.col("user_id").cast("string")).alias("h"))
        .select(
            "day",
            F.expr(f"h % {HLL_M}").alias("register"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .select(
            "day",
            "register",
            F.when(F.col("w") == 0, F.lit(25))
            .otherwise(F.lit(25) - F.length(F.expr("bin(w)")))
            .alias("rho"),
        )
    )
    week = F.date_trunc("week", F.col("day")).cast("date").alias("week")
    direct = (
        regs.groupBy(week, "register").agg(F.max("rho").alias("rho")).toPandas()
    )
    merged = (
        regs.groupBy("day", "register")
        .agg(F.max("rho").alias("rho"))
        .groupBy(week, "register")
        .agg(F.max("rho").alias("rho"))
        .toPandas()
    )
    key = ["week", "register"]
    assert (
        direct.sort_values(key).reset_index(drop=True)
        .equals(merged.sort_values(key).reset_index(drop=True))
    )


def test_bloom_prefilter_no_false_negatives(spark, sf_dir):
    """Bloom guarantee: every true join row passes the prefilter
    (n_pass >= n_true, n_false_pos >= 0) and the FP rate stays under the
    theoretical bound for the observed fill (with slack)."""
    from bigdata_project_spark.operators.bloom import (
        BLOOM_BITS,
        BLOOM_K,
        query_join_bloom_prefilter,
    )

    row = query_join_bloom_prefilter(spark, sf_dir).collect()[0]
    assert row["n_pass"] >= row["n_true"]
    assert row["n_false_pos"] == row["n_pass"] - row["n_true"]
    fill = 1.0 - (1.0 - 1.0 / BLOOM_BITS) ** (BLOOM_K * row["n_keys"])
    assert row["fp_rate"] <= 3 * fill**BLOOM_K + 1e-9


def test_mixture_temperature_flattens_toward_uniform(spark, sf_dir):
    """Temperature alpha<1 must up-weight rare sources: q > p wherever
    p is below the mean share, q sums to ~1, expected docs sum to ~the
    budget."""
    from bigdata_project_spark.operators.packing import (
        MIX_BUDGET,
        query_mixture_temperature,
    )

    out = query_mixture_temperature(spark, sf_dir).toPandas()
    assert abs(out["p"].sum() - 1.0) < 1e-4
    assert abs(out["q"].sum() - 1.0) < 1e-4
    assert abs(out["expected_docs"].sum() - MIX_BUDGET) < 1.0
    mean_p = 1.0 / len(out)
    rare = out[out["p"] < mean_p * 0.9]
    common = out[out["p"] > mean_p * 1.1]
    if len(rare):
        assert (rare["q"] > rare["p"]).all()
    if len(common):
        assert (common["q"] < common["p"]).all()


def test_inverted_index_head_posting(spark, sf_dir):
    """The head posting is the true argmax: its tf bounds every other
    posting's tf for a sampled set of terms, df/cf are consistent."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.functions.text import tokens
    from bigdata_project_spark.operators.text_analysis import (
        IDX_MIN_DF,
        query_text_inverted_index,
    )
    from bigdata_project_spark.sources.readers import load_table

    out = query_text_inverted_index(spark, sf_dir).toPandas()
    assert len(out) and (out["df"] >= IDX_MIN_DF).all()
    assert (out["cf"] >= out["df"]).all()
    assert (out["top_tf"] >= 1).all()
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    sample = out.nlargest(5, "cf")
    got = {r["term"]: (r["top_doc_id"], r["top_tf"]) for _, r in sample.iterrows()}
    check = (
        tf.filter(F.col("term").isin(list(got)))
        .toPandas()
        .groupby("term")
        .apply(
            lambda g: g.sort_values(["tf", "doc_id"], ascending=[False, True]).iloc[0],
            include_groups=False,
        )
    )
    for term, (top_doc, top_tf) in got.items():
        assert check.loc[term, "tf"] == top_tf
        assert check.loc[term].name == term
        assert int(check.loc[term, "doc_id"]) == top_doc


def test_ohlc_open_close_are_time_extrema(spark, sf_dir):
    """OHLC semantics: open/close equal the values of each hour's
    earliest/latest event under (ts, event_id), and low <= open, close,
    high with high/low the true value extrema."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.operators.timeseries import query_ts_ohlc_hourly
    from bigdata_project_spark.sources.readers import load_table

    out = query_ts_ohlc_hourly(spark, sf_dir).toPandas()
    assert len(out)
    assert (out["low"] <= out["high"]).all()
    assert (out["low"] <= out["open"]).all() and (out["open"] <= out["high"]).all()
    assert (out["low"] <= out["close"]).all() and (out["close"] <= out["high"]).all()
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "ts",
            "event_id",
            "value",
        )
        .toPandas()
    )
    g = ev.sort_values(["ts", "event_id"]).groupby(["event_type", "h"])
    want_open = g["value"].first()
    want_close = g["value"].last()
    got = out.set_index(["event_type", "h"])
    assert (got["open"].sort_index() == want_open.sort_index()).all()
    assert (got["close"].sort_index() == want_close.sort_index()).all()
    assert (got["n_events"].sort_index() == g.size().sort_index()).all()
