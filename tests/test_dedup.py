"""Semantics of the dedup family beyond oracle parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_project_spark.operators.text_dedup import (
    query_dedup_exact,
    query_dedup_minhash_lsh,
    query_dedup_ngram_jaccard,
    query_dedup_simhash,
)


def test_exact_dedup_collapses_planted_dups(spark, sf_dir):
    out = query_dedup_exact(spark, sf_dir).toPandas()
    # every planted copy (doc_id >= 1e6) must collapse onto its original
    assert (out["n_copies"] >= 1).all()
    assert (out[out["n_copies"] > 1]["doc_id"] < 1_000_000).all()
    dup_groups = int((out["n_copies"] - 1).sum())
    assert dup_groups == 50  # 50 planted copies


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in query_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in query_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        assert len(lsh) / len(exact) >= 0.9  # banding recall at j≥0.9


def test_prefix_filter_is_lossless(spark, sf_dir):
    """PPJoin prefix filtering must reproduce the all-pairs result
    exactly — it is a pruning of candidates that cannot pass, not an
    approximation."""
    from bigdata_project_spark.operators.text_dedup import (
        _jaccard_pairs,
        _prefix_filtered_pairs,
        shingle_rows,
    )
    from bigdata_project_spark.sources.readers import load_table

    sh = shingle_rows(load_table(spark, sf_dir, "documents"))
    allp = {
        (r["doc_a"], r["doc_b"], r["n_common"])
        for r in _jaccard_pairs(sh).filter(F.col("jaccard") >= 0.9).collect()
    }
    pref = {
        (r["doc_a"], r["doc_b"], r["n_common"])
        for r in _prefix_filtered_pairs(sh).filter(F.col("jaccard") >= 0.9).collect()
    }
    assert pref == allp


def test_simhash_similar_docs_close(spark, sf_dir):
    """Near-duplicate docs (jaccard ≥ 0.9) should have close simhashes."""
    pairs = query_dedup_ngram_jaccard(spark, sf_dir).collect()
    if not pairs:
        return
    sims = {r["doc_id"]: r["simhash"] for r in query_dedup_simhash(spark, sf_dir).collect()}
    close = sum(
        1
        for r in pairs
        if bin(sims[r["doc_a"]] ^ sims[r["doc_b"]]).count("1") <= 4
    )
    assert close / len(pairs) >= 0.8


def test_simhash_is_32_bit(spark, sf_dir):
    out = query_dedup_simhash(spark, sf_dir).agg(
        F.min("simhash").alias("lo"), F.max("simhash").alias("hi")
    ).first()
    assert 0 <= out["lo"] and out["hi"] < 2**32


def test_connected_components_chain_and_fixpoint(spark):
    """A 4-node chain (diameter 3) plus an isolated pair: propagation must
    iterate past round 1 and still land every node on the component min."""
    from bigdata_project_spark.operators.dedup_cluster import connected_components

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200)], ["doc_a", "doc_b"]
    )
    out = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 10, 100: 100, 200: 100}


def test_dedup_cluster_planted_triangles(spark, sf_dir):
    """Planted {d, d+1M, d+2M} triangles must collapse into one cluster
    with the original doc canonical."""
    from bigdata_project_spark.operators.dedup_cluster import query_dedup_cluster_cc

    out = query_dedup_cluster_cc(spark, sf_dir).toPandas()
    by_doc = out.set_index("doc_id")
    for d in (0, 7, 29):
        assert by_doc.loc[d + 1_000_000, "cluster_id"] == by_doc.loc[d, "cluster_id"]
        assert by_doc.loc[d + 2_000_000, "cluster_id"] == by_doc.loc[d, "cluster_id"]
        assert by_doc.loc[d + 1_000_000, "cluster_size"] >= 3
    # exactly one canonical per cluster, and it is the cluster min
    canon = out[out["is_canonical"]]
    assert canon["cluster_id"].is_unique
    assert (canon["doc_id"] == canon["cluster_id"]).all()
    assert set(out["cluster_id"]) == set(canon["cluster_id"])


def test_dup_spans_planted_duplicates_fully_covered(spark, sf_dir):
    from bigdata_project_spark.operators.dup_spans import query_text_dup_spans

    out = query_text_dup_spans(spark, sf_dir)
    planted = out.filter(F.col("doc_id") >= 1_000_000).collect()
    assert planted, "planted duplicate docs must survive the length filter"
    for r in planted:
        # an exact copy of another doc: every window duplicated, one span
        assert r["dup_ratio"] == 1.0
        assert r["n_dup_windows"] == r["n_windows"]
        assert r["n_dup_spans"] == 1
    originals = {r["doc_id"] for r in out.filter((F.col("doc_id") < 50) & (F.col("dup_ratio") == 1.0)).collect()}
    assert {r["doc_id"] - 1_000_000 for r in planted} <= originals


def test_span_removal_deletes_copies_keeps_originals(spark, sf_dir):
    from bigdata_project_spark.operators.dup_spans import query_dedup_span_removal

    out = query_dedup_span_removal(spark, sf_dir)
    planted = out.filter(F.col("doc_id") >= 1_000_000).collect()
    assert planted
    for r in planted:
        # exact copies: every window is a repeat -> all tokens removed
        assert r["n_tokens_kept"] == 0 and r["text_kept"] is None
    # the fixture corpus carries natural cross-doc 8-gram repeats, so
    # originals may lose tokens too — assert the structural invariants:
    # kept text is a subsequence of the normalized original with exactly
    # n_tokens_kept tokens, and doc 0 (globally first) keeps at least
    # one window's worth (nothing precedes it except its own repeats).
    originals = {
        r["doc_id"]: r for r in out.filter(F.col("doc_id") < 50).collect()
    }
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 50
    )
    for d in docs.select("doc_id", "text").collect():
        r = originals[d["doc_id"]]
        norm = d["text"].lower().strip().split()
        assert 0 <= r["n_tokens_kept"] <= r["n_tokens"] == len(norm)
        kept = r["text_kept"].split(" ") if r["text_kept"] else []
        assert len(kept) == r["n_tokens_kept"]
        it = iter(norm)
        assert all(tok in it for tok in kept), "kept text must be a subsequence"
    assert originals[0]["n_tokens_kept"] > 0


def test_lcp_profile_consistent_with_window_spans(spark, sf_dir):
    """Cross-operator invariant: SPAN_W == SA_CAP == 8, so a duplicated
    8-token window at position p (text_dup_spans) is exactly a capped
    LCP of 8 at p (text_dup_spans_lcp). Per doc with >= 8 tokens:
    max_lcp == 8  <=>  n_dup_windows > 0, and n_dup_pos (lcp >= SA_T)
    dominates n_dup_windows because every dup-window position has
    lcp == 8 >= SA_T."""
    from bigdata_project_spark.operators.dup_spans import (
        SA_CAP,
        SPAN_W,
        query_text_dup_spans,
        query_text_dup_spans_lcp,
    )

    assert SPAN_W == SA_CAP
    spans = query_text_dup_spans(spark, sf_dir).toPandas().set_index("doc_id")
    lcp = query_text_dup_spans_lcp(spark, sf_dir).toPandas().set_index("doc_id")
    joined = spans.join(lcp, how="inner")
    assert len(joined) == len(spans)  # every eligible doc has a profile
    has_dup_window = joined["n_dup_windows"] > 0
    assert ((joined["max_lcp"] == SA_CAP) == has_dup_window).all()
    assert (joined["n_dup_pos"] >= joined["n_dup_windows"]).all()
    # the fixture plants full-document copies: at least one doc must hit
    # the cap, and some doc must show a partial (1..7) LCP so the
    # capped profile is exercised at both ends
    assert has_dup_window.any()
    assert joined["max_lcp"].between(1, SA_CAP - 1).any()


def test_lcp_profile_matches_bruteforce_on_planted_corpus(spark):
    """The candidate-pruned capped-LCP kernel equals a brute-force
    reference on a corpus planting every boundary: sub-threshold (4),
    exact-threshold (5), mid (6/7), capped (8+) shared runs, a shared
    run ending exactly at a doc's last SA_T tokens (the descending-
    sequence guard case), within-doc repetition, and a dup-free doc."""
    from bigdata_project_spark.operators.dup_spans import SA_CAP, SA_T, lcp_profile

    docs = {
        # 10-token run shared with doc 2 -> capped lcp = 8 at offsets 0/1
        1: "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 u1 u2",
        2: "v1 r1 r2 r3 r4 r5 r6 r7 r8 r9 r10",
        # exactly-5 shared run, AND it sits at the very END of doc 3 so
        # the level-6..8 melt would see sequence(6, 5) without the guard
        3: "w1 w2 w3 f1 f2 f3 f4 f5",
        4: "f1 f2 f3 f4 f5 x1 x2 x3",
        # 6-gram repeated INSIDE one doc (within-doc duplication)
        5: "s1 s2 s3 s4 s5 s6 z1 s1 s2 s3 s4 s5 s6",
        # 4-token shared run: below SA_T, must stay invisible
        6: "q1 q2 q3 q4 y1 y2 y3 y4 y5",
        7: "y9 q1 q2 q3 q4 y8 y7 y6 y5b",
        # dup-free doc
        8: "n1 n2 n3 n4 n5 n6 n7",
    }
    toks = {d: t.split() for d, t in docs.items()}
    grams = {}
    for d, ts in toks.items():
        for i in range(len(ts)):
            for n in range(SA_T, SA_CAP + 1):
                if i + n <= len(ts):
                    grams.setdefault((n, " ".join(ts[i : i + n])), []).append(
                        (d, i)
                    )
    expect = {}
    for d, ts in toks.items():
        lcps = []
        for i in range(len(ts)):
            best = 0
            for n in range(SA_T, SA_CAP + 1):
                if i + n <= len(ts) and len(grams[(n, " ".join(ts[i : i + n]))]) >= 2:
                    best = n
            if best:
                lcps.append(best)
        expect[d] = (len(ts), len(lcps), max(lcps, default=0))

    corpus = spark.createDataFrame(
        [(d, t) for d, t in docs.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_dup_pos"], r["max_lcp"])
        for r in lcp_profile(corpus).collect()
    }
    assert got == expect
    # sanity on the plants themselves: cap reached, threshold-exact run
    # found on both sides of the guard case, sub-threshold invisible
    assert expect[1][2] == SA_CAP and expect[2][2] == SA_CAP
    assert expect[3][2] == SA_T and expect[4][2] == SA_T
    assert expect[5][2] == 6
    assert expect[6] == (9, 0, 0) and expect[7] == (9, 0, 0)
    assert expect[8] == (7, 0, 0)


def test_minhash_recall_sweep_curve(spark, sf_dir):
    """The banding sweep must trace the textbook LSH trade: more/smaller
    bands -> candidate set grows and recall rises toward 1.0, precision
    decays; every config's hits are bounded by both candidate and truth
    counts; the planted near-dup variants are present in the truth set."""
    from bigdata_project_spark.operators.text_dedup import (
        MINHASH_RECALL_CONFIGS,
        query_dedup_minhash_recall,
    )

    out = (
        query_dedup_minhash_recall(spark, sf_dir)
        .toPandas()
        .sort_values("n_bands")
        .reset_index(drop=True)
    )
    assert list(out["n_bands"]) == sorted(nb for nb, _ in MINHASH_RECALL_CONFIGS)
    assert (out["n_true"] > 0).all()
    assert (out["n_hits"] <= out["n_candidates"]).all()
    assert (out["n_hits"] <= out["n_true"]).all()
    # recall is non-decreasing in band count on the deterministic fixture,
    # and the all-singleton-bands geometry recalls everything
    assert (out["recall"].diff().dropna() >= 0).all()
    assert out["recall"].iloc[-1] == 1.0
    # the single-band (match-all-12) geometry is the strictest: fewest
    # candidates, perfect-or-near precision, lowest recall
    assert out["n_candidates"].iloc[0] == out["n_candidates"].min()
    assert out["recall"].iloc[0] == out["recall"].min()
    # the fan-out geometry pays for its recall in precision
    assert out["prec"].iloc[-1] == out["prec"].min()


def test_incremental_dedup_verdicts(spark, sf_dir):
    """Incremental ingest semantics: every exact re-submission is caught
    as exact_dup with its original as the match; near-dup variants are
    flagged only at verified Jaccard >= 0.9 (with a real existing match);
    kept docs carry no match columns."""
    from bigdata_project_spark.operators.sig_store import (
        _INCR_EXACT_HI,
        _INCR_EXACT_LO,
        query_dedup_incremental_lsh,
    )

    out = query_dedup_incremental_lsh(spark, sf_dir).toPandas()
    resub = out[out["doc_id"].between(3_000_000 + _INCR_EXACT_LO,
                                      3_000_000 + _INCR_EXACT_HI - 1)]
    assert len(resub) == _INCR_EXACT_HI - _INCR_EXACT_LO
    assert (resub["verdict"] == "exact_dup").all()
    assert (resub["jaccard"] == 1.0).all()
    # an exact re-submission's match has the SAME normalized text; the
    # min-doc-id rule may pick an even older identical doc, never a newer
    assert (resub["matched_doc"] <= resub["doc_id"] - 3_000_000).all()
    near = out[out["verdict"] == "near_dup"]
    assert len(near) > 0
    assert (near["jaccard"] >= 0.9).all() and (near["jaccard"] <= 1.0).all()
    assert near["matched_doc"].notna().all()
    assert (near["matched_doc"] < 2_000_000).all()  # matches are existing docs
    kept = out[out["verdict"] == "kept"]
    assert kept["matched_doc"].isna().all() and kept["jaccard"].isna().all()


def test_incremental_store_backs_the_batch_screen(spark, sf_dir):
    """The r10 signature-store contract: after the first call, the
    corpus' hashes/bands live in catalog tables, the per-batch plan
    READS those stores (no full-corpus signature recompute in the
    screen), and repeat calls reuse the same store without rewriting."""
    from bigdata_project_spark.operators import sig_store

    df = sig_store.query_dedup_incremental_lsh(spark, sf_dir)
    df.limit(1).collect()
    hash_t, band_t = sig_store._incremental_sig_store(spark, sf_dir)
    assert spark.catalog.tableExists(hash_t)
    assert spark.catalog.tableExists(band_t)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the batch screen scans the stored tables, not re-derived signatures
    assert "incr_hash_store__" in plan and "incr_band_store__" in plan
    # memo: a second invocation maps to the SAME tables (no rewrite churn)
    assert sig_store._incremental_sig_store(spark, sf_dir) == (hash_t, band_t)


def test_prefix_filter_equals_all_pairs_on_random_corpora(spark):
    """PPJoin completeness after the r9 length-ratio prune: on seeded
    random corpora, prefix-filtered pairs filtered at t must equal the
    naive all-pairs Jaccard join filtered at t, for both the registered
    0.9 threshold and the recall harness' 0.7."""
    import random

    from pyspark.sql import functions as F

    from bigdata_project_spark.operators.text_dedup import (
        _jaccard_pairs,
        _prefix_filtered_pairs,
        shingle_rows,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(30)]
        rows = []
        for d in range(40):
            n = rng.randint(5, 25)
            rows.append((d, " ".join(rng.choice(vocab) for _ in range(n))))
        # plant a few heavy overlaps so >=0.9 is non-empty
        for k in range(3):
            base = rows[k][1]
            rows.append((100 + k, base + " extraword"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = shingle_rows(docs).localCheckpoint(eager=True)
        naive = _jaccard_pairs(sh).select("doc_a", "doc_b", "jaccard")
        for j_num, j_den in ((9, 10), (7, 10)):
            t = j_num / j_den
            want = {
                (r["doc_a"], r["doc_b"])
                for r in naive.filter(F.col("jaccard") >= t).collect()
            }
            got = {
                (r["doc_a"], r["doc_b"])
                for r in _prefix_filtered_pairs(sh, j_num, j_den)
                .filter(F.col("jaccard") >= t)
                .collect()
            }
            assert got == want, f"seed={seed} t={t}"


def test_skew_bounded_self_pairs_hot_bucket(spark, monkeypatch):
    """§2.5 skew bound (r17): an adversarial hot bucket must (a) produce
    the IDENTICAL pair set as the plain self-join, (b) actually engage
    the salt split (ceil(n/T) slices in the plan, bounded side-a slice
    sizes), and (c) stay a no-op at the production default threshold
    (1024 ≫ any fixture bucket — tools/lsh_bucket_stats_r17.json)."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.operators.text_dedup import (
        _LSH_SALT_ENV,
        skew_bounded_self_pairs,
    )

    def bounded(melt, t, **kw):
        """skew_bounded_self_pairs built under salt threshold ``t``."""
        with monkeypatch.context() as mp:
            mp.setenv(_LSH_SALT_ENV, str(t))
            return skew_bounded_self_pairs(melt, ["sig"], **kw)

    # one 300-row hot bucket + seven cold buckets of 7-8 rows
    rows = [(i, "HOT") for i in range(300)] + [
        (1000 + i, f"c{i % 7}") for i in range(50)
    ]
    melt = spark.createDataFrame(rows, "doc_id long, sig string")

    def pair_set(df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    naive = bounded(melt, 0)
    want = pair_set(naive)
    # closed form: C(300,2) hot + C(8,2) + 6*C(7,2) cold
    assert len(want) == 300 * 299 // 2 + 28 + 6 * 21

    salted = bounded(melt, 64)
    assert pair_set(salted) == want  # (a) semantics identical

    # (b) the bound engages: hot bucket splits into ceil(300/64)=5 salt
    # slices; side a's per-(bucket, salt) fan-in is hash-spread around
    # 300/5 — assert every slice is well under the unsplit 300 (2×
    # slack over the n/ns expectation for hash unevenness), and that the
    # salted plan really carries the window + salt machinery.
    ns = -(-300 // 64)
    slice_sizes = (
        melt.filter(F.col("sig") == "HOT")
        .withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(ns)))
        .groupBy("salt")
        .count()
        .collect()
    )
    assert len(slice_sizes) == ns
    assert max(r["count"] for r in slice_sizes) <= 2 * (300 // ns + 1)
    salted_plan = salted._jdf.queryExecution().optimizedPlan().toString()
    naive_plan = naive._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in salted_plan and "__ns" in salted_plan
    assert "__salt" not in naive_plan

    # (c) deployment defaults: under a local master the bound defaults
    # off (plain join, probe-verified fixture headroom); the env override
    # turns it on (production default on any cluster master) — output
    # equal either way, and no bucket here reaches the 1024 production
    # threshold, so the salt never fires (ns=1 everywhere).
    monkeypatch.delenv(_LSH_SALT_ENV, raising=False)
    assert pair_set(skew_bounded_self_pairs(melt, ["sig"])) == want
    with monkeypatch.context() as mp:
        mp.setenv(_LSH_SALT_ENV, "1024")
        df_on = skew_bounded_self_pairs(melt, ["sig"])
        assert pair_set(df_on) == want
        assert "__salt" in df_on._jdf.queryExecution().optimizedPlan().toString()

    # extra_cond + carry plumbing (the PPJoin/recall call shapes)
    melt2 = melt.withColumn("c", F.col("doc_id") % 5 + 10)
    cond = (F.col("a.c") * 9 <= F.col("b.c") * 10) & (
        F.col("b.c") * 9 <= F.col("a.c") * 10
    )
    got = pair_set(bounded(melt2, 64, extra_cond=cond))
    want2 = pair_set(bounded(melt2, 0, extra_cond=cond))
    assert got == want2 and len(want2) < len(want)

    # carry_b plumbing (r17: the simhash pair verify carries both sides'
    # hashes) — the b-side column must arrive with the _b suffix and the
    # correct per-pair value, salted and unsalted alike
    def triple_set(df):
        return {(r["doc_a"], r["doc_b"], r["c"], r["c_b"]) for r in df.collect()}

    got_b = triple_set(bounded(melt2, 64, carry=("c",), carry_b=("c",)))
    want_b = triple_set(bounded(melt2, 0, carry=("c",), carry_b=("c",)))
    assert got_b == want_b
    by_pair = {(a, b): (ca, cb) for a, b, ca, cb in want_b}
    assert by_pair[(0, 1)] == (10, 11)  # doc 0 carries c=10, doc 1 c=11


def test_skew_bounded_self_pairs_rejects_reserved_columns(spark, monkeypatch):
    """A melt already carrying one of the salted join's working columns
    must fail loudly instead of having it silently overwritten."""
    import pytest

    from bigdata_project_spark.operators.text_dedup import (
        _LSH_SALT_ENV,
        skew_bounded_self_pairs,
    )

    base = spark.createDataFrame(
        [(i, "HOT") for i in range(100)], "doc_id long, sig string"
    )
    for col in ("__bn", "__ns_hot", "__ns", "__salt"):
        melt = base.withColumn(col, F.lit(7))
        for t in ("64", "0"):
            monkeypatch.setenv(_LSH_SALT_ENV, t)
            with pytest.raises(ValueError, match=col):
                skew_bounded_self_pairs(melt, ["sig"])


def _fake_frame(master):
    """Stand-in exposing only what _salt_threshold reads: the master."""
    from types import SimpleNamespace

    conf = SimpleNamespace(get=lambda key, default=None: master)
    return SimpleNamespace(sparkSession=SimpleNamespace(conf=conf))


def test_salt_threshold_master_classification(monkeypatch):
    from bigdata_project_spark.operators.text_dedup import (
        _LSH_SALT_DEFAULT,
        _LSH_SALT_ENV,
        _salt_threshold,
    )

    monkeypatch.delenv(_LSH_SALT_ENV, raising=False)
    for master in ("local", "local[4]", "local[*]"):
        assert _salt_threshold(_fake_frame(master)) == 0, master
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn"):
        assert _salt_threshold(_fake_frame(master)) == _LSH_SALT_DEFAULT, master
    # the env override wins over the master in both directions
    monkeypatch.setenv(_LSH_SALT_ENV, "0")
    assert _salt_threshold(_fake_frame("spark://host:7077")) == 0
    monkeypatch.setenv(_LSH_SALT_ENV, "64")
    assert _salt_threshold(_fake_frame("local[4]")) == 64


def test_salt_threshold_bad_env_names_the_variable(monkeypatch):
    import pytest

    from bigdata_project_spark.operators.text_dedup import (
        _LSH_SALT_ENV,
        _salt_threshold,
    )

    for bad in ("lots", "1e3", "-1"):
        monkeypatch.setenv(_LSH_SALT_ENV, bad)
        with pytest.raises(ValueError, match=_LSH_SALT_ENV):
            _salt_threshold(_fake_frame("local[4]"))


#: every registered query whose candidate join routes through
#: skew_bounded_self_pairs
SALT_ROUTED = (
    "dedup_ngram_jaccard",
    "dedup_fuzzy_lev",
    "dedup_minhash_lsh",
    "dedup_minhash_recall",
    "dedup_simhash_pairs",
    "dedup_cluster_cc",
)


def test_forced_salt_matches_oracles(spark, duck, sf_dir, oracles, monkeypatch):
    """With the threshold forced down to 4, the fixture's buckets really
    salt-split, and every salt-routed query must still match its DuckDB
    oracle."""
    from bigdata_project_spark import registry
    from bigdata_project_spark.operators.text_dedup import _LSH_SALT_ENV
    from bigdata_project_spark.oracle_check import compare_one

    monkeypatch.setenv(_LSH_SALT_ENV, "4")
    queries = registry.queries()
    for name in SALT_ROUTED:
        problems = compare_one(
            spark, duck, name, queries[name], oracles[name], sf_dir
        )
        assert not problems, f"{name}: " + "; ".join(problems)
