"""Semantics of the corpus-curation signal operators beyond oracle parity."""

from __future__ import annotations

from bigdata_project_spark.operators.text_signals import (
    query_sample_stratified,
    query_text_pii_redact,
    query_text_repetition,
)


def test_repetition_ratios_bounded(spark, sf_dir):
    out = query_text_repetition(spark, sf_dir).toPandas()
    assert len(out) > 0
    for c in ("frac_dup_trigrams", "top_bigram_frac", "top_word_frac"):
        assert (out[c] >= 0).all() and (out[c] <= 1).all()
    # word-soup fixture repeats its small vocabulary heavily
    assert (out["frac_dup_trigrams"] > 0).any()


def test_pii_planted_counts(spark, sf_dir):
    out = query_text_pii_redact(spark, sf_dir).toPandas().set_index("doc_id")
    assert (out.loc[[i for i in out.index if i % 3 == 0], "n_emails"] >= 1).all()
    assert (out.loc[[i for i in out.index if i % 5 == 0], "n_urls"] >= 1).all()
    assert (out.loc[[i for i in out.index if i % 7 == 0], "n_longnums"] >= 1).all()
    assert (out.loc[[i for i in out.index if i % 3 and i % 5 and i % 7], "n_emails"] == 0).all()


def test_stratified_sample_deterministic_and_rated(spark, sf_dir):
    a = query_sample_stratified(spark, sf_dir).toPandas()
    b = query_sample_stratified(spark, sf_dir).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])  # replay-stable
    from bigdata_project_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").toPandas()
    n_en = (docs["lang"] == "en").sum()
    if n_en >= 50:
        frac_en = (a["lang"] == "en").sum() / n_en
        assert 0.3 < frac_en < 0.7  # rate 0.5 ± hash noise


def test_source_overlap_invariants(spark, sf_dir):
    """Cross-source overlap audit: every emitted pair is canonical
    (a < b, so no mirror duplicates), shared counts are bounded by both
    vocabularies, and Jaccard is the exact set formula on the reported
    counts."""
    from bigdata_project_spark.operators.text_signals import (
        query_text_source_overlap,
    )

    out = query_text_source_overlap(spark, sf_dir).toPandas()
    assert len(out)  # the fixture has real cross-source overlap
    assert (out["source_a"] < out["source_b"]).all()
    assert not out.duplicated(["source_a", "source_b"]).any()
    assert (out["n_shared"] >= 1).all()
    assert (out["n_shared"] <= out[["n_a", "n_b"]].min(axis=1)).all()
    expect = out["n_shared"] / (out["n_a"] + out["n_b"] - out["n_shared"])
    assert ((out["jaccard"] - expect).abs() <= 1e-6).all()
    assert ((out["jaccard"] > 0) & (out["jaccard"] <= 1)).all()


def test_source_overlap_bitmap_equals_pairwise(spark, sf_dir):
    """The bitmap escape hatch must be output-identical to the pairwise
    join on the real fixture (20 sources, single-word bitmaps)."""
    from bigdata_project_spark.operators.text_signals import (
        query_text_source_overlap,
        source_overlap_bitmap,
    )
    from bigdata_project_spark.sources.readers import load_table

    cols = ["source_a", "source_b"]
    a = (
        query_text_source_overlap(spark, sf_dir)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )
    b = (
        source_overlap_bitmap(spark, load_table(spark, sf_dir, "documents"))
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    assert a[cols].equals(b[cols])
    for c in ("n_shared", "n_a", "n_b"):
        assert (a[c].to_numpy() == b[c].to_numpy()).all()
    assert (abs(a["jaccard"] - b["jaccard"]) <= 1e-9).all()


def test_source_overlap_bitmap_multiword(spark):
    """>64 sources forces ceil(S/64)=3 bitmap words; plant a known overlap
    pattern and check the kernel decodes across word boundaries."""
    from bigdata_project_spark.operators.text_signals import (
        OVERLAP_N,
        source_overlap_bitmap,
    )

    shared = " ".join(f"tok{i}" for i in range(OVERLAP_N))  # one shared gram
    rows = []
    # 130 sources; sources s000, s063, s064, s127, s128 share one gram
    # (bits in words 0, 0, 1, 1, 2) — every other source gets a unique gram
    sharers = {0, 63, 64, 127, 128}
    for s in range(130):
        name = f"s{s:03d}"
        text = shared if s in sharers else " ".join(
            f"only{s}_{i}" for i in range(OVERLAP_N)
        )
        rows.append((name, text))
    docs = spark.createDataFrame(rows, "source string, text string")
    out = source_overlap_bitmap(spark, docs).toPandas()
    got = {tuple(r) for r in out[["source_a", "source_b"]].to_numpy()}
    names = sorted(f"s{s:03d}" for s in sharers)
    want = {
        (a, b) for i, a in enumerate(names) for b in names[i + 1:]
    }
    assert got == want
    assert (out["n_shared"] == 1).all()
    assert (out["n_a"] == 1).all() and (out["n_b"] == 1).all()
    assert (out["jaccard"] == 1.0).all()
