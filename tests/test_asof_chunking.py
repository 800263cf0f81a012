"""Unit semantics for the forward as-of join and RAG chunking."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def _ts(m):
    return datetime.datetime(2024, 1, 1, 0, m, 0)


def test_asof_forward_picks_earliest_and_min_tiebreak(spark):
    from bigdata_project_spark.plans.asof_range import asof_join

    left = spark.createDataFrame(
        [(1, _ts(10), "a"), (1, _ts(30), "b"), (2, _ts(5), "c")],
        "user_id long, ts timestamp, tag string",
    )
    # user 1: two candidates at the same ts=20 → min event_id (7) wins;
    # left row at ts=30 has a candidate exactly AT its ts (inclusive >=)
    right = spark.createDataFrame(
        [
            (1, _ts(20), 9.0, 8),
            (1, _ts(20), 7.0, 7),
            (1, _ts(30), 3.0, 1),
            (2, _ts(4), 5.0, 2),  # strictly before left → no match
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    out = asof_join(
        left, right, "user_id", "ts", ["value"], "forward", tiebreak="event_id"
    )
    got = {r["tag"]: (r["right_value"], r["right_ts"]) for r in out.collect()}
    assert got["a"] == (7.0, _ts(20))  # earliest ts, min event_id among ties
    assert got["b"] == (3.0, _ts(30))  # at-or-after is inclusive
    assert got["c"] == (None, None)  # nothing at-or-after


def test_chunking_edges(spark):
    from bigdata_project_spark.operators.chunking import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        query_pipeline_chunk_docs,
    )

    assert CHUNK_TOKENS == 64 and CHUNK_STRIDE == 32
    docs = spark.createDataFrame(
        [
            (1, "one two three"),  # shorter than a chunk → exactly 1 chunk
            (2, " ".join(f"t{i}" for i in range(65))),  # 65 toks → starts 1,33,65
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("_chunk_docs_edge")

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = query_pipeline_chunk_docs(spark, d)
        rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    assert rows[(1, 0)]["n_chunk_tokens"] == 3
    assert (1, 1) not in rows
    assert rows[(2, 0)]["n_chunk_tokens"] == 64
    assert rows[(2, 1)]["n_chunk_tokens"] == 33  # tokens 33..65
    assert rows[(2, 2)]["n_chunk_tokens"] == 1  # trailing partial window
    assert rows[(2, 2)]["chunk_start"] == 65


def test_asof_null_payload_fields_come_from_matched_row(spark):
    """ADVICE r5: a matched right row carrying a NULL payload column
    must NOT have that field back/forward-filled from a DIFFERENT right
    row — all right-side fields (ts + payloads) come from the single
    matched row, like DuckDB ASOF."""
    from bigdata_project_spark.plans.asof_range import asof_join

    ts = lambda s: datetime.datetime.fromisoformat(s)  # noqa: E731
    right = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 100.0, "a"),
            # the MATCH for left@10:30 — value is NULL on purpose
            (1, ts("2024-01-01 10:20:00"), None, "b"),
            (1, ts("2024-01-01 11:00:00"), 300.0, "c"),
        ],
        "user_id int, ts timestamp, value double, tag string",
    )
    left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:30:00"), 7)],
        "user_id int, ts timestamp, ev int",
    )
    back = asof_join(left, right, "user_id", "ts", ["value", "tag"], "backward").collect()
    assert len(back) == 1
    r = back[0]
    # matched row is 10:20 (most recent <= 10:30): tag 'b', value NULL —
    # NOT 100.0 filled from the earlier 10:00 row
    assert r["right_ts"] == ts("2024-01-01 10:20:00")
    assert r["right_tag"] == "b"
    assert r["right_value"] is None

    fwd_left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:10:00"), 7)],
        "user_id int, ts timestamp, ev int",
    )
    fwd = asof_join(fwd_left, right, "user_id", "ts", ["value", "tag"], "forward").collect()
    assert len(fwd) == 1
    r = fwd[0]
    # matched row is 10:20 (earliest >= 10:10): value NULL, not 300.0
    # pulled forward from the 11:00 row
    assert r["right_ts"] == ts("2024-01-01 10:20:00")
    assert r["right_tag"] == "b"
    assert r["right_value"] is None
