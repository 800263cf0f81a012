"""Structured Streaming: the streaming twins must agree with batch."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from bigdata_project_spark.streaming.windows import drain, read_event_stream


def test_drain_cleans_up(spark, sf_dir, monkeypatch):
    """``drain`` leaves nothing behind: the ephemeral checkpoint is
    removed whether the stream succeeds or a micro-batch raises, and a
    successful drain drops its memory-sink view."""
    from bigdata_project_spark.streaming import windows

    real_dir, made = windows.ephemeral_checkpoint_dir, []

    def tracked_dir(*args):
        made.append(real_dir(*args))
        return made[-1]

    monkeypatch.setattr(windows, "ephemeral_checkpoint_dir", tracked_dir)

    def drain_views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("drain_")}

    views_before = drain_views()
    rows = drain(read_event_stream(spark, sf_dir).select("event_id"), "append")
    assert rows.count() == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert drain_views() == views_before

    failing = read_event_stream(spark, sf_dir).select(
        F.raise_error(F.lit("boom")).cast("int").alias("x")
    )
    with pytest.raises(StreamingQueryException, match="boom"):
        drain(failing, "append")
    assert len(made) == 2
    assert not any(os.path.exists(d) for d in made)


def test_stateful_drain_runs_at_session_shuffle_partitions(spark, sf_dir, monkeypatch):
    """A drained stateful stream keeps one state store per session
    shuffle partition: no per-stream partition count overrides the
    session's ``spark.sql.shuffle.partitions``."""
    from pyspark.sql.streaming import DataStreamWriter

    from bigdata_project_spark.plans.event_windows import hourly_type_totals

    real_start, started = DataStreamWriter.start, []

    def tracked_start(self, *args, **kwargs):
        started.append(real_start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", tracked_start)
    ev = read_event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    drain(hourly_type_totals(ev), "complete")
    (query,) = started
    ops = [op for p in query.recentProgress for op in p.stateOperators]
    assert ops
    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert {op.numShufflePartitions for op in ops} == {want}


@pytest.mark.parametrize("value", ["abc", "0", "-2"])
def test_bad_cpus_env_names_the_variable(value, monkeypatch):
    """``SPARK_GRAFT_CPUS`` sets the session's cores and shuffle
    partitions; a non-integer or non-positive value raises, naming the
    variable, before any session is built."""
    from bigdata_project_spark import session

    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    monkeypatch.setattr(session, "SparkSession", None)  # building would raise
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark("bad_cpus")


def test_plain_int64_nanos_read_alike_by_batch_and_stream(spark, tmp_path):
    """A plain-int64 nanosecond ``ts`` (no parquet timestamp type) gets one
    table-level unit in both readers: the 1972 epoch is below 1e17 ns, so
    a per-row magnitude rule would read it as microseconds (year 4188)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_project_spark.sources.readers import load_table

    want = [(1, "1972-03-21 08:30:00"), (2, "2023-11-14 22:13:20")]
    epoch = dt.datetime(1970, 1, 1)
    ns = [
        int((dt.datetime.strptime(t, "%Y-%m-%d %H:%M:%S") - epoch).total_seconds()) * 10**9
        for _, t in want
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.int64()),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["click", "view"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ),
        tmp_path / "events.parquet",
    )
    fmt = "yyyy-MM-dd HH:mm:ss"
    batch = load_table(spark, str(tmp_path), "events")
    stream = drain(read_event_stream(spark, str(tmp_path)), "append")
    for df in (batch, stream):
        got = df.select("event_id", F.date_format("ts", fmt)).collect()
        assert sorted(tuple(r) for r in got) == want


def _checkpoint_manager(q) -> str:
    return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getSimpleName()


@pytest.mark.parametrize(
    "preset",
    [
        None,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    ],
)
def test_ephemeral_query_scopes_the_checkpoint_manager_to_its_start(
    spark, sf_dir, preset
):
    """A query started through ``ephemeral_query`` writes its checkpoint
    through the FileSystem manager, and the session's own setting is
    what it was before, whether ``start()`` returned or raised (a second
    query under an active query's name raises at start)."""
    from bigdata_project_spark.streaming.windows import (
        CHECKPOINT_MANAGER_CONF,
        ephemeral_query,
    )

    def writer():
        return (
            read_event_stream(spark, sf_dir)
            .select("event_id")
            .writeStream.format("memory")
            .queryName("scoped_manager")
        )

    if preset is None:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)
    else:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, preset)
    try:
        with ephemeral_query(writer()) as q:
            q.processAllAvailable()
            assert _checkpoint_manager(q) == "FileSystemBasedCheckpointFileManager"
            assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) == preset
            with pytest.raises(Exception, match="already active"):
                with ephemeral_query(writer()):
                    pass
            assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) == preset
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) == preset
        assert spark.streams.active == []
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)
        spark.catalog.dropTempView("scoped_manager")


def test_stream_upsert_sink_exactly_once(spark, sf_dir, tmp_path):
    """Duplicated input stream + keyed foreachBatch MERGE → exactly-once
    table contents."""
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table
    from bigdata_project_spark.streaming.windows import upsert_sink

    table = "t_stream_upsert"
    drop_table(spark, table)
    # duplicate the source: every event arrives twice
    stream = read_event_stream(spark, sf_dir)
    doubled = stream.unionByName(stream)
    writer = upsert_sink(doubled, table, keys=["event_id"])
    q = writer.option("checkpointLocation", str(tmp_path / "ckpt")).start()
    try:
        q.processAllAvailable()
        # a durable checkpoint keeps Spark's default manager
        assert _checkpoint_manager(q) == "FileContextBasedCheckpointFileManager"
    finally:
        q.stop()
    try:
        n_distinct = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
        got = spark.table(table)
        assert got.count() == n_distinct
        assert got.select("event_id").distinct().count() == n_distinct
    finally:
        drop_table(spark, table)


def test_query_stream_upsert_sink_matches_events(spark, sf_dir):
    """The registered CORRECTNESS query: a twice-staged (replayed) stream
    upserted on event_id converges to exactly the events table."""
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.streaming.windows import query_stream_upsert_sink

    out = query_stream_upsert_sink(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    assert sorted(tuple(r) for r in out.collect()) == sorted(
        tuple(r) for r in ev.collect()
    )


def test_query_stream_upsert_sink_stops_its_query_when_a_batch_raises(
    spark, sf_dir, monkeypatch
):
    """A micro-batch whose merge raises must not leave the upsert query
    running after its source and checkpoint directories are deleted."""
    from bigdata_project_spark.operators import merge
    from bigdata_project_spark.streaming.windows import query_stream_upsert_sink

    def failing_merge(*args, **kwargs):
        raise RuntimeError("merge boom")

    monkeypatch.setattr(merge, "merge_keyed", failing_merge)
    with pytest.raises(StreamingQueryException, match="merge boom"):
        query_stream_upsert_sink(spark, sf_dir)
    assert spark.streams.active == []
    assert not spark.catalog.tableExists("stream_upsert_sink_tbl")


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.streaming.windows import join_clicks_purchases

    rows = drain(join_clicks_purchases(read_event_stream(spark, sf_dir)), "append")
    got = {(r["purchase_id"], r["click_id"]) for r in rows.collect()}
    batch = join_clicks_purchases(load_table(spark, sf_dir, "events"))
    want = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert got == want
    assert want  # fixture must actually produce matches


def test_stateful_transitions_match_batch(spark, sf_dir):
    """The per-user stateful transition stream aggregates to exactly the
    batch LAG-window transition counts."""
    from bigdata_project_spark.operators.funnel import query_events_transitions
    from bigdata_project_spark.streaming.stateful import transitions_stateful

    rows = drain(transitions_stateful(read_event_stream(spark, sf_dir)), "append")
    got = {
        (r["src_event"], r["dst_event"]): r["count"]
        for r in rows.groupBy("src_event", "dst_event").count().collect()
    }
    want = {
        (r["src_event"], r["dst_event"]): r["n"]
        for r in query_events_transitions(spark, sf_dir).collect()
    }
    assert got == want


def test_checkpoint_restart_is_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-resume: a checkpointed file-source → file-sink stream,
    stopped and restarted on the SAME checkpoint, must (1) not
    reprocess the batch it already committed and (2) pick up exactly
    the files that arrived while it was down — the offset-log +
    sink-commit-log contract that makes streaming restarts exactly-once
    at any scale."""
    import shutil

    from bigdata_project_spark.streaming.windows import EVENT_SCHEMA

    src = tmp_path / "in"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")

    def run_once():
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .parquet(str(src))
            .select("event_id", "event_type")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    run_once()
    first = spark.read.parquet(str(out))
    assert first.count() == n
    assert first.select("event_id").distinct().count() == n

    # restart with nothing new: committed batch must NOT replay
    run_once()
    assert spark.read.parquet(str(out)).count() == n

    # a file arrives while "down"; restart picks up exactly that file
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    run_once()
    final = spark.read.parquet(str(out))
    assert final.count() == 2 * n
    # every event id appears exactly twice (once per input file)
    assert (
        final.groupBy("event_id").count().filter(F.col("count") != 2).count() == 0
    )


def test_stream_hll_python_twin_matches_relational(spark):
    """The streaming worker's Python (register, rho) must equal the
    relational md5 form in operators/sketches.py for the same user ids —
    the identity the stream-vs-batch oracle convergence rests on."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.functions.text import word_hash32
    from bigdata_project_spark.operators.sketches import HLL_M
    from bigdata_project_spark.streaming.stateful import _hll_rho32

    ids = list(range(0, 2000, 37)) + [2**31, 2**40 + 123]
    df = spark.createDataFrame([(i,) for i in ids], "user_id long")
    rel = (
        df.select("user_id", word_hash32(F.col("user_id").cast("string")).alias("h"))
        .select(
            "user_id",
            F.expr(f"h % {HLL_M}").alias("register"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .select(
            "user_id",
            "register",
            F.when(F.col("w") == 0, F.lit(25))
            .otherwise(F.lit(25) - F.length(F.expr("bin(w)")))
            .alias("rho"),
        )
        .collect()
    )
    for row in rel:
        assert (row["register"], row["rho"]) == _hll_rho32(row["user_id"], HLL_M)


def test_stream_hll_matches_batch_sketch(spark, sf_dir):
    """Drained increment records max-merge to EXACTLY the batch register
    table per event type (stream == batch, engine-internally; the DuckDB
    oracle asserts the same cross-engine)."""
    from pyspark.sql import functions as F

    from bigdata_project_spark.functions.text import word_hash32
    from bigdata_project_spark.operators.sketches import HLL_M
    from bigdata_project_spark.streaming.stateful import query_stream_hll_users
    from bigdata_project_spark.sources.readers import load_table

    streamed = query_stream_hll_users(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    batch = (
        ev.select(
            "event_type", word_hash32(F.col("user_id").cast("string")).alias("h")
        )
        .select(
            "event_type",
            F.expr(f"h % {HLL_M}").alias("register"),
            F.expr(f"h div {HLL_M}").alias("w"),
        )
        .select(
            "event_type",
            "register",
            F.when(F.col("w") == 0, F.lit(25))
            .otherwise(F.lit(25) - F.length(F.expr("bin(w)")))
            .alias("rho"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            (F.lit(HLL_M) - F.countDistinct("register")).alias("n_zero_registers"),
        )
        .toPandas()
        .set_index("event_type")
    )
    got = streamed.set_index("event_type")
    assert (
        got["n_zero_registers"].sort_index()
        == batch["n_zero_registers"].sort_index()
    ).all()
