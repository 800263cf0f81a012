"""Structured Streaming forms of the event-window operators.

The batch forms live in plans/event_windows.py and share the same
``F.window``/aggregation expressions — this module only swaps the source
(``readStream``) and adds watermarks, which is exactly Spark's
batch/streaming unification contract.

Every drained query is one small operator over :func:`read_event_stream`
handed to :func:`drain`, the single start → processAllAvailable → stop
step; what follows the drain is plain batch work on its rows.

The reference has no streaming (SURVEY.md §2.10); this is the additive
scale path: at 100 TB/day the bronze ingest becomes a file-arrival stream
with these exact queries, watermark-bounded state, and checkpointed
exactly-once sinks.
"""

from __future__ import annotations

import shutil
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from bigdata_project_spark.plans.event_windows import (
    ORACLE_INTERVAL_JOIN_CLICKS,
    ORACLE_SESSIONIZE,
    ORACLE_TUMBLING_1H,
    hourly_rows,
    hourly_type_totals,
)
from bigdata_project_spark.sources.readers import load_table, ts_micros

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # nanos-as-long (see sources.readers)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


#: Hadoop ``FileSystem`` checkpoint manager. Spark's default goes through
#: ``FileContext``, whose local rename resolves each path's link status
#: by running a ``readlink`` process.
FS_CHECKPOINT_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def ephemeral_checkpoint_dir() -> str:
    """Checkpoint dir for a DRAINED verification query — one that runs to
    completion in-process and is never resumed, so the dir is deleted
    with the query. It prefers tmpfs (``/dev/shm``) over disk: on an
    interleaved A/B (10 pairs, 4 cores, sf0.01) ``stream_tumbling`` took
    0.88 s against 0.97 s from the default temp dir on ext4, lower in 7
    of 10 pairs, a gap inside the runs' own spread. Production streams
    that must survive a restart pass a real, durable
    ``checkpointLocation`` instead (the kill-and-resume test uses a
    durable dir on purpose)."""
    import os
    import tempfile

    return tempfile.mkdtemp(prefix="stream_ckpt_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)


@contextmanager
def ephemeral_query(writer: DataStreamWriter) -> Iterator[StreamingQuery]:
    """Start ``writer`` on a fresh :func:`ephemeral_checkpoint_dir` and
    yield the query; on exit, always stop it and remove the dir.

    The query starts on :data:`FS_CHECKPOINT_MANAGER`. On a local file
    system ``rename(2)`` is already atomic, so it gives the same
    guarantee as Spark's ``FileContext`` default there, without the
    ``readlink`` processes of every offset, commit and state-store
    rename (112 per warm ``stream_tumbling`` at sf0.01, 0 here). The
    conf is set on the session only around ``start()``: a query clones
    its session at start, so every micro-batch keeps the manager, and
    the session, and any durable checkpoint started later on it, keep
    their own."""
    conf, ckpt = writer._spark.conf, ephemeral_checkpoint_dir()
    try:
        before = conf.get(CHECKPOINT_MANAGER_CONF, None)
        conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
        try:
            q = writer.option("checkpointLocation", ckpt).start()
        finally:
            if before is None:
                conf.unset(CHECKPOINT_MANAGER_CONF)
            else:
                conf.set(CHECKPOINT_MANAGER_CONF, before)
        try:
            yield q
        finally:
            q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def drain(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run ``stream_df`` to completion into a memory sink and return its
    rows as a lineage-free batch frame.

    The stream runs at the session's ``spark.sql.shuffle.partitions``,
    which ``session.get_spark`` sizes to the core count, like every batch
    query. Stateful cost lands in state-store commits, one per shuffle
    partition per stateful operator per micro-batch, so the count matters.
    Measured on 4 cores at sf0.01 (medians of 3-5 interleaved runs, every
    setting oracle-checked):

    - 1/2/4 partitions are a plateau: ``stream_transitions`` 2.85/2.42/
      2.12 s, ``stream_interval_join`` 2.40/2.57/3.10 s;
    - 4 against the former per-stream 8 (16 for the two
      ``applyInPandasWithState`` streams) is faster or flat for all
      eight streams, e.g. ``stream_transitions`` 4.47 → 2.10 s and
      ``stream_interval_join`` 6.06 → 4.16 s;
    - 32 reads 2.0-3.7× slower than 4: ``stream_interval_join``
      15.37 s, ``stream_transitions`` 6.87 s, ``stream_hll_users``
      6.09 s.

    Those figures were taken on Spark's ``FileContext`` checkpoint
    manager, where most of a state commit was Hadoop starting
    ``readlink`` processes for each rename of a state file (one file per
    partition per commit); :func:`ephemeral_query` now starts every
    drain on the FileSystem manager, which renames without them.

    On a large host the session's count grows with the cores; the old
    note that 32 partitions cost 4-5× what 8 did on a 32-core host is
    unverified here. An A/B passes ``--conf
    spark.sql.shuffle.partitions=N`` to ``tools/ab.py``. Every drain gets
    a fresh checkpoint, so no earlier run pins the count.

    The ephemeral checkpoint is removed even when a micro-batch raises,
    and the sink's temp view is dropped once its rows are materialized.
    Every drained query goes through here, so this is the one place to
    read per-batch ``recentProgress``."""
    import uuid

    spark = stream_df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:8]}"
    writer = stream_df.writeStream.outputMode(mode).format("memory").queryName(name)
    with ephemeral_query(writer) as q:
        q.processAllAvailable()
    rows = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return rows


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one file = one micro-batch
    in tests; a directory of arriving files in production). ``ts`` takes
    the batch reader's unit rule (:func:`sources.readers.ts_micros`), so a
    drained stream and ``load_table`` agree on every event time; getting
    the unit wrong compresses event time 1000× and silently floods
    interval joins."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # watermarks require TIMESTAMP (not NTZ); session TZ is pinned UTC
    us = ts_micros(spark, f"{sf_dir}/events.parquet")
    return raw.withColumn("ts", F.timestamp_micros(us))


def join_clicks_purchases(events: DataFrame) -> DataFrame:
    """Watermarked stream-stream interval join: each purchase matched to
    the same user's clicks within the preceding 30 minutes (the horizon).

    The time-bound condition + watermarks on BOTH sides is what makes
    this run with bounded state at scale: Spark keeps only clicks newer
    than (watermark - horizon) in the join state store and evicts the
    rest — without the interval bound, stream-stream inner join state
    grows forever. Batch twin: the same join on the static frame
    (asserted equal in tests/test_streaming.py)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("click_user") == F.col("user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")),
        "inner",
    ).select("user_id", "purchase_id", "purchase_ts", "click_id", "click_ts")


def upsert_sink(stream_df: DataFrame, table: str, keys: list[str]) -> DataStreamWriter:
    """Streaming upsert: foreachBatch MERGE into a catalog table — the
    streaming form of the reference's idempotent bronze MERGE re-ingest
    (bronze/utils.py:348-366). Each micro-batch is merged keyed, so
    replayed batches (at-least-once sources, restarts from the
    checkpoint) converge to exactly-once table contents.

    Returns the unstarted writer: the caller names its checkpoint and
    manages the query's lifecycle."""
    from bigdata_project_spark.operators.merge import merge_keyed
    from bigdata_project_spark.sources.sinks import replace_table

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if spark.catalog.tableExists(table):
            # read current state BEFORE overwriting; cache to break lineage
            old = spark.table(table).localCheckpoint(eager=True)
            merged = merge_keyed(old, batch_df, keys)
        else:
            merged = batch_df.dropDuplicates(keys)
        replace_table(merged, table)

    return stream_df.writeStream.outputMode("update").foreachBatch(merge_batch)


def query_stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CORRECTNESS query for :func:`upsert_sink`: stage the
    events file TWICE in a stream directory, process one file per
    micro-batch, and foreachBatch-MERGE each batch into a catalog table
    keyed on ``event_id``. Batch 0 creates the table; batch 1 is a full
    at-least-once replay that must leave it unchanged — so the final table
    equals the deduped events set regardless of batch order, and the
    oracle is a plain SELECT over ``events`` (event_id is unique in the
    fixture; the merge path, not the fixture, enforces that invariant).

    This is the streaming twin of the reference's idempotent bronze MERGE
    re-ingest (bronze/utils.py:348-366). ``ts`` stays out of the output:
    replay-convergence is about row identity, pinned by the unique key +
    value columns."""
    import tempfile

    from bigdata_project_spark.sources.sinks import drop_table_and_orphan_location

    src = tempfile.mkdtemp(prefix="stream_upsert_src_")
    table = "stream_upsert_sink_tbl"
    try:
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/batch0.parquet")
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/batch1.parquet")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("event_id", "user_id", "event_type", "value")
        )
        drop_table_and_orphan_location(spark, table)
        with ephemeral_query(upsert_sink(stream, table, ["event_id"])) as q:
            q.processAllAvailable()
        # materialize before dropping the backing table
        return spark.table(table).localCheckpoint(eager=True)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(src, ignore_errors=True)


ORACLE_STREAM_UPSERT = """
SELECT event_id, user_id, event_type, value FROM events
"""


def query_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CORRECTNESS query for :func:`join_clicks_purchases`:
    run the watermarked stream-stream interval join to completion over
    the events fixture and emit the batch twin's exact output columns,
    sharing ``plans.event_windows.ORACLE_INTERVAL_JOIN_CLICKS``. An
    inner interval join emits matches as both sides arrive, so draining
    the stream converges to the batch join exactly — the full value-hash
    oracle holds, not just a rows-only check."""
    rec = drain(join_clicks_purchases(read_event_stream(spark, sf_dir)), "append")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return rec.select(
        "user_id",
        "purchase_id",
        "click_id",
        F.date_format("purchase_ts", fmt).alias("purchase_ts"),
        F.date_format("click_ts", fmt).alias("click_ts"),
    )


def query_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CORRECTNESS query for the watermarked form of
    ``plans.event_windows.hourly_type_totals``: drained in complete mode
    so the final table covers every window (append would hold back the
    trailing watermark hour), then formatted exactly like its batch twin
    ``events_tumbling_1h`` — so it shares ``ORACLE_TUMBLING_1H``
    value-exactly."""
    ev = read_event_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return hourly_rows(drain(hourly_type_totals(ev), "complete"))


def query_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CORRECTNESS query for native session windows
    (``session_window``): drain the watermarked stream and emit one row
    per closed session with its value rollup. The oracle is the batch
    gaps-and-islands sessionizer (plans/event_windows.py) minus its
    session_seq ordinal — merge semantics agree except for gaps of
    EXACTLY the 30-minute threshold (session_window merges `< gap`,
    the batch flag starts new on `> gap`), which cannot occur on the
    micro-timestamped fixture; an exact tie would surface here as a
    driver-row failure, not silently."""
    ev = read_event_stream(spark, sf_dir)
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("session_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    # complete mode: append would hold back every session inside the
    # final watermark horizon (the last hour of the fixture) — complete
    # emits the full merged session state each trigger, so the drained
    # table is the whole answer
    rec = drain(sess, "complete")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return rec.select(
        "user_id",
        F.date_format("first_ts", fmt).alias("session_start"),
        F.date_format("last_ts", fmt).alias("session_end"),
        "n_events",
        "session_value",
    )


ORACLE_STREAM_SESSIONIZE = f"SELECT * EXCLUDE (session_seq) FROM ({ORACLE_SESSIONIZE})"


def query_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CORRECTNESS query for watermarked streaming dedup:
    every event arrives TWICE (map-side duplication of the stream) and
    ``dropDuplicatesWithinWatermark`` on the event key must restore
    exactly-once — the drained output's per-type rollup equals the
    plain batch rollup of the events table.

    ``dropDuplicatesWithinWatermark`` (not plain dropDuplicates) is the
    production form: state for a key is evicted once the watermark
    passes it, so state size is bounded by the watermark horizon ×
    arrival rate instead of growing with the stream's lifetime key
    count — the only dedup that survives an unbounded stream. The
    duplicates here arrive inside one watermark window, the case the
    operator guarantees; the rollup aggregate runs batch-side on the
    drained sink (chaining a second stateful aggregate behind dedup in
    one streaming query is deliberately avoided — multi-stateful
    chaining restrictions are version-sensitive, and the contract under
    test is the dedup, not the chain)."""
    ev = read_event_stream(spark, sf_dir)
    doubled = ev.withColumn(
        "__copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("__copy")
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return (
        drain(deduped, "append")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_id").alias("n_unique"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAM_DEDUP = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_id) AS n_unique,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def query_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the Structured Streaming feature
    every event pipeline leans on (micro-batch events joined to a slowly
    changing dimension without any stream state): the event stream inner-
    joins the STATIC customer table on user_id, broadcast-hinted so each
    micro-batch is a map-side hash join, then rolls up per nation.

    Stream-static inner joins are stateless by definition (the static
    side is re-planned per micro-batch; no watermark, no state store) —
    which is why this is the right shape for dimension enrichment at any
    scale, and why the drained result must equal the batch join exactly."""
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    enriched = (
        read_event_stream(spark, sf_dir)
        .join(
            F.broadcast(customers),
            F.col("user_id") == F.col("c_custkey"),
            "inner",
        )
        # prune before the sink: the memory sink materializes every
        # drained row, so carrying the full event+customer width through
        # it measured ~2x the whole query (r9c 3.97 s -> see commit A/B)
        .select("user_id", "c_nationkey")
    )
    return drain(enriched, "append").groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


ORACLE_STREAM_STATIC_ENRICH = """
SELECT c.c_nationkey,
       COUNT(*) AS n_events,
       COUNT(DISTINCT e.user_id) AS n_users
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
"""


QUERIES = {
    "stream_interval_join": (query_stream_interval_join, ORACLE_INTERVAL_JOIN_CLICKS),
    "stream_sessionize": (query_stream_sessionize, ORACLE_STREAM_SESSIONIZE),
    "stream_tumbling": (query_stream_tumbling, ORACLE_TUMBLING_1H),
    "stream_static_enrich": (query_stream_static_enrich, ORACLE_STREAM_STATIC_ENRICH),
    "stream_dedup": (query_stream_dedup, ORACLE_STREAM_DEDUP),
    "stream_upsert_sink": (query_stream_upsert_sink, ORACLE_STREAM_UPSERT),
}
