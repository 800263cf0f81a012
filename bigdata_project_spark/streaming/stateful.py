"""Custom stateful streaming operators via ``applyInPandasWithState``.

The arbitrary-state API covers operators that windowed aggregation can't
express: a per-user Markov transition emitter (the LAG window a batch
engine uses is inexpressible in a stream) and a per-type HyperLogLog
that emits register increments. Both are drained with
:func:`streaming.windows.drain` and aggregated batch-side into their
batch twins' exact oracle values.

Scale notes: state is partitioned by the grouping key across executors
and per-key state is small and bounded (one string; m registers). This
is the pattern slot for reference-less operators like incremental
sessionization or online sketches.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bigdata_project_spark.functions.scalars import round_portable
from bigdata_project_spark.operators.funnel import ORACLE_EVENTS_TRANSITIONS
from bigdata_project_spark.operators.sketches import HLL_M, ORACLE_STREAM_HLL_USERS, hll_finalize
from bigdata_project_spark.sources.readers import load_table
from bigdata_project_spark.streaming.windows import drain, read_event_stream

# ------------------------------------------------- Markov transitions --

TRANSITION_SCHEMA = T.StructType(
    [
        T.StructField("src_event", T.StringType()),
        T.StructField("dst_event", T.StringType()),
        T.StructField("user_id", T.LongType()),
    ]
)

TRANSITION_STATE_SCHEMA = T.StructType(
    [T.StructField("last_type", T.StringType())]
)


def _emit_transitions(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    last = state.get[0] if state.exists else None
    parts = [pdf for pdf in pdfs if len(pdf)]
    if parts:
        # one global (ts, event_id) sort per group-batch, then the
        # transition emission is a vectorized shift: src = dst.shift(1)
        # with the carried last_type prepended into the first slot
        pdf = pd.concat(parts) if len(parts) > 1 else parts[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        dst = pdf["event_type"].reset_index(drop=True)
        src = dst.shift(1)
        if last is not None:
            src.iloc[0] = last
        last = dst.iloc[-1]
        out = pd.DataFrame(
            {"src_event": src, "dst_event": dst, "user_id": np.int64(key[0])}
        )
        out = out[out["src_event"].notna()]
        if len(out):
            yield out
    state.update((last,))


def transitions_stateful(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/funnel.query_events_transitions``:
    per-user state carries only the LAST event type, and each micro-batch
    emits its (src → dst) transition records incrementally — the LAG
    window a batch engine uses is inexpressible in a stream, so this is
    exactly the applyInPandasWithState pattern slot. State is one string
    per live user, partitioned by the grouping key across executors;
    equality with the batch LAG form is asserted in
    tests/test_streaming.py."""
    return events.groupBy("user_id").applyInPandasWithState(
        _emit_transitions,
        outputStructType=TRANSITION_SCHEMA,
        stateStructType=TRANSITION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def query_stream_transitions(spark, sf_dir: str) -> DataFrame:
    """Driver-visible CORRECTNESS query for :func:`transitions_stateful`:
    run the stateful stream to completion over the events fixture, then
    aggregate the emitted transition records into the batch twin's exact
    output — (src, dst, n, P(dst|src)) — so it shares
    ``ORACLE_EVENTS_TRANSITIONS`` with the LAG-window form. A streaming
    operator with a full value-hash oracle, not just a rows-only check:
    the stream must converge to the batch answer exactly."""
    rec = drain(transitions_stateful(read_event_stream(spark, sf_dir)), "append")
    trans = rec.groupBy("src_event", "dst_event").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("src_event")
    return trans.select(
        "src_event",
        "dst_event",
        "n",
        round_portable((F.col("n") * F.lit(1.0)) / F.sum("n").over(w), 6).alias("p"),
    )


# ------------------------------------------- streaming HyperLogLog ------

HLL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("register", T.LongType()),
        T.StructField("rho", T.LongType()),
    ]
)

HLL_STATE_SCHEMA = T.StructType(
    [T.StructField("regs", T.ArrayType(T.LongType()))]
)


def _hll_rho32(uid: int, m: int) -> tuple[int, int]:
    """(register, rho) from the portable md5-derived 32-bit hash — the
    EXACT Python twin of the relational form in operators/sketches.py
    (int(hexdigest[:8], 16) IS the value hex32_to_int computes: conv
    on the Spark side since r12, the Horner fold in the DuckDB
    oracle — all three parse the same first 8 hex chars)."""
    import hashlib

    h = int(hashlib.md5(str(uid).encode("utf-8")).hexdigest()[:8], 16)
    w = h // m
    return h % m, (25 - w.bit_length()) if w else 25


def _emit_hll_increments(m: int):
    """Per-key stateful worker: maintain the m-register sketch in state;
    emit ONLY the registers a batch RAISED (the sketch-update stream —
    output ∝ sketch changes, never ∝ events; at most m·log₂ increments
    per key over any stream length). Downstream max-merge of the emitted
    increments reconstructs the exact register table, whatever the batch
    order — max associativity, the same property the batch roll-up
    leans on."""

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        regs = (
            np.asarray(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(m, dtype=np.int64)
        )
        new = regs.copy()
        for pdf in pdfs:
            if not len(pdf):
                continue
            # NULL users are not counted, as in COUNT(DISTINCT user_id)
            for uid in pd.unique(pdf["user_id"].dropna()):
                r, rho = _hll_rho32(int(uid), m)
                if rho > new[r]:
                    new[r] = rho
        changed = np.nonzero(new > regs)[0]
        if len(changed):
            yield pd.DataFrame(
                {
                    "event_type": key[0],
                    "register": changed.astype(np.int64),
                    "rho": new[changed],
                }
            )
        state.update((new.tolist(),))

    return fn


def hll_increments_stateful(events: DataFrame, m: int) -> DataFrame:
    return events.groupBy("event_type").applyInPandasWithState(
        _emit_hll_increments(m),
        outputStructType=HLL_OUTPUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def query_stream_hll_users(spark, sf_dir: str) -> DataFrame:
    """Streaming distinct-user sketch per event type — HLL registers
    maintained in ``applyInPandasWithState`` state, with the sketch-
    UPDATE stream (register increments) as the emitted records: the
    deployment shape where downstream consumers (dashboards, the batch
    lake) fold tiny increment records instead of re-reading events.

    Drained increments max-merge into exactly the batch sketch's
    register table, so the final estimates share the batch HLL's
    arithmetic (operators/sketches.py hll_finalize) and get a FULL
    value-hash oracle: the stream must converge to the batch answer
    bit-for-bit, transcendental included."""
    inc = drain(
        hll_increments_stateful(read_event_stream(spark, sf_dir), HLL_M), "append"
    )
    regs = inc.groupBy("event_type", "register").agg(F.max("rho").alias("rho"))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users_exact"))
    )
    return hll_finalize(regs, exact, "event_type")


QUERIES = {
    "stream_hll_users": (query_stream_hll_users, ORACLE_STREAM_HLL_USERS),
    "stream_transitions": (query_stream_transitions, ORACLE_EVENTS_TRANSITIONS),
}
