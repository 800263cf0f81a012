"""Multi-batch incremental ingest (SURVEY.md §2.1 E1 demo, queued by the
r6 verdict's optional-breadth item).

The reference's bronze layer ingests staged files batch-by-batch and
keeps the table consistent with MERGE (bronze/utils.py:442-454 keyed
flavor): each new batch upserts by key, and re-running a batch — the
at-least-once delivery case every scheduler eventually hits — must be a
no-op. This plan proves the full loop end-to-end, with real staged
parquet files, not in-memory shortcuts:

1. three overlapping batches are STAGED to parquet (batch=1/2/3 dirs —
   the landing-zone shape), derived deterministically from ``orders``
   so the DuckDB oracle can state the expected final table in closed
   form;
2. each batch is read back through the normal parquet scan and folded
   into the running state with ``merge_keyed`` (incoming rows win);
3. batch 3 is applied TWICE — the idempotency re-run. If the merge
   were append-flavored or keyed wrong, the re-run would double rows
   or flip values and the row-count/hash parity would fail.

Batch overlap plan (key space split by o_orderkey % 4):

    batch 1: keys %4 ∈ {0,1}   price as loaded          batch_id 1
    batch 2: keys %4 ∈ {1,2}   price restated +5.0      batch_id 2
    batch 3: keys %4 ∈ {2,3}   price restated +7.0      batch_id 3

so the final state is closed-form per key class: 0→batch1, 1→batch2,
2 and 3→batch3 — exactly what the oracle selects.

Scale notes: each fold is ``merge_keyed``'s single key-hash shuffle
(left-anti + union); batches stream through one at a time, so state
size — not batch count × size — bounds the working set. At 100 TB the
emulated rewrite becomes the bottleneck and the production answer is
Delta/Iceberg MERGE with file pruning (see operators/merge.py notes);
the fold orchestration here is unchanged by that swap.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.merge import merge_keyed
from bigdata_project_spark.sources.readers import load_table

_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "batch_id"]

#: application staging trees with an atexit cleanup already registered
_CLEANUP_REGISTERED: set[str] = set()

#: per-(application, fixture) invocation counter — see the staging-path
#: comment in :func:`query_bronze_incremental_batches`. Drawn via
#: ``next(_INVOCATIONS.setdefault(key, itertools.count(1)))``: both
#: ``dict.setdefault`` and ``next`` on a count are single C calls
#: (atomic under the GIL), and setdefault guarantees exactly one
#: counter object ever survives per key — so two concurrent in-process
#: invocations can never draw the same value and stage into the same
#: inv= directory the way the previous ``get()+1`` read-modify-write
#: could.
_INVOCATIONS: dict[str, "itertools.count[int]"] = {}


def _stage_batches(spark: SparkSession, sf_dir: str, base: str) -> list[str]:
    """Write the three overlapping batches as parquet landing dirs."""
    orders = load_table(spark, sf_dir, "orders")
    mod = F.col("o_orderkey") % 4
    specs = [
        (1, mod.isin(0, 1), F.col("o_totalprice")),
        (2, mod.isin(1, 2), F.col("o_totalprice") + 5.0),
        (3, mod.isin(2, 3), F.col("o_totalprice") + 7.0),
    ]
    paths = []
    for batch_id, pred, price in specs:
        path = os.path.join(base, f"batch={batch_id}")
        (
            orders.filter(pred)
            .select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                price.alias("o_totalprice"),
                F.lit(batch_id).alias("batch_id"),
            )
            .coalesce(8)
            .write.mode("overwrite")
            .parquet(path)
        )
        paths.append(path)
    return paths


def query_bronze_incremental_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staging path keyed by (application, fixture, INVOCATION COUNTER).
    # The applicationId segment keeps concurrent processes (parallel
    # oracle sweeps / A/B benches) from overwriting each other's landing
    # dirs; the invocation segment keeps re-invocations within ONE
    # application from overwriting dirs a still-unconsumed DataFrame
    # from a prior call reads lazily (the r8-review torn-read hazard of
    # the fixed overwrite-mode path: concurrent bench/oracle threads, or
    # a caller holding an earlier return value, would race mode-
    # 'overwrite' against an in-flight scan). Every invocation writes a
    # fresh tree — nothing is ever rewritten in place — and the ONE
    # atexit below removes the whole per-application tree, so the
    # session-leak the fixed path fixed stays fixed; within a session,
    # disk grows by one small 3-batch tree per invocation (bounded by
    # the bench's warm-up+runs count, ~MBs at sf0.1).
    app_dir = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_incr_ingest",
        spark.sparkContext.applicationId,
    )
    fixture_key = sf_dir.strip("/").replace("/", "_")
    inv_key = os.path.join(app_dir, fixture_key)
    inv = next(_INVOCATIONS.setdefault(inv_key, itertools.count(1)))
    base = os.path.join(inv_key, f"inv={inv}")
    # one cleanup per application tree, else every process run would
    # leave an orphan staging tree behind
    if app_dir not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(app_dir)
        atexit.register(shutil.rmtree, app_dir, ignore_errors=True)
    b1, b2, b3 = (spark.read.parquet(p) for p in _stage_batches(spark, sf_dir, base))
    state = b1.select(*_COLS)
    for batch in (b2, b3, b3):  # b3 twice: the idempotency re-run
        state = merge_keyed(state, batch.select(*_COLS), keys=["o_orderkey"])
    return state.select(*_COLS)


ORACLE_BRONZE_INCREMENTAL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE o_orderkey % 4
            WHEN 0 THEN o_totalprice
            WHEN 1 THEN o_totalprice + 5.0
            ELSE o_totalprice + 7.0
       END AS o_totalprice,
       CAST(CASE o_orderkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END
            AS INTEGER) AS batch_id
FROM orders
"""


QUERIES = {
    "bronze_incremental_batches": (query_bronze_incremental_batches, ORACLE_BRONZE_INCREMENTAL),
}
