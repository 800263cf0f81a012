"""MERGE / upsert semantics (SURVEY.md §2.1 S9).

The reference deduplicates bronze loads with DuckDB MERGE in two flavors:

- **all-column MERGE** — keys = every data column, so a matched row updates
  to itself; net effect is "insert rows not already present"
  (reference bronze/utils.py:348-366). Equivalent to dedup-union.
- **keyed MERGE** — explicit key list (``Id``/``COD``/``ID``), matched rows
  take the incoming values (bronze/utils.py:442-454, 697-711).

Without a transactional table format these are emulated as pure DataFrame
expressions; with one on the classpath the same call sites can switch to a
real ``MERGE INTO``. Availability was PROBED round 10
(tools/delta_probe_result.json): neither the
delta-spark/pyiceberg python packages nor the ``delta``/``iceberg``
datasources exist in this image (DATA_SOURCE_NOT_FOUND from both the
DataFrameReader and catalog-SQL paths), so the emulation is the only
executable form here — recorded once, caveat closed.

Scale notes
-----------
- Both shapes are a single shuffle on the merge keys (hash aggregate /
  hash join) — map-side partial aggregation applies, and AQE handles skew.
- The keyed merge broadcasts nothing by default: either side may be huge.
  If the incoming batch is small relative to the base table, Catalyst/AQE
  converts the anti-join to broadcast automatically under the threshold.
- At 100 TB the rewrite cost of emulation is the real bottleneck — the
  production answer is Delta/Iceberg MERGE with file-level pruning; this
  module isolates the choice behind one function pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_all_columns(old: DataFrame, new: DataFrame) -> DataFrame:
    """All-column MERGE ≡ union + dedup on every column
    (bronze/utils.py:342-366: merge keys generated from
    information_schema.columns = all data columns)."""
    cols = old.columns
    return old.unionByName(new.select(*cols)).dropDuplicates(cols)


def merge_keyed(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Keyed MERGE: incoming rows win on key match, unmatched old rows kept
    (``WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *``,
    bronze/utils.py:442-454)."""
    cols = old.columns
    # An at-least-once upstream can repeat a key WITHIN one incoming batch;
    # without this dedup both copies would be inserted (the anti-join only
    # guards against rows already in `old`), breaking the unique-key
    # invariant. Deterministic pick: first row under the ordering of all
    # non-key columns (SQL MERGE would raise on multi-match; we resolve it
    # reproducibly instead).
    from bigdata_project_spark.operators.distinct_on import distinct_on

    # Maps are not orderable in Spark, so order them via a canonical JSON
    # serialization: entries sorted by key (keys are unique, so the
    # key-only comparator is total), then to_json. Every other type orders
    # natively — keeping duplicate-key resolution deterministic even when
    # rows differ only in a map column.
    residual: list = []
    for c, t in new.dtypes:
        if c in keys:
            continue
        if t.startswith("map"):
            residual.append(
                F.expr(
                    f"to_json(array_sort(map_entries(`{c}`), "
                    "(a, b) -> CASE WHEN a.key < b.key THEN -1 "
                    "WHEN a.key > b.key THEN 1 ELSE 0 END))"
                ).asc_nulls_last()
            )
        else:
            residual.append(F.col(c).asc_nulls_last())
    # r17: back to the two-step form (dedup the batch, anti-join the old
    # table on the deduped keys, union) — the r16 one-window-pass rewrite
    # (union old+new with a source tag, row_number + min(src) in one
    # window) was REVERTED here. It was justified from STATIC plan counts
    # (10 scans / 27 window nodes in the 3-batch fold), but the deduped
    # batch subtree ends in the dedup window's key exchange, so runtime
    # exchange reuse single-evaluates it for both consumers — the same
    # static-plan fallacy r16 itself documented for the fan-out pins.
    # Measured (interleaved same-session A/B at sf0.1, 8 run pairs,
    # order-balanced, tools/ab_item1_r17.json): the one-pass form lost
    # the 3-batch incremental fold 2.77 vs 2.58 s (7/8 iterations) and
    # won the micro-batch upsert 1.96 vs 2.15 s (a one-job scheduling
    # constant). The SCALE shape decides the tie: both registered uses
    # (incremental ingest fold, streaming upsert) merge a SMALL batch
    # into a LARGE state — the one-pass form shuffles AND sorts the
    # entire state on every merge, while this form leaves the state
    # unshuffled under a broadcast anti-join (batch keys broadcastable)
    # and at worst SMJ-shuffles it without the full-width sort. The
    # replicated-input probe (tools/merge_scale_probe_r17.json: 10x state,
    # 1% batch) confirms two-step ≤ one-pass at the scale shape.
    deduped = distinct_on(new, keys, residual or [F.lit(1)])
    untouched = old.join(deduped.select(*keys), on=keys, how="left_anti")
    return deduped.select(*cols).unionByName(untouched)
