"""The benchmark's workloads: which registry queries each one runs, and why.

An operation (op) is one registry query: the call
``registry.queries()[name](spark, fixture)`` that plans it (and runs any
eager jobs it needs) plus a noop-sink write of the DataFrame it returns.
Each workload is a fixed set of three ops, so the median op latency falls
inside one op's latency cluster. One warm pass takes a few seconds on a
4-core host; the seed only permutes the order the ops run in (and, for
``scale10x``, the replica key offsets).

Two workloads cover every measured layer between them:

- ``ingest`` runs the medallion pipeline with writes beside reads at the
  base scale, where the per-query floor dominates: streaming, the state
  store, sinks and the eager jobs of ``stream_upsert_sink`` show here.
- ``scale10x`` runs plan-bound ops on the 10x fixture: scan, shuffle,
  sort, aggregation, AQE and the Arrow ``mapInPandas`` boundary
  (``sim_pq_adc_topk``) show here.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    replicated: bool  # run on the 10x fixture instead of the base fixture
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ingest",
            ("bronze_merge_keyed", "stream_upsert_sink", "stream_tumbling"),
            False,
            "the medallion pipeline with writes: a keyed bronze MERGE, the "
            "streaming upsert sink and a stateful drained window",
        ),
        Workload(
            "scale10x",
            ("agg_top_customers", "agg_order_priority", "sim_pq_adc_topk"),
            True,
            "the base fixture replicated 10x: scan, shuffle, sort, aggregation and "
            "the Arrow boundary weigh more than the per-query floor",
        ),
    )
}


def op_order(workload: Workload, seed: int) -> list[str]:
    """The seeded op order of every pass (timed, traced and check alike)."""
    ops = list(workload.ops)
    random.Random(seed).shuffle(ops)
    return ops
