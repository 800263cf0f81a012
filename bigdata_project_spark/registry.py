"""Query registry: the single source of truth behind ``__spark_entry__``.

Each module in ``MODULES`` exports ``QUERIES = {name: (builder, oracle)}``:
a PySpark builder and its DuckDB twin, either a SQL string or a function
of the fixture directory (for oracles that embed fixture-derived
literals). The driver cross-checks every pair at sf=0.01 (row count +
schema + order-insensitive value hash), so:

- every computed column is aliased identically on both sides;
- doubles are rounded with identical per-row arithmetic (same op order →
  identical IEEE results → identical rounding);
- aggregate sums go through DECIMAL so Spark's partition-parallel
  summation and DuckDB's sequential one are both exact;
- timestamps are emitted as formatted strings, session TZ pinned to UTC.

The driver checks only the FIRST 50 registered queries, so ``queries()``
returns them stalest-first (:func:`driver_order`) by the committed
``CORRECTNESS_r*.json`` files next to the package.

Registration budget: the bench gate is a ratio over ALL registered
queries, and Spark pays a ~0.3-0.5 s per-query planning/commit floor that
DuckDB does not, so every sub-second registration is a permanent gate
tax. A new registration must do >= 1 s of real work at sf0.1 or replace
an existing entry (the replaced query keeps its pytest coverage).
"""

from __future__ import annotations

import functools
import importlib
import json
import re
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]
Oracle = str | Callable[[str], "str | None"]

# The driver cross-checks queries vs oracles at exactly this fixture;
# fixture-built oracles target it unless a local check names another.
DRIVER_CHECK_SF_DIR = "/root/testdata/sf0.01"

MODULES = (
    "plans.analytics",
    "plans.asof_range",
    "plans.bronze_merge",
    "plans.clean_corpus",
    "plans.event_windows",
    "plans.gold",
    "plans.holidays_json",
    "plans.incremental",
    "plans.silver_distances",
    "plans.silver_ine",
    "plans.silver_od",
    "plans.silver_people_day",
    "plans.starjoins",
    "plans.starjoins2",
    "operators.bloom",
    "operators.bpe",
    "operators.bucketing",
    "operators.cdc",
    "operators.chunking",
    "operators.corpus_quality",
    "operators.dedup_cluster",
    "operators.embedding_stats",
    "operators.funnel",
    "operators.graph",
    "operators.ivf",
    "operators.layout_scan",
    "operators.ordering",
    "operators.packing",
    "operators.pca",
    "operators.pq",
    "operators.profiling",
    "operators.semdedup",
    "operators.similarity",
    "operators.sketches",
    "operators.skew",
    "operators.spatial_join",
    "operators.stats",
    "operators.text_analysis",
    "operators.text_dedup",
    "operators.text_signals",
    "operators.timeseries",
    "operators.zorder",
    "streaming.stateful",
    "streaming.windows",
    "multimodal.binary_ops",
)


def merge_tables(tables: Iterable[tuple[str, Mapping[str, tuple]]]) -> dict[str, tuple]:
    """Concatenate ``(module, QUERIES)`` tables; a name twice is an error."""
    merged: dict[str, tuple] = {}
    for module, table in tables:
        if dup := merged.keys() & table.keys():
            raise ValueError(f"{module} registers already-registered queries {sorted(dup)}")
        merged.update(table)
    return merged


def driver_order(names: Iterable[str], rounds: Mapping[int, Mapping[str, dict]]) -> list[str]:
    """Stable sort, stalest-first, by the last round in which each query
    had a fully green driver row (rows, schema and hash all match).
    Never-checked queries come first; ties keep ``names`` order."""
    last = {
        name: r
        for r, rows in sorted(rounds.items())
        for name, row in rows.items()
        if row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    }
    return sorted(names, key=lambda name: last.get(name, 0))


def committed_rounds() -> dict[int, dict]:
    """The driver's ``CORRECTNESS_r{N}.json`` rows by round ``N``, read
    from the directory that holds the package."""
    rounds = {}
    for path in Path(__file__).resolve().parents[1].glob("CORRECTNESS_r*.json"):
        if m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name):
            rounds[int(m[1])] = json.loads(path.read_text())
    return rounds


@functools.cache
def _table() -> dict[str, tuple[QueryFn, Oracle]]:
    table = merge_tables(
        (m, importlib.import_module(f"{__package__}.{m}").QUERIES) for m in MODULES
    )
    return {name: table[name] for name in driver_order(table, committed_rounds())}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _table().items()}


def oracles(sf_dir: str | None = None) -> dict[str, str]:
    """Oracle SQL per query. Fixture-built oracles are built for ``sf_dir``
    (default: the driver's sf0.01 fixture); one that returns None for it
    is left out, so that query gets a rows-only check."""
    out = {}
    for name, (_, oracle) in _table().items():
        sql = oracle(sf_dir or DRIVER_CHECK_SF_DIR) if callable(oracle) else oracle
        if sql is not None:
            out[name] = sql
    return out
