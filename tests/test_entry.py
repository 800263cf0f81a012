"""Smoke-test the driver contract surface itself."""

from __future__ import annotations

import importlib.util
import os

import pytest

spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
)
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_align(spark):
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert qs, "no queries registered"
    assert set(os_) <= set(qs), "oracle without a query"


def test_driver_order_stalest_first():
    """Never-checked queries first, then by last fully green round; a
    failing row does not refresh a query's round; ties keep table order."""
    from bigdata_project_spark.registry import driver_order

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    rounds = {
        1: {"a": green, "b": green, "c": green, "d": green},
        2: {"b": green, "c": {**green, "hash_match": False}, "e": green},
        3: {"a": green, "d": {"rows_match": None, "err": "no_oracle"}},
    }
    names = ["a", "b", "c", "d", "e", "f", "g"]
    assert driver_order(names, rounds) == ["f", "g", "c", "d", "b", "e", "a"]
    assert driver_order(names, {}) == names


def test_first_50_slots_hold_the_stalest_committed_rows():
    """The driver checks the FIRST 50 registered queries: against the
    committed CORRECTNESS files, none of them may have a fresher green
    row than any query outside the window."""
    import glob
    import json
    import re

    from bigdata_project_spark import registry

    root = os.path.join(os.path.dirname(__file__), "..")
    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        r = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path)[1])
        for name, row in json.load(open(path)).items():
            if all(row.get(k) is True for k in ("rows_match", "schema_match", "hash_match")):
                last_green[name] = max(last_green.get(name, 0), r)
    names = list(registry.queries())
    assert len(names) == len(set(names)) == 169
    window = max(last_green.get(n, 0) for n in names[:50])
    rest = min(last_green.get(n, 0) for n in names[50:])
    assert window <= rest, [n for n in names[50:] if last_green.get(n, 0) < window]


def test_duplicate_query_name_across_tables_raises():
    from bigdata_project_spark.registry import merge_tables

    entry = (None, "SELECT 1")
    with pytest.raises(ValueError, match="dup_q"):
        merge_tables([("plans.a", {"x": entry, "dup_q": entry}), ("operators.b", {"dup_q": entry})])
