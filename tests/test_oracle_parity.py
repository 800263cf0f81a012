"""Every registered query must match its DuckDB oracle at sf0.001.

This mirrors the driver's correctness gate (row count + columns +
order-insensitive values) so regressions surface in `pytest` long before a
round boundary. The heavier sf0.01 sweep runs via
`python -m bigdata_project_spark.oracle_check`.
"""

from __future__ import annotations

import pytest

from bigdata_project_spark import registry
from bigdata_project_spark.oracle_check import compare_one


@pytest.mark.parametrize("name", sorted(registry.queries()))
def test_query_matches_oracle(spark, duck, sf_dir, oracles, name):
    fn = registry.queries()[name]
    # sf_dir-aware: fixture-built oracles are built for the test fixture
    sql = oracles.get(name)
    if sql is None:
        # rows-only contract: must at least run and return a stable schema
        df = fn(spark, sf_dir)
        assert df.columns
        assert df.count() >= 0
        return
    problems = compare_one(spark, duck, name, fn, sql, sf_dir)
    assert not problems, f"{name}: " + "; ".join(problems)
