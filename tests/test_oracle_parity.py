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


def test_null_fact_key_matches_oracle(spark, sf_dir, tmp_path):
    """A lineitem row with a NULL ``l_orderkey`` joins no order, yet it is
    a fact row: ``join_bloom_prefilter``'s n_fact counts it (the oracle's
    ``COUNT(*) FROM lineitem``), and ``agg_order_priority`` ignores it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_project_spark.operators import bloom
    from bigdata_project_spark.oracle_check import duckdb_connection
    from bigdata_project_spark.plans import starjoins
    from bigdata_project_spark.sources.readers import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        if t != "lineitem":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    li = pq.read_table(f"{sf_dir}/lineitem.parquet")
    planted = li.slice(0, 1).set_column(0, "l_orderkey", pa.array([None], pa.int64()))
    pq.write_table(pa.concat_tables([li, planted]), tmp_path / "lineitem.parquet")

    queries = {**bloom.QUERIES, **starjoins.QUERIES}
    con = duckdb_connection(str(tmp_path))
    try:
        for name in ("join_bloom_prefilter", "agg_order_priority"):
            fn, sql = queries[name]
            problems = compare_one(spark, con, name, fn, sql, str(tmp_path))
            assert not problems, f"{name}: " + "; ".join(problems)
    finally:
        con.close()


def test_null_recent_order_custkey_matches_oracle(spark, sf_dir, tmp_path):
    """A recent order with a NULL ``o_custkey`` names no customer, so it
    leaves every customer dormant: Q22's "no recent order" is NOT EXISTS,
    as the engine's left-anti join reads it, not ``NOT IN``, which one
    NULL empties."""
    import os
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bigdata_project_spark.oracle_check import duckdb_connection
    from bigdata_project_spark.plans import starjoins2
    from bigdata_project_spark.sources.readers import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        if t != "orders":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    orders = pq.read_table(f"{sf_dir}/orders.parquet")
    planted = orders.slice(0, 1)
    for col, value in (
        ("o_orderkey", pc.max(orders["o_orderkey"]).as_py() + 1),
        ("o_custkey", None),
        ("o_orderdate", datetime.fromisoformat(starjoins2.Q22_DORMANT_SINCE)),
    ):
        i = planted.schema.get_field_index(col)
        planted = planted.set_column(i, col, pa.array([value], planted.schema.field(col).type))
    pq.write_table(pa.concat_tables([orders, planted]), tmp_path / "orders.parquet")

    fn, sql = starjoins2.QUERIES["agg_dormant_customers"]
    con = duckdb_connection(str(tmp_path))
    try:
        assert con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0] > 0
        problems = compare_one(spark, con, "agg_dormant_customers", fn, sql, str(tmp_path))
        assert not problems, "; ".join(problems)
    finally:
        con.close()


def test_null_users_are_not_counted_by_the_hll_sketches(spark, sf_dir, tmp_path):
    """Every 20th event with a NULL ``user_id``: the streaming and batch
    HLL sketches match their oracles, and equal the result with those
    rows deleted, as ``COUNT(DISTINCT user_id)`` ignores NULL users."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from bigdata_project_spark.operators import sketches
    from bigdata_project_spark.oracle_check import canonicalize, duckdb_connection
    from bigdata_project_spark.sources.readers import TESTDATA_TABLES
    from bigdata_project_spark.streaming import stateful

    events = pq.read_table(f"{sf_dir}/events.parquet")
    keep = pa.array([i % 20 != 0 for i in range(events.num_rows)])
    i = events.schema.get_field_index("user_id")
    nulled = events.set_column(
        i, "user_id", pc.if_else(keep, events["user_id"], pa.scalar(None, pa.int64()))
    )
    dirs = {}
    for tag, table in (("nulls", nulled), ("deleted", events.filter(keep))):
        d = tmp_path / tag
        d.mkdir()
        for t in TESTDATA_TABLES:
            if t != "events":
                os.symlink(f"{sf_dir}/{t}.parquet", d / f"{t}.parquet")
        pq.write_table(table, d / "events.parquet")
        dirs[tag] = str(d)

    queries = {**stateful.QUERIES, **sketches.QUERIES}
    con = duckdb_connection(dirs["nulls"])
    try:
        for name in ("stream_hll_users", "sketch_hll_rollup"):
            fn, sql = queries[name]
            problems = compare_one(spark, con, name, fn, sql, dirs["nulls"])
            assert not problems, f"{name}: " + "; ".join(problems)
            with_nulls, deleted = (fn(spark, d).toPandas() for d in dirs.values())
            assert canonicalize(with_nulls).equals(canonicalize(deleted)), name
    finally:
        con.close()
