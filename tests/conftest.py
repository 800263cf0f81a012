from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bigdata_project_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracles(sf_dir) -> dict[str, str]:
    """Oracle SQL for the test fixture, built once per session (the
    fixture-built BPE and PCA oracles each run a DuckDB pass)."""
    from bigdata_project_spark import registry

    return registry.oracles(sf_dir)


@pytest.fixture(scope="session")
def duck(sf_dir):
    from bigdata_project_spark.oracle_check import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()
