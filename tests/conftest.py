from __future__ import annotations

import os
import uuid

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from bigdata_project_spark.session import get_spark, stop_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests")
    yield spark
    stop_spark(spark)  # the JVM may still be writing its CDS archive


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn, *args) -> (jobs, result)``: the Spark jobs ``fn``
    started, counted through a fresh status-tracker job group."""
    sc = spark.sparkContext

    def count(fn, *args):
        group = f"count_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            out = fn(*args)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return count


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
