"""Pipeline runner — the reference's E1 entry point (SURVEY.md §3), minus
Airflow: run the silver build end-to-end and materialize catalog tables.

The reference's main_pipeline DAG (reference airflow/dags/main.py:54-182)
wires bronze ingest tasks into silver CREATE-OR-REPLACE tasks with explicit
dependency edges. Here the dependency graph is just Python evaluation
order over the registry's builders, and each "task" is a
``replace_table`` — same semantics (idempotent full rebuild per table),
one Spark application, lineage tracked by Catalyst instead of XCom.

Usage::

    from bigdata_project_spark.runner import run_silver_pipeline
    counts = run_silver_pipeline(spark, "/root/testdata/sf0.001")

Scale notes: each silver table is an independent job over the same cached
session; on a cluster the runner is the spark-submit main. Partitioned
tables (the date-keyed facts) take ``partition_by`` so downstream reads
prune; the reference's per-task row-count logging survives as the
returned dict.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from bigdata_project_spark import registry
from bigdata_project_spark.sources.sinks import replace_table

# silver tables the reference materializes, in its dependency order
# (main.py:169-182): zonification → distances; od/people_day/overnights
# independent; INE family after municipios. Partition columns follow each
# table's natural date/discriminator key.
SILVER_TABLES: dict[str, dict] = {
    "silver_od": {"partition_by": ["zone_level"]},
    "silver_people_day": {"partition_by": ["zone_level"]},
    "silver_overnights": {"partition_by": ["zone_level"]},
    "silver_zones": {},
    "silver_distances": {"partition_by": ["zone_level"]},
    "silver_ine_empresas": {},
    "silver_ine_poblacion": {},
    "silver_ine_renta": {},
}


def run_silver_pipeline(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "",
) -> dict[str, int]:
    """Rebuild every silver table into the session catalog
    (CREATE OR REPLACE semantics); returns row counts per table."""
    counts: dict[str, int] = {}
    qs = registry.queries()
    for name, opts in SILVER_TABLES.items():
        df = qs[name](spark, sf_dir)
        table = f"{prefix}{name}"
        replace_table(df, table, partition_by=opts.get("partition_by"))
        counts[table] = spark.table(table).count()
    return counts
