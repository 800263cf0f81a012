"""MERGE-family queries (SURVEY.md §2.1 S9) over the fixtures.

The reference's bronze idempotency contract: re-ingesting the same file
must not duplicate rows (all-column MERGE, bronze/utils.py:348-366), and
re-ingesting a changed keyed payload must update in place (keyed MERGE,
bronze/utils.py:442-454). Both emulated with pure DataFrame ops in
operators/merge.py; these queries prove the semantics against a DuckDB
oracle by replaying a synthetic "second load".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.operators.merge import merge_all_columns, merge_keyed
from bigdata_project_spark.sources.readers import load_table

_LI_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
    "l_discount l_tax l_returnflag l_linestatus"
).split()


def query_merge_all_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay: first load = all lineitem rows; second load = the 'A' slice
    again. All-column merge must leave the table exactly deduplicated."""
    li = load_table(spark, sf_dir, "lineitem").select(*_LI_COLS)
    old = li
    new = li.filter(F.col("l_returnflag") == "A")
    return merge_all_columns(old, new)


ORACLE_MERGE_ALL = f"""
WITH old AS (SELECT {", ".join(_LI_COLS)} FROM lineitem),
     new AS (SELECT {", ".join(_LI_COLS)} FROM lineitem WHERE l_returnflag = 'A')
SELECT DISTINCT * FROM (SELECT * FROM old UNION ALL SELECT * FROM new)
"""


def query_merge_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert: incoming batch = customers of nations < 10 with a
    +100 balance adjustment; incoming rows win, others unchanged."""
    cust = load_table(spark, sf_dir, "customer")
    new = cust.filter(F.col("c_nationkey") < 10).withColumn(
        "c_acctbal", F.col("c_acctbal") + 100.0
    )
    return merge_keyed(cust, new, keys=["c_custkey"])


ORACLE_MERGE_KEYED = """
WITH new AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
    FROM customer WHERE c_nationkey < 10
)
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM new
UNION ALL
SELECT o.* FROM customer o LEFT JOIN new n USING (c_custkey) WHERE n.c_custkey IS NULL
"""


QUERIES = {
    "bronze_merge_keyed": (query_merge_keyed, ORACLE_MERGE_KEYED),
    "bronze_merge_all_columns": (query_merge_all_columns, ORACLE_MERGE_ALL),
}
