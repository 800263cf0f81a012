"""Holidays-task analog: JSON field extraction + nested list indexing
(reference bronze/tasks/spanish_holidays.py:31-41).

The reference ingests a holidays JSON API, keeps ``nationwide = true``
rows (P8) and projects ``startDate`` plus ``name[1].text`` — a 1-based
index into a list of structs (F18, the classic off-by-one trap: Spark's
``getItem`` is 0-based).

Fixture mapping: ``events.props`` is a JSON string column → extract
``$.k`` (the bronze JSON parse path); the list-of-structs is rebuilt
inline from typed columns; ``nationwide`` becomes ``value > 100``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.sources.readers import load_table


def query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    shaped = ev.select(
        "event_id",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("date"),
        (F.col("value") > 100.0).alias("nationwide"),
        F.array(
            F.struct(F.col("event_type").alias("text")),
            F.struct(F.upper("event_type").alias("text")),
        ).alias("name"),
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )
    return shaped.filter(F.col("nationwide")).select(
        "event_id",
        "date",
        # reference indexes name[1] 1-based ⇒ first element ⇒ getItem(0)
        F.col("name").getItem(0).getField("text").alias("holiday_name"),
        "prop_k",
    )


ORACLE = """
WITH shaped AS (
    SELECT event_id,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date,
           value > 100.0 AS nationwide,
           [struct_pack(text := event_type), struct_pack(text := upper(event_type))] AS name,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
)
SELECT event_id, date, name[1].text AS holiday_name, prop_k
FROM shaped
WHERE nationwide
"""


QUERIES = {
    "bronze_holidays_json": (query, ORACLE),
}
