"""DuckDB side of the bench: times every registered oracle.

The repo's 2x bench gate (BASELINE.md §2) compares PySpark wall time to
DuckDB running the equivalent oracle SQL on the same parquet. This tool
produces the DuckDB column: one warm-up + BENCH_RUNS timed runs per
oracle, median reported, same JSON shape as bench.py.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 BENCH_RUNS=3 python tools/duckdb_bench.py
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bigdata_project_spark import registry
    from bigdata_project_spark.oracle_check import duckdb_connection
    from bigdata_project_spark.session import env_int

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = env_int("BENCH_RUNS", 1) or 3
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    con = duckdb_connection(sf_dir)
    timings: dict[str, float] = {}
    for name, sql in registry.oracles(sf_dir).items():
        con.execute(sql).fetchall()  # warm-up: buffer cache, plan cache
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "duckdb_sum_of_median_oracle_times",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
