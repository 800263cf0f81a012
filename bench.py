"""Benchmark harness: times every registered headline query.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver captures only the LAST ~2000 bytes of stdout and parses the
final line out of that window (observed: BENCH_r03 recorded
``parsed: null`` once the per-query dict grew past ~3.5 KB, while the
shorter r02 line parsed fine). So the printed line is byte-budgeted:
the slowest queries keep individual entries, the long tail of fast ones
is rolled up into ``queries.others = {"n": N, "sum": S}``, and the FULL
per-query timing dict is written to ``BENCH_DETAIL.json`` next to this
file (committed per round; BASELINE.md's tables are built from it).

Constant-overhead policy (decided r5): every timing deliberately
includes Spark's fixed per-query planning/scheduling floor (~0.2-0.5 s
on local[32]). Queries whose DuckDB oracle is sub-second (the sim_*
family, agg_cube/rollup, …) are bounded by that constant, not by plan
shape — it is a per-query constant, not a scale term, and disappears
into the work at 100 TB. We do NOT cache fixture DataFrames across
queries to mask it: the DuckDB baseline pays its cold scan per query,
so masking ours would make the ratio non-comparable. ``load_table``
declaring each table's schema from its parquet footer is not caching:
every load still reads its footer (about 1 ms, no data scan), just as
DuckDB's ``read_parquet`` reads the footer metadata on every query. It
only drops Spark's one-task schema-inference job from each load.

Env:
    SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local parallelism (default all cores)
    BENCH_RUNS          timed runs per query (default 3, median reported)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Leave headroom inside the driver's 2000-byte tail window for the
# progress-bar carriage returns that precede the line.
LINE_BUDGET = 1800


def budgeted_payload(timings: dict[str, float], sf: float | None) -> dict:
    """Largest-first per-query entries until the serialized line would
    exceed LINE_BUDGET; everything else folds into an ``others`` rollup."""
    total = round(sum(timings.values()), 3)
    by_cost = sorted(timings.items(), key=lambda kv: -kv[1])

    def render(k: int) -> dict:
        kept = dict(sorted(by_cost[:k]))  # alphabetical for stable diffs
        rest = by_cost[k:]
        if rest:
            kept["others"] = {
                "n": len(rest),
                "sum": round(sum(v for _, v in rest), 3),
            }
        return {
            "metric": "sum_of_median_query_times",
            "value": total,
            "unit": "sec",
            "queries": kept,
            "sf": sf,
            "detail": "BENCH_DETAIL.json",
        }

    k = len(by_cost)
    payload = render(k)
    while k > 0 and len(json.dumps(payload, separators=(",", ":"))) > LINE_BUDGET:
        k -= 1
        payload = render(k)
    return payload


def main() -> None:
    from bigdata_project_spark import registry
    from bigdata_project_spark.session import env_int, get_spark, stop_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = env_int("BENCH_RUNS", 1) or 3
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = get_spark("bench")

    timings: dict[str, float] = {}
    for name, fn in registry.queries().items():
        # warm-up run: JIT, file listing, broadcast build
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
    stop_spark(spark)

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "sum_of_median_query_times",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            },
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")

    print(json.dumps(budgeted_payload(timings, sf), separators=(",", ":")))


if __name__ == "__main__":
    main()
