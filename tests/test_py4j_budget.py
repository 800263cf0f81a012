"""py4j budget of the builders whose expressions are the oracle's SQL
strings: a Column-API loop makes one JVM round trip per function, an
``F.expr`` of the same formula one per string. The bounds are about 1.2×
the counts with the shared strings; the Column loops made 1.4-16× more.
"""

from __future__ import annotations

import pytest

from bigdata_project_spark import registry
from bigdata_project_spark.session import py4j_calls

BUDGET = {
    "dedup_simhash": 310,  # 256 calls; the 32-bit Column loop made 4,142
    "dedup_simhash_pairs": 1070,
    "dedup_fuzzy_lev": 1660,
    "dedup_minhash_lsh": 1600,
    "feature_corr_matrix": 820,
    "ml_group_ols": 235,
    "ts_ewma_hourly": 460,
    "agg_nation_profit": 556,
    "sketch_cms_topk": 300,
    "text_hashing_features": 272,  # 226 calls; the Column hash made 418
    "text_quality_linear": 406,  # 338 calls; the Column hashes made 783
}


@pytest.mark.parametrize("name", BUDGET)
def test_build_stays_within_its_py4j_budget(spark, sf_dir, name):
    build = registry.queries()[name]
    build(spark, sf_dir)  # warm: the count is taken on a repeat build
    with py4j_calls() as calls:
        build(spark, sf_dir)
    assert calls.n <= BUDGET[name], f"{name}: {calls.n} py4j calls > {BUDGET[name]}"


def test_py4j_calls_counts_every_thread(spark):
    """Eight threads, each making the same py4j calls, with a short switch
    interval: a lost update would leave the total below 8× one thread's."""
    import sys
    import threading

    jvm = spark.sparkContext._jvm

    def work():
        for _ in range(200):
            jvm.java.lang.Math.abs(-1)

    def count_in_threads(k: int) -> int:
        threads = [threading.Thread(target=work) for _ in range(k)]
        with py4j_calls() as calls:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        return calls.n

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        one, eight = count_in_threads(1), count_in_threads(8)
    finally:
        sys.setswitchinterval(interval)
    assert one > 0 and eight == 8 * one, (one, eight)
