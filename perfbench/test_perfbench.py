"""Self-tests of the benchmark's helpers. They need no Spark session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from stats import Tally, median, quartiles, relative_spread  # noqa: E402


def test_median_odd_even_and_empty():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_quartiles_match_statistics_module():
    values = [9.1, 8.7, 10.2, 9.9, 9.4, 8.8, 11.0, 9.0, 9.6, 10.1]
    q1, q2, q3 = quartiles(values)
    assert (q1, q2, q3) == tuple(statistics.quantiles(values, n=4))
    assert q2 == statistics.median(values)
    assert relative_spread(values) == pytest.approx((q3 - q1) / q2)


def test_relative_spread_of_constant_series_is_zero():
    assert relative_spread([2.0] * 10) == 0.0
    with pytest.raises(ValueError):
        quartiles([1.0])


def test_tally_counts_raises_and_mismatches_as_failed():
    t = Tally()
    t.record("a", [])
    t.record("b", ["exception: RuntimeError: boom"])
    t.record("c", ["rowcount spark=1 duckdb=2"])
    t.record("a", [])
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert set(t.problems) == {"b", "c"}


def test_empty_tally_has_no_failures():
    assert Tally().failed_frac == 0.0


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_every_pass_runs_the_same_ops_in_the_same_seeded_order(name):
    w = workloads.WORKLOADS[name]
    check, untraced, traced = (workloads.op_order(w, 7) for _ in range(3))
    assert check == untraced == traced
    assert sorted(traced) == sorted(w.ops)
    orders = {tuple(workloads.op_order(w, seed)) for seed in range(20)}
    assert len(orders) > 1 or len(w.ops) == 1


class _FakeOp:
    """Stands in for a registry query: records each call, may raise."""

    def __init__(self, name: str, calls: list, fail: bool = False) -> None:
        self.name, self.calls, self.fail = name, calls, fail

    def __call__(self, spark, fixture_dir):
        self.calls.append(self.name)
        if self.fail:
            raise RuntimeError("boom")
        return self

    # df.write.format("noop").mode("overwrite").save()
    write = property(lambda self: self)

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


def test_timed_passes_run_the_seeded_order_and_count_raises_as_failed():
    w = workloads.WORKLOADS["scale10x"]
    order = workloads.op_order(w, 11)
    calls: list[str] = []
    queries = {n: _FakeOp(n, calls, fail=(n == order[1])) for n in order}
    tally = Tally()
    passes, latencies = run.timed_passes(None, order, queries, "fx", 0, tally, n_min=3)
    assert len(passes) == 3
    assert calls == order * 3
    assert all(len(v) == 3 for v in latencies.values())
    assert (tally.attempted, tally.failed) == (3 * len(order), 3)
    assert set(tally.problems) == {order[1]}


def test_workload_ops_are_registered():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    registry = pytest.importorskip("bigdata_project_spark.registry")
    known = set(registry.queries())
    for w in workloads.WORKLOADS.values():
        assert set(w.ops) <= known, w.name


def test_base_fixture_is_deterministic_and_sized():
    a, b = fixtures.base_tables(), fixtures.base_tables()
    for name in fixtures.TABLES:
        assert a[name].equals(b[name]), name
    assert {k: t.num_rows for k, t in a.items()} == fixtures.expected_counts(False)


def test_replica_offsets_are_a_seeded_permutation():
    offs = fixtures.replica_offsets(3)
    assert sorted(offs) == list(range(fixtures.REPLICAS))
    assert offs == fixtures.replica_offsets(3)
    assert offs == fixtures.replica_offsets(3 + fixtures.LAYOUTS)
    assert offs != fixtures.replica_offsets(4)


def test_replicated_fixture_keeps_keys_distinct(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    base, x10 = tmp_path / "base", tmp_path / "x10"
    fixtures.write_base(str(base))
    counts = fixtures.write_replicated(str(base), str(x10), fixtures.replica_offsets(5))
    assert counts == fixtures.expected_counts(True)
    con = duckdb.connect()
    distinct = con.execute(
        f"SELECT count(DISTINCT o_orderkey) FROM read_parquet('{x10}/orders.parquet')"
    ).fetchone()[0]
    assert distinct == counts["orders"]
    orphans = con.execute(
        f"SELECT count(*) FROM read_parquet('{x10}/lineitem.parquet') l "
        f"ANTI JOIN read_parquet('{x10}/orders.parquet') o ON l.l_orderkey = o.o_orderkey"
    ).fetchone()[0]
    assert orphans == 0


def test_workload_totals_sum_flows_and_combine_levels():
    per_op = [
        {"exec.s": 1.0, "exec.task_s": 2.0, "exec.peak_mem_mb": 10.0,
         "stream.batch_ms_samples": [5, 7], "build.jobs": 2},
        {"exec.s": 3.0, "exec.task_s": 6.0, "exec.peak_mem_mb": 30.0,
         "stream.batch_ms_samples": [9], "build.jobs": 1},
    ]
    total = layers.workload_totals(per_op, cores=4)
    assert total["exec.s"] == 4.0
    assert total["build.jobs"] == 3
    assert total["exec.busy_frac"] == pytest.approx(8.0 / (4.0 * 4))
    assert total["exec.peak_mem_mb"] == 30.0
    assert total["stream.batch_ms_p50"] == 7


def test_tracer_records_parent_links():
    t = layers.Tracer()
    with t.span("op", op="x") as op:
        with t.span("build"):
            pass
        t.add("plan", 0.0, 1.0, op["id"])
        with t.span("execute"):
            pass
    names = {s["name"]: s for s in t.spans}
    assert names["op"]["parent"] is None
    assert {names[n]["parent"] for n in ("build", "plan", "execute")} == {op["id"]}
    assert all(s["end"] >= s["start"] for s in t.spans)
