"""Layered benchmark for the bigdata_project_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client, closed loop: one Python process
runs the workload's ops (see ``workloads.py``) one after another on
``local[<cores>]``. Every run has the same five parts:

1. set-up: start the session and its JVM and finish a first job
   (``setup_s``);
2. two untimed warm-up passes, then untraced timed passes for
   ``--seconds`` (at least two). ``peak_rss_mb`` is read right after;
3. one traced pass that records spans and Spark's own per-layer counters;
4. an untimed check pass: every op's result is compared with its DuckDB
   oracle by ``oracle_check.compare_one``;
5. the session and its JVM are stopped.

Every metric, end-to-end and per-layer, is printed to stdout as one
``metric <name> <value> <unit>`` line. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, which
holds the end-to-end metrics with ``--trace 0`` and the per-layer metrics
with ``--trace 1``. Each finished run is also appended to
``.perfbench/results.jsonl`` and flushed, so a killed invocation keeps
every run it finished. Inputs, oracle results, Spark scratch space and
traces live under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import sys
import tempfile
import time
import traceback

import fixtures
import layers
import workloads
from stats import Tally, median

ROOT = os.getcwd()
CACHE = os.path.join(ROOT, ".perfbench")
FIXTURE_VERSION = "v1"  # bump when fixtures.py changes what it writes
WARMUP_PASSES = 2  # the JIT needs about two passes before pass times settle
MIN_PASSES = 2
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- inputs -----------------------------------------------------------------
def _build_dir(path: str, build) -> None:
    """Build ``path`` atomically: a killed build leaves no partial fixture."""
    if os.path.isdir(path):
        return
    tmp = f"{path}.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)


def _verify_counts(path: str, expected: dict[str, int]) -> None:
    import pyarrow.parquet as pq

    for table, rows in expected.items():
        got = pq.ParquetFile(os.path.join(path, f"{table}.parquet")).metadata.num_rows
        if got != rows:
            raise RuntimeError(f"fixture {path}: {table} has {got} rows, expected {rows}")


def prepare_fixture(workload: workloads.Workload, seed: int) -> str:
    base = os.path.join(CACHE, f"fixture-base-{FIXTURE_VERSION}")
    _build_dir(base, fixtures.write_base)
    _verify_counts(base, fixtures.expected_counts(False))
    if not workload.replicated:
        return base
    offsets = fixtures.replica_offsets(seed)
    x10 = os.path.join(
        CACHE, f"fixture-x10-{FIXTURE_VERSION}-" + "".join(map(str, offsets))
    )
    _build_dir(x10, lambda out: fixtures.write_replicated(base, out, offsets))
    _verify_counts(x10, fixtures.expected_counts(True))
    return x10


class CachedOracle:
    """Stands in for the DuckDB connection ``compare_one`` takes: results
    are cached on disk, keyed by the oracle SQL and the fixture."""

    def __init__(self, fixture_dir: str) -> None:
        self.fixture_dir = fixture_dir
        self.dir = os.path.join(CACHE, "oracle", os.path.basename(fixture_dir))
        os.makedirs(self.dir, exist_ok=True)
        self._con = None

    def execute(self, sql: str):
        import pandas as pd

        key = hashlib.sha256(sql.replace(self.fixture_dir, "<fixture>").encode()).hexdigest()
        path = os.path.join(self.dir, f"{key}.pkl")
        if not os.path.exists(path):
            if self._con is None:
                from bigdata_project_spark.oracle_check import duckdb_connection

                self._con = duckdb_connection(self.fixture_dir)
            df = self._con.execute(sql).fetchdf()
            df.to_pickle(f"{path}.partial")
            os.replace(f"{path}.partial", path)
        frame = pd.read_pickle(path)
        return type("Result", (), {"fetchdf": lambda _self: frame})()

    def oracle_sql(self, names: list[str]) -> dict[str, str]:
        """Oracle SQL of ``names`` (ops without an oracle are left out)."""
        key = hashlib.sha256(",".join(sorted(names)).encode()).hexdigest()[:16]
        path = os.path.join(self.dir, f"oracle_sql-{key}.json")
        if not os.path.exists(path):
            from bigdata_project_spark import registry

            sql = {n: s for n, s in registry.oracles(self.fixture_dir).items() if n in names}
            with open(f"{path}.partial", "w") as f:
                json.dump(sql, f)
            os.replace(f"{path}.partial", path)
        with open(path) as f:
            return json.load(f)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# -- environment --------------------------------------------------------------
def configure_environment() -> int:
    """Keep Spark and Python scratch files inside the working directory and
    make the package importable by Python workers. Returns the core count."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # A fixed JVM heap keeps the JVM's resident set comparable between
    # runs (and small on a shared host); every op fits in it many times over.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata files
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)
    return cores


def spark_conf() -> dict[str, str]:
    tmp = os.path.join(CACHE, "tmp")
    return {
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def peak_rss_mb(spark) -> float:
    """The Spark JVM's high-water RSS plus this process's high-water RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


# -- session --------------------------------------------------------------------
def start_session():
    """``get_spark`` plus a first job; returns the session and its times."""
    from bigdata_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf())
    t1 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return spark, {"setup_s": t2 - t0, "session.jvm_s": t1 - t0, "session.first_job_s": t2 - t1}


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


# -- passes -------------------------------------------------------------------
def run_op(spark, fn, fixture_dir: str) -> None:
    fn(spark, fixture_dir).write.format("noop").mode("overwrite").save()


def noop_floor_ms(spark, n: int = 5) -> float:
    samples = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(1).write.format("noop").mode("overwrite").save()
        samples.append((time.perf_counter() - t) * 1e3)
    return median(samples)


def python_loop_ms(n: int = 5) -> float:
    samples = []
    for _ in range(n):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        samples.append((time.perf_counter() - t) * 1e3)
    return median(samples)


def check_pass(spark, order, queries, oracle: CachedOracle, fixture_dir, tally, tracer):
    from bigdata_project_spark.oracle_check import compare_one

    sql = oracle.oracle_sql(order)
    for name in order:
        with tracer.span("op", op=name, pass_="check"), tracer.span("check"):
            try:
                if name in sql:
                    problems = compare_one(spark, oracle, name, queries[name], sql[name], fixture_dir)
                else:  # no oracle: the op must at least run
                    queries[name](spark, fixture_dir).count()
                    problems = []
            except Exception as e:  # noqa: BLE001 - an op that raises fails, the pass goes on
                problems = [f"exception: {type(e).__name__}: {e}"]
                log(traceback.format_exc())
        tally.record(name, problems)
        if problems:
            log(f"check {name}: FAIL {problems[:3]}")


def timed_passes(spark, order, queries, fixture_dir, seconds, tally, n_min=MIN_PASSES):
    """Untraced passes until ``seconds`` have elapsed (at least ``n_min``)."""
    passes, latencies = [], {name: [] for name in order}
    start = time.perf_counter()
    while len(passes) < n_min or time.perf_counter() - start < seconds:
        t_pass = time.perf_counter()
        for name in order:
            t = time.perf_counter()
            problems = []
            try:
                run_op(spark, queries[name], fixture_dir)
            except Exception as e:  # noqa: BLE001
                problems = [f"exception: {type(e).__name__}: {e}"]
                log(traceback.format_exc())
            latencies[name].append(time.perf_counter() - t)
            tally.record(name, problems)
        passes.append(time.perf_counter() - t_pass)
    return passes, latencies


def traced_pass(spark, order, queries, fixture_dir, counters, tracer, tally):
    """One pass with spans op -> build, plan, execute and per-op counters."""
    per_op = []
    for name in order:
        rec = {"op": name}
        with tracer.span("op", op=name, pass_="traced") as op_span:
            counters.sync()
            counters.take_executions()
            counters.take_progress()
            problems = []
            try:
                j0 = counters.next_job_id()
                spark.sparkContext.setJobGroup(f"{name}:build", name)
                with tracer.span("build") as s:
                    df = queries[name](spark, fixture_dir)
                j1 = counters.next_job_id()
                rec["build.s"] = s["end"] - s["start"]
                rec["build.jobs"] = j1 - j0
                # the returned DataFrame was analyzed while it was built
                analysis = df._jdf.queryExecution().tracker().phases().get("analysis")
                rec["catalyst.analysis_ms"] = analysis.get().durationMs() if analysis.isDefined() else 0
                counters.sync()
                build_execs = counters.take_executions()
                spark.sparkContext.setJobGroup(f"{name}:execute", name)
                with tracer.span("execute") as s:
                    df.write.format("noop").mode("overwrite").save()
                j2 = counters.next_job_id()
                rec["exec.s"] = s["end"] - s["start"]
            except Exception as e:  # noqa: BLE001
                problems = [f"exception: {type(e).__name__}: {e}"]
                log(traceback.format_exc())
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            tally.record(name, problems)
            if problems:
                continue
            counters.sync()
            exec_execs = counters.take_executions()
            for qe in build_execs + exec_execs:
                for k, v in layers.plan_metrics(qe).items():
                    rec[k] = rec.get(k, 0) + v
            if exec_execs:  # plan span from Spark's own phase tracker
                phases = exec_execs[-1].tracker().phases()
                opt, plan = phases.get("optimization"), phases.get("planning")
                if opt.isDefined() and plan.isDefined():
                    wall0 = time.time() - time.perf_counter()
                    tracer.add(
                        "plan", opt.get().startTimeMs() / 1e3 - wall0,
                        plan.get().endTimeMs() / 1e3 - wall0, op_span["id"],
                    )
            jobs = counters.job_metrics(j1, j2)
            every = counters.job_metrics(j0, j2)
            rec.update({
                "exec.jobs": jobs["jobs"], "exec.stages": jobs["stages"],
                "exec.tasks": jobs["tasks"], "exec.task_s": jobs["task_s"],
                "exec.cpu_s": jobs["cpu_s"], "exec.gc_s": jobs["gc_s"],
                "exec.peak_mem_mb": jobs["peak_mem_mb"],
                "shuffle.write_mb": every["shuffle_write_mb"],
                "shuffle.read_mb": every["shuffle_read_mb"],
                "spill.mb": every["spill_mb"],
            })
            rec.update(layers.stream_metrics(counters.take_progress()))
        per_op.append(rec)
    return per_op


# -- main ---------------------------------------------------------------------
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    # Every run traces; --trace only picks the metric set of the JSON line.
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigdata_project_spark")):
        log("bigdata_project_spark not found: run from the repository root")
        return 2
    workload = workloads.WORKLOADS[args.workload]
    order = workloads.op_order(workload, args.seed)
    cores = configure_environment()
    fixture_dir = prepare_fixture(workload, args.seed)
    oracle = CachedOracle(fixture_dir)
    tracer = layers.Tracer()
    tally = Tally()

    from bigdata_project_spark import registry

    queries = {n: registry.queries()[n] for n in order}
    spark, setup = start_session()
    log("set-up: " + ", ".join(f"{k} {v:.3f}" for k, v in setup.items()))
    try:
        host = {"host.floor_ms": noop_floor_ms(spark), "host.py_ms": python_loop_ms()}
        warm, _ = timed_passes(spark, order, queries, fixture_dir, 0, tally, n_min=WARMUP_PASSES)
        log(f"warm-up passes {[round(p, 3) for p in warm]}")
        passes, latencies = timed_passes(
            spark, order, queries, fixture_dir, args.seconds, tally
        )
        rss = peak_rss_mb(spark)
        counters = layers.SparkCounters(spark, cores)
        try:
            t = time.perf_counter()
            with tracer.span("pass", pass_="traced"):
                per_op = traced_pass(spark, order, queries, fixture_dir, counters, tracer, tally)
            traced_s = time.perf_counter() - t
            log(f"traced pass {traced_s:.3f} s")
        finally:
            counters.close()
        t = time.perf_counter()
        check_pass(spark, order, queries, oracle, fixture_dir, tally, tracer)
        log(f"check pass {time.perf_counter() - t:.3f} s")
    finally:
        oracle.close()
        stop_session(spark)

    samples = [x for name in order for x in latencies[name]]
    end_to_end = {
        "setup_s": setup["setup_s"],
        "wall_s": median(passes),
        "op_p50_s": median(samples),
        "peak_rss_mb": rss,
    }
    per_layer = {
        **layers.workload_totals(per_op, cores),
        "session.jvm_s": setup["session.jvm_s"],
        "session.first_job_s": setup["session.first_job_s"],
        **host,
        "trace.overhead_frac": traced_s / median(passes) - 1,
    }
    trace_path = os.path.join(CACHE, f"trace-{workload.name}-seed{args.seed}.json")
    with open(trace_path, "w") as f:
        json.dump(tracer.spans, f, default=str)
    record = {
        "workload": workload.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "fixture": os.path.basename(fixture_dir),
        "order": order, "passes_s": passes, "op_samples": len(samples),
        "op_latency_s": latencies, "end_to_end": end_to_end, "per_layer": per_layer,
        "per_op": per_op, "setup": setup, "host": host, "attempted": tally.attempted,
        "failed": tally.failed, "failed_frac": tally.failed_frac, "problems": tally.problems,
        "trace_file": os.path.relpath(trace_path, ROOT),
    }
    with open(os.path.join(CACHE, "results.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
        f.flush()
        os.fsync(f.fileno())

    log(f"{workload.name} seed={args.seed}: passes={[round(p, 3) for p in passes]} "
        f"failed={tally.failed}/{tally.attempted}")
    e2e = {n: {"value": v, "unit": UNITS[n]} for n, v in end_to_end.items()}
    layer = {n: {"value": per_layer[n], "unit": u} for n, u, _ in layers.PER_LAYER}
    # Not in the JSON line: failed_frac is 0 when all is well, and the line
    # carries it as failed / attempted; op_samples is op_p50_s's sample count.
    extra = {
        "failed_frac": {"value": tally.failed_frac, "unit": "frac"},
        "op_samples": {"value": len(samples), "unit": "count"},
    }
    for name, m in {**e2e, **extra, **layer}.items():
        print(f"metric {name} {m['value']} {m['unit']}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": layer if args.trace else e2e,
    }), flush=True)
    return 0


UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}

if __name__ == "__main__":
    sys.exit(main())
