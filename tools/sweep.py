"""Run registered queries and append one JSON line per query to a file.

    python3 tools/sweep.py [NAME ...] --sf DIR [--runs N] [--replicas N]
        [--conf KEY=VALUE ...] --out FILE.jsonl

Run it from a checkout's root, or put that root on ``PYTHONPATH``: Spark's
Python workers import the package. NAMEs default to every query in
``registry.queries()``. Each query is timed the way ``bench.py`` times it:
one warm-up noop write, then ``--runs`` timed noop writes, build included.
One more pass runs under perfbench's ``layers.SparkCounters`` through
``run.traced_pass``, so each line carries the benchmark's per-layer
counters as Spark reports them: build and execute jobs, Catalyst phases,
stages and tasks, shuffle, spill, AQE rewrites, the Python boundary and
stream progress. ``plan.nodes`` counts each operator class in the executed
plan of the traced noop write. ``build.py4j_calls`` counts the py4j commands
of one more build call with no action (``session.py4j_calls``); a stream's
builder drains it, so a stream runs once more for this count.
``host.processes`` is the rise of ``/proc/stat``'s ``processes`` counter
over that build and one noop write of its frame: every process and thread
the host started meanwhile, so it belongs to this query only on a quiet
host.

The first line is a header: cores, inputs, Spark conf, commit and the host
calibration of ``run.noop_floor_ms`` and ``run.python_loop_ms``. Each line
is flushed and fsynced before the next query starts, so a killed sweep
keeps every query it finished. A query that raises gets a line with its
error, and the sweep goes on.

``--replicas N`` runs on an N-times copy of ``--sf`` whose keys are shifted
per replica, so that replicas do not merge. The copy is built once under
``.perfbench/`` in the working directory and reused.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
from collections import Counter
from functools import reduce

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

from bigdata_project_spark.session import py4j_calls  # noqa: E402

# Key columns shifted per replica. Tables not named here are copied once.
REPLICA_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["user_id"],
    "documents": ["doc_id"],
}


def build_replicated(spark, src: str, out_dir: str, replicas: int) -> None:
    """Write every ``*.parquet`` table of ``src`` to ``out_dir``: keyed
    tables ``replicas`` times with keys shifted by ``replica * 10**9``."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from bigdata_project_spark.sources.readers import load_table

    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        table = f[: -len(".parquet")]
        df = load_table(spark, src, table)
        keys = REPLICA_KEYS.get(table, [])
        if keys:
            df = reduce(DataFrame.unionByName, [
                df.withColumns({k: F.col(k) + F.lit(r * 1_000_000_000) for k in keys})
                for r in range(replicas)
            ])
        df.write.parquet(os.path.join(out_dir, f))


class _Counters(layers.SparkCounters):
    """Keeps what ``take_executions`` returned last: after
    ``run.traced_pass`` those are the query executions of the noop write."""

    def take_executions(self) -> list:
        self.last = super().take_executions()
        return self.last


def git_commit() -> tuple[str, bool]:
    def git(*argv: str) -> str:
        return subprocess.run(["git", "-C", REPO, *argv], capture_output=True, text=True).stdout.strip()

    return git("rev-parse", "--short", "HEAD"), bool(git("status", "--porcelain", "--untracked-files=no"))


def processes_started() -> int:
    """Processes and threads the host has started since boot (all users)."""
    with open("/proc/stat") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("processes "))


def sweep_one(spark, name: str, fn, sf_dir: str, runs: int, counters: _Counters) -> dict:
    queries, tally = {name: fn}, stats.Tally()
    run.timed_passes(spark, [name], queries, sf_dir, 0, tally, n_min=1)  # warm-up
    if not tally.failed:
        _, latencies = run.timed_passes(spark, [name], queries, sf_dir, 0, tally, n_min=runs)
        per_op = run.traced_pass(spark, [name], queries, sf_dir, counters, layers.Tracer(), tally)
    if tally.failed:
        return {"query": name, "error": "; ".join(tally.problems[name])}
    spawned = processes_started()
    with py4j_calls() as calls:
        df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    spawned = processes_started() - spawned
    rec = per_op[0]
    del rec["op"]
    nodes = Counter()
    for qe in counters.last:
        layers._walk(qe.executedPlan(), lambda cls, _node: nodes.update([cls]))
    samples = latencies[name]
    return {"query": name, "median_s": stats.median(samples), "samples_s": samples,
            **rec, "build.py4j_calls": calls.n, "host.processes": spawned,
            "plan.nodes": dict(sorted(nodes.items()))}


def append_line(out, rec: dict) -> None:
    out.write(json.dumps(rec, default=str) + "\n")
    out.flush()
    os.fsync(out.fileno())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", metavar="NAME")
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per query")
    ap.add_argument("--replicas", type=int, default=1)
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="Spark conf for the session; repeatable")
    ap.add_argument("--out", required=True, help="JSONL file to append to")
    args = ap.parse_args()
    if args.runs < 1 or args.replicas < 1:
        ap.error("--runs and --replicas must be >= 1")
    if any("=" not in kv for kv in args.conf):
        ap.error(f"--conf takes KEY=VALUE, got {args.conf}")
    conf = dict(kv.split("=", 1) for kv in args.conf)

    from bigdata_project_spark import registry
    from bigdata_project_spark.session import get_spark, stop_spark

    queries = registry.queries()
    names = args.names or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        ap.error(f"not registered: {unknown}")

    spark = get_spark("sweep", extra_conf=conf)
    sf_dir = os.path.abspath(args.sf)
    if args.replicas > 1:
        src = sf_dir
        tag = hashlib.sha256(src.encode()).hexdigest()[:8]
        sf_dir = os.path.join(run.CACHE, f"replica-{os.path.basename(src)}-{tag}-x{args.replicas}")
        run._build_dir(sf_dir, lambda out: build_replicated(spark, src, out, args.replicas))
    cores = spark.sparkContext.defaultParallelism
    commit, dirty = git_commit()
    counters = _Counters(spark, cores)
    try:
        with open(args.out, "a") as out:
            append_line(out, {
                "commit": commit, "dirty": dirty, "cores": cores, "sf": sf_dir,
                "src": os.path.abspath(args.sf), "replicas": args.replicas,
                "runs": args.runs, "conf": conf,
                "host.floor_ms": run.noop_floor_ms(spark), "host.py_ms": run.python_loop_ms(),
                "host.processes": "system-wide processes and threads started over one "
                                  "untimed build+execute per query; valid only on a quiet host",
            })
            for name in names:
                rec = sweep_one(spark, name, queries[name], sf_dir, args.runs, counters)
                append_line(out, rec)
                print(f"{name} {rec.get('median_s', rec.get('error'))}", flush=True)
    finally:
        counters.close()
        stop_spark(spark)


if __name__ == "__main__":
    main()
