"""The hot-bucket salt under a real multi-executor master.

``skew_bounded_self_pairs`` salts only under cluster masters, so the
in-session suite (``local[N]``) never runs that path by default. This
test starts a separate driver on ``local-cluster[2,1,1024]`` (two
executor JVMs), where the salt must engage on its own, and checks three
salt-routed queries against their DuckDB oracles.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = ("dedup_simhash_pairs", "dedup_fuzzy_lev", "dedup_minhash_lsh")

_SCRIPT = """
import json, sys

from bigdata_project_spark import registry
from bigdata_project_spark.oracle_check import compare_one, duckdb_connection
from bigdata_project_spark.session import get_spark

sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark("salt_local_cluster", master="local-cluster[2,1,1024]")
con = duckdb_connection(sf_dir)
queries, oracles = registry.queries(), registry.oracles(sf_dir)
out = {}
for name in names:
    plan = queries[name](spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    out[name] = {
        "salted": "__salt" in plan.toString(),
        "problems": compare_one(spark, con, name, queries[name], oracles[name], sf_dir),
    }
print("RESULT " + json.dumps(out))
spark.stop()
"""


def test_salt_engages_and_matches_oracles_on_local_cluster(sf_dir, tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    env.pop("SPARK_GRAFT_LSH_SALT_THRESHOLD", None)
    # a small driver heap: the executors bring their own 1 GB each
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, sf_dir, *QUERIES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT ") :])
    for name in QUERIES:
        assert out[name]["salted"], f"{name}: salt did not engage"
        assert not out[name]["problems"], f"{name}: {out[name]['problems']}"
