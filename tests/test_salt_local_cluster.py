"""The hot-bucket salt under a real multi-executor master.

``skew_bounded_self_pairs`` salts only under cluster masters, so the
in-session suite (``local[N]``) never runs that path by default. This
test starts a separate driver on ``local-cluster[2,1,1024]`` (two
executor JVMs), where the salt must engage on its own, and checks every
salt-routed query against its DuckDB oracle. The same driver also runs
one Python-boundary query, so the executors' Python worker daemons must
import ``bigdata_project_spark.worker_daemon``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from test_dedup import SALT_ROUTED

PYTHON_BOUNDARY = "sim_pq_adc_topk"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import json, sys

from bigdata_project_spark import registry
from bigdata_project_spark.operators import text_dedup
from bigdata_project_spark.oracle_check import compare_one, duckdb_connection
from bigdata_project_spark.session import get_spark

# Record the plan of every candidate-pair join a query builds: the final
# plan may hide it behind a checkpoint (dedup_cluster_cc's edges).
salted, self_pairs = [], text_dedup.skew_bounded_self_pairs

def recording_self_pairs(*args, **kwargs):
    pairs = self_pairs(*args, **kwargs)
    salted.append("__salt" in pairs._jdf.queryExecution().optimizedPlan().toString())
    return pairs

text_dedup.skew_bounded_self_pairs = recording_self_pairs
sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark("salt_local_cluster", master="local-cluster[2,1,1024]")
con = duckdb_connection(sf_dir)
queries, oracles = registry.queries(), registry.oracles(sf_dir)
out = {}
for name in names:
    salted.clear()
    problems = compare_one(spark, con, name, queries[name], oracles[name], sf_dir)
    out[name] = {"salted": bool(salted) and all(salted), "problems": problems}
out["daemon"] = spark.sparkContext.getConf().get("spark.python.daemon.module")
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
        [sys.executable, "-c", _SCRIPT, sf_dir, *SALT_ROUTED, PYTHON_BOUNDARY],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    out = json.loads(lines[-1][len("RESULT ") :])
    for name in SALT_ROUTED:
        assert out[name]["salted"], f"{name}: salt did not engage"
        assert not out[name]["problems"], f"{name}: {out[name]['problems']}"
    assert out["daemon"] == "bigdata_project_spark.worker_daemon"
    assert not out[PYTHON_BOUNDARY]["problems"], out[PYTHON_BOUNDARY]["problems"]
