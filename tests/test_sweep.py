"""``tools/sweep.py`` end to end, each run in its own driver process at the
test fixture: the counters it records, and what a kill leaves behind."""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP = os.path.join(REPO, "tools", "sweep.py")


def _env() -> dict[str, str]:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    return env


def test_sweep_records_timings_and_spark_counters(sf_dir, tmp_path):
    out = tmp_path / "sweep.jsonl"
    names = ["agg_order_priority", "stream_tumbling", "agg_order_priority"]
    proc = subprocess.run(
        [sys.executable, SWEEP, *names, "--sf", sf_dir, "--runs", "2", "--out", str(out)],
        cwd=tmp_path, env=_env(), capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    header, *lines = [json.loads(line) for line in out.read_text().splitlines()]
    assert header["cores"] >= 1 and header["host.floor_ms"] > 0 and header["runs"] == 2
    assert "quiet host" in header["host.processes"]
    assert [r["query"] for r in lines] == names
    for rec in lines:
        assert len(rec["samples_s"]) == 2
        assert rec["median_s"] == statistics.median(rec["samples_s"])
        for key in ("exec.jobs", "exec.stages", "exec.s"):
            assert rec[key] > 0, f"{rec['query']}: {key} = {rec[key]}"
        assert rec["plan.nodes"], rec["query"]
        calls = rec["build.py4j_calls"]
        assert isinstance(calls, int) and calls > 0, f"{rec['query']}: build.py4j_calls = {calls}"
        spawned = rec["host.processes"]
        assert isinstance(spawned, int) and spawned >= 0, f"{rec['query']}: host.processes = {spawned}"
    assert lines[0]["plan.nodes"].get("FileSourceScanExec", 0) >= 1
    assert lines[1]["stream.batches"] >= 1
    # the count is deterministic: two builds of one query make the same calls
    assert lines[0]["build.py4j_calls"] == lines[2]["build.py4j_calls"]


def test_killed_sweep_keeps_every_finished_line(sf_dir, tmp_path):
    """SIGKILL right after the first query line: every line left parses,
    and the finished query is among them."""
    out = tmp_path / "sweep.jsonl"
    names = ["agg_order_priority", "agg_pricing_summary", "agg_shipping_priority", "stream_tumbling"]
    proc = subprocess.Popen(
        [sys.executable, SWEEP, *names, "--sf", sf_dir, "--runs", "1", "--out", str(out)],
        cwd=tmp_path, env=_env(), stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,  # the kill takes the JVM and Python workers too
    )
    try:
        deadline = time.monotonic() + 600
        while not (out.exists() and '"query"' in out.read_text()):
            assert proc.poll() is None, f"sweep exited with {proc.returncode} before a query line"
            assert time.monotonic() < deadline, "no query line within 600 s"
            time.sleep(0.1)
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    lines = [json.loads(line) for line in out.read_text().splitlines()]
    assert "commit" in lines[0]
    finished = [r["query"] for r in lines if "query" in r]
    assert finished and finished == names[: len(finished)]
    assert all("median_s" in r for r in lines[1:])
