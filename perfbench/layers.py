"""Per-layer counters read from Spark itself, plus an in-memory span tracer.

Nothing here changes what the program does; it only reads:

- a ``QueryExecutionListener`` (a py4j proxy) that keeps the
  ``QueryExecution`` of every Dataset action, for Catalyst phase times
  (``tracker().phases()``) and the SQL metrics of the final adaptive plan;
- the application status store, for job, stage and task metrics;
- a ``StreamingQueryListener``, for micro-batch durations and state-store
  metrics.

Jobs are attributed to a span by job id: ops run one at a time, so every
job started between a span's start and end belongs to it. That also
catches jobs launched on a stream's own execution thread.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from stats import median

MB = 1024 * 1024

PER_LAYER = (
    # (name, unit, better)
    ("session.jvm_s", "s", "lower"),
    ("session.first_job_s", "s", "lower"),
    ("build.s", "s", "lower"),
    ("build.jobs", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.busy_frac", "frac", "higher"),
    ("exec.peak_mem_mb", "MB", "lower"),
    ("shuffle.write_mb", "MB", "lower"),
    ("shuffle.read_mb", "MB", "lower"),
    ("spill.mb", "MB", "lower"),
    ("scan.files", "count", "lower"),
    ("scan.mb", "MB", "lower"),
    ("scan.ms", "ms", "lower"),
    ("aqe.coalesced_reads", "count", "higher"),
    ("aqe.skew_splits", "count", "higher"),
    ("aqe.smj_to_bhj", "count", "higher"),
    ("python.data_sent_mb", "MB", "lower"),
    ("python.rows_returned", "count", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.batch_ms_p50", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.commit_ms", "ms", "lower"),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_commit_ms", "ms", "lower"),
    ("write.files", "count", "lower"),
    ("write.mb", "MB", "lower"),
    ("write.commit_ms", "ms", "lower"),
    ("host.floor_ms", "ms", "lower"),
    ("host.py_ms", "ms", "lower"),
    ("trace.overhead_frac", "frac", "lower"),
)
UNITS = {name: unit for name, unit, _ in PER_LAYER}

# Metrics summed over ops for the workload total; the rest are combined
# by ``workload_totals``.
_NOT_SUMMED = {"exec.busy_frac", "exec.peak_mem_mb", "stream.batch_ms_p50"}


class Tracer:
    """Spans kept in memory: name, start, end, parent, plus attributes."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> None:
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": parent,
            "start": start, "end": end, **attrs,
        })


class _QueryListener:
    """py4j proxy for ``org.apache.spark.sql.util.QueryExecutionListener``."""

    def __init__(self) -> None:
        self.executions: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        self.executions.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.executions.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.progress: list = []

    def onQueryStarted(self, event):  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.progress.append(event.progress)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class SparkCounters:
    """Reads the counters of one op at a time from a live session."""

    def __init__(self, spark, cores: int) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.cores = cores
        self._jsc = spark.sparkContext._jsc.sc()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.queries = _QueryListener()
        spark._jsparkSession.listenerManager().register(self.queries)
        self.streams = _StreamListener()
        spark.streams.addListener(self.streams)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self.queries)
        self.spark.streams.removeListener(self.streams)

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    def sync(self) -> None:
        """Wait until listeners have seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def take_executions(self) -> list:
        out, self.queries.executions = self.queries.executions, []
        return out

    def take_progress(self) -> list:
        out, self.streams.progress = self.streams.progress, []
        return out

    # -- status store -------------------------------------------------
    def job_metrics(self, first_job: int, end_job: int) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        store = self._jsc.statusStore()
        m = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "peak_mem_mb",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb"), 0.0)
        for jid in range(first_job, end_job):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            m["jobs"] += 1
            for sid in list(info.stageIds):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a stage the job skipped
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                m["task_s"] += sd.executorRunTime() / 1e3
                m["cpu_s"] += sd.executorCpuTime() / 1e9
                m["gc_s"] += sd.jvmGcTime() / 1e3
                m["peak_mem_mb"] = max(m["peak_mem_mb"], sd.peakExecutionMemory() / MB)
                m["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                m["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                m["spill_mb"] += sd.diskBytesSpilled() / MB
        return m


# -- plan metrics ------------------------------------------------------
def _metric_values(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _children(node) -> list:
    out = []
    for seq in (node.children(), node.subqueries()):
        it = seq.iterator()
        while it.hasNext():
            out.append(it.next())
    return out


def _walk(node, visit) -> None:
    """Visit every node of an executed plan, descending through adaptive
    plans (final plan) and query stages."""
    name = node.getClass().getSimpleName()
    visit(name, node)
    if name == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), visit)
    elif name.endswith("QueryStageExec"):
        _walk(node.plan(), visit)
    elif name != "ReusedExchangeExec":
        for child in _children(node):
            _walk(child, visit)


def _count_smj(node) -> int:
    name = node.getClass().getSimpleName()
    return (name == "SortMergeJoinExec") + sum(_count_smj(c) for c in _children(node))


_INTERESTING = ("Scan", "AQEShuffleRead", "Python", "Pandas", "Arrow", "Writ")


def plan_metrics(qe) -> dict:
    """Catalyst phases and final-plan SQL metrics of one query execution."""
    m = {
        "catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
        "catalyst.planning_ms": 0.0, "scan.files": 0, "scan.mb": 0.0,
        "scan.ms": 0.0, "aqe.coalesced_reads": 0, "aqe.skew_splits": 0,
        "aqe.smj_to_bhj": 0, "python.data_sent_mb": 0.0,
        "python.rows_returned": 0, "write.files": 0, "write.mb": 0.0,
        "write.commit_ms": 0.0,
    }
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            m[f"catalyst.{phase}_ms"] += opt.get().durationMs()

    final_smj = 0
    adaptive = []

    def visit(name, node):
        nonlocal final_smj
        if name == "SortMergeJoinExec":
            final_smj += 1
        elif name == "AdaptiveSparkPlanExec":
            adaptive.append(node)
        if not any(k in name for k in _INTERESTING):
            return
        v = _metric_values(node)
        if "Scan" in name:
            m["scan.files"] += v.get("numFiles", 0)
            m["scan.mb"] += v.get("filesSize", 0) / MB
            m["scan.ms"] += v.get("scanTime", 0)
        if name == "AQEShuffleReadExec":
            m["aqe.coalesced_reads"] += v.get("numCoalescedPartitions", 0) > 0
            m["aqe.skew_splits"] += v.get("numSkewedSplits", 0)
        m["python.data_sent_mb"] += v.get("pythonDataSent", 0) / MB
        m["python.rows_returned"] += v.get("pythonNumRowsReceived", 0)
        m["write.files"] += v.get("numFiles", 0) if "Writ" in name else 0
        m["write.mb"] += v.get("numOutputBytes", 0) / MB
        m["write.commit_ms"] += v.get("taskCommitTime", 0) + v.get("jobCommitTime", 0)

    _walk(qe.executedPlan(), visit)
    initial_smj = sum(_count_smj(a.inputPlan()) for a in adaptive)
    m["aqe.smj_to_bhj"] = max(0, initial_smj - final_smj)
    return m


def stream_metrics(progress: list) -> dict:
    batch_ms = [p.durationMs.get("triggerExecution", 0) for p in progress]
    m = {
        "stream.batches": len(progress),
        "stream.batch_ms_samples": batch_ms,
        "stream.planning_ms": sum(p.durationMs.get("queryPlanning", 0) for p in progress),
        "stream.add_batch_ms": sum(p.durationMs.get("addBatch", 0) for p in progress),
        "stream.commit_ms": sum(
            p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
            for p in progress
        ),
        "stream.state_rows": 0,
        "stream.state_commit_ms": 0,
    }
    for p in progress:
        for s in p.stateOperators:
            m["stream.state_commit_ms"] += s.commitTimeMs
    # state size is a level, not a flow: take each query's last batch
    last = {}
    for p in progress:
        last[p.id] = p
    for p in last.values():
        m["stream.state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)
    return m


def workload_totals(per_op: list[dict], cores: int) -> dict:
    """Combine per-op layer records into one value per per-layer metric."""
    total: dict[str, float] = {}
    for rec in per_op:
        for k, v in rec.items():
            if k in UNITS and k not in _NOT_SUMMED:
                total[k] = total.get(k, 0) + v
    exec_s = total.get("exec.s", 0.0)
    total["exec.busy_frac"] = total.get("exec.task_s", 0.0) / (exec_s * cores) if exec_s else 0.0
    total["exec.peak_mem_mb"] = max((r.get("exec.peak_mem_mb", 0.0) for r in per_op), default=0.0)
    batches = [b for r in per_op for b in r.get("stream.batch_ms_samples", [])]
    total["stream.batch_ms_p50"] = median(batches) if batches else 0.0
    return total
