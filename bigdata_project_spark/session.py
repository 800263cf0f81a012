"""SparkSession factory.

The reference configures its engine once per process (a singleton DuckDB
connection with UTC-ish semantics, relaxed ordering and a spill budget —
/root/reference/airflow/dags/bronze/utils.py:119-153,140-141). The Spark
equivalent is a single SparkSession with:

- ``spark.sql.session.timeZone=UTC`` — pins timestamp semantics so results
  are reproducible and oracle-comparable (DuckDB timestamps are UTC-naive).
- AQE on — runtime re-planning (skew-join splitting, partition coalescing,
  broadcast-join conversion) is the main lever that keeps one static plan
  valid from sf=0.001 up to 100 TB.
- ``spark.sql.shuffle.partitions`` sized to the machine, not the 200
  default. On a real cluster this should be ~2-3× total cores or left to
  AQE's coalescing with a high initial value.
- Arrow on — every toPandas()/pandas-UDF boundary is batch-columnar.
- ``spark.python.daemon.module`` is ``worker_daemon``, pyspark's daemon
  with one change: a task's ``importlib.invalidate_caches()`` no longer
  re-reads the central directories of pyspark.zip, the py4j zip and the
  spark-core jar, which cost 115-320 ms per Python task on 4 cores.
  Workers already import this package for every registered UDF, so it is
  a fixed value, not a setting.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from types import SimpleNamespace

from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.sql import SparkSession


def env_int(name: str, minimum: int) -> int | None:
    """Environment variable ``name`` as an int ``>= minimum``, or None when
    it is unset; any other value raises ``ValueError`` naming it."""
    env = os.environ.get(name)
    if env is None:
        return None
    try:
        n = int(env)
    except ValueError:
        raise ValueError(f"{name}={env!r} is not an integer") from None
    if n < minimum:
        raise ValueError(f"{name}={env!r} must be >= {minimum}")
    return n


@contextmanager
def py4j_calls():
    """Count the py4j commands this process sends to the JVM inside the
    block, in every thread, as ``.n`` of the yielded namespace. py4j's
    garbage-collection (``m``) commands are left out: when they are sent
    depends on Python's collector, so the count repeats exactly for a
    deterministic block. Every Column function and DataFrame method is at
    least one command."""
    calls, lock = SimpleNamespace(n=0), threading.Lock()
    saved = {cls: cls.send_command for cls in (ClientServerConnection, GatewayConnection)}

    def counted(send):
        def send_command(self, command):
            if not command.startswith(MEMORY_COMMAND_NAME):
                with lock:
                    calls.n += 1
            return send(self, command)

        return send_command

    for cls, send in saved.items():
        cls.send_command = counted(send)
    try:
        yield calls
    finally:
        for cls, send in saved.items():
            cls.send_command = send


def get_spark(
    app_name: str = "bigdata_project_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores)
    and sets ``spark.sql.shuffle.partitions``, which batch queries and
    drained streams share.
    """
    cpus = env_int("SPARK_GRAFT_CPUS", 1)
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle_partitions = cpus or os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "bigdata_project_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Stage progress bars write \r-lines to stdout; the bench driver
        # parses a JSON line out of stdout's tail, so keep it clean.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
