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
- The driver JVM starts from a dynamic class-data-sharing (CDS) archive.
  Every process's driver loads and links ~17,700 Spark, Scala and Hadoop
  classes from jars; mapped from the archive instead, ``get_spark`` plus
  a first job takes ~4 s rather than ~8 s on 4 cores. The archive is
  ``${XDG_CACHE_HOME:-~/.cache}/bigdata_project_spark/driver-<key>.jsa``,
  keyed on the java binary, the JDK's ``release`` file, every jar in
  ``$SPARK_HOME/jars`` and the classpath directories and
  ``SPARK_DIST_CLASSPATH``, so an upgrade gets a new archive rather than
  one the JVM rejects. The first session per key runs with
  ``-XX:ArchiveClassesAtExit`` and its JVM writes the archive
  (130-180 MB) when it exits, which takes 10-16 s (``stop_spark`` waits
  for it); later sessions map it with ``-XX:SharedArchiveFile``. Only the JVM writes an archive, and
  only at its final path: it writes the header last, so a header that is
  not yet the dynamic-archive magic is dumped again, whereas a file cut
  short under an intact header would crash the JVM that maps it. JVM
  logging goes to stderr at warning level, because a dump prints
  hundreds of ``[cds]`` warnings (about 600-1,200), the JVM's default
  target is stdout, and the bench tools parse stdout.
  CDS refuses a non-empty directory on the classpath, and Spark's
  launcher puts its conf dir first. When ``SPARK_CONF_DIR`` is unset and
  ``$SPARK_HOME/conf`` holds only ``*.template`` files, which Spark never
  reads, ``SPARK_CONF_DIR`` points at an empty directory under the cache.
  Any other non-empty classpath directory (a user conf dir,
  ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR``), or an unwritable cache, leaves
  the JVM to start without CDS. The flags go in
  ``spark.driver.defaultJavaOptions``, not ``extraJavaOptions``, so a
  caller's ``spark.driver.extraJavaOptions`` still applies on top.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import struct
import threading
from contextlib import contextmanager, suppress
from types import SimpleNamespace

from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import GatewayConnection
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_DYNAMIC_ARCHIVE_MAGIC = struct.pack("=I", 0xF00BABA8)  # native byte order


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


def cds_archive() -> str | None:
    """Path of the driver's CDS archive for this JVM and classpath, or None
    when CDS is off: a non-empty classpath directory or an unwritable cache.
    Points ``SPARK_CONF_DIR`` at an empty directory when Spark's conf dir
    holds only templates."""
    xdg = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cache = os.path.join(xdg, "bigdata_project_spark")
    try:
        os.makedirs(os.path.join(cache, "empty-conf"), exist_ok=True)
        home = _find_spark_home()
        conf = os.path.join(home, "conf")
        if "SPARK_CONF_DIR" not in os.environ and all(
            f.endswith(".template") for f in (os.listdir(conf) if os.path.isdir(conf) else ())
        ):
            os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "empty-conf")
        cp = [os.environ.get("SPARK_CONF_DIR", conf)]
        cp += [os.environ.get(v, "") for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR")]
        cp += os.environ.get("SPARK_DIST_CLASSPATH", "").split(os.pathsep)
        if not os.access(cache, os.W_OK) or any(os.path.isdir(d) and os.listdir(d) for d in cp):
            return None
        java = os.environ.get("JAVA_HOME") and os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        java = os.path.realpath(java or shutil.which("java") or "java")
        release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
        key = hashlib.sha256("\0".join(cp).encode())
        for path in [java, release, *sorted(glob.glob(os.path.join(home, "jars", "*")))]:
            st = os.stat(path)
            key.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except OSError:
        return None
    return os.path.join(cache, f"driver-{key.hexdigest()[:16]}.jsa")


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
    archive, head = cds_archive(), b""
    if archive:
        with suppress(OSError), open(archive, "rb") as f:
            head = f.read(4)
        # A header that is not yet the magic is a dump in progress or cut
        # short: this JVM dumps again (the JVM writes the header last).
        flag = "SharedArchiveFile" if head == _DYNAMIC_ARCHIVE_MAGIC else "ArchiveClassesAtExit"
        cds = f"-XX:{flag}={archive} -Xlog:disable -Xlog:all=warning:stderr"
        builder = builder.config("spark.driver.defaultJavaOptions", cds)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark(spark: SparkSession) -> None:
    """Stop ``spark`` and wait until its JVM has exited.

    A JVM started with ``-XX:ArchiveClassesAtExit`` writes the CDS archive
    as it exits (10-20 s); a process that returns without waiting leaves
    it running, and the next process may start before the archive is
    complete. Raises ``subprocess.TimeoutExpired`` if the JVM has not
    exited after 240 s. The process may start a new session afterwards.
    """
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:  # no gateway, or one this process did not launch
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    SparkContext._gateway = SparkContext._jvm = None
    proc.wait(timeout=240)
