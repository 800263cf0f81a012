"""The driver JVM starts from a dynamic class-data-sharing archive.

Each case starts its own driver in a subprocess with ``XDG_CACHE_HOME``
under ``tmp_path``, so the archive it reads or writes is the test's own.
The child waits for its JVM to exit, which is when a dumping JVM writes
the archive.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from bigdata_project_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import json

from bigdata_project_spark.session import get_spark, stop_spark

spark = get_spark("session_cds")
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("RESULT " + json.dumps({
    "args": list(bean.getInputArguments()), "count": spark.range(10).count()
}), flush=True)
stop_spark(spark)
"""


@pytest.fixture()
def cache(tmp_path, monkeypatch):
    """``XDG_CACHE_HOME`` for this process and its children; the archives
    (130-180 MB each) are deleted afterwards."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    # cds_archive may set SPARK_CONF_DIR; monkeypatch restores it.
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    yield tmp_path
    for p in tmp_path.rglob("*.jsa"):
        p.unlink()


def _child_env() -> dict[str, str]:
    """This process's environment, with a 1g driver heap and the checkout
    importable."""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    return env


def _run_driver() -> list[str]:
    """Start a driver in a child process; return its JVM input arguments."""
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT], env=_child_env(), capture_output=True, text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    logged = [line for line in out.stdout.splitlines() if "[cds" in line or "[warning]" in line]
    assert not logged, f"JVM log lines on stdout: {logged[:3]}"
    result = json.loads(out.stdout.split("RESULT ", 1)[1].splitlines()[0])
    assert result["count"] == 10
    return result["args"]


def _has_magic(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(4) == (0xF00BABA8).to_bytes(4, sys.byteorder)


def test_cold_start_dumps_and_warm_start_maps(cache):
    archive = session.cds_archive()
    assert archive is not None and str(cache) in archive
    cold = _run_driver()
    assert f"-XX:ArchiveClassesAtExit={archive}" in cold
    assert not any(a.startswith("-XX:SharedArchiveFile") for a in cold)
    assert _has_magic(archive)

    warm = _run_driver()
    assert f"-XX:SharedArchiveFile={archive}" in warm
    assert not any(a.startswith("-XX:ArchiveClassesAtExit") for a in warm)


def test_zeroed_header_is_dumped_again(cache):
    """The JVM writes the header last, so a zero header is a dump that has
    not finished: the next driver dumps again instead of mapping it."""
    archive = session.cds_archive()
    with open(archive, "wb") as f:
        f.write(bytes(1 << 16))
    args = _run_driver()
    assert f"-XX:ArchiveClassesAtExit={archive}" in args
    assert _has_magic(archive)


def test_non_template_conf_file_means_no_cds(cache, monkeypatch):
    """CDS refuses a non-empty classpath directory, so a conf dir that
    Spark reads keeps the JVM on its plain start."""
    real = _find_spark_home()
    home = cache / "spark-home"
    home.mkdir()
    for entry in os.listdir(real):
        if entry != "conf":
            os.symlink(os.path.join(real, entry), home / entry)
    (home / "conf").mkdir()
    (home / "conf" / "spark-env.sh.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    assert session.cds_archive() is not None  # templates only
    empty = cache / "xdg" / "bigdata_project_spark" / "empty-conf"
    assert os.environ["SPARK_CONF_DIR"] == str(empty)

    (home / "conf" / "spark-defaults.conf").write_text("# no settings\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    assert session.cds_archive() is None  # a user conf dir
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert session.cds_archive() is None
    assert "SPARK_CONF_DIR" not in os.environ
    args = _run_driver()
    assert not [a for a in args if "Archive" in a or a.startswith("-Xlog")]


def test_oracle_check_returns_after_its_jvm_wrote_the_archive(cache, sf_dir):
    """An entry point ends its session through ``stop_spark``, so a cold
    run's archive is complete by the time the process returns. The output
    goes to a file: ``capture_output`` would wait for the JVM, which
    inherits the pipes."""
    archive = session.cds_archive()
    log = cache / "oracle_check.log"
    with open(log, "w") as f:
        code = subprocess.call(
            [sys.executable, "-m", "bigdata_project_spark.oracle_check", sf_dir,
             "agg_order_priority"],
            env=_child_env(), stdout=f, stderr=subprocess.STDOUT, timeout=600,
        )
    text = log.read_text()
    assert code == 0, text[-3000:]
    assert "agg_order_priority" in text and " ok" in text
    assert os.path.exists(archive) and _has_magic(archive)
