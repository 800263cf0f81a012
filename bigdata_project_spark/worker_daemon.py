"""Python worker daemon that keeps the Spark install's archive directories.

``get_spark`` sets ``spark.python.daemon.module`` to this module. Every
Python task runs pyspark's ``setup_spark_files``, which ends with
``importlib.invalidate_caches()``; CPython's ``zipimporter`` answers that
by re-reading the whole central directory of its archive, once per cached
importer. The archives on the daemon's start-up ``sys.path`` (pyspark.zip,
the py4j zip, the spark-core jar) are the Spark install and cannot change
under a running daemon, so their importers keep their directory. Every
other finder, a zip added later by ``addPyFile`` included, invalidates as
before.
"""

import os
import sys
import zipimport

from pyspark import daemon

STARTUP_ARCHIVES = frozenset(p for p in sys.path if os.path.isfile(p))
_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_unless_startup(self: zipimport.zipimporter) -> None:
    if self.archive not in STARTUP_ARCHIVES:
        _invalidate(self)


zipimport.zipimporter.invalidate_caches = _invalidate_unless_startup

if __name__ == "__main__":
    daemon.manager()
