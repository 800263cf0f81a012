"""The Python worker daemon keeps the directories of the archives on its
start-up path across a task's ``importlib.invalidate_caches()``, and a
zip added later still imports."""

from __future__ import annotations

import zipfile

import pandas as pd


def test_startup_archives_keep_their_directory_and_late_pyfiles_import(spark, tmp_path):
    one = spark.range(1, numPartitions=1)

    def startup_directory_kept(batches):
        import importlib
        import os
        import sys
        import zipimport

        startup = set(os.environ["PYTHONPATH"].split(os.pathsep))
        importers = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive in startup
        ]
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        kept = bool(importers) and all(imp._files is b for imp, b in zip(importers, before))
        for _ in batches:
            pass
        yield pd.DataFrame({"kept": [kept]})

    rows = one.mapInPandas(startup_directory_kept, "kept boolean").collect()
    assert rows[0]["kept"], "a start-up archive re-read its directory"

    # the daemon has served a task; a zip added now must reach later tasks
    pyfile = tmp_path / "late_pyfile.zip"
    with zipfile.ZipFile(pyfile, "w") as z:
        z.writestr("graft_late_pyfile_mod.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(pyfile))

    def late_value(batches):
        import graft_late_pyfile_mod

        for _ in batches:
            pass
        yield pd.DataFrame({"value": [graft_late_pyfile_mod.VALUE]})

    assert one.mapInPandas(late_value, "value long").collect()[0]["value"] == 42
