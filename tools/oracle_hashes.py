"""Hash every oracle's canonical DuckDB result.

Usage: python tools/oracle_hashes.py SF_DIR...

Prints one ``name sf sha256`` line per registered oracle and fixture
directory (``sf`` is the directory's base name), the fixture-built BPE
and PCA oracles included. The hash covers each column's name and dtype
and ``oracle_check.canonicalize``'s rows, so two checkouts whose oracles
return the same results print the same lines: compare them with
``diff``. Needs no Spark session.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bigdata_project_spark import registry  # noqa: E402
from bigdata_project_spark.oracle_check import canonicalize, duckdb_connection  # noqa: E402


def result_hash(con, sql: str) -> str:
    """sha256 of the dtypes and canonical rows of ``sql``'s result."""
    df = con.execute(sql).fetchdf()
    h = hashlib.sha256()
    h.update(repr(sorted((c, str(t)) for c, t in df.dtypes.items())).encode())
    h.update(canonicalize(df).to_csv(index=False).encode())
    return h.hexdigest()


def main() -> None:
    for sf_dir in sys.argv[1:]:
        sf = os.path.basename(os.path.normpath(sf_dir))
        con = duckdb_connection(sf_dir)
        for name, sql in sorted(registry.oracles(sf_dir).items()):
            print(f"{name} {sf} {result_hash(con, sql)}", flush=True)
        con.close()


if __name__ == "__main__":
    main()
