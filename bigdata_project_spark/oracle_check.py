"""Local stand-in for the driver's correctness harness.

Runs every registered query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names and an
order-insensitive canonical value frame. Stricter than the driver (exact
canonical-string equality), so passing here should imply passing there.

Usage:  python -m bigdata_project_spark.oracle_check [sf_dir] [name ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

from bigdata_project_spark.sources.readers import TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, stringify every value, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_canon_value)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_class(s: pd.Series) -> str:
    """Coarse type class for cross-engine comparison. DuckDB's fetchdf
    promotes HUGEINT/DECIMAL to float64 — the driver's value hash sees that
    as a mismatch against Spark's int64, so int-vs-float IS a failure here
    even though the stringified values agree (1 vs 1.0)."""
    k = s.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "temporal"
    if k == "O":
        import datetime
        import decimal

        nn = s.dropna()
        if not len(nn):
            return "any"
        v = nn.iloc[0]
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, decimal.Decimal):
            return "decimal"
        if isinstance(v, (datetime.date, datetime.datetime)):
            return "temporal"
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "array"
        if isinstance(v, str):
            return "str"
        return "other"
    return "other"


def _canon_value(v: object) -> str:
    if v is None or v != v:  # NaN/None
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def compare_one(spark, con, name: str, fn, sql: str, sf_dir: str) -> list[str]:
    problems: list[str] = []
    spark_pdf = fn(spark, sf_dir).toPandas()
    duck_pdf = con.execute(sql).fetchdf()
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duckdb={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns spark={sorted(spark_pdf.columns)} duckdb={sorted(duck_pdf.columns)}"
        )
    if not problems:
        for c in sorted(spark_pdf.columns):
            sc, dc = _dtype_class(spark_pdf[c]), _dtype_class(duck_pdf[c])
            if "any" not in (sc, dc) and sc != dc:
                problems.append(f"dtype class of {c!r}: spark={sc} duckdb={dc}")
    if not problems:
        a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
        if not a.equals(b):
            neq = (a != b).any(axis=1)
            idx = list(a.index[neq])[:3]
            for i in idx:
                problems.append(f"row {i}: spark={a.loc[i].to_dict()} duck={b.loc[i].to_dict()}")
            if not idx:
                problems.append("frames differ (dtype-level)")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from bigdata_project_spark import registry
    from bigdata_project_spark.session import get_spark, stop_spark

    spark = get_spark("oracle_check")
    con = duckdb_connection(sf_dir)
    qs, os_ = registry.queries(), registry.oracles(sf_dir)

    failed = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in os_:
            n = fn(spark, sf_dir).count()
            print(f"{name:35s} rows-only ({n} rows)")
            continue
        try:
            problems = compare_one(spark, con, name, fn, os_[name], sf_dir)
        except Exception as e:  # noqa: BLE001
            problems = [f"exception: {type(e).__name__}: {e}"]
        if problems:
            failed += 1
            print(f"{name:35s} FAIL")
            for p in problems:
                print(f"    {p}")
        else:
            print(f"{name:35s} ok")
    stop_spark(spark)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
