"""Scan-side operators (SURVEY.md §2.1 S1-S5).

The reference ingests with DuckDB scans: multi-URL gzip CSV with
``all_varchar=true`` + ``filename=true`` (reference bronze/utils.py:325-330),
JSON arrays with nested inference (bronze/utils.py:392-399), and registers
in-memory frames as relations (bronze/utils.py:685). Spark equivalents below.

Scale notes
-----------
- A list of paths parallelizes natively: one Spark task per file split, no
  driver loop. At 100 TB the same call fans out across executors; nothing
  here collects to the driver.
- Bronze stays all-string by *explicit schema* (never ``inferSchema``, which
  costs an extra full scan and can flip types between loads).
- ``spark.sql.files.maxPartitionBytes`` (default 128 MB) governs split size;
  leave it unless files are pathological.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (TESTDATA.md) as a DataFrame.

    ``events.parquet`` carries nanosecond timestamps, which Spark only
    reads via the nanos-as-long legacy conf; normalize ``ts`` back to a
    microsecond TIMESTAMP_NTZ so downstream plans see one timestamp type.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        path = f"{sf_dir}/{name}.parquet"
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            # The nanosAsLong conf surfaces TIMESTAMP(NANOS) as raw int64.
            df = df.withColumn(
                "ts", F.timestamp_micros(ts_micros(spark, path)).cast("timestamp_ntz")
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_micros(spark: SparkSession, path: str) -> Column:
    """Microsecond epoch of the int64 ``ts`` column of the parquet table at
    ``path`` — the one unit rule for the batch reader and the event stream.

    The unit is detected ONCE per table from the parquet logical type
    (footer read, no data scan) — a per-row magnitude heuristic would
    misclassify pre-1973 nanos epochs as micros and mix units within one
    table. A plain-int64 column (no logical type) gets one table-level
    max() probe: ns > 1e17 for any modern date, µs < 1e17 until year
    ~5138. Integer arithmetic throughout: ns epochs (~1.7e18) overflow
    double precision. Expects ``spark.sql.legacy.parquet.nanosAsLong``."""
    unit = _parquet_ts_unit(path, "ts")
    if unit is None:
        mx = spark.read.parquet(path).agg(F.max("ts")).first()[0]
        unit = "ns" if mx is not None and mx > 100_000_000_000_000_000 else "us"
    if unit == "us":
        return F.col("ts")
    return F.expr({"ns": "ts div 1000", "ms": "ts * 1000", "s": "ts * 1000000"}[unit])


def _parquet_ts_unit(path: str, col: str) -> str | None:
    """Timestamp unit ('ns'/'us'/...) of ``col`` from the parquet footer.

    Reads schema metadata only — at 100 TB this is one footer fetch per
    file listed, the same cost class as Spark's own schema resolution.
    Returns None when the column isn't a timestamp (already-normalized
    fixtures) or the footer can't be read."""
    import os

    import pyarrow.parquet as pq

    p = path
    if os.path.isdir(p):
        parts = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if not parts:
            return None
        p = os.path.join(p, parts[0])
    try:
        field = pq.read_schema(p).field(col)
    except (OSError, KeyError):
        return None
    return getattr(field.type, "unit", None)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def _all_string_schema(spark: SparkSession, path: str | list[str], sep: str, header: bool) -> T.StructType:
    """Derive column names from the header of the first file, typed string.

    Mirrors the reference's schema-on-first-file-then-frozen behavior
    (bronze/utils.py:318-331): names come from one cheap header read, types
    are forced to VARCHAR. Only the header line is read (limit 1 on a
    single-column scan), not a full inference pass.
    """
    first = path[0] if isinstance(path, list) else path
    header_df = spark.read.option("sep", sep).option("header", False).csv(first).limit(1)
    row = header_df.first()
    if row is None:
        raise ValueError(f"empty CSV at {first}")
    names = list(row) if header else [f"column{i}" for i in range(len(row))]
    return T.StructType([T.StructField(str(n), T.StringType(), True) for n in names])


def read_csv_all_string(
    spark: SparkSession,
    path: str | list[str],
    sep: str = ",",
    header: bool = True,
    with_filename: bool = True,
) -> DataFrame:
    """S1/S4: multi-file CSV scan, every column string, optional filename col.

    Matches DuckDB ``read_csv([...], all_varchar=true, filename=true)``
    (reference bronze/utils.py:325-330; pipe-delimited variant
    docs/dag_bronze_mitma.py:134-139). Compressed ``.csv.gz`` is handled
    transparently by Spark's codec detection.
    """
    schema = _all_string_schema(spark, path, sep, header)
    df = (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("header", str(header).lower())
        .csv(path)
    )
    if with_filename:
        df = df.withColumn("filename", F.input_file_name())
    return df


def read_json_array(spark: SparkSession, path: str | list[str], schema: T.StructType | None = None) -> DataFrame:
    """S2: JSON scan with nested struct/array inference.

    DuckDB ``read_json(url, format='array')`` (bronze/utils.py:392-399).
    Spark's json reader is line-oriented by default; ``multiLine`` handles a
    top-level JSON array. Pass ``schema`` on re-loads to skip re-inference
    (the reference freezes schemas after the first file too).
    """
    reader = spark.read.option("multiLine", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def with_audit_columns(df: DataFrame, source: str | None = None) -> DataFrame:
    """Audit columns appended to every bronze row (bronze/utils.py:321-324):
    ``loaded_at`` (current timestamp) and ``source_file``/``source_url``."""
    df = df.withColumn("loaded_at", F.current_timestamp())
    if source is not None:
        df = df.withColumn("source_file", F.lit(source))
    elif "filename" not in df.columns:
        df = df.withColumn("source_file", F.input_file_name())
    return df


def stage_urls(urls: list[str], dest_dir: str, max_workers: int = 8) -> list[str]:
    """E1/S1/S2 closing helper: URL list → local staged files → engine scan.

    The reference streams ``.csv.gz``/JSON straight from HTTPS into
    DuckDB's httpfs scan (bronze/utils.py:226-295 harvests the URL list
    from an RSS feed; :325-330 and :392-399 scan the URLs directly).
    Spark has no HTTP data source, so ingestion stages each URL into
    ``dest_dir`` (a local path here; an object-store prefix in
    production) and feeds the staged paths to :func:`read_csv_all_string`
    / :func:`read_json_array` — compression stays transparent because the
    ``.csv.gz`` suffix is preserved.

    Driver-side by design: the transfer is per-file and network-bound;
    executors take over at the scan. Downloads run in a bounded thread
    pool, mirroring the reference's 15-slot Airflow ingestion pool
    (airflow_settings.yaml:9-12). ``file://`` URLs work too (urllib), so
    the path is testable offline. Returns staged paths in input order
    (the reference sorts its URL list driver-side as well, §2.6 O3).
    """
    import os
    import urllib.parse
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    os.makedirs(dest_dir, exist_ok=True)

    def fetch(i_url: tuple[int, str]) -> str:
        i, url = i_url
        name = os.path.basename(urllib.parse.urlparse(url).path) or "payload"
        # index prefix keeps same-named URLs from clobbering each other
        dest = os.path.join(dest_dir, f"{i:04d}_{name}")
        with urllib.request.urlopen(url) as resp, open(dest, "wb") as out:
            while chunk := resp.read(1 << 20):
                out.write(chunk)
        return dest

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return list(pool.map(fetch, enumerate(urls)))


def register_temp(spark: SparkSession, name: str, df: DataFrame) -> None:
    """S5: register a DataFrame as a queryable relation
    (DuckDB ``con.register``, bronze/utils.py:685)."""
    df.createOrReplaceTempView(name)
