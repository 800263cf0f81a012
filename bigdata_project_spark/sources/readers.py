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

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import PySparkTypeError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

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
    """Read one synthetic table (TESTDATA.md) as a DataFrame, with the
    schema declared from its parquet footer.

    ``spark.read.parquet(path)`` infers the schema with a one-task Spark
    job on every call; here one pyarrow footer read (about 1 ms, no data
    scan) yields the same ``StructType`` (:func:`_footer_schema`), so
    building a plan over a fixture table starts no job. Every load still
    reads its footer: nothing is cached between loads.

    The committed ``events.parquet`` carries ``timestamp[us]`` at every
    scale factor and needs nothing more. An external events file with
    ``TIMESTAMP(NANOS)``, or with a plain int64 ``ts``, surfaces ``ts`` as
    bigint (nanos via the nanos-as-long legacy conf); it is normalized to
    a microsecond TIMESTAMP_NTZ so downstream plans see one timestamp type.
    """
    path = f"{sf_dir}/{name}.parquet"
    footer = _footer(path)
    df = _read_declared(spark, path, footer)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(_ts_micros(spark, path, footer)).cast("timestamp_ntz")
        )
    return df


def ts_micros(spark: SparkSession, path: str) -> Column:
    """Microsecond epoch of the int64 ``ts`` column of the parquet table at
    ``path`` — the one unit rule for the batch reader and the event stream.

    The unit is detected ONCE per table from the parquet logical type
    (footer read, no data scan) — a per-row magnitude heuristic would
    misclassify pre-1973 nanos epochs as micros and mix units within one
    table. A plain-int64 column (no logical type) gets one table-level
    max() probe, read through the footer-declared schema so it starts no
    inference job: ns > 1e17 for any modern date, µs < 1e17 until year
    ~5138. Integer arithmetic throughout: ns epochs (~1.7e18) overflow
    double precision. Expects ``spark.sql.legacy.parquet.nanosAsLong``."""
    return _ts_micros(spark, path, _footer(path))


def _ts_micros(spark: SparkSession, path: str, footer: pa.Schema | None) -> Column:
    unit = _parquet_ts_unit(footer, "ts")
    if unit is None:
        mx = _read_declared(spark, path, footer).agg(F.max("ts")).first()[0]
        unit = "ns" if mx is not None and mx > 100_000_000_000_000_000 else "us"
    if unit == "us":
        return F.col("ts")
    return F.expr({"ns": "ts div 1000", "ms": "ts * 1000", "s": "ts * 1000000"}[unit])


def _read_declared(spark: SparkSession, path: str, footer: pa.Schema | None) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema declared from ``footer``,
    so reading starts no inference job. Without a readable footer Spark
    infers the schema itself (and raises its own not-found error)."""
    schema = _footer_schema(footer)
    if schema is None:
        return spark.read.parquet(path)
    if any(_is_nanos(f.type) for f in footer):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.schema(schema).parquet(path)


def _footer(path: str) -> pa.Schema | None:
    """Arrow schema of the parquet table at ``path`` — the one footer read
    behind the declared schema and the ts unit.

    Reads schema metadata only; at 100 TB this is one footer fetch per
    load, the same cost class as Spark's own schema resolution. A
    directory (Spark-written output) reads its first data file by name,
    skipping the ``_``/``.`` files Spark skips (``_SUCCESS``, ``.crc``);
    like Spark with ``mergeSchema`` off, it assumes the parts agree.
    Returns None when no footer can be read."""
    p = path
    if os.path.isdir(p):
        parts = sorted(f for f in os.listdir(p) if not f.startswith(("_", ".")))
        if not parts:
            return None
        p = os.path.join(p, parts[0])
    try:
        with pq.ParquetFile(p) as pf:
            schema, columns = pf.schema_arrow, list(pf.schema)
    except OSError:
        return None
    for c in columns:
        # legacy INT96 timestamps surface as arrow ns; Spark reads TIMESTAMP
        if c.physical_type == "INT96" and c.path in schema.names:
            i = schema.get_field_index(c.path)
            schema = schema.set(i, schema.field(i).with_type(pa.timestamp("us", tz="UTC")))
    return schema


def _parquet_ts_unit(footer: pa.Schema | None, col: str) -> str | None:
    """Timestamp unit ('ns'/'us'/...) of ``col`` in a :func:`_footer`;
    None when the column isn't a timestamp or there is no footer."""
    if footer is None or col not in footer.names:
        return None
    return getattr(footer.field(col).type, "unit", None)


def _is_nanos(t: pa.DataType) -> bool:
    return pa.types.is_timestamp(t) and t.unit == "ns"


def _footer_schema(footer: pa.Schema | None) -> T.StructType | None:
    """The schema ``spark.read.parquet`` would infer, from the footer alone.

    Each arrow type maps with ``from_arrow_type`` (timestamps without a
    zone as TIMESTAMP_NTZ, as Spark infers them), except
    ``TIMESTAMP(NANOS)``, which Spark reads as bigint under
    ``spark.sql.legacy.parquet.nanosAsLong``. Nullability needs no care:
    Spark makes every field of a file-source schema nullable, declared or
    inferred. None when there is no footer or a type has no arrow mapping
    (unsigned integers)."""
    if footer is None:
        return None
    try:
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    T.LongType() if _is_nanos(f.type) else from_arrow_type(f.type, prefer_timestamp_ntz=True),
                )
                for f in footer
            ]
        )
    except PySparkTypeError:
        return None


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def _all_string_schema(spark: SparkSession, path: str | list[str], sep: str) -> T.StructType:
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
    return T.StructType([T.StructField(str(n), T.StringType(), True) for n in row])


def read_csv_all_string(
    spark: SparkSession,
    path: str | list[str],
    sep: str = ",",
    with_filename: bool = True,
) -> DataFrame:
    """S1/S4: multi-file CSV scan, every column string, optional filename col.

    Matches DuckDB ``read_csv([...], all_varchar=true, filename=true)``
    (reference bronze/utils.py:325-330; pipe-delimited variant
    docs/dag_bronze_mitma.py:134-139). Compressed ``.csv.gz`` is handled
    transparently by Spark's codec detection.
    """
    schema = _all_string_schema(spark, path, sep)
    df = spark.read.schema(schema).option("sep", sep).option("header", "true").csv(path)
    if with_filename:
        df = df.withColumn("filename", F.input_file_name())
    return df


def read_json_array(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S2: JSON scan with nested struct/array inference.

    DuckDB ``read_json(url, format='array')`` (bronze/utils.py:392-399).
    Spark's json reader is line-oriented by default; ``multiLine`` handles a
    top-level JSON array.
    """
    return spark.read.option("multiLine", "true").json(path)


def with_audit_columns(df: DataFrame) -> DataFrame:
    """Audit columns appended to every bronze row (bronze/utils.py:321-324):
    ``loaded_at`` (current timestamp) and, unless the scan already carries
    ``filename``, ``source_file``."""
    df = df.withColumn("loaded_at", F.current_timestamp())
    if "filename" not in df.columns:
        df = df.withColumn("source_file", F.input_file_name())
    return df


def stage_urls(urls: list[str], dest_dir: str) -> list[str]:
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
    pool of 8, mirroring the reference's 15-slot Airflow ingestion pool
    (airflow_settings.yaml:9-12). ``file://`` URLs work too (urllib), so
    the path is testable offline. Returns staged paths in input order
    (the reference sorts its URL list driver-side as well, §2.6 O3).
    """
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

    with ThreadPoolExecutor(max_workers=8) as pool:
        return list(pool.map(fetch, enumerate(urls)))


def register_temp(spark: SparkSession, name: str, df: DataFrame) -> None:
    """S5: register a DataFrame as a queryable relation
    (DuckDB ``con.register``, bronze/utils.py:685)."""
    df.createOrReplaceTempView(name)
