"""Scan/sink surface (SURVEY.md §2.1 S1-S11): all-string CSV with filename
pseudo-column, JSON-array scan with nested inference, audit columns, the
saveAsTable sink family, and catalog introspection."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from bigdata_project_spark.sources.readers import (
    read_csv_all_string,
    read_json_array,
    register_temp,
    with_audit_columns,
)
from bigdata_project_spark.sources.sinks import (
    append_table,
    create_table_schema_only,
    drop_table,
    replace_table,
)


@pytest.fixture()
def csv_files(tmp_path):
    """Two pipe-delimited files, one gzipped — the reference's multi-URL
    `.csv.gz` shape (bronze/utils.py:325-330)."""
    p1 = tmp_path / "a.csv"
    p1.write_text("fecha|origen|viajes\n20220301|A01|12.5\n20220302|A02|3\n")
    p2 = tmp_path / "b.csv.gz"
    with gzip.open(p2, "wt") as f:
        f.write("fecha|origen|viajes\n20220303|B01|7\n")
    return [str(p1), str(p2)]


def test_csv_all_string_multi_file(spark, csv_files):
    df = read_csv_all_string(spark, csv_files, sep="|")
    assert [f.dataType.simpleString() for f in df.schema.fields[:3]] == ["string"] * 3
    rows = df.orderBy("fecha").collect()
    assert len(rows) == 3
    assert rows[0]["viajes"] == "12.5"  # stays VARCHAR, no inference
    assert rows[0]["filename"].endswith("a.csv")
    assert rows[2]["filename"].endswith("b.csv.gz")


def test_stage_urls_to_engine(spark, csv_files, tmp_path):
    """URL list → staged dir → all-string scan: the reference's E1 entry
    path (RSS-harvested HTTPS URLs into the engine scan,
    bronze/utils.py:226-295 + :325-330), exercised offline via file://.
    Gzip survives staging because the suffix is preserved."""
    from bigdata_project_spark.sources.readers import stage_urls

    urls = [f"file://{p}" for p in csv_files]
    staged = stage_urls(urls, str(tmp_path / "staged"))
    assert len(staged) == 2
    assert staged[0].endswith("a.csv") and staged[1].endswith("b.csv.gz")
    df = read_csv_all_string(spark, staged, sep="|")
    assert df.count() == 3
    assert {r["origen"] for r in df.collect()} == {"A01", "A02", "B01"}


def test_mitma_feed_listing(spark, tmp_path):
    """The RSS listing parse (reference bronze/utils.py:226-315, the
    last unported surface per the r12 verdict): dataset/zone/date
    filtering, case-insensitive GAU match, dedup of the feed's repeated
    entries, date-ascending order, and validation errors — then the
    emitted URLs flow through the EXISTING stage_urls → all-string scan
    path end-to-end via file:// (no network)."""
    import gzip as _gzip

    from bigdata_project_spark.sources.readers import stage_urls
    from bigdata_project_spark.sources.staging import mitma_feed_urls

    base = "https://movilidad-opendata.mitma.es/estudios_basicos"
    u = lambda z, p, d, n: f"{base}/por-{z}/{p}/ficheros-diarios/{d[:4]}-{d[4:6]}/{d}_{n}.csv.gz"  # noqa: E731
    feed = "\n".join(
        [
            f"<item><link>{u('distritos', 'viajes', '20220301', 'Viajes_distritos')}</link></item>",
            # duplicate entry — feeds repeat items
            f"<item><link>{u('distritos', 'viajes', '20220301', 'Viajes_distritos')}</link></item>",
            f"<item><link>{u('distritos', 'viajes', '20220303', 'Viajes_distritos')}</link></item>",
            # out of range
            f"<item><link>{u('distritos', 'viajes', '20220401', 'Viajes_distritos')}</link></item>",
            # other dataset / other zone — must not match
            f"<item><link>{u('distritos', 'personas', '20220302', 'Personas_dia_distritos')}</link></item>",
            f"<item><link>{u('municipios', 'viajes', '20220302', 'Viajes_municipios')}</link></item>",
            # GAU with the reference's mixed casing
            f"<item><link>{u('GAU', 'viajes', '20220302', 'Viajes_GAU')}</link></item>",
        ]
    )
    got = mitma_feed_urls(feed, "od", "distritos", "2022-03-01", "2022-03-31")
    assert got == [
        u("distritos", "viajes", "20220301", "Viajes_distritos"),
        u("distritos", "viajes", "20220303", "Viajes_distritos"),
    ]
    assert mitma_feed_urls(feed, "od", "gau", "2022-03-01", "2022-03-31") == [
        u("GAU", "viajes", "20220302", "Viajes_GAU")
    ]
    assert mitma_feed_urls(feed, "people_day", "distritos", "2022-03-02", "2022-03-02") == [
        u("distritos", "personas", "20220302", "Personas_dia_distritos")
    ]
    with pytest.raises(ValueError):
        mitma_feed_urls(feed, "nope", "distritos", "2022-03-01", "2022-03-31")
    with pytest.raises(ValueError):
        mitma_feed_urls(feed, "od", "nope", "2022-03-01", "2022-03-31")

    # end-to-end: a local mirror in the reference's path shape, listed
    # from a file:// feed, staged via the existing pooled download, and
    # scanned all-string (operator S1) — no network involved
    shaped = (
        tmp_path
        / "mirror/estudios_basicos/por-distritos/viajes/ficheros-diarios/2022-03"
    )
    shaped.mkdir(parents=True)
    local_items = []
    for d in ("20220301", "20220303"):
        p = shaped / f"{d}_Viajes_distritos.csv.gz"
        with _gzip.open(p, "wt") as f:
            f.write(f"fecha|origen|viajes\n{d}|A01|5\n")
        local_items.append(f"<item><link>file://{p}</link></item>")
    # file:// is OPT-IN (r13 advice item 2): the default https-only
    # parse must ignore local paths a hostile live feed could inject...
    assert (
        mitma_feed_urls(
            "\n".join(local_items), "od", "distritos", "2022-03-01", "2022-03-31"
        )
        == []
    )
    # ...while allow_local=True enables the offline-mirror path
    local_urls = mitma_feed_urls(
        "\n".join(local_items),
        "od",
        "distritos",
        "2022-03-01",
        "2022-03-31",
        allow_local=True,
    )
    assert len(local_urls) == 2 and all(x.startswith("file://") for x in local_urls)
    staged = stage_urls(local_urls, str(tmp_path / "staged"))
    df = read_csv_all_string(spark, staged, sep="|")
    assert df.count() == 2
    assert {r["fecha"] for r in df.collect()} == {"20220301", "20220303"}


def test_mitma_feed_rejects_plain_http():
    """r14 advice: the default scheme filter claimed 'https-only' but
    matched https?://. Now it is truly https-only — a hostile feed
    cannot downgrade a daily-file fetch to plain http, in EITHER mode
    (allow_local only adds file://, not http://)."""
    from bigdata_project_spark.sources.staging import mitma_feed_urls

    http_url = (
        "http://movilidad-opendata.mitma.es/estudios_basicos/por-distritos/"
        "viajes/ficheros-diarios/2022-03/20220301_Viajes_distritos.csv.gz"
    )
    feed = f"<item><link>{http_url}</link></item>"
    assert mitma_feed_urls(feed, "od", "distritos", "2022-03-01", "2022-03-31") == []
    assert (
        mitma_feed_urls(
            feed, "od", "distritos", "2022-03-01", "2022-03-31", allow_local=True
        )
        == []
    )
    # the https twin of the same entry still matches
    https_feed = feed.replace("http://", "https://")
    assert mitma_feed_urls(
        https_feed, "od", "distritos", "2022-03-01", "2022-03-31"
    ) == [http_url.replace("http://", "https://")]


def test_mitma_feed_scheme_anchor_and_drop_warning(caplog):
    """r15 advice items: (1) the scheme alternation is anchored — a
    feed token like 'xhttps://…' must not match via its embedded
    'https://' substring; (2) candidates excluded SOLELY for being
    plain http are counted in a logged warning, so an all-http feed
    is distinguishable from an empty one (http is still never
    accepted)."""
    import logging

    from bigdata_project_spark.sources.staging import (
        mitma_feed_urls,
        mitma_zoning_urls,
    )

    path = (
        "movilidad-opendata.mitma.es/estudios_basicos/por-distritos/"
        "viajes/ficheros-diarios/2022-03/20220301_Viajes_distritos.csv.gz"
    )
    # (1) embedded-scheme tokens never match, in either mode
    glued = f"<item><link>xhttps://{path}</link></item>"
    for allow_local in (False, True):
        assert (
            mitma_feed_urls(
                glued, "od", "distritos", "2022-03-01", "2022-03-31",
                allow_local=allow_local,
            )
            == []
        )
    glued_file = "<link>xfile:///tmp/z/20220301_Viajes_distritos.csv.gz</link>"
    assert (
        mitma_feed_urls(
            glued_file, "od", "distritos", "2022-03-01", "2022-03-31",
            allow_local=True,
        )
        == []
    )

    # (2) in-range plain-http candidates are counted and warned about
    feed = "\n".join(
        [
            f"<item><link>http://{path}</link></item>",
            # out-of-range http entry must NOT count for the daily feed
            f"<item><link>http://{path.replace('20220301', '20220401')}</link></item>",
            # xhttp:// garbage is not a scheme drop either
            f"<item><link>xhttp://{path}</link></item>",
        ]
    )
    with caplog.at_level(logging.WARNING, "bigdata_project_spark.sources.staging"):
        assert (
            mitma_feed_urls(feed, "od", "distritos", "2022-03-01", "2022-03-31")
            == []
        )
    assert any(
        "1 candidate URL(s)" in r.message and "https-only" in r.message
        for r in caplog.records
    )
    caplog.clear()

    # an https feed emits NO scheme-drop warning
    with caplog.at_level(logging.WARNING, "bigdata_project_spark.sources.staging"):
        got = mitma_feed_urls(
            feed.replace("http://", "https://").replace("xhttps", "xhttp"),
            "od", "distritos", "2022-03-01", "2022-03-31",
        )
    assert len(got) == 1 and not caplog.records
    caplog.clear()

    # zoning listing: same warning path, still rejects + anchors
    zfeed = "\n".join(
        [
            "<link>http://m.es/zonificacion/zonificacion_distritos/nombres_distritos.csv</link>",
            "<link>xhttps://m.es/zonificacion/zonificacion_distritos/poblacion_distritos.csv</link>",
        ]
    )
    with caplog.at_level(logging.WARNING, "bigdata_project_spark.sources.staging"):
        assert mitma_zoning_urls(zfeed, "distritos") == {}
    assert any("https-only" in r.message for r in caplog.records)


def test_mitma_zoning_listing():
    """The static-zoning listing parse (reference bronze/utils.py:
    464-531): shapefile components + the two auxiliary CSVs per zone
    type, GAU folder-vs-file-suffix asymmetry (folder GAU, file
    gaus), dedup, and the empty-dict rotated-out signal."""
    from bigdata_project_spark.sources.staging import mitma_zoning_urls

    base = "https://movilidad-opendata.mitma.es/zonificacion"
    feed = "\n".join(
        [
            f"<link>{base}/zonificacion_distritos/zonificacion_distritos.{e}</link>"
            for e in ("shp", "shx", "dbf", "prj")
        ]
        + [
            # duplicate shapefile entry
            f"<link>{base}/zonificacion_distritos/zonificacion_distritos.shp</link>",
            f"<link>{base}/zonificacion_distritos/nombres_distritos.csv</link>",
            f"<link>{base}/zonificacion_distritos/poblacion_distritos.csv</link>",
            f"<link>{base}/zonificacion_GAU/zonificacion_gau.shp</link>",
            f"<link>{base}/zonificacion_GAU/nombres_gaus.csv</link>",
            # wrong-suffix csv must NOT match gau
            f"<link>{base}/zonificacion_GAU/nombres_gau.csv</link>",
        ]
    )
    d = mitma_zoning_urls(feed, "distritos")
    assert len(d["shp_components"]) == 4  # deduped, one per extension
    assert d["nombres"].endswith("nombres_distritos.csv")
    assert d["poblacion"].endswith("poblacion_distritos.csv")
    g = mitma_zoning_urls(feed, "gau")
    assert g["shp_components"] == [f"{base}/zonificacion_GAU/zonificacion_gau.shp"]
    assert g["nombres"].endswith("nombres_gaus.csv")
    assert g["poblacion"] is None
    assert mitma_zoning_urls("<rss/>", "distritos") == {}
    with pytest.raises(ValueError):
        mitma_zoning_urls(feed, "nope")
    # file:// zoning entries need the same explicit opt-in as the
    # daily-file listing (r13 advice item 2)
    local_feed = "<link>file:///tmp/zonificacion/zonificacion_distritos/nombres_distritos.csv</link>"
    assert mitma_zoning_urls(local_feed, "distritos") == {}
    assert mitma_zoning_urls(local_feed, "distritos", allow_local=True)[
        "nombres"
    ].startswith("file://")


def test_fetch_feed_request_contract(monkeypatch):
    """fetch_feed's request construction, pinned offline via a stubbed
    urlopen (r13 verdict nit + advice item 1): the User-Agent header
    the reference sends to avoid 403s (bronze/utils.py:263-265), a
    finite timeout so a hung feed server can't block the driver, and
    the tolerant utf-8 decode of the response bytes."""
    import io
    import urllib.request

    from bigdata_project_spark.sources import staging

    captured = {}

    def fake_urlopen(req, timeout=None):
        captured["url"] = req.full_url
        captured["ua"] = req.get_header("User-agent")
        captured["timeout"] = timeout
        # invalid-utf8 byte exercises the errors="ignore" decode
        return io.BytesIO(b"<rss>ok\xff</rss>")

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    text = staging.fetch_feed("https://example.invalid/RSS.xml")
    assert text == "<rss>ok</rss>"
    assert captured["url"] == "https://example.invalid/RSS.xml"
    assert captured["ua"] == "bigdata-project-spark-staging"
    assert captured["timeout"] == 30.0
    staging.fetch_feed("https://example.invalid/RSS.xml", timeout=5.0)
    assert captured["timeout"] == 5.0


def test_json_array_nested_inference(spark, tmp_path):
    payload = [
        {"COD": "1", "Nombre": "Uno. Seg", "Data": [{"Fecha": 1648771200000, "Valor": 1.5}]},
        {"COD": "2", "Nombre": "Dos. Seg", "Data": []},
    ]
    p = tmp_path / "ine.json"
    p.write_text(json.dumps(payload))
    df = read_json_array(spark, str(p))
    kinds = dict(df.dtypes)
    assert kinds["COD"] == "string"
    assert kinds["Data"].startswith("array<struct<")
    first = df.orderBy("COD").first()
    assert first["Data"][0]["Valor"] == 1.5


def test_audit_columns(spark, csv_files):
    df = with_audit_columns(read_csv_all_string(spark, csv_files, sep="|", with_filename=False))
    row = df.first()
    assert row["loaded_at"] is not None
    assert row["source_file"].endswith((".csv", ".csv.gz"))


def test_register_temp_queryable(spark):
    register_temp(spark, "tmp_zonificacion", spark.range(3))
    assert spark.sql("SELECT count(*) AS n FROM tmp_zonificacion").first()["n"] == 3
    spark.catalog.dropTempView("tmp_zonificacion")


def test_partitioned_write_prunes_on_read(spark, sf_dir):
    """S7 with partitionBy + the 100 TB read pattern: a filter on the
    partition column must become a PartitionFilter (pruned directories),
    not a data filter — and file count per partition stays controlled."""
    from bigdata_project_spark.sources.readers import load_table
    from bigdata_project_spark.sources.sinks import drop_table, replace_table
    from pyspark.sql import functions as F

    t = "test_part_tbl"
    drop_table(spark, t)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    replace_table(ev.repartition("day"), t, partition_by=["day"])
    try:
        days = [r["day"] for r in spark.table(t).select("day").distinct().collect()]
        pick = sorted(days)[0]
        q = spark.table(t).filter(F.col("day") == pick)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert f"PartitionFilters: [isnotnull(day" in plan, plan[:1500]
        # the non-matching partitions are never scanned
        assert q.count() == ev.filter(F.col("day") == pick).count()
    finally:
        drop_table(spark, t)


def test_sink_family_and_catalog(spark):
    """S6 schema-only create → S8 append → S7 replace → S11 introspection
    → S10 drop, against the session warehouse."""
    t = "test_sink_tbl"
    drop_table(spark, t)
    src = spark.range(5).withColumnRenamed("id", "k")

    create_table_schema_only(src, t)
    assert spark.table(t).count() == 0
    # idempotent (CREATE IF NOT EXISTS): second call must not fail/overwrite
    create_table_schema_only(src, t)

    append_table(src, t)
    append_table(src, t)
    assert spark.table(t).count() == 10

    replace_table(src.filter("k < 2"), t)
    assert spark.table(t).count() == 2

    # S11: SHOW TABLES / information_schema.columns equivalents
    assert t in [x.name for x in spark.catalog.listTables()]
    cols = spark.catalog.listColumns(t)
    assert [c.name for c in cols] == ["k"]

    drop_table(spark, t)
    assert t not in [x.name for x in spark.catalog.listTables()]


def test_schema_evolution_merge_schema(spark, sf_dir, tmp_path):
    """Lakehouse schema evolution: a later load adds a column; reading the
    directory with mergeSchema unions the schemas, old files NULL-fill.
    (The reference freezes schema on first file — SURVEY §1.3; mergeSchema
    is the Spark-native upgrade path.)"""
    import pyspark.sql.functions as F

    base = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id").alias("k"), F.lit("a").alias("v")).write.parquet(
        base + "/load=1"
    )
    spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("b").alias("v"), F.lit(1.5).alias("extra")
    ).write.parquet(base + "/load=2")
    df = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(base)
    assert set(df.columns) == {"k", "v", "extra"}
    assert df.count() == 8
    assert df.filter(F.col("extra").isNull()).count() == 5


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """JSON-lines sink + scan (the ndjson interchange format): schema and
    values round-trip; nested structs survive."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "docs_jsonl")
    from bigdata_project_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.struct("n_chars", "source").alias("meta")
    )
    docs.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    assert back.count() == docs.count()
    a = {(r["doc_id"], r["lang"], r["meta"]["n_chars"]) for r in docs.collect()}
    b = {(r["doc_id"], r["lang"], r["meta"]["n_chars"]) for r in back.collect()}
    assert a == b


def test_parquet_ts_unit_footer_detection(sf_dir):
    from bigdata_project_spark.sources.readers import _footer, _parquet_ts_unit

    footer = _footer(f"{sf_dir}/events.parquet")
    # the events fixture carries a real timestamp logical type
    assert _parquet_ts_unit(footer, "ts") in ("ns", "us", "ms")
    # a non-timestamp column has no unit
    assert _parquet_ts_unit(footer, "user_id") is None
    # unreadable path degrades to None, not an exception
    assert _parquet_ts_unit(_footer("/nonexistent/x.parquet"), "ts") is None


def test_load_events_pre_1973_nanos(spark, tmp_path):
    """A typed TIMESTAMP(NANOS) column whose every value predates 1973
    (ns epoch ~1e16 < the 1e17 magnitude cutoff) must still be read as
    nanoseconds: the footer logical type decides the unit, never a
    per-row or magnitude heuristic (ADVICE r4)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [
        datetime.datetime(1970, 6, 1, 12, 0, 0),
        datetime.datetime(1972, 12, 31, 23, 59, 59),
    ]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))

    from bigdata_project_spark.sources.readers import load_table

    df = load_table(spark, str(tmp_path), "events")
    got = sorted(r["ts"] for r in df.select("ts").collect())
    assert got == ts  # misread-as-micros would land in year 1970 + epsilon


def _declared_schema(spark, path):
    """The schema of a read declared from the parquet footer at ``path``."""
    from bigdata_project_spark.sources.readers import _footer, _footer_schema

    return spark.read.schema(_footer_schema(_footer(path))).parquet(path).schema


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_footer_schema_equals_spark_inference(spark, sf_dir, sf):
    """The footer-declared schema is the one ``spark.read.parquet`` infers,
    for every fixture table at every scale factor."""
    from bigdata_project_spark.sources.readers import TESTDATA_TABLES

    d = os.path.join(os.path.dirname(sf_dir), f"sf{sf}")
    if not os.path.isdir(d):
        pytest.skip(f"no sf{sf} fixture next to {sf_dir}")
    for name in TESTDATA_TABLES:
        p = f"{d}/{name}.parquet"
        assert _declared_schema(spark, p) == spark.read.parquet(p).schema, name


def test_footer_schema_spark_written_directory(spark, tmp_path, count_jobs):
    """A multi-part directory Spark wrote: the footer comes from a data
    part, never ``_SUCCESS`` or a ``.crc`` file, and Spark's INT96
    timestamps are declared TIMESTAMP, not bigint."""
    from bigdata_project_spark.sources.readers import load_table

    path = tmp_path / "t.parquet"
    spark.range(40).selectExpr(
        "id",
        "cast(id as string) AS s",
        "timestamp_micros(id * 1000000) AS ts",
        "timestamp_ntz'2020-01-01 00:00:00' AS tsn",
        "array(id, id + 1) AS a",
        "named_struct('x', id, 'y', cast(id as double)) AS st",
    ).repartition(3).write.parquet(str(path))
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert sum(n.startswith("part-") and n.endswith(".parquet") for n in names) > 1

    want = spark.read.parquet(str(path)).schema
    assert _declared_schema(spark, str(path)) == want
    jobs, df = count_jobs(load_table, spark, str(tmp_path), "t")
    assert jobs == 0
    assert df.schema == want and df.count() == 40


def test_footer_schema_nanos_as_long(spark, tmp_path, count_jobs):
    """A ``timestamp[ns]`` column is declared bigint, as Spark reads
    TIMESTAMP(NANOS) under ``spark.sql.legacy.parquet.nanosAsLong``."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from bigdata_project_spark.sources.readers import _footer, _footer_schema, load_table

    p = str(tmp_path / "t.parquet")
    ts = [datetime.datetime(2021, 5, 6, 7, 8, 9, 123456)]
    pq.write_table(pa.table({"k": [1], "ts": pa.array(ts, pa.timestamp("ns"))}), p)
    assert _footer_schema(_footer(p))["ts"].dataType == T.LongType()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert _declared_schema(spark, p) == spark.read.parquet(p).schema
    jobs, df = count_jobs(load_table, spark, str(tmp_path), "t")
    assert jobs == 0
    micros = (ts[0] - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)
    assert df.first()["ts"] == micros * 1000


def test_load_table_starts_no_job(spark, sf_dir, count_jobs):
    """Declaring the footer schema leaves no inference job on the read
    path: building a plan over any fixture table runs nothing."""
    from bigdata_project_spark.sources.readers import TESTDATA_TABLES, load_table

    for name in TESTDATA_TABLES:
        assert count_jobs(load_table, spark, sf_dir, name)[0] == 0, name


def test_plain_int64_ts_probe_reads_declared(spark, tmp_path, count_jobs):
    """A plain-int64 ``ts`` has no footer unit, so its unit costs one
    max() probe, read through the declared schema: the probe starts the
    jobs of that aggregate alone, with no inference job on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigdata_project_spark.sources.readers import load_table, ts_micros

    p = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array([10**18, 2 * 10**18], pa.int64())}), p
    )
    probe = count_jobs(
        lambda: spark.read.schema("event_id long, ts long").parquet(p).agg(F.max("ts")).first()
    )[0]
    assert count_jobs(ts_micros, spark, p)[0] == probe
    jobs, df = count_jobs(load_table, spark, str(tmp_path), "events")
    assert jobs == probe
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
