"""Z-order layout: interleave correctness and real file-extent clustering."""

from __future__ import annotations

import pyspark.sql.functions as F

from bigdata_project_spark.operators.zorder import (
    Z_BITS,
    query_zorder_extents,
    write_zordered,
    zvalue,
)
from bigdata_project_spark.sources.readers import load_table


def _py_zvalue(x: int, y: int, bits: int = Z_BITS) -> int:
    z = 0
    for j in range(bits):
        z += ((x >> j) & 1) << (2 * j)
        z += ((y >> j) & 1) << (2 * j + 1)
    return z


def test_zvalue_matches_python_reference(spark):
    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (7, 1024)]
    df = spark.createDataFrame(rows, ["x", "y"]).withColumn(
        "z", zvalue(F.col("x"), F.col("y"))
    )
    for r in df.collect():
        assert r["z"] == _py_zvalue(r["x"], r["y"])


def test_zvalue_spread_equals_arithmetic_zvalue(spark):
    """r16 expression swap (rule-3 value-identity pin, same discipline
    as the r12 hex32 conv swap): the 4-step shift-mask bit spread used
    by the registered query must equal the 64-term floor-div/mod
    interleave — the spec form — bit for bit, so the swap changes the
    physical expression but never a value."""
    from bigdata_project_spark.operators.zorder import with_zvalue_spread

    rows = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321),
            (7, 1024), (32768, 1), (43690, 21845)]
    df = spark.createDataFrame(rows, ["x", "y"])
    both = with_zvalue_spread(df, F.col("x"), F.col("y"), out="z_fast").withColumn(
        "z_spec", zvalue(F.col("x"), F.col("y"))
    )
    for r in both.collect():
        assert r["z_fast"] == r["z_spec"] == _py_zvalue(r["x"], r["y"])
    # exhaustive on one dimension at a time (the spread is per-dim)
    xs = spark.createDataFrame([(i,) for i in range(0, 65536, 257)], ["x"])
    chk = with_zvalue_spread(
        xs, F.col("x"), F.lit(0).cast("bigint"), out="z_fast"
    ).withColumn("z_spec", zvalue(F.col("x"), F.lit(0)))
    assert chk.filter(F.col("z_fast") != F.col("z_spec")).count() == 0


def test_zorder_buckets_tight_in_both_dims(spark, sf_dir):
    out = query_zorder_extents(spark, sf_dir).toPandas()
    glob_pk = out["max_partkey"].max() - out["min_partkey"].min()
    glob_sk = out["max_suppkey"].max() - out["min_suppkey"].min()
    mean_pk = (out["max_partkey"] - out["min_partkey"]).mean()
    mean_sk = (out["max_suppkey"] - out["min_suppkey"]).mean()
    # each z-bucket must cover far less than the full domain in BOTH dims
    assert mean_pk < glob_pk * 0.6
    assert mean_sk < glob_sk * 0.6


def test_write_zordered_file_extents_prunable(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "zordered")
    write_zordered(li, "l_partkey", "l_suppkey", path, n_files=8)
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("l_partkey").alias("mn_pk"),
            F.max("l_partkey").alias("mx_pk"),
            F.min("l_suppkey").alias("mn_sk"),
            F.max("l_suppkey").alias("mx_sk"),
        )
        .toPandas()
    )
    assert len(per_file) >= 4
    glob_pk = per_file["mx_pk"].max() - per_file["mn_pk"].min()
    glob_sk = per_file["mx_sk"].max() - per_file["mn_sk"].min()
    mean_pk = (per_file["mx_pk"] - per_file["mn_pk"]).mean()
    mean_sk = (per_file["mx_sk"] - per_file["mn_sk"]).mean()
    assert mean_pk < glob_pk * 0.7
    assert mean_sk < glob_sk * 0.7


def test_distributed_ntile_matches_serial_window(spark, sf_dir):
    """The rank-decomposed ntile (sampled cuts + per-range row_number +
    offsets) reproduces the serial global-window ntile exactly, ties on
    the leading column included."""
    from pyspark.sql import Window

    from bigdata_project_spark.operators.zorder import distributed_ntile

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    # modulus forces heavy ties on the leading order column
    zed = li.withColumn("z", (F.col("l_partkey") % 101).cast("bigint"))
    order = ["z", "l_orderkey", "l_linenumber"]
    got = distributed_ntile(zed, 7, order, n_parts=5).select(
        "l_orderkey", "l_linenumber", "bucket"
    )
    w = Window.orderBy(*order)
    want = zed.withColumn("bucket", F.ntile(7).over(w)).select(
        "l_orderkey", "l_linenumber", "bucket"
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # static-domain path (integer-division range ids) must agree too
    got_static = distributed_ntile(
        zed, 7, order, n_parts=5, lead_range=(0, 100)
    ).select("l_orderkey", "l_linenumber", "bucket")
    assert got_static.exceptAll(want).count() == 0
    assert want.exceptAll(got_static).count() == 0


def test_distributed_ntile_concurrent_builders_thread_safe(spark, sf_dir):
    """Two threads each build AND execute an ntile plan simultaneously
    (as concurrent bench/oracle threads do); both must produce exact
    gap-free global ranks. The builder keeps no module state, so
    nothing may leak from one plan into the other."""
    from concurrent.futures import ThreadPoolExecutor

    from bigdata_project_spark.operators.zorder import distributed_ntile
    from bigdata_project_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    order = ["l_partkey", "l_orderkey", "l_linenumber"]

    def run(n_buckets: int):
        out = distributed_ntile(li, n_buckets, order, n_parts=5)
        rows = out.groupBy("bucket").count().collect()
        return sorted((r["bucket"], r["count"]) for r in rows)

    with ThreadPoolExecutor(max_workers=2) as ex:
        f7 = ex.submit(run, 7)
        f3 = ex.submit(run, 3)
        got7, got3 = f7.result(), f3.result()

    n = li.count()
    for got, k in ((got7, 7), (got3, 3)):
        assert [b for b, _ in got] == list(range(1, k + 1))
        q, rem = divmod(n, k)
        want = [q + 1] * rem + [q] * (k - rem)
        assert [c for _, c in got] == want
