"""Multimodal plumbing: real Spark batching around stubbed codecs."""

from __future__ import annotations

import pytest

from bigdata_project_spark.multimodal.binary_ops import (
    decode_image_stub,
    extract_features_fake,
    frame_sample_fake,
    with_binary_payload,
)
from bigdata_project_spark.sources.readers import load_table


def _payloads(spark, sf_dir):
    return with_binary_payload(load_table(spark, sf_dir, "documents"))


def test_binary_payload_schema(spark, sf_dir):
    df = _payloads(spark, sf_dir)
    assert dict(df.dtypes)["payload"] == "binary"
    row = df.first()
    assert row["meta"]["n_bytes"] == len(row["payload"])


def test_decode_stub_raises(spark):
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"\x89PNG")


def test_feature_extraction_mapinpandas(spark, sf_dir):
    feats = extract_features_fake(_payloads(spark, sf_dir))
    pdf = feats.toPandas()
    docs_n = load_table(spark, sf_dir, "documents").count()
    assert len(pdf) == docs_n
    assert (pdf["mean_byte"] > 0).all()
    assert ((pdf["width"] >= 0) & (pdf["width"] < 640)).all()


def test_frame_sampler_explodes(spark, sf_dir):
    frames = frame_sample_fake(_payloads(spark, sf_dir))
    pdf = frames.groupBy("doc_id").count().toPandas()
    assert (pdf["count"] >= 1).all()
    assert frames.select("frame_hash").distinct().count() == frames.count()
