"""Multimodal plumbing: schema, Arrow batch shapes, deterministic fake
decode, and the resize / frame-sample plans."""

import pytest

from pyspark.sql import functions as F

from astrospark.ops import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.media_table(spark, n=30, seed=13).cache()


def test_media_schema(media):
    assert [f.name for f in media.schema.fields] == ["media_ref", "media_type", "content", "meta"]
    assert media.count() == 30


def test_decode_deterministic(media):
    a = {r.media_ref: (r.width, r.height, r.n_frames, round(r.mean_luma, 9))
         for r in mm.decode_media(media).collect()}
    b = {r.media_ref: (r.width, r.height, r.n_frames, round(r.mean_luma, 9))
         for r in mm.decode_media(media).collect()}
    assert a == b
    # decoded dims equal the meta the fixture encoded
    for r in media.select("media_ref", "meta").collect():
        assert a[r.media_ref][0] == r.meta.width
        assert a[r.media_ref][1] == r.meta.height


def test_decode_raises_for_unknown_payload(spark):
    junk = spark.createDataFrame(
        [("x://1", "video", bytearray(b"NOTAFIXTURE"), (1, 1, 1, "c"))], mm.MEDIA_SCHEMA_DDL
    )
    with pytest.raises(Exception, match="(NotImplementedError|no decoder)"):
        mm.decode_media(junk).collect()


def test_resize_plan_bounds(media):
    plan = mm.resize_plan(media, max_side=224)
    for r in plan.collect():
        assert max(r.target_w, r.target_h) <= 224
        assert min(r.target_w, r.target_h) >= 1


def test_frame_sample_plan(media):
    s = mm.frame_sample_plan(media, every_ms=1000)
    rows = s.groupBy("media_ref").count().collect()
    assert all(r["count"] >= 1 for r in rows)
    assert s.filter(F.col("sample_ms") < 0).count() == 0
