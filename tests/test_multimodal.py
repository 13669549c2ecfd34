"""Multimodal-column plumbing: binary payloads, Arrow batch iteration,
exploded-frame schemas and the fake codec stage
(operators/multimodal.py). Oracle parity runs in test_oracle_parity.py;
these tests pin the UDF mechanics the oracle can't see."""

import hashlib

import pytest
from pyspark.sql import functions as F

from kafka_connect_oss_spark.operators import multimodal as MM
from kafka_connect_oss_spark.shipping import ensure_package_on_executors
from kafka_connect_oss_spark.sources.batch import load_table


@pytest.fixture(scope="module")
def mm(spark, sf_dir):
    ensure_package_on_executors(spark)
    df = MM.attach_binary(load_table(spark, sf_dir, "documents")).cache()
    yield df
    # unpersist at module teardown: the CacheManager substitutes cached
    # fragments into ANY later matching plan session-wide, which changed
    # other tests' physical plans (caught by test_plan_guards)
    df.unpersist()


def test_attach_binary_types_and_metadata(mm):
    schema = {f.name: f.dataType.simpleString() for f in mm.schema.fields}
    assert schema["payload"] == "binary"
    assert schema["meta"].startswith("struct<byte_len:int")
    row = mm.where(F.col("doc_id") == 3).first()
    assert row.modality == MM.MODALITIES[3 % 3]
    assert row.meta.byte_len == len(bytes(row.payload))


def test_decode_metadata_matches_local_recompute(mm):
    rows = {r.doc_id: r for r in MM.decode_metadata(mm).collect()}
    src = mm.limit(20).collect()
    assert len(rows) == mm.count()
    for s in src:
        expect = MM.fake_decode(s.modality, bytes(s.payload))
        got = rows[s.doc_id]
        for k in ("byte_len", "fmt", "width", "height", "channels",
                  "sample_rate", "duration_ms", "n_frames"):
            assert getattr(got, k) == expect[k], (s.doc_id, k)


def test_metadata_is_modality_gated(mm):
    cat = MM.decode_metadata(mm)
    bad = cat.where(
        ((F.col("modality") == "image") & (F.col("width").isNull()
                                           | F.col("sample_rate").isNotNull()))
        | ((F.col("modality") == "audio") & (F.col("sample_rate").isNull()
                                             | F.col("width").isNotNull()))
        | ((F.col("modality") == "video") & (F.col("n_frames").isNull()
                                             | F.col("width").isNotNull())))
    assert bad.count() == 0


def test_resize_fits_box_preserves_aspect(mm):
    for r in MM.image_resize_plan(mm).collect():
        assert 1 <= r.new_w <= MM.RESIZE_BOX and 1 <= r.new_h <= MM.RESIZE_BOX
        assert r.new_w <= r.width and r.new_h <= r.height  # never upscale
        # aspect preserved within floor() rounding: new_w = floor(w*s),
        # new_h = floor(h*s) => |new_w*h - new_h*w| <= max(w, h)
        assert abs(r.new_w * r.height - r.new_h * r.width) <= max(
            r.width, r.height)


def test_frame_sample_explodes_and_hashes(mm):
    frames = MM.video_frame_sample(mm).collect()
    src = {r.doc_id: bytes(r.payload)
           for r in mm.where(F.col("modality") == "video").collect()}
    assert {f.doc_id for f in frames} == set(src)  # every video sampled
    by_doc: dict[int, list] = {}
    for f in frames:
        by_doc.setdefault(f.doc_id, []).append(f)
    for doc_id, fl in list(by_doc.items())[:10]:
        data = src[doc_id]
        n_frames = (len(data) + MM.FRAME_BYTES - 1) // MM.FRAME_BYTES
        expect_idx = list(range(0, n_frames, MM.FRAME_STRIDE))
        assert sorted(f.frame_idx for f in fl) == expect_idx
        for f in fl:
            chunk = data[f.frame_idx * MM.FRAME_BYTES:
                         (f.frame_idx + 1) * MM.FRAME_BYTES]
            assert f.frame_len == len(chunk)
            assert f.frame_md5 == hashlib.md5(chunk).hexdigest()


def test_udf_output_stable_across_batch_sizes(spark, mm):
    """Arrow batch boundaries must not affect results (per-row semantics)."""
    before = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        small = sorted(map(tuple, MM.binary_embed(mm).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", before)
    big = sorted(map(tuple, MM.binary_embed(mm).collect()))
    assert small == big
