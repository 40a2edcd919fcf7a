"""Streaming sessionization vs batch equivalence + multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from nyxus_spark.operators import sessionize
from nyxus_spark.operators.multimodal import (
    DECODED_SCHEMA, attach_fake_media, decode_media, frame_sample,
)
from nyxus_spark.streaming import sessionize_stream
from nyxus_spark.streaming.stream import run_availablenow


def test_stream_sessionize_matches_batch(spark, sf_dir, tmp_path):
    gap = 3600.0
    import shutil

    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(stream_dir))
        .select(F.col("user_id").cast("string").alias("doc_id"), "ts")
    )
    sess = sessionize_stream(stream, gap, watermark="365 days")
    run_availablenow(sess, "sess_out")
    got = spark.sql(
        "SELECT doc_id, count(*) AS n_sessions FROM sess_out GROUP BY doc_id"
    ).toPandas().set_index("doc_id")["n_sessions"]

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("doc_id"), "ts"
    )
    exp = (
        sessionize(ev, gap)
        .groupBy("doc_id")
        .agg((F.max("session_id") + 1).alias("n_sessions"))
        .toPandas()
        .set_index("doc_id")["n_sessions"]
    )
    assert got.sort_index().equals(exp.sort_index().astype(got.dtype))


def test_multimodal_plumbing(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = attach_fake_media(docs)
    assert [f.name for f in media.schema.fields] == [
        "doc_id", "media_type", "payload", "n_bytes", "meta_width", "meta_height"]
    out = decode_media(media, codec="fake").toPandas()
    assert len(out) == docs.count()
    assert set(out.columns) == {f.name for f in DECODED_SCHEMA.fields}
    assert (out["out_width"] == 16).all()
    assert out["checksum"].nunique() > 1  # payload-dependent
    # determinism: same input → same checksums
    out2 = decode_media(media, codec="fake").toPandas()
    assert out.sort_values("doc_id")["checksum"].tolist() == out2.sort_values("doc_id")["checksum"].tolist()


def test_multimodal_real_codec_is_stubbed(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(2)
    media = attach_fake_media(docs)
    with pytest.raises(Exception, match="NotImplementedError|real media decoding"):
        decode_media(media, codec="real").collect()


def test_frame_sample(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = attach_fake_media(docs)
    frames = frame_sample(media, every_n_bytes=64).toPandas()
    vids = media.filter("media_type = 'video'").count()
    assert frames["doc_id"].nunique() == vids
    assert (frames["byte_offset"] % 64 == 0).all()
    assert (frames.groupby("doc_id")["frame_idx"].min() == 0).all()
