"""Multimodal binary-column plumbing: schema, mapInPandas batch shape,
deterministic fake decode, frame sampling, resize bookkeeping.

The decode kernel itself is stubbed (no PIL/ffmpeg in the container) —
these tests pin the Spark-side contract that a real codec would slot into.
"""

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.operators import multimodal as mm

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 64
    )
    return mm.attach_fake_media(docs).cache()


def test_media_schema(media):
    assert dict(media.dtypes)["payload"] == "binary"
    meta_fields = {f.name for f in media.schema["meta"].dataType.fields}
    assert meta_fields == {"width", "height", "duration_ms", "sample_rate", "codec"}


def test_sniff_matches_declared_type(media):
    mismatched = media.filter(
        mm.sniff_media_type(F.col("payload")) != F.col("media_type")
    ).count()
    assert mismatched == 0


def test_media_stats_native(media):
    rows = {r["sniffed_type"]: r for r in mm.media_stats(media).collect()}
    assert set(rows) == set(mm.MAGIC.values())
    for r in rows.values():
        assert r["total_bytes"] > 0 and r["n_items"] > 0


def test_decode_matches_local_fake(media):
    decoded = {r["doc_id"]: r for r in mm.decode_media(media).collect()}
    sample = media.select("doc_id", "payload").limit(8).collect()
    assert len(decoded) == media.count()
    for row in sample:
        payload = bytes(row["payload"])
        w, h, c, mean = mm._fake_decode(payload)
        d = decoded[row["doc_id"]]
        assert (d["width"], d["height"], d["n_channels"]) == (w, h, c)
        assert d["mean_byte"] == pytest.approx(mean)
        assert d["n_bytes"] == len(payload)
        assert d["payload_sha"] == mm.payload_fingerprint(payload)


def test_decode_strict_raises(media):
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="NotImplementedError"):
        mm.decode_media(media.limit(1), strict=True).collect()


def test_decode_survives_repartition(media):
    """Batch iteration must be partition-independent (same rows out)."""
    a = sorted(
        (r["doc_id"], r["payload_sha"]) for r in mm.decode_media(media).collect()
    )
    b = sorted(
        (r["doc_id"], r["payload_sha"])
        for r in mm.decode_media(media.repartition(7)).collect()
    )
    assert a == b


def test_frame_sample_counts(media):
    frames = mm.frame_sample(media)
    got = {
        r["doc_id"]: r["n"]
        for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    vids = media.filter(F.col("media_type").startswith("video/")).select(
        "doc_id", "meta.duration_ms"
    )
    for r in vids.collect():
        # frames at 0, 1000, ... < duration_ms
        expect = (r["duration_ms"] - 1) // 1000 + 1
        assert got[r["doc_id"]] == expect


def test_resize_plan_bounds(media):
    decoded = mm.decode_media(media)
    plan = mm.resize_plan(decoded)
    bad = plan.filter(
        (F.greatest("target_width", "target_height") > 64)
        | (F.col("target_width") < 1)
        | (F.col("target_height") < 1)
    ).count()
    assert bad == 0
    # no upscaling
    up = plan.filter(F.col("scale") > 1.0).count()
    assert up == 0
