"""Multimodal plumbing tests: schemas, batching, failure isolation are real;
decode is a deterministic fake (codec libs absent by design)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from webextract.multimodal import (
    Decoder,
    FakeDecoder,
    media_features,
    probe_media,
)

PNG = b"\x89PNG\r\n\x1a\n" + b"fakepng-payload-123"
JPG = b"\xff\xd8\xff\xe0" + b"fakejpeg-payload"
WAV = b"RIFF\x24\x00\x00\x00WAVE" + b"fakewav"
GARBAGE = b"\x00\x01\x02not-a-media-file"


@pytest.fixture(scope="module")
def media(spark):
    rows = [("m1", PNG), ("m2", JPG), ("m3", WAV), ("m4", GARBAGE),
            ("m5", None), ("m6", b"\x1aE\xdf\xa3" + b"fakewebm")]
    return spark.createDataFrame(rows, "media_id string, blob binary")


def test_probe_media_magic_sniff(media):
    got = {r.media_id: r.media_type for r in probe_media(media).collect()}
    assert got == {"m1": "image/png", "m2": "image/jpeg", "m3": "audio/wav",
                   "m4": "unknown", "m5": "unknown", "m6": "video/webm"}


def test_media_features_schema_and_isolation(media):
    out = media_features(media).cache()
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 6  # every input row accounted for
    # images get dimensions + 8-dim features
    for mid in ("m1", "m2"):
        r = rows[mid]
        assert r.status == "ok" and r.width > 0 and r.height > 0
        assert len(r.features) == 8 and r.duration_sec is None
    # audio gets duration
    assert rows["m3"].status == "ok" and rows["m3"].duration_sec > 0
    # garbage/None isolated, job alive
    assert rows["m4"].status == "unsupported"
    assert rows["m5"].status == "empty"
    assert rows["m6"].status == "unsupported"  # video has no feature extractor


def test_media_features_deterministic(media):
    a = media_features(media).orderBy("media_id").collect()
    b = media_features(media).orderBy("media_id").collect()
    assert a == b
    # and matches the decoder contract directly
    w, h, vec = FakeDecoder().image_stats(PNG)
    r = [x for x in a if x.media_id == "m1"][0]
    assert (r.width, r.height, list(r.features)) == (w, h, vec)


def test_real_decoder_raises_with_guidance(media):
    out = media_features(media, decoder=Decoder())
    rows = {r.media_id: r for r in out.collect()}
    assert rows["m1"].status == "decode_unavailable"
    # the job itself still completes — unavailability is per-row data
    assert len(rows) == 6


def test_hash_partitioning_of_media(spark, media):
    """The blob table partitions like any binary table (url-hash analog)."""
    big = media.union(media).union(media)
    parts = big.repartition(4, F.xxhash64("media_id")).rdd.getNumPartitions()
    assert parts == 4
