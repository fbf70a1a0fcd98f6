"""Multimodal plumbing: Arrow-batched decode, error isolation, frame
sampling."""

from __future__ import annotations

import pytest

from wistia_etl_pipeline_spark.functions.multimodal import (
    _decode_one,
    decode_media_meta,
    encode_fake_payload,
    frame_sample_plan,
)


def _media(spark):
    rows = [
        ("a", "image", encode_fake_payload(640, 480, 1)),
        ("b", "video", encode_fake_payload(1920, 1080, 95)),
        ("c", "image", b"\x89PNG not really"),  # corrupt → isolated error
    ]
    return spark.createDataFrame(rows, "media_id string, kind string, payload binary")


def test_decode_meta_and_error_isolation(spark):
    out = {r.media_id: r for r in decode_media_meta(_media(spark)).collect()}
    assert (out["a"].width, out["a"].height, out["a"].n_frames) == (640, 480, 1)
    assert out["b"].width == 1920 and out["b"].n_frames == 95
    assert out["c"].decode_error is not None and "NotImplementedError" in out["c"].decode_error
    assert out["c"].width is None  # bad blob didn't fail the scan


def test_real_codec_slot_raises():
    with pytest.raises(NotImplementedError):
        _decode_one(b"\xff\xd8\xff\xe0 jpeg-ish")


def test_frame_sample_plan(spark):
    frames = frame_sample_plan(_media(spark), every_n=30).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    assert by_media["a"] == [0]
    assert by_media["b"] == [0, 30, 60, 90]
    assert "c" not in by_media  # corrupt rows dropped before fan-out


def test_frame_cut_positions_kernel(spark):
    """Planted frame buffers: two identical frames (no cut), a jump
    (cut), partial trailing frame dropped, None payload skipped."""
    from wistia_etl_pipeline_spark.functions.multimodal import (
        frame_cut_positions,
    )

    f0 = bytes([10] * 16)
    f1 = bytes([10] * 15 + [40])       # L1 = 30: below threshold
    f2 = bytes([200] * 16)             # L1 vs f1 = 15*190 + 160 > tau
    clip = f0 + f1 + f2 + b"\x01\x02"  # trailing partial frame dropped
    df = spark.createDataFrame(
        [("a", bytearray(clip)), ("b", None)],
        "media_id string, payload binary",
    )
    rows = frame_cut_positions(df, frame_bytes=16, threshold=680).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.media_id == "a" and r.n_frames == 3 and r.cuts == [2]
