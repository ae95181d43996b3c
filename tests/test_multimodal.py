"""Multimodal operators: real PNG / Y4M decode and feature extraction."""

from __future__ import annotations

import numpy as np
import pytest

from air_health_gis_tools_spark.operators.multimodal import (
    decode_image, extract_features, image_feature, media_image_array,
    media_row, synthetic_media)
from air_health_gis_tools_spark.sources.png import png_decode, png_encode


def test_png_roundtrip_all_filters():
    """Encoder cycles filter types 0-4 by row → every un-filter path is
    exercised; decoded pixels must be bit-identical."""
    rng = np.random.default_rng(7)
    for shape in [(13, 17), (32, 9, 3), (7, 5, 4), (1, 1), (6, 200, 3)]:
        a = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(png_decode(png_encode(a)), a), shape


def test_decode_rejects_non_png():
    with pytest.raises(ValueError):
        decode_image(b"\x00\x01not a png")


def test_decode_matches_source_pixels():
    """encode→decode returns the SOURCE array: the fixture's pixel
    generator never touches the decoder, so agreement is a real
    cross-check of the codec, not a tautology."""
    for i in (0, 3, 42, 199):
        _, kind, payload, w, h, _ = media_row(i * 3)  # i*3 → image kind
        assert kind == "image"
        src = media_image_array(i * 3, w, h)
        assert np.array_equal(decode_image(payload), src)


def test_feature_extraction_real_decode(spark):
    media = synthetic_media(spark, 150)
    feats = extract_features(media).collect()
    assert len(feats) == 150
    kinds = {r["kind"] for r in feats}
    assert kinds == {"image", "audio", "video"}
    for r in feats:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0 and len(r["digest"]) == 64
    # image features == features of the source arrays (decoder parity)
    by_id = {r["media_id"]: r for r in feats}
    for i in (0, 3, 6, 9):
        _, _, _, w, h, _ = media_row(i)
        want = image_feature(media_image_array(i, w, h))
        got = np.array(by_id[i]["feature"], dtype=np.float32)
        assert np.array_equal(got, want), i
    # determinism across runs
    feats2 = extract_features(media).collect()
    d1 = {r["media_id"]: (r["digest"], list(r["feature"])) for r in feats}
    d2 = {r["media_id"]: (r["digest"], list(r["feature"])) for r in feats2}
    assert d1 == d2


def test_y4m_roundtrip():
    """encode→decode returns the SOURCE planes bit-for-bit, for every
    chroma layout."""
    from air_health_gis_tools_spark.sources.y4m import (y4m_decode,
                                                        y4m_encode)
    rng = np.random.default_rng(11)
    for n, h, w in [(1, 2, 2), (5, 24, 32), (3, 8, 48)]:
        y = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
        for cshape in [(h // 2, w // 2), (h, w // 2), (h, w), None]:
            if cshape is None:
                data = y4m_encode(y)
                y2, u2, v2, info = y4m_decode(data)
                assert u2 is None and v2 is None
            else:
                u = rng.integers(0, 256, (n,) + cshape, dtype=np.uint8)
                v = rng.integers(0, 256, (n,) + cshape, dtype=np.uint8)
                data = y4m_encode(y, u, v, fps=(30, 1))
                y2, u2, v2, info = y4m_decode(data)
                assert np.array_equal(u2, u) and np.array_equal(v2, v)
            assert np.array_equal(y2, y)
            assert (info["width"], info["height"],
                    info["n_frames"]) == (w, h, n)


def test_y4m_rejects_garbage_and_truncation():
    import pytest as _pytest
    from air_health_gis_tools_spark.sources.y4m import (y4m_decode,
                                                        y4m_encode)
    with _pytest.raises(ValueError):
        y4m_decode(b"RIFF not a y4m")
    good = y4m_encode(np.zeros((2, 4, 4), np.uint8))
    with _pytest.raises(ValueError):
        y4m_decode(good[:-3])


def test_video_decode_matches_source_planes():
    """Video parity twin of test_decode_matches_source_pixels: the
    fixture's plane generator never touches the decoder."""
    from air_health_gis_tools_spark.operators.multimodal import (
        media_video_planes, video_feature)
    from air_health_gis_tools_spark.sources.y4m import y4m_decode
    for i in (2, 5, 41, 98):
        mid, kind, payload, w, h, dur = media_row(i)
        assert kind == "video"
        y, u, v = media_video_planes(i)
        y2, u2, v2, info = y4m_decode(payload)
        assert np.array_equal(y2, y)
        assert np.array_equal(u2, u) and np.array_equal(v2, v)
        assert (info["width"], info["height"]) == (w, h)
        assert dur == y.shape[0] * 40          # 25 fps
        assert np.array_equal(video_feature(y2, u2, v2),
                              video_feature(y, u, v))
