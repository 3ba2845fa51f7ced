"""Multimodal plumbing: real schemas/batch shapes over the deterministic
fake containers (real codecs stubbed — FIXTURES.md §6 environment)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_spark.operators import multimodal as mm


def test_synth_media_deterministic(spark):
    a = mm.synth_media(spark, mm.synth_media_row, 60, partitions=2) \
        .orderBy("media_id").collect()
    b = mm.synth_media(spark, mm.synth_media_row, 60, partitions=5) \
        .orderBy("media_id").collect()
    assert [(r.media_id, bytes(r.payload)) for r in a] == [
        (r.media_id, bytes(r.payload)) for r in b
    ]
    kinds = {r.kind for r in a}
    assert kinds == {"image", "audio", "video"}


def test_image_features_match_local_decode(spark):
    media = mm.synth_media(spark, mm.synth_media_row, 30)
    feats = {r.media_id: r for r in mm.image_features(media).collect()}
    assert len(feats) == 10  # every 3rd id is an image
    for r in media.filter(F.col("kind") == "image").collect():
        arr = mm.decode_image(bytes(r.payload))
        f = feats[r.media_id]
        assert (f.width, f.height) == (arr.shape[1], arr.shape[0])
        np.testing.assert_allclose(
            [f.mean_r, f.mean_g, f.mean_b],
            arr.reshape(-1, 3).mean(axis=0),
            rtol=1e-12,
        )


def test_resize_shapes(spark):
    media = mm.synth_media(spark, mm.synth_media_row, 30)
    out = mm.resize_images(media, 8, 8).collect()
    assert len(out) == 10
    for r in out:
        arr = mm.decode_image(bytes(r.payload))
        assert arr.shape == (8, 8, 3)


def test_video_frame_sampling(spark):
    media = mm.synth_media(spark, mm.synth_media_row, 30)
    frames = mm.sample_video_frames(media).collect()
    metas = {
        r.media_id: r.meta.n_frames
        for r in media.filter(F.col("kind") == "video").collect()
    }
    by_vid: dict[int, list[int]] = {}
    for r in frames:
        by_vid.setdefault(r.media_id, []).append(r.frame_idx)
    assert set(by_vid) == set(metas)
    for vid, idxs in by_vid.items():
        assert sorted(idxs) == list(range(0, metas[vid], 2))
        arr = mm.decode_image(bytes(frames[0].frame))
        assert arr.ndim == 3


def test_real_codec_path_raises():
    # PNG and JPEG now decode for real — garbage after the magic is a
    # codec error, not a stub
    from geotiff_spark.functions.jpeg import JpegError
    from geotiff_spark.functions.png import PngError

    with pytest.raises(PngError):
        mm.decode_image(b"\x89PNG\r\n\x1a\nxxxxxxxx")
    with pytest.raises(JpegError):
        mm.decode_image(b"\xff\xd8\xff\xe0" + b"x" * 16)
    from geotiff_spark.functions.gif import GifError

    with pytest.raises(GifError):
        mm.decode_image(b"GIF89a" + b"x" * 16)
    # the RGBA dispatch path stays VP8L-only; lossy VP8 decodes to
    # YUV via functions/vp8.py + webp_lossy_features (round 7)
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 " + b"x" * 16)


def test_audio_features_match_local_decode(spark):
    media = mm.synth_media(spark, mm.synth_media_row, 30)
    feats = {r.media_id: r for r in mm.audio_features(media).collect()}
    assert len(feats) == 10  # media_id % 3 == 1 -> audio
    for r in media.filter(F.col("kind") == "audio").collect():
        sr, s = mm.decode_audio(bytes(r.payload))
        f = feats[r.media_id]
        assert f.sample_rate == sr and f.n_samples == len(s)
        np.testing.assert_allclose(
            f.rms, np.sqrt(np.mean(s.astype(np.float64) ** 2)), rtol=1e-12
        )
        assert f.duration_sec == len(s) / sr


def test_audio_real_codec_path_raises():
    # WAV decodes for real now — malformed RIFF is a codec error
    with pytest.raises(ValueError):
        mm.decode_audio(b"RIFFxxxxWAVExxxx")
    with pytest.raises(NotImplementedError):
        mm.decode_audio(b"ID3\x04" + b"x" * 32)
