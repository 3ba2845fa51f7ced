"""Real-format media codecs (round 4): WAV (RIFF/PCM + IEEE float) and
YUV4MPEG2 — encoder/decoder pairs pinned against each other and against
format invariants."""

import numpy as np
import pytest

from geotiff_spark.operators.multimodal import (
    decode_audio, decode_wav, decode_y4m_luma, encode_wav, encode_y4m,
)


def _sig(n, seed=0):
    i = np.arange(n, dtype=np.float64)
    return np.sin(0.01 * (i + seed)) * 0.8


@pytest.mark.parametrize("bits,fmt,tol", [
    (8, 1, 0.5 / 128), (16, 1, 0.5 / 32768), (24, 1, 0.5 / (1 << 23)),
    (32, 1, 1e-7), (32, 3, 1e-7), (64, 3, 1e-7),
])
def test_wav_roundtrip_mono(bits, fmt, tol):
    s = _sig(500, seed=bits)
    sr, got = decode_wav(encode_wav(s, 16000, bits=bits, fmt=fmt))
    assert sr == 16000 and len(got) == 500
    assert np.abs(got - s).max() <= tol + 1e-6


def test_wav_stereo_mixes_to_mono():
    left = _sig(300, 1)
    right = _sig(300, 2)
    st = np.stack([left, right], axis=1)
    _, got = decode_wav(encode_wav(st, 8000, bits=32, fmt=3))
    assert np.abs(got - (left + right) / 2).max() < 1e-6


def test_wav_dispatch_and_errors():
    sr, s = decode_audio(encode_wav(_sig(100), 44100, bits=16))
    assert sr == 44100 and len(s) == 100
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04" + b"x" * 64)  # mp3-ish stays stubbed
    # compressed WAV (format 85 = mp3-in-wav) rejected explicitly
    bad = bytearray(encode_wav(_sig(10), 8000, bits=16))
    bad[20] = 85
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))


@pytest.mark.parametrize("cs", ["C420jpeg", "C444", "Cmono"])
def test_y4m_roundtrip_luma(cs):
    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(5, 12, 16), dtype=np.uint8)
    got = decode_y4m_luma(encode_y4m(frames, cs))
    assert np.array_equal(got, frames)


def test_y4m_errors():
    with pytest.raises(ValueError):
        decode_y4m_luma(b"nope")
    good = encode_y4m(np.zeros((2, 4, 4), dtype=np.uint8), "Cmono")
    with pytest.raises(ValueError):
        decode_y4m_luma(good[:-3])  # truncated frame
    with pytest.raises(NotImplementedError):
        decode_y4m_luma(b"YUV4MPEG2 W4 H4 C422\nFRAME\n" + b"\x00" * 24)


def test_y4m_frame_sampling_dispatch(spark):
    from pyspark.sql import functions as F

    from geotiff_spark.operators.multimodal import (
        sample_video_frames, synth_media, synth_y4m_row,
    )

    media = synth_media(spark, synth_y4m_row, 9)
    out = sample_video_frames(media)
    counts = {
        r.media_id: r.n
        for r in out.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for mid in range(9):
        nf = synth_y4m_row(mid)["meta"]["n_frames"]
        assert counts[mid] == -(-nf // 2), mid


def test_wav_features_match_local_decode(spark):
    from geotiff_spark.operators.multimodal import (
        audio_features, synth_media, synth_wav_row,
    )

    media = synth_media(spark, synth_wav_row, 12)
    feats = {r.media_id: r for r in audio_features(media).collect()}
    assert len(feats) == 12
    for mid in range(12):
        sr, s = decode_audio(synth_wav_row(mid)["payload"])
        f = feats[mid]
        assert f.sample_rate == sr and f.n_samples == len(s)
        s64 = s.astype(np.float64)
        assert abs(f.rms - float(np.sqrt(np.mean(s64 * s64)))) < 1e-12
