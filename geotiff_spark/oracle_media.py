"""DuckDB oracles for the multimodal queries.

Same trust pattern as the raster pixel tables (oracle_raster.py): every
media payload is a deterministic function of media_id, so a driver-side
single-process loop over the SAME corpus rows (multimodal.CORPORA) and
the same decode kernels materializes the expected feature rows once, and
the oracle SQL reads them back. What the gate then verifies is the Spark
side — mapInPandas batching, kind filtering, schema, the Arrow round
trip — against a non-distributed computation, exactly like the
zonal/tile oracles verify the distributed gather against the local
decoder. A codec bug identical on both sides is invisible here; the
codecs are pinned by their own tests: encoder↔decoder roundtrips
(tests/test_png.py, test_gif.py, test_media_codecs.py, VP8L in
test_webp.py), baseline≡progressive bit-equality (tests/test_jpeg.py)
and lossy VP8 YUV bit-exact against libwebp (tests/test_webp.py).

The feature math below (_image, _resized, _yuv, _audio, _frames) is a
second copy of the engine's per-media kernels in operators/multimodal.py
on purpose: it is the reference the gate compares against, so it is
never imported from the engine.

Each table is cached under a key of the corpus rows it is computed from
(oracle_raster.cached_tables), so a changed generator, or a lossy corpus
built with or without the system libwebp, gets its own table.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np

from geotiff_spark.oracle_raster import cached_tables

IMAGE_COLS = ["media_id", "width", "height", "mean_r", "mean_g", "mean_b",
              "std_gray"]
YUV_COLS = ["media_id", "width", "height", "mean_y", "mean_u", "mean_v",
            "std_y"]
AUDIO_COLS = ["media_id", "sample_rate", "n_samples", "duration_sec", "rms",
              "zero_crossings", "peak"]
FRAME_COLS = ["media_id", "n_frames_sampled"]


def _pixel_stats(arr: np.ndarray) -> tuple:
    """(width, height, per-channel means, gray std) of an (h, w, c) image;
    a mean the image has no channel for is NULL."""
    means = arr.reshape(-1, arr.shape[2]).mean(axis=0)
    return (arr.shape[1], arr.shape[0], float(means[0]),
            float(means[1]) if len(means) > 1 else None,
            float(means[2]) if len(means) > 2 else None,
            float(arr.mean(axis=2).std()))


def _image(row: dict) -> tuple:
    from geotiff_spark.operators.multimodal import decode_image

    return _pixel_stats(decode_image(row["payload"]))


def _resized(row: dict) -> tuple:
    """Features after the png_resize_features query's 12x12
    nearest-neighbor resize (source index i * h // 12)."""
    from geotiff_spark.operators.multimodal import decode_image

    arr = decode_image(row["payload"])
    h, w, _c = arr.shape
    idx = np.arange(12)
    return _pixel_stats(arr[idx * h // 12][:, idx * w // 12])


def _yuv(row: dict) -> tuple:
    from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv

    y, u, v = decode_webp_lossy_yuv(row["payload"])
    return (int(y.shape[1]), int(y.shape[0]), float(y.mean()),
            float(u.mean()), float(v.mean()), float(y.std()))


def _audio(row: dict) -> tuple:
    """Duration / RMS / zero crossings / peak; over no samples these read
    as SQL aggregates over an empty set: zeros and NULL rms and peak."""
    from geotiff_spark.operators.multimodal import decode_audio

    sr, s = decode_audio(row["payload"])
    s64 = s.astype(np.float64)
    n = len(s64)
    return (sr, n, n / sr,
            float(np.sqrt(np.mean(s64 * s64))) if n else None,
            int(np.count_nonzero(np.diff(np.signbit(s64)))),
            float(np.abs(s64).max()) if n else None)


def _frames(row: dict) -> tuple:
    """Frames sample_video_frames keeps."""
    from geotiff_spark.operators.multimodal import FRAME_EVERY

    return (-(-row["meta"]["n_frames"] // FRAME_EVERY),)


# registry query -> (corpus in multimodal.CORPORA, kind the engine keeps,
# expected feature row of one corpus row, oracle columns)
ORACLES = {
    "image_features": ("fake", "image", _image, IMAGE_COLS),
    "png_image_features": ("png", "image", _image, IMAGE_COLS),
    "png_resize_features": ("png", "image", _resized, IMAGE_COLS),
    "jpeg_image_features": ("jpeg", "image", _image, IMAGE_COLS),
    "jpeg_progressive_features": (
        "jpeg_progressive", "image", _image, IMAGE_COLS),
    "gif_image_features": ("gif", "image", _image, IMAGE_COLS),
    "webp_image_features": ("webp", "image", _image, IMAGE_COLS),
    "webp_lossy_features": ("webp_lossy", "image", _yuv, YUV_COLS),
    "audio_features": ("fake", "audio", _audio, AUDIO_COLS),
    "wav_audio_features": ("wav", "audio", _audio, AUDIO_COLS),
    "video_frame_sample": ("fake", "video", _frames, FRAME_COLS),
    "y4m_frame_sample": ("y4m", "video", _frames, FRAME_COLS),
}


@functools.cache
def _corpus_key(row_fn, n: int) -> bytes:
    """Digest of every row's kind, meta and payload: the content the
    expected tables are computed from. Row functions are pure in
    media_id, so each process generates a corpus for its key once."""
    h = hashlib.sha256()
    for mid in range(n):
        row = row_fn(mid)
        h.update(repr((row["kind"], row["meta"])).encode())
        h.update(hashlib.sha256(row["payload"]).digest())
    return h.digest()


def feature_sql(query: str) -> str:
    """Oracle SQL of a multimodal registry query: its expected rows,
    materialized once per corpus content."""
    import pandas as pd

    from geotiff_spark.operators.multimodal import CORPORA

    corpus, kind, expected, columns = ORACLES[query]
    row_fn, n = CORPORA[corpus]

    def build() -> dict:
        rows = [(row["media_id"], *expected(row))
                for row in map(row_fn, range(n)) if row["kind"] == kind]
        pdf = pd.DataFrame(rows, columns=columns)
        return {query: {c: pdf[c].to_numpy() for c in pdf}}

    path = cached_tables(query, _corpus_key(row_fn, n), build)[query]
    return f"SELECT * FROM read_parquet('{path}')"
