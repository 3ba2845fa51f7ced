"""Multimodal columns: image/audio/video as binary payloads + typed metadata.

Real codecs decode in pure numpy (functions/): PNG, baseline and
progressive JPEG, GIF and lossless WebP (VP8L) through `decode_image`,
lossy WebP (VP8) through `webp_lossy_features`, WAV through
`decode_audio` and YUV4MPEG2 through `sample_video_frames`. Compressed
audio and video codecs (mp3, opus, ...) raise NotImplementedError. A
documented deterministic fake container keeps the downstream shapes
testable independently of any codec:

    FAKE-IMG: b"FIMG" | u16 w | u16 h | u8 c | w*h*c u8 pixels
    FAKE-AUD: b"FAUD" | u32 sample_rate | u32 n | n f32 samples
    FAKE-VID: b"FVID" | u16 w | u16 h | u16 n_frames | frames of w*h u8

`CORPORA` names every synthetic corpus the registry queries run on: a
row function, whose payload derives from media_id via splitmix64, and
the corpus size. `synth_media` generates a corpus per Arrow batch on
executors (the driver never materializes it); oracle_media.py rebuilds
the same rows single-process for the expected tables.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("channels", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                    StructField("n_frames", IntegerType()),
                    StructField("format", StringType()),
                ]
            ),
        ),
    ]
)


def _splitmix(x: np.ndarray) -> np.ndarray:
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _fake_pixels(media_id: int, n: int) -> np.ndarray:
    words = _splitmix(
        np.arange(n // 8 + 1, dtype=np.uint64) + np.uint64(media_id * 7919)
    )
    return words.view(np.uint8)[:n]


def encode_fake_image(media_id: int, w: int, h: int, c: int) -> bytes:
    return struct.pack("<4sHHB", b"FIMG", w, h, c) + _fake_pixels(
        media_id, w * h * c
    ).tobytes()


def decode_image(payload: bytes) -> np.ndarray:
    """Decode to (h, w, c) uint8. PNG, baseline and progressive JPEG,
    GIF, and lossless WebP (VP8L) decode for real (pure-numpy codecs
    under functions/); lossy-VP8 WebP decodes to YUV planes through
    webp_lossy_features instead and raises here. The fake container
    keeps downstream shapes testable independently of any codec."""
    if payload[:4] == b"FIMG":
        w, h, c = struct.unpack_from("<HHB", payload, 4)
        return (
            np.frombuffer(payload, dtype=np.uint8, offset=9, count=w * h * c)
            .reshape(h, w, c)
        )
    from geotiff_spark.functions.png import PNG_MAGIC, decode_png

    if payload[:8] == PNG_MAGIC:
        arr = decode_png(payload)
        if arr.dtype != np.uint8:
            arr = (arr >> 8).astype(np.uint8)  # 16-bit → high byte
        return arr
    if payload[:2] == b"\xff\xd8":  # JPEG: baseline (r4) + progressive (r6)
        from geotiff_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):  # GIF (round 4, pure numpy)
        from geotiff_spark.functions.gif import decode_gif_first_frame

        return decode_gif_first_frame(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        # lossless VP8L (round 5, pure numpy); lossy VP8 raises
        # NotImplementedError inside decode_webp (DCT codec out of
        # pure-numpy scope in this sandbox)
        from geotiff_spark.functions.webp import decode_webp_rgb

        return decode_webp_rgb(payload)
    try:  # pragma: no cover - not installed in this sandbox
        from PIL import Image  # noqa: F401
    except ImportError:
        raise NotImplementedError(
            "payload is not PNG, JPEG, GIF, lossless WebP, or a "
            "FAKE-IMG container (lossy-VP8 WebP needs Pillow, absent "
            "here)"
        ) from None
    raise NotImplementedError("real-codec path not wired")


def synth_media_row(mid: int) -> dict:
    """One deterministic FAKE-container media row for id `mid`; ids
    cycle image/audio/video. Shared by the Spark generator and the
    driver-side oracle builder (oracle_media.py)."""
    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    kind = ("image", "audio", "video")[mid % 3]
    if kind == "image":
        w, h, c = 16 + r % 48, 16 + (r >> 8) % 48, 3
        payload = encode_fake_image(mid, w, h, c)
        meta = (w, h, c, None, None, "FIMG")
    elif kind == "audio":
        sr, ns = 16000, 256 + r % 1024
        samples = (
            (_fake_pixels(mid, ns * 4).view(np.uint32) % 2000)
            .astype(np.float32) / 1000.0 - 1.0
        )[:ns]
        payload = struct.pack("<4sII", b"FAUD", sr, ns) + samples.tobytes()
        meta = (None, None, 1, sr, None, "FAUD")
    else:
        w, h, nf = 8 + r % 24, 8 + (r >> 8) % 24, 4 + r % 12
        payload = struct.pack("<4sHHH", b"FVID", w, h, nf) + _fake_pixels(
            mid, w * h * nf
        ).tobytes()
        meta = (w, h, 1, None, nf, "FVID")
    return {
        "media_id": mid,
        "kind": kind,
        "payload": payload,
        "meta": dict(
            zip(
                ("width", "height", "channels",
                 "sample_rate", "n_frames", "format"),
                meta,
            )
        ),
    }


def synth_media(
    spark: SparkSession, row_fn: Callable[[int], dict], n: int,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic media table of `row_fn(mid)` for ids 0..n-1,
    generated on executors per Arrow batch. Call it with a corpus:
    `synth_media(spark, *CORPORA["png"])`."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([row_fn(mid) for mid in pdf["id"]])

    rng = spark.range(0, n, numPartitions=partitions or 8)
    return rng.mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_png_row(mid: int) -> dict:
    """One deterministic REAL-PNG media row: pixels from the same
    splitmix stream as FAKE-IMG, encoded through the numpy PNG encoder
    with per-image varying dims, filter schedule and color type (gray /
    RGB / RGBA / palette) so decode exercises every filter and color
    path. Shared by the Spark generator and the oracle builder."""
    from geotiff_spark.functions.png import encode_png

    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    w, h = 8 + r % 40, 8 + (r >> 8) % 40
    c = (1, 3, 4)[mid % 3]
    arr = _fake_pixels(mid, w * h * c).reshape(h, w, c)
    if mid % 7 == 0:
        idx = (arr[:, :, :1] % 32).astype(np.uint8)
        plte = _fake_pixels(mid + 13, 96).reshape(32, 3)
        payload = encode_png(idx, filters=mid % 5, palette=plte)
        c = 3
    elif mid % 11 == 3:
        # 16-bit gray/RGB branch (decode_image keeps the high byte)
        c16 = 1 if c == 1 else 3
        lo = _fake_pixels(mid + 29, w * h * c16).reshape(h, w, c16)
        arr16 = (
            arr[:, :, :c16].astype(np.uint16) << 8
        ) | lo.astype(np.uint16)
        payload = encode_png(arr16, filters=mid % 5)
        c = c16
    else:
        payload = encode_png(arr, filters=None if mid % 2 else mid % 5)
    return {
        "media_id": mid,
        "kind": "image",
        "payload": payload,
        "meta": {
            "width": w, "height": h, "channels": c,
            "sample_rate": None, "n_frames": None, "format": "PNG",
        },
    }


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        # scalar per-channel means (not array<double>): flat columns
        # sort/hash cleanly in any downstream canonicalizer
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("std_gray", DoubleType()),
    ]
)


def _map_payloads(
    media: DataFrame, kind: str, schema: StructType,
    fn: Callable[[int, bytes], list[dict]],
) -> DataFrame:
    """The one per-media pass: keep the `kind` rows and map each
    (media_id, payload) through `fn`, which returns that media's output
    rows as dicts, in one mapInPandas stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [row for mid, payload in zip(pdf["media_id"], pdf["payload"])
                 for row in fn(int(mid), bytes(payload))],
                columns=schema.fieldNames(),
            )

    return (
        media.filter(F.col("kind") == kind)
        .select("media_id", "payload")
        .mapInPandas(run, schema=schema)
    )


def image_features(media: DataFrame) -> DataFrame:
    """Decode → per-channel mean + gray std, one mapInPandas pass."""

    def features(mid: int, payload: bytes) -> list[dict]:
        arr = decode_image(payload)
        means = arr.reshape(-1, arr.shape[2]).mean(axis=0)
        return [{
            "media_id": mid,
            "width": arr.shape[1],
            "height": arr.shape[0],
            "mean_r": float(means[0]),
            "mean_g": float(means[1]) if len(means) > 1 else None,
            "mean_b": float(means[2]) if len(means) > 2 else None,
            "std_gray": float(arr.mean(axis=2).std()),
        }]

    return _map_payloads(media, "image", IMAGE_FEATURES_SCHEMA, features)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, re-encoded into the same container."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    def resize(mid: int, payload: bytes) -> list[dict]:
        arr = decode_image(payload)
        h, w, c = arr.shape
        yi = (np.arange(out_h) * h // out_h)
        xi = (np.arange(out_w) * w // out_w)
        resized = arr[yi][:, xi]
        return [{
            "media_id": mid,
            "payload": struct.pack("<4sHHB", b"FIMG", out_w, out_h, c)
            + resized.tobytes(),
        }]

    return _map_payloads(media, "image", out_schema, resize)


# sample_video_frames keeps frames 0, FRAME_EVERY, 2 * FRAME_EVERY, ...
FRAME_EVERY = 2


def sample_video_frames(media: DataFrame) -> DataFrame:
    """Explode every FRAME_EVERY-th frame as its own image row."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def sample(mid: int, payload: bytes) -> list[dict]:
        if payload[:9] == b"YUV4MPEG2":
            frames = decode_y4m_luma(payload)
            nf, h, w = frames.shape
        elif payload[:4] == b"FVID":
            w, h, nf = struct.unpack_from("<HHH", payload, 4)
            frames = np.frombuffer(
                payload, dtype=np.uint8, offset=10, count=w * h * nf
            ).reshape(nf, h, w)
        else:
            raise NotImplementedError(
                "compressed video codecs unavailable; payload is "
                "neither Y4M nor a FAKE-VID container"
            )
        return [
            {
                "media_id": mid,
                "frame_idx": i,
                "frame": struct.pack("<4sHHB", b"FIMG", w, h, 1)
                + frames[i].tobytes(),
            }
            for i in range(0, nf, FRAME_EVERY)
        ]

    return _map_payloads(media, "video", out_schema, sample)


def decode_y4m_luma(payload: bytes) -> np.ndarray:
    """YUV4MPEG2 (uncompressed video) → (n_frames, h, w) uint8 luma
    planes. Supports C420/C420jpeg/C420mpeg2, C444 and Cmono; chroma is
    parsed (to advance correctly) but only Y is returned — frame
    sampling and luma features need exactly that. Pure numpy."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    colorspace = "C420jpeg"
    for tok in payload[9:nl].split():
        t = tok.decode("ascii")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("C"):
            colorspace = t
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if colorspace.startswith("C420"):
        chroma = 2 * ((w // 2) * (h // 2))
    elif colorspace == "C444":
        chroma = 2 * w * h
    elif colorspace == "Cmono":
        chroma = 0
    else:
        raise NotImplementedError(f"Y4M colorspace {colorspace}")
    ysz = w * h
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or payload[pos: pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME header at {pos}")
        pos = fnl + 1
        if pos + ysz + chroma > len(payload):
            raise ValueError("truncated Y4M frame")
        frames.append(
            np.frombuffer(payload, dtype=np.uint8, offset=pos, count=ysz)
            .reshape(h, w)
        )
        pos += ysz + chroma
    return np.stack(frames) if frames else np.empty((0, h, w), dtype=np.uint8)


def encode_y4m(frames_y: np.ndarray, colorspace: str = "C420jpeg") -> bytes:
    """(n, h, w) uint8 luma → Y4M bytes; chroma planes (where the
    colorspace has them) are a deterministic function of the luma
    (downsampled Y) so decode-side parsing is exercised honestly."""
    nf, h, w = frames_y.shape
    if colorspace.startswith("C420") and (h % 2 or w % 2):
        # ceil-sized chroma planes (y[::2,::2]) would misalign the
        # floor-sized reader stride on odd dims (ADVICE r04)
        raise ValueError(
            f"C420 colorspaces need even dimensions, got {w}x{h}"
        )
    head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 {colorspace}\n".encode()
    out = [head]
    for i in range(nf):
        out.append(b"FRAME\n")
        y = frames_y[i]
        out.append(y.tobytes())
        if colorspace.startswith("C420"):
            sub = y[::2, ::2]
            out.append(sub.tobytes())
            out.append((255 - sub).tobytes())
        elif colorspace == "C444":
            out.append(y.tobytes())
            out.append((255 - y).tobytes())
        elif colorspace != "Cmono":
            raise ValueError(f"unsupported colorspace {colorspace}")
    return b"".join(out)


def synth_jpeg_row(mid: int) -> dict:
    """One deterministic REAL-JPEG media row: splitmix pixels through the
    numpy baseline encoder, cycling gray / RGB 4:4:4 / RGB 4:2:0 and
    quality levels — every decoder branch in the corpus."""
    from geotiff_spark.functions.jpeg import encode_jpeg

    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    w, h = 8 + r % 40, 8 + (r >> 8) % 40
    kind3 = mid % 3
    quality = (60, 80, 95)[(r >> 16) % 3]
    if kind3 == 0:
        arr = _fake_pixels(mid, w * h).reshape(h, w, 1)
        payload = encode_jpeg(arr, quality=quality)
        c = 1
    else:
        arr = _fake_pixels(mid, w * h * 3).reshape(h, w, 3)
        payload = encode_jpeg(
            arr, quality=quality, subsampling="444" if kind3 == 1 else "420"
        )
        c = 3
    return {
        "media_id": mid,
        "kind": "image",
        "payload": payload,
        "meta": {
            "width": w, "height": h, "channels": c,
            "sample_rate": None, "n_frames": None, "format": "JPEG",
        },
    }


def synth_jpeg_progressive_row(mid: int) -> dict:
    """One deterministic PROGRESSIVE-JPEG media row: same pixel/shape/
    quality cycling as synth_jpeg_row, but through the SOF2 encoder,
    whose fixed scan script exercises every progressive scan shape
    (spectral selection bands, successive approximation 2→1→0, DC
    refinement, EOB runs, ZRL-in-refinement). Every third image is flat
    (maximal EOB runs) or spike-sparse (maximal ZRL) to stress the
    band-skip paths at corpus level, not just in pytest."""
    from geotiff_spark.functions.jpeg import encode_jpeg_progressive

    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    w, h = 8 + r % 40, 8 + (r >> 8) % 40
    kind3 = mid % 3
    quality = (60, 80, 95)[(r >> 16) % 3]
    texture = mid % 5
    if kind3 == 0:
        arr = _fake_pixels(mid, w * h).reshape(h, w, 1)
        c = 1
    else:
        arr = _fake_pixels(mid, w * h * 3).reshape(h, w, 3)
        c = 3
    if texture == 3:  # flat: every AC band empty → pure EOB-run scans
        arr = np.full_like(arr, arr.reshape(-1)[0])
    elif texture == 4:  # sparse spikes: long zero runs → ZRL paths
        base = np.zeros_like(arr)
        base[::3, ::5] = arr[::3, ::5]
        arr = base
    payload = encode_jpeg_progressive(
        arr, quality=quality,
        subsampling="420" if kind3 == 2 else "444",
    )
    return {
        "media_id": mid,
        "kind": "image",
        "payload": payload,
        "meta": {
            "width": w, "height": h, "channels": c,
            "sample_rate": None, "n_frames": None,
            "format": "JPEG-progressive",
        },
    }


def synth_gif_row(mid: int) -> dict:
    """One deterministic REAL-GIF media row: splitmix palette indices
    through the numpy GIF encoder, cycling palette sizes (incl. 256 for
    LZW width growth) and plain/interlaced layouts."""
    from geotiff_spark.functions.gif import encode_gif

    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    w, h = 8 + r % 40, 8 + (r >> 8) % 40
    k = (4, 16, 64, 256)[mid % 4]
    idx = (_fake_pixels(mid, w * h) % k).astype(np.uint8).reshape(h, w)
    pal = _fake_pixels(mid + 31, k * 3).reshape(k, 3)
    payload = encode_gif(idx, pal, interlace=bool(mid % 2))
    return {
        "media_id": mid,
        "kind": "image",
        "payload": payload,
        "meta": {
            "width": w, "height": h, "channels": 3,
            "sample_rate": None, "n_frames": None, "format": "GIF",
        },
    }


def synth_webp_row(mid: int) -> dict:
    """One deterministic REAL lossless-WebP media row. The variant cycle
    covers every VP8L decoder branch: plain literals, subtract-green,
    all 14 predictor modes (block-cycled), the cross-color transform,
    palettes at every packing width (2/4/13/200 colors → width_bits
    3/2/1/0), meta-prefix groups, LZ77 with and without plane-code
    distances, color caches small and large, the combined
    subtract-green+predictor+color stack, and a varying alpha plane."""
    from geotiff_spark.functions.webp import encode_webp_lossless

    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    w, h = 8 + r % 32, 8 + (r >> 8) % 32
    # tiled patch → real LZ77/back-reference opportunities
    tw, th = 3 + r % 4, 3 + (r >> 16) % 4
    tile = _fake_pixels(mid, tw * th * 3).reshape(th, tw, 3)
    reps = (h // th + 1, w // tw + 1, 1)
    base = np.tile(tile, reps)[:h, :w, :]
    variant = mid % 12
    kw: dict = {}
    img = base
    if variant == 0:
        pass  # plain literals
    elif variant == 1:
        kw = dict(transforms=("subtract_green",), use_lz77=True)
    elif variant == 2:
        kw = dict(transforms=("predictor",), size_bits=2)
    elif variant == 3:
        kw = dict(transforms=("color",), size_bits=3, cache_bits=4)
    elif variant in (4, 5, 6, 7):
        k = {4: 2, 5: 4, 6: 13, 7: 200}[variant]
        pal = _fake_pixels(mid + 97, k * 3).reshape(k, 3)
        idx = (_fake_pixels(mid + 13, w * h) % k).reshape(h, w)
        img = pal[idx]
        kw = dict(transforms=("palette",), use_lz77=False)
    elif variant == 8:
        kw = dict(meta_bits=3, use_lz77=True, cache_bits=6)
    elif variant == 9:
        kw = dict(use_lz77=True, use_plane_codes=True)
    elif variant == 10:
        kw = dict(transforms=("subtract_green", "predictor", "color"),
                  cache_bits=10, use_lz77=True)
    else:
        alpha = (_fake_pixels(mid + 7, w * h) % 256).reshape(h, w, 1)
        img = np.concatenate([base, alpha], axis=2)
    payload = encode_webp_lossless(img, **kw)
    return {
        "media_id": mid,
        "kind": "image",
        "payload": payload,
        "meta": {
            "width": w, "height": h, "channels": 3,
            "sample_rate": None, "n_frames": None, "format": "WEBP",
        },
    }


def synth_webp_lossy_row(mid: int) -> dict:
    """One deterministic lossy-WebP (VP8 key frame) media row. Two
    sources, interleaved:

    - EVEN mid: a REAL libwebp encode (ctypes, functions/webp_oracle)
      of a deterministic image — content class and quality cycle so the
      corpus carries genuine foreign VP8 streams with segmentation,
      normal loop filter, i4/i16 mode mixes, and the full token range.
    - ODD mid: a crafted stream from the minimal intra encoder
      (functions/vp8_enc) cycling exact prediction-mode grids, filter
      type/level/sharpness, skip patterns and hand-placed coefficients —
      shapes a production encoder rarely emits.

    If libwebp is absent the even rows fall back to crafted streams
    too, so the corpus stays deterministic per environment; this
    container ships libwebp and the driver gate runs here."""
    from geotiff_spark.functions import webp_oracle
    from geotiff_spark.functions.vp8_enc import encode_intra_frame, wrap_webp

    mid = int(mid)
    r = np.random.default_rng(mid * 7919 + 13)
    if mid % 2 == 0 and webp_oracle.available():
        h = int(16 + (mid * 11) % 49)
        w = int(16 + (mid * 17) % 61)
        quality = (8, 35, 60, 80, 95)[(mid // 2) % 5]
        kind = (mid // 10) % 4
        if kind == 0:
            img = r.integers(0, 256, (h, w, 3), dtype=np.uint8)
        elif kind == 1:
            x = np.linspace(0, 255, w)
            y = np.linspace(255, 0, h)
            img = np.stack([np.tile(x, (h, 1)),
                            np.tile(y[:, None], (1, w)),
                            np.add.outer(y, x) / 2], axis=2).astype(np.uint8)
        elif kind == 2:
            yy, xx = np.mgrid[0:h, 0:w]
            img = np.zeros((h, w, 3))
            for _ in range(5):
                cy, cx = r.uniform(0, h), r.uniform(0, w)
                g = r.uniform(50, 120) * np.exp(
                    -((yy - cy) ** 2 + (xx - cx) ** 2)
                    / (2 * r.uniform(4, 16) ** 2))
                img += g[..., None] * r.uniform(0.3, 1.0, 3)
            img = np.clip(img + 60, 0, 255).astype(np.uint8)
        else:
            img = np.full((h, w, 3), 240, dtype=np.uint8)
            for _ in range(25):
                y0, x0 = int(r.integers(0, h)), int(r.integers(0, w))
                img[y0:y0 + int(r.integers(1, 4)),
                    x0:x0 + int(r.integers(2, 10))] = \
                    r.integers(0, 70, 3).astype(np.uint8)
        payload = webp_oracle.encode_lossy(img, quality)
        w_out, h_out = w, h
    else:
        mb_w, mb_h = 2 + mid % 2, 2
        w_out, h_out = mb_w * 16 - mid % 9, mb_h * 16 - mid % 7
        ymodes = [[int(r.integers(0, 5)) for _ in range(mb_w)]
                  for _ in range(mb_h)]
        bmodes = [[([[int(r.integers(0, 10)) for _ in range(4)]
                     for _ in range(4)] if ymodes[my][mx] == 4 else None)
                   for mx in range(mb_w)] for my in range(mb_h)]
        uvmodes = [[int(r.integers(0, 4)) for _ in range(mb_w)]
                   for _ in range(mb_h)]
        # keep dequantized values inside the real-encoder envelope
        # (|level x quant| ≲ 2500): beyond it the shipping libwebp's
        # SIMD transform wraps IDCT intermediates at int16 where the
        # RFC's C semantics (and this decoder) do not — real encoders
        # never produce such magnitudes, so the corpus stays in the
        # regime where libwebp is a valid bit-exact oracle
        from geotiff_spark.functions.vp8_tables import AC_QLOOKUP
        qi = int(r.integers(0, 112))
        mag = max(2, min(40, 2500 // AC_QLOOKUP[qi]))
        coeffs = {}
        for my in range(mb_h):
            for mx in range(mb_w):
                if r.uniform() < 0.3:
                    continue  # skipped MB
                coeffs[(my, mx)] = {
                    "y2": [int(v) for v in r.integers(-6, 6, 16)],
                    "y": [[int(v) for v in r.integers(-mag, mag, 16)]
                          for _ in range(16)],
                    "u": [[int(v) for v in r.integers(-mag, mag, 16)]
                          for _ in range(4)],
                    "v": [[int(v) for v in r.integers(-mag, mag, 16)]
                          for _ in range(4)],
                }
        payload = wrap_webp(encode_intra_frame(
            width=w_out, height=h_out, ymode_grid=ymodes,
            bmode_grid=bmodes, uvmode_grid=uvmodes,
            y_ac_qi=qi,
            filter_level=int(r.integers(0, 64)),
            filter_simple=int(mid % 4 == 1),
            sharpness=int(r.integers(0, 8)),
            coeffs=coeffs))
    return {
        "media_id": mid,
        "kind": "image",
        "payload": payload,
        "meta": {
            "width": int(w_out), "height": int(h_out), "channels": 3,
            "sample_rate": None, "n_frames": None, "format": "WEBP",
        },
    }


WEBP_LOSSY_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_y", DoubleType()),
        StructField("mean_u", DoubleType()),
        StructField("mean_v", DoubleType()),
        StructField("std_y", DoubleType()),
    ]
)


def webp_lossy_features(media: DataFrame) -> DataFrame:
    """Lossy-WebP decode (functions/vp8.py) → per-plane YUV stats in
    one mapInPandas pass. Features live in YUV420 — VP8's native coding
    space — so no RGB upsampler enters the comparison surface."""

    def features(mid: int, payload: bytes) -> list[dict]:
        from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv

        y, u, v = decode_webp_lossy_yuv(payload)
        return [{
            "media_id": mid,
            "width": int(y.shape[1]),
            "height": int(y.shape[0]),
            "mean_y": float(y.mean()),
            "mean_u": float(u.mean()),
            "mean_v": float(v.mean()),
            "std_y": float(y.std()),
        }]

    return _map_payloads(media, "image", WEBP_LOSSY_FEATURES_SCHEMA, features)


def synth_wav_row(mid: int) -> dict:
    """Deterministic REAL-WAV audio row: splitmix-derived samples through
    encode_wav, cycling PCM 8/16/24/32-bit and float 32/64, mono and
    stereo — every decode_wav branch in the corpus."""
    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    sr = (8000, 16000, 44100)[mid % 3]
    ns = 256 + r % 1024
    channels = 1 + (mid % 2)
    raw = (
        _fake_pixels(mid, ns * channels * 4).view(np.uint32) % 2001
    ).astype(np.float64)[: ns * channels] / 1000.0 - 1.0
    samples = raw.reshape(ns, channels)
    bits, fmt = ((8, 1), (16, 1), (24, 1), (32, 1), (32, 3), (64, 3))[mid % 6]
    payload = encode_wav(samples, sr, bits=bits, fmt=fmt)
    return {
        "media_id": mid,
        "kind": "audio",
        "payload": payload,
        "meta": {
            "width": None, "height": None, "channels": channels,
            "sample_rate": sr, "n_frames": None, "format": "WAV",
        },
    }


def synth_y4m_row(mid: int) -> dict:
    """Deterministic REAL-Y4M video row: splitmix luma frames through
    encode_y4m, cycling C420jpeg/C444/Cmono."""
    mid = int(mid)
    r = int(_splitmix(np.array([mid], dtype=np.uint64))[0])
    w, h = 8 + 2 * (r % 12), 8 + 2 * ((r >> 8) % 12)  # even dims for 420
    nf = 3 + r % 10
    frames = _fake_pixels(mid, nf * h * w).reshape(nf, h, w)
    cs = ("C420jpeg", "C444", "Cmono")[mid % 3]
    return {
        "media_id": mid,
        "kind": "video",
        "payload": encode_y4m(frames, cs),
        "meta": {
            "width": w, "height": h, "channels": 1,
            "sample_rate": None, "n_frames": nf, "format": "Y4M",
        },
    }


# name -> (row function, corpus size): the one definition of each
# registry corpus, read by the queries and by their oracles alike
CORPORA = {
    "fake": (synth_media_row, 300),
    "png": (synth_png_row, 200),
    "jpeg": (synth_jpeg_row, 120),
    "jpeg_progressive": (synth_jpeg_progressive_row, 120),
    "gif": (synth_gif_row, 120),
    "webp": (synth_webp_row, 120),
    "webp_lossy": (synth_webp_lossy_row, 120),
    "wav": (synth_wav_row, 200),
    "y4m": (synth_y4m_row, 200),
}


def decode_audio(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode to (sample_rate, float32 mono samples). WAV (RIFF/PCM and
    IEEE-float, any channel count — channels average to mono) decodes
    for real in pure numpy (round 4); compressed codecs (mp3/opus) would
    plug ffmpeg into this one function and stay stubbed in this sandbox.
    The FAKE-AUD container remains for codec-independent shape tests."""
    if payload[:4] == b"FAUD":
        sr, n = struct.unpack_from("<II", payload, 4)
        return sr, np.frombuffer(payload, dtype=np.float32, offset=12, count=n)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    raise NotImplementedError(
        "compressed audio codecs stay stubbed by decision (COVERAGE.md "
        "round 7): no reference implementation exists in this container "
        "to validate against, and mp3's designed constant tables (34 "
        "Huffman tables, the 512-tap synthesis window) cannot be "
        "derived or verified offline — a guessed self-consistent codec "
        "would be worse than this explicit stub; payload is neither "
        "WAV nor a FAKE-AUD container"
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE → (sample_rate, float32 mono). Supports PCM (format 1:
    u8, i16, i24, i32) and IEEE float (format 3: f32, f64); multi-channel
    input averages to mono. Pure struct+numpy — no external libs."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, end = 12, min(len(payload), 8 + struct.unpack_from("<I", payload, 4)[0])
    fmt = None
    data = None
    while pos + 8 <= end:
        cid = payload[pos: pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8: pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, sample_rate, _brate, _balign, bits = fmt
    if audio_format == 1:  # integer PCM
        if bits == 8:
            s = (np.frombuffer(data, dtype=np.uint8).astype(np.float32)
                 - 128.0) / 128.0
        elif bits == 16:
            s = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
        elif bits == 24:
            raw = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            ints = (
                raw[:, 0].astype(np.int32)
                | (raw[:, 1].astype(np.int32) << 8)
                | (raw[:, 2].astype(np.int32) << 16)
            )
            ints = np.where(ints >= 1 << 23, ints - (1 << 24), ints)
            s = ints.astype(np.float32) / float(1 << 23)
        elif bits == 32:
            s = np.frombuffer(data, dtype="<i4").astype(np.float32) / 2147483648.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif audio_format == 3:  # IEEE float
        if bits == 32:
            s = np.frombuffer(data, dtype="<f4").astype(np.float32)
        elif bits == 64:
            s = np.frombuffer(data, dtype="<f8").astype(np.float32)
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    else:
        raise NotImplementedError(
            f"WAV audio format {audio_format} (compressed) not supported"
        )
    if channels > 1:
        n = len(s) // channels
        s = s[: n * channels].reshape(n, channels).mean(axis=1).astype(np.float32)
    return sample_rate, s


def encode_wav(
    samples: np.ndarray, sample_rate: int, bits: int = 16, fmt: int = 1
) -> bytes:
    """(n,) or (n, channels) samples in [-1, 1] → RIFF/WAVE bytes.
    Encoder side of decode_wav for corpus generation and roundtrips."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    if fmt == 1:
        # rounded quantization with the same scale decode_wav divides by,
        # so decode(encode(x)) is within 0.5 LSB (clip only at +1.0)
        def q(scale, lo, hi, dtype):
            return np.clip(
                np.round(arr * scale), lo, hi
            ).astype(dtype)

        if bits == 8:
            data = (q(128.0, 0 - 128, 127, np.int16) + 128).astype(np.uint8).tobytes()
        elif bits == 16:
            data = q(32768.0, -32768, 32767, "<i2").tobytes()
        elif bits == 24:
            flat = q(float(1 << 23), -(1 << 23), (1 << 23) - 1, np.int32).ravel()
            raw = np.empty((len(flat), 3), dtype=np.uint8)
            raw[:, 0] = flat & 0xFF
            raw[:, 1] = (flat >> 8) & 0xFF
            raw[:, 2] = (flat >> 16) & 0xFF
            data = raw.tobytes()
        elif bits == 32:
            data = q(2147483648.0, -(1 << 31), (1 << 31) - 1, "<i4").tobytes()
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif fmt == 3:
        data = arr.astype("<f4" if bits == 32 else "<f8").tobytes()
    else:
        raise ValueError(f"unsupported format {fmt}")
    balign = channels * bits // 8
    fmt_chunk = struct.pack(
        "<HHIIHH", fmt, channels, sample_rate, sample_rate * balign, balign, bits
    )
    out = b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
    out += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        out += b"\x00"
    return b"RIFF" + struct.pack("<I", len(out)) + out


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_sec", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("zero_crossings", IntegerType()),
        StructField("peak", DoubleType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """Decode → duration / RMS / zero-crossing count / peak, one
    mapInPandas pass (the audio analog of image_features). A payload
    with no samples reads as SQL aggregates over an empty set do: zero
    counts and duration, NULL rms and peak."""

    def features(mid: int, payload: bytes) -> list[dict]:
        sr, s = decode_audio(payload)
        s64 = s.astype(np.float64)
        return [{
            "media_id": mid,
            "sample_rate": sr,
            "n_samples": len(s),
            "duration_sec": len(s) / sr,
            "rms": float(np.sqrt(np.mean(s64 * s64))) if len(s) else None,
            "zero_crossings": int(np.count_nonzero(np.diff(np.signbit(s64)))),
            "peak": float(np.abs(s64).max()) if len(s) else None,
        }]

    return _map_payloads(media, "audio", AUDIO_FEATURES_SCHEMA, features)
