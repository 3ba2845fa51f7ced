"""VP8L (lossless WebP) codec tests: exact roundtrips through every
transform / entropy branch, spec edge semantics, error paths, and the
multimodal dispatch. VP8L is lossless, so every roundtrip asserts
bit-exact pixels."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_spark.functions.webp import (
    WebpError,
    _distance_to_plane,
    _plane_to_distance,
    _prefix_decode,
    _prefix_encode,
    decode_webp,
    decode_webp_rgb,
    encode_webp_lossless,
)


def _img(seed, h, w, c=3):
    return np.random.RandomState(seed).randint(0, 256, (h, w, c),
                                               dtype=np.uint8)


def _tiled(seed, h, w, th=4, tw=4):
    tile = _img(seed, th, tw)
    return np.tile(tile, (h // th + 1, w // tw + 1, 1))[:h, :w, :]


@pytest.mark.parametrize("kw", [
    {},
    {"transforms": ("subtract_green",)},
    {"transforms": ("predictor",), "size_bits": 2},
    {"transforms": ("predictor",), "size_bits": 4},
    {"transforms": ("color",), "size_bits": 3},
    {"transforms": ("subtract_green", "predictor")},
    {"transforms": ("subtract_green", "predictor", "color"),
     "cache_bits": 10, "use_lz77": True},
    {"use_lz77": True},
    {"use_lz77": True, "use_plane_codes": True},
    {"cache_bits": 4},
    {"cache_bits": 1},
    {"meta_bits": 2},
    {"meta_bits": 3, "use_lz77": True, "cache_bits": 6},
])
def test_roundtrip_variants(kw):
    # md5, not hash(): python string hashing is salted per process
    # (PYTHONHASHSEED), which made the tested pixels differ run to run
    # — a failure found once would not reproduce (ADVICE r05)
    import hashlib

    seed = int(hashlib.md5(str(sorted(kw.items())).encode())
               .hexdigest()[:8], 16) % 1000
    img = _tiled(seed, 21, 27)
    out = decode_webp(encode_webp_lossless(img, **kw))
    assert np.array_equal(out[:, :, :3], img)
    assert (out[:, :, 3] == 255).all()


@pytest.mark.parametrize("k", [2, 3, 4, 5, 16, 17, 200, 256])
def test_roundtrip_palette_packing_widths(k):
    """Every packing width: ≤2→8px/byte, ≤4→4, ≤16→2, else none —
    including widths that don't divide the row evenly."""
    pal = _img(k, 1, k)[0]
    idx = np.random.RandomState(k).randint(0, k, (13, 23))
    img = pal[idx]
    out = decode_webp(encode_webp_lossless(img, transforms=("palette",),
                                           use_lz77=False))
    assert np.array_equal(out[:, :, :3], img)


def test_all_14_predictor_modes_covered():
    """size_bits=2 on a 40x40 image → 10x10 blocks, mode = block % 14 —
    every predictor mode appears and roundtrips exactly."""
    img = _img(7, 40, 40)
    out = decode_webp(encode_webp_lossless(img, transforms=("predictor",),
                                           size_bits=2))
    assert np.array_equal(out[:, :, :3], img)


def test_alpha_plane_roundtrip():
    rgba = _img(11, 15, 9, c=4)
    out = decode_webp(encode_webp_lossless(rgba))
    assert np.array_equal(out, rgba)
    assert decode_webp_rgb(encode_webp_lossless(rgba)).shape == (15, 9, 3)


def test_single_pixel_and_flat_color():
    one = np.full((1, 1, 3), 7, np.uint8)
    assert np.array_equal(decode_webp(encode_webp_lossless(one))[0, 0, :3],
                          [7, 7, 7])
    flat = np.full((8, 8, 3), 200, np.uint8)
    out = decode_webp(encode_webp_lossless(flat, cache_bits=2,
                                           use_lz77=True))
    assert (out[:, :, :3] == 200).all()


def test_prefix_value_coding_roundtrips():
    for v in list(range(1, 70)) + [120, 1000, 4095]:
        code, extra, ebits = _prefix_encode(v)
        # decode side: reconstruct without a bit reader for ebits=0,
        # else check the arithmetic identity the reader applies
        if code < 4:
            assert v == code + 1
        else:
            eb = (code - 2) >> 1
            offset = (2 + (code & 1)) << eb
            assert ebits == eb and v == offset + extra + 1


def test_plane_code_distance_map_roundtrips():
    for w in (8, 17, 64):
        for pc in range(1, 121):
            d = _plane_to_distance(pc, w)
            # encoder inverse → decoder forward must reproduce the
            # distance (the inverse may pick a different plane code when
            # two codes collapse to the same clamped distance)
            assert _plane_to_distance(_distance_to_plane(d, w), w) == d
        # direct (non-plane) distances are biased by 120
        assert _plane_to_distance(126, w) == 6
    # plane code 1 is the pixel directly above; 2 is the left pixel
    assert _plane_to_distance(1, 64) == 64
    assert _plane_to_distance(2, 64) == 1


def test_errors():
    img = _img(3, 8, 8)
    good = encode_webp_lossless(img)
    with pytest.raises(WebpError):
        decode_webp(b"RIFX" + good[4:])
    with pytest.raises(WebpError):
        decode_webp(good[:12])  # no VP8L chunk
    bad = bytearray(good)
    sig_off = 12 + 8  # first payload byte = VP8L signature
    bad[sig_off] = 0x2E
    with pytest.raises(WebpError):
        decode_webp(bytes(bad))
    with pytest.raises(NotImplementedError):
        # lossy VP8 is routed to functions/vp8.py (YUV), not this RGBA path
        decode_webp(b"RIFF" + b"\x10\x00\x00\x00" + b"WEBP"
                    + b"VP8 " + b"\x04\x00\x00\x00" + b"\x00" * 4)
    with pytest.raises(WebpError):
        encode_webp_lossless(img, transforms=("palette", "predictor"))
    # >256 distinct colors cannot be paletted
    many = np.arange(300, dtype=np.uint32)
    rgb300 = np.stack([many & 0xFF, (many >> 8) & 0xFF,
                       np.zeros_like(many)], axis=1).astype(np.uint8)
    with pytest.raises(WebpError):
        encode_webp_lossless(rgb300.reshape(300, 1, 3),
                             transforms=("palette",))
    # truncated stream
    with pytest.raises(WebpError):
        decode_webp(good[: len(good) - 6])


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 24), w=st.integers(1, 24), seed=st.integers(0, 10**6),
    variant=st.integers(0, 4),
)
def test_roundtrip_hypothesis(h, w, seed, variant):
    img = _img(seed, h, w)
    kw = [
        {},
        {"transforms": ("subtract_green",)},
        {"transforms": ("predictor",)},
        {"use_lz77": True, "cache_bits": 3},
        {"transforms": ("color",)},
    ][variant]
    out = decode_webp(encode_webp_lossless(img, **kw))
    assert np.array_equal(out[:, :, :3], img)


def test_decode_image_dispatches_webp():
    from geotiff_spark.operators.multimodal import decode_image

    img = _tiled(5, 12, 12)
    arr = decode_image(encode_webp_lossless(img, use_lz77=True))
    assert np.array_equal(arr, img)


def test_synth_corpus_every_variant_decodes():
    from geotiff_spark.operators.multimodal import decode_image, synth_webp_row

    for mid in range(24):  # two full variant cycles
        row = synth_webp_row(mid)
        arr = decode_image(row["payload"])
        assert arr.shape == (row["meta"]["height"], row["meta"]["width"], 3)


def test_vp8x_extended_container():
    """A VP8X (extended) container whose image data is a VP8L chunk
    must decode: the chunk scanner skips unknown chunks (with odd-size
    padding) until it reaches VP8L."""
    import struct

    img = _img(21, 10, 14)
    plain = encode_webp_lossless(img)
    # extract the VP8L chunk from the plain container
    (size,) = struct.unpack_from("<I", plain, 16)
    vp8l_chunk = plain[12: 12 + 8 + size + (size & 1)]
    # VP8X header: 4-byte flags + 3-byte w-1 + 3-byte h-1 (10 bytes)
    vp8x_body = b"\x00\x00\x00\x00" + b"\x0d\x00\x00" + b"\x09\x00\x00"
    vp8x = b"VP8X" + struct.pack("<I", len(vp8x_body)) + vp8x_body
    # an odd-sized unknown chunk before VP8L exercises pad-skipping
    junk = b"XMP " + struct.pack("<I", 3) + b"abc\x00"
    riff = b"WEBP" + vp8x + junk + vp8l_chunk
    data = b"RIFF" + struct.pack("<I", len(riff)) + riff
    out = decode_webp(data)
    assert np.array_equal(out[:, :, :3], img)


# ---------------------------------------------------------------------------
# Lossy VP8 (functions/vp8.py) — round 7
# ---------------------------------------------------------------------------

def _libwebp():
    from geotiff_spark.functions import webp_oracle
    return webp_oracle if webp_oracle.available() else None


def _yuv_equal(a, b):
    return all(np.array_equal(x, y) for x, y in zip(a, b))


def test_vp8_real_encodes_bit_exact_vs_libwebp():
    """The from-scratch decoder must equal libwebp's own WebPDecodeYUV
    bit-for-bit on REAL libwebp encodes across content classes, sizes
    (incl. non-MB-aligned and 1x1) and qualities — segmentation, normal
    loop filter, i4/i16 mode mixes and the full token range all ride
    these streams."""
    wo = _libwebp()
    if wo is None:
        pytest.skip("libwebp not available")
    from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv

    rng = np.random.default_rng(21)
    x = np.linspace(0, 255, 49)
    y = np.linspace(255, 0, 33)
    grad = np.stack([np.tile(x, (33, 1)), np.tile(y[:, None], (1, 49)),
                     np.add.outer(y, x) / 2], axis=2).astype(np.uint8)
    imgs = [
        np.full((32, 48, 3), 130, dtype=np.uint8),
        grad,
        rng.integers(0, 256, (17, 31, 3), dtype=np.uint8),
        rng.integers(0, 256, (1, 1, 3), dtype=np.uint8),
        rng.integers(0, 256, (64, 80, 3), dtype=np.uint8),
    ]
    for img in imgs:
        for q in (5, 50, 80, 95):
            data = wo.encode_lossy(img, q)
            assert _yuv_equal(wo.decode_yuv(data),
                              decode_webp_lossy_yuv(data)), (img.shape, q)


def test_vp8_crafted_streams_bit_exact_vs_libwebp():
    """Crafted streams from the minimal intra encoder pin each path in
    isolation: every B mode (borders AND textured neighbors), all i16 /
    chroma modes, mixed sub-mode grids, skip patterns, both loop
    filters across level/sharpness, and cat1-cat6 token magnitudes."""
    wo = _libwebp()
    if wo is None:
        pytest.skip("libwebp not available")
    from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv
    from geotiff_spark.functions.vp8_enc import encode_intra_frame, wrap_webp

    def rand_mb(seed, mag=50):
        r = np.random.default_rng(seed)
        return {
            "y2": [int(v) for v in r.integers(-12, 12, 16)],
            "y": [[int(v) for v in r.integers(-mag, mag, 16)]
                  for _ in range(16)],
            "u": [[int(v) for v in r.integers(-mag // 2, mag // 2, 16)]
                  for _ in range(4)],
            "v": [[int(v) for v in r.integers(-mag // 2, mag // 2, 16)]
                  for _ in range(4)],
        }

    streams = []
    for m in range(10):  # each B mode: border-only and textured-neighbor
        bg1 = [[[[m] * 4 for _ in range(4)]]]
        streams.append(encode_intra_frame(
            width=16, height=16, ymode_grid=[[4]], bmode_grid=bg1))
        grid = [[m] * 4 for _ in range(4)]
        streams.append(encode_intra_frame(
            width=32, height=32, ymode_grid=[[0, 4], [4, 0]],
            bmode_grid=[[None, grid], [grid, None]], y_ac_qi=20,
            coeffs={(0, 0): rand_mb(7 + m), (1, 1): rand_mb(9 + m)}))
    for m in range(4):  # i16 and chroma modes at the frame border
        streams.append(encode_intra_frame(
            width=16, height=16, ymode_grid=[[m]]))
        streams.append(encode_intra_frame(
            width=16, height=16, ymode_grid=[[0]], uvmode_grid=[[m]]))
    mix = [[0, 1, 2, 3], [4, 5, 6, 7], [8, 9, 0, 1], [2, 3, 4, 5]]
    for simple in (0, 1):  # loop filter sweep over both filter types
        for level, sharp in ((1, 0), (20, 3), (40, 7), (63, 0), (15, 1)):
            streams.append(encode_intra_frame(
                width=48, height=32, ymode_grid=[[0, 4, 1], [4, 3, 2]],
                bmode_grid=[[None, mix, None], [mix, None, None]],
                uvmode_grid=[[0, 1, 2], [3, 0, 1]], y_ac_qi=25,
                filter_level=level, filter_simple=simple, sharpness=sharp,
                coeffs={(0, 0): rand_mb(level + sharp),
                        (1, 1): rand_mb(2 * level + 1),
                        (0, 2): rand_mb(level + 5)}))
    # cat5/cat6 magnitudes + int16 dequant wrap (legal at qi=0)
    big = {"y": [[900, -800, 700, -60, 40, 30, -20, 10,
                  5, -4, 3, -2, 1, 1, -1, 1]] * 16,
           "y2": [400, -300, 200, -100, 66, -35, 18, -10,
                  4, -2, 1, 0, 0, 0, 0, 1],
           "u": [[500, -400, 68, -35, 19, -11, 5, -3,
                  2, -1, 1, 0, 0, 0, 0, 1]] * 4,
           "v": [[-700, 600, -66, 34, -18, 10, -4, 2,
                  -1, 1, 0, 0, 0, 0, 1, -1]] * 4}
    streams.append(encode_intra_frame(
        width=16, height=16, ymode_grid=[[0]], y_ac_qi=0,
        coeffs={(0, 0): big}))
    for frame in streams:
        data = wrap_webp(frame)
        assert _yuv_equal(wo.decode_yuv(data),
                          decode_webp_lossy_yuv(data))


def test_vp8_rightmost_above_right_replication():
    """i4 blocks on an MB's right edge take their above-right from the
    row above the MB; past the frame's right edge the last above pixel
    is replicated (libwebp-validated convention, exercised here with a
    textured above-row so 127 vs replication actually differs)."""
    wo = _libwebp()
    if wo is None:
        pytest.skip("libwebp not available")
    from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv
    from geotiff_spark.functions.vp8_enc import encode_intra_frame, wrap_webp

    r = np.random.default_rng(3)
    co = {(0, 0): {"y": [[int(v) for v in r.integers(-40, 40, 16)]
                         for _ in range(16)],
                   "y2": [int(v) for v in r.integers(-10, 10, 16)]},
          (0, 1): {"y": [[int(v) for v in r.integers(-40, 40, 16)]
                         for _ in range(16)],
                   "y2": [int(v) for v in r.integers(-10, 10, 16)]}}
    mix = [[4, 5, 6, 7], [4, 5, 6, 7], [8, 9, 0, 1], [2, 3, 4, 5]]
    data = wrap_webp(encode_intra_frame(
        width=32, height=32, ymode_grid=[[0, 0], [4, 4]],
        bmode_grid=[[None, None], [mix, mix]], y_ac_qi=30, coeffs=co))
    assert _yuv_equal(wo.decode_yuv(data), decode_webp_lossy_yuv(data))


def test_vp8_lossy_corpus_decodes_deterministically():
    """The registry corpus (synth_webp_lossy_row rows) decodes, has
    the advertised dimensions, and two decodes are bit-identical — the
    no-libwebp-needed half of the correctness story."""
    from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv
    from geotiff_spark.operators.multimodal import synth_webp_lossy_row

    for mid in range(20):
        row = synth_webp_lossy_row(mid)
        y1, u1, v1 = decode_webp_lossy_yuv(row["payload"])
        y2, u2, v2 = decode_webp_lossy_yuv(row["payload"])
        assert np.array_equal(y1, y2) and np.array_equal(u1, u2) \
            and np.array_equal(v1, v2)
        assert y1.shape == (row["meta"]["height"], row["meta"]["width"])


def test_vp8_rejects_non_keyframe_and_garbage():
    from geotiff_spark.functions.vp8 import (
        VP8Error, decode_vp8_frame, decode_webp_lossy_yuv,
    )

    with pytest.raises(VP8Error):
        decode_vp8_frame(b"\x01\x00\x00\x9d\x01\x2a" + b"\x00" * 8)
    with pytest.raises(VP8Error):
        decode_vp8_frame(b"\x00" * 16)  # bad start code
    with pytest.raises(VP8Error):
        decode_webp_lossy_yuv(b"RIFFxxxxWEBP")  # no VP8 chunk


def test_vp8_lossy_corpus_fallback_arm_without_libwebp(monkeypatch):
    """If libwebp is absent, synth_webp_lossy_row's even rows fall
    back to crafted vp8_enc streams — the corpus must still generate
    and decode (the driver gate then runs entirely on crafted streams,
    deterministically for that environment)."""
    from geotiff_spark.functions import webp_oracle
    from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv
    from geotiff_spark.operators import multimodal as mm

    monkeypatch.setattr(webp_oracle, "available", lambda: False)
    for mid in (0, 2, 5, 8):  # even mids take the fallback branch now
        row = mm.synth_webp_lossy_row(mid)
        y, u, v = decode_webp_lossy_yuv(row["payload"])
        assert y.shape == (row["meta"]["height"], row["meta"]["width"])


def test_vp8_corpus_yuv_bit_exact_vs_libwebp():
    """Every registry-corpus row (real + crafted arms) must decode YUV
    bit-identically to libwebp — the corpus magnitudes are bounded to
    the real-encoder envelope precisely so libwebp stays a valid oracle
    (beyond it, SIMD libwebp wraps IDCT intermediates at int16 where
    the RFC C semantics don't; see synth_webp_lossy_row)."""
    wo = _libwebp()
    if wo is None:
        pytest.skip("libwebp not available")
    from geotiff_spark.functions.vp8 import decode_webp_lossy_yuv
    from geotiff_spark.operators.multimodal import synth_webp_lossy_row

    for mid in range(48):
        data = synth_webp_lossy_row(mid)["payload"]
        assert _yuv_equal(wo.decode_yuv(data),
                          decode_webp_lossy_yuv(data)), mid
