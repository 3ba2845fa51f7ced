"""Synthetic decoder fixtures for codepaths the reference requires but
ships no fixture for (SURVEY.md §5.3 / FIXTURES.md §4): PackBits, tiled
layouts with padded edge tiles, PlanarConfiguration=2, big-endian u16/f32,
u64 extremes, predictor-2 on u16, multi-IFD. Round-trip through the
test-only writer, decode with the engine kernel."""

from __future__ import annotations

import numpy as np
import pytest

from geotiff_spark.functions.geotiff import read_geotiff
from geotiff_spark.functions.tiff import (
    TiffDecodeError,
    lzw_decode,
    packbits_decode,
)

from tiff_writer import patch_tag, write_tiff

RNG = np.random.default_rng(42)


def roundtrip(arr, **kw):
    rec = read_geotiff(write_tiff(arr, **kw))
    got = rec["array"]
    want = arr if arr.ndim == 3 else arr[:, :, None]
    np.testing.assert_array_equal(got, want)
    return rec


@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize("compression", [1, 8, 32946, 32773])
def test_u8_strips(bo, compression):
    arr = RNG.integers(0, 256, size=(13, 17), dtype=np.uint8)
    roundtrip(arr, byte_order=bo, compression=compression, rows_per_strip=4)


@pytest.mark.parametrize("bo", ["<", ">"])
@pytest.mark.parametrize(
    "dtype", [np.uint16, np.uint32, np.uint64, np.int8, np.int16, np.int32,
              np.int64, np.float32, np.float64]
)
def test_all_dtypes_both_orders(bo, dtype):
    dt = np.dtype(dtype)
    if dt.kind == "f":
        arr = RNG.normal(size=(7, 9)).astype(dt)
    else:
        info = np.iinfo(dt)
        arr = RNG.integers(info.min, info.max, size=(7, 9), dtype=dt,
                           endpoint=True)
    roundtrip(arr, byte_order=bo, rows_per_strip=3)


def test_u64_extremes():
    arr = np.array(
        [[0, 2**63], [2**64 - 1, 12345678901234567890]], dtype=np.uint64
    )
    rec = roundtrip(arr, rows_per_strip=1)
    assert rec["dtype"] == "u64"
    assert rec["array"][1, 0] == 2**64 - 1  # survives (no i64 round-trip)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_tiled_with_padded_edges(bo):
    arr = RNG.integers(0, 256, size=(10, 13, 3), dtype=np.uint8)
    roundtrip(arr, byte_order=bo, tile=(8, 4), compression=8)


def test_tiled_planar():
    arr = RNG.integers(0, 65535, size=(9, 11, 2), dtype=np.uint16)
    roundtrip(arr, tile=(4, 4), planar=2)


def test_planar_strips():
    arr = RNG.integers(0, 256, size=(12, 5, 3), dtype=np.uint8)
    roundtrip(arr, planar=2, rows_per_strip=5, compression=32773)


@pytest.mark.parametrize("bo", ["<", ">"])
def test_predictor2_u16_multiband(bo):
    arr = RNG.integers(0, 65535, size=(6, 8, 3), dtype=np.uint16,
                       endpoint=True)
    roundtrip(arr, byte_order=bo, predictor=2, compression=8,
              rows_per_strip=2)


def test_white_is_zero_inversion():
    arr = np.array([[0, 255], [10, 245]], dtype=np.uint8)
    rec = read_geotiff(write_tiff(arr, photometric=0))
    np.testing.assert_array_equal(
        rec["array"][:, :, 0], np.array([[255, 0], [245, 10]], dtype=np.uint8)
    )


def test_geokeys_roundtrip():
    arr = np.zeros((2, 2), dtype=np.uint8)
    directory = [1, 1, 0, 3,
                 1024, 0, 1, 1,
                 1025, 0, 1, 2,
                 3073, 34737, 5, 0]
    rec = read_geotiff(
        write_tiff(arr, geo_directory=directory, geo_ascii="test|")
    )
    gk = rec["geo_keys"]
    assert gk["model_type"] == 1
    assert gk["raster_type"] == "point"
    assert gk["proj_citation"] == "test"
    assert rec["raster_type"] == "point"


def test_tiepoint_scale_transform_roundtrip():
    arr = np.arange(20, dtype=np.uint8).reshape(4, 5)
    rec = read_geotiff(
        write_tiff(
            arr,
            pixel_scale=[25.0, 25.0, 0.0],
            tie_points=[0.0, 0.0, 0.0, 1000.0, 2000.0, 0.0],
        )
    )
    assert rec["transform"][0] == "tiepoint_scale"
    assert rec["extent"] == (1000.0, 2000.0 - 4 * 25.0, 1000.0 + 5 * 25.0, 2000.0)


def test_lzw_decode_simple():
    """LZW kernel vs known stream: encode 'TOBEORNOTTOBEORTOBEORNOT' shape
    data via round-trip through our decoder on marbles is covered; here a
    hand-rolled tiny stream: Clear, 'A', 'B', EOI."""
    # 9-bit codes: 256, 65, 66, 257 packed MSB-first
    bits = "100000000" + "001000001" + "001000010" + "100000001"
    bits += "0" * (8 - len(bits) % 8)
    data = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    assert lzw_decode(data) == b"AB"


def test_packbits_decode_cases():
    assert packbits_decode(b"\x00A") == b"A"          # literal run of 1
    assert packbits_decode(b"\xffA") == b"AA"         # repeat 2
    assert packbits_decode(b"\xfeB") == b"BBB"        # repeat 3
    assert packbits_decode(b"\x02XYZ") == b"XYZ"      # literal run of 3
    assert packbits_decode(b"\x80\x00A") == b"A"      # 128 is a noop
    # TIFF 6.0 spec example
    src = bytes.fromhex("FE AA 02 80 00 2A FD AA 03 80 00 2A 22 F7 AA".replace(" ", ""))
    want = bytes.fromhex(
        "AA AA AA 80 00 2A AA AA AA AA 80 00 2A 22 AA AA AA AA AA AA AA AA AA AA".replace(" ", "")
    )
    assert packbits_decode(src) == want


# ---------------------------------------------------------------------------
# Malformed layouts: the segment plan rejects them
# ---------------------------------------------------------------------------

def _malformed():
    """name -> a striped file whose tags do not describe its layout."""
    arr = np.arange(12 * 6, dtype=np.uint8).reshape(12, 6)
    three_strips = write_tiff(arr, rows_per_strip=4)
    return {
        # RowsPerStrip 3 implies 4 strips; StripOffsets lists 3
        "short_strip_list.tif": patch_tag(three_strips, 278, value=3),
        "planar_3.tif": patch_tag(three_strips, 284, value=3),
        # an unknown tag id hides StripOffsets
        "no_strip_offsets.tif": patch_tag(three_strips, 273, new_tag=65000),
        # 3 offsets, 2 byte counts
        "counts_shorter.tif": patch_tag(three_strips, 279, count=2),
    }


@pytest.mark.parametrize("name", sorted(_malformed()))
def test_malformed_layout_raises(name):
    with pytest.raises(TiffDecodeError):
        read_geotiff(_malformed()[name])


def test_malformed_layout_is_error_row(spark, tmp_path):
    from geotiff_spark.sources.rasters import read_rasters

    for name, data in _malformed().items():
        (tmp_path / name).write_bytes(data)
    rows = {r.raster_id: r for r in read_rasters(spark, str(tmp_path)).collect()}
    assert set(rows) == set(_malformed())
    for name, r in rows.items():
        assert r.error.startswith("TiffDecodeError: "), (name, r.error)
        assert r.data is None and r.width is None, name


# ---------------------------------------------------------------------------
# read_rasters returns the written arrays
# ---------------------------------------------------------------------------

def _codec_layout_corpus():
    """name -> (array, write_tiff kwargs): strip and tile, chunky and
    planar, all three writer codecs, predictor 2, WhiteIsZero."""
    rng = np.random.default_rng(3)
    geo = {"pixel_scale": [30.0, 30.0, 0.0],
           "tie_points": [0.0, 0.0, 0.0, 500000.0, 4200000.0, 0.0],
           "geo_directory": [1, 1, 0, 2, 1024, 0, 1, 1, 1025, 0, 1, 2]}
    corpus = {}
    for codec in (1, 8, 32773):
        for layout, lkw in (("strip", {"rows_per_strip": 5}),
                            ("tile", {"tile": (16, 8)})):
            for planar in (1, 2):
                name = f"{layout}_p{planar}_c{codec}.tif"
                dtype = {1: np.uint8, 8: np.uint16, 32773: np.int16}[codec]
                info = np.iinfo(dtype)
                arr = rng.integers(info.min, info.max, size=(19, 23, 3),
                                   dtype=dtype, endpoint=True)
                corpus[name] = (arr, {"compression": codec, "planar": planar,
                                      "predictor": 2 if planar == 2 else 1,
                                      **lkw, **geo})
    arr = rng.normal(size=(9, 11)).astype(np.float32)
    corpus["f32_strip.tif"] = (arr, {"rows_per_strip": 2, "byte_order": ">"})
    arr = rng.integers(0, 256, size=(9, 11), dtype=np.uint8)
    corpus["white_is_zero.tif"] = (arr, {"photometric": 0, "tile": (16, 16),
                                         "compression": 8})
    return corpus


def test_read_rasters_equals_written_arrays_synthetic(spark, tmp_path):
    """read_rasters returns each written array over a tiff_writer corpus
    of every codec × layout × planar × predictor."""
    from geotiff_spark.sources.rasters import read_rasters

    corpus = _codec_layout_corpus()
    for name, (arr, kw) in corpus.items():
        (tmp_path / name).write_bytes(write_tiff(arr, **kw))
    a = {r.raster_id: r for r in read_rasters(spark, str(tmp_path)).collect()}
    assert set(a) == set(corpus)
    for name, (arr, kw) in corpus.items():
        assert a[name].error is None, name
        native = arr.astype(arr.dtype.newbyteorder("=")).tobytes()
        if kw.get("photometric") == 0:  # WhiteIsZero decodes inverted
            native = (np.iinfo(arr.dtype).max - arr).tobytes()
        assert a[name].data == native, name
    assert a["strip_p1_c1.tif"].geo_keys["raster_type"] == "point"
