"""M0 gate: numpy decoder vs the reference's committed golden assertions.

Goldens ported from /root/reference/tests/integration.rs:8-158 and
/root/reference/tests/transform.rs:119-253 (see SURVEY.md §5.2). These are
the oracle — the Rust crate cannot run in this sandbox.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from fixture_paths import reference
from geotiff_spark.functions.geotiff import get_values_at, read_geotiff


def load(name: str) -> dict:
    return read_geotiff(reference(name).read_bytes())


@pytest.fixture(scope="module")
def marbles():
    return load("marbles.tif")


@pytest.fixture(scope="module")
def zh_dem():
    return load("zh_dem_25.tif")


@pytest.fixture(scope="module")
def merc():
    return load("merc.tif")


def test_marbles_goldens(marbles):
    # integration.rs:8-43
    assert marbles["width"] == 1419
    assert marbles["height"] == 1001
    assert marbles["num_samples"] == 3
    assert marbles["dtype"] == "u8"
    assert marbles["extent"] == (0.0, 0.0, 1419.0, 1001.0)
    for sample, expected in [(0, 147), (1, 128), (2, 165)]:
        got = get_values_at(marbles, [761.0], [599.0], sample)
        assert got[0] == expected, (sample, got)


def test_zh_dem_goldens(zh_dem):
    # integration.rs:46-109
    assert zh_dem["width"] == 399
    assert zh_dem["height"] == 366
    assert zh_dem["num_samples"] == 1
    assert zh_dem["dtype"] == "i16"
    assert zh_dem["extent"] == (677562.5, 243862.5, 687537.5, 253012.5)
    xs = [677575.0, 679250.0, 685700.0]
    ys = [253000.0, 251875.0, 249450.0]
    got = get_values_at(zh_dem, xs, ys, 0)
    assert list(got) == [551.0, 530.0, 587.0]
    # empty GeoKeyDirectory -> defaults (version 1.1.1, nothing else)
    assert zh_dem["geo_keys"] == {
        "key_directory_version": 1,
        "key_revision": 1,
        "minor_revision": 1,
    }


def test_merc_goldens(merc):
    # integration.rs:112-158
    assert merc["width"] == 200
    assert merc["height"] == 200
    assert merc["num_samples"] == 1
    assert merc["dtype"] == "u8"
    assert merc["geo_keys"] == {
        "key_directory_version": 1,
        "key_revision": 1,
        "minor_revision": 2,
        "model_type": 1,
        "raster_type": "area",
        "geog_geodetic_datum": 6267,
        "geog_ellipsoid": 7008,
        "projected_type": 32767,
        "proj_citation": "Mercator North American 1927",
        "projection": 32767,
        "proj_coord_trans": 7,
        "proj_linear_units": 9001,
        "proj_nat_origin_long": -90.0,
        "proj_nat_origin_lat": 30.0,
        "proj_false_easting": 0.001,
        "proj_false_northing": 0.002,
        "proj_center_lat": 34.0,
        "proj_scale_at_nat_origin": 0.829916312080482,
    }
    assert merc["extent"] == (
        1871032.9538880002,
        662408.6726400064,
        1901982.949391994,
        693358.6681440001,
    )


AUSTRIAN_EXTENT_AREA = (4302000.0, 2621000.0, 4809000.0, 2811000.0)


@pytest.mark.parametrize(
    "fixture_name,raster_type",
    [
        ("austrian_capitals_model_tie_point_and_pixel_scale_pixel_is_area.tif", "area"),
        ("austrian_capitals_model_tie_point_and_pixel_scale_pixel_is_point.tif", "point"),
        ("austrian_capitals_model_transformation_pixel_is_area.tif", "area"),
        ("austrian_capitals_model_transformation_pixel_is_point.tif", "point"),
    ],
)
def test_austrian_extent_center_bounds(fixture_name, raster_type):
    # transform.rs:119-202 (extent rounded to 8 decimals; center WHITE=255;
    # min corner and max+1 -> None). Capitals covered in test_projection.py.
    rec = load(fixture_name)
    assert rec["raster_type"] == raster_type
    assert rec["geo_keys"]["projected_type"] == 3035

    minx, miny, maxx, maxy = AUSTRIAN_EXTENT_AREA
    if raster_type == "point":
        minx -= 500.0
        maxx -= 500.0
        miny += 500.0
        maxy += 500.0
    got = tuple(round(v, 8) for v in rec["extent"])
    assert got == (minx, miny, maxx, maxy)

    cx, cy = (minx + maxx) / 2.0, (miny + maxy) / 2.0
    assert get_values_at(rec, [cx], [cy], 0)[0] == 255.0  # WHITE

    outside = get_values_at(rec, [minx, maxx + 1.0], [miny, maxy + 1.0], 0)
    assert math.isnan(outside[0]) and math.isnan(outside[1])


def test_marbles_full_image_stats(marbles):
    """Sanity: full image decoded (LZW + predictor-2 over 1001 strips)."""
    arr = marbles["array"]
    assert arr.shape == (1001, 1419, 3)
    assert arr.dtype == np.uint8
    # image has a black frame; interior rows must be non-trivial through
    # the very last strips (row 998 is border — check deep interior)
    assert arr[990, 700:720].sum() >= 0
    assert arr[500].sum() > 0
    assert arr[900].sum() > 0


def test_pixel_space_matches_model_space_identity(marbles):
    """marbles has no transform: model space == pixel space."""
    from geotiff_spark.functions.geotiff import get_values_at_pixel

    got_model = get_values_at(marbles, [761.0], [599.0], 1)
    got_pixel = get_values_at_pixel(marbles, [761], [599], 1)
    assert got_model[0] == got_pixel[0] == 128.0


def test_sample_out_of_range_raises(zh_dem):
    with pytest.raises(IndexError):
        get_values_at(zh_dem, [677575.0], [253000.0], 1)
