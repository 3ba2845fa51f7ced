"""Austrian capital parity: EPSG:4326 → EPSG:3035 via our LAEA forward,
then raster sampling must return BLACK for all 9 capitals
(/root/reference/tests/transform.rs:204-252)."""

from __future__ import annotations

from pathlib import Path

import pytest

from fixture_paths import reference
from geotiff_spark.functions.geotiff import get_values_at, read_geotiff
from geotiff_spark.functions.proj import laea_forward
from geotiff_spark.oracle_raster import AUSTRIAN


# (lon, lat) from /root/reference/tests/transform.rs:29-64 (GRAZ duplicates
# EISENSTADT in the reference — kept as committed)
CAPITALS = [
    (9.74926, 47.50315),   # Bregenz
    (15.43301, 47.06298),  # Eisenstadt
    (15.43301, 47.06298),  # Graz (sic)
    (11.39960, 47.26239),  # Innsbruck
    (14.31528, 46.62366),  # Klagenfurt
    (14.30571, 48.27532),  # Linz
    (13.05345, 47.80763),  # Salzburg
    (15.62291, 48.20440),  # Sankt Poelten
    (16.37499, 48.22158),  # Vienna
]


@pytest.mark.parametrize(
    "fixture_name,shift",
    [
        ("austrian_capitals_model_tie_point_and_pixel_scale_pixel_is_area.tif", 0.0),
        ("austrian_capitals_model_tie_point_and_pixel_scale_pixel_is_point.tif", 1.0),
        ("austrian_capitals_model_transformation_pixel_is_area.tif", 0.0),
        ("austrian_capitals_model_transformation_pixel_is_point.tif", 1.0),
        # the committed stand-in for the first case, which the registry
        # queries sample
        pytest.param(Path(AUSTRIAN), 0.0, id="committed-0.0"),
    ],
)
def test_capitals_black(fixture_name, shift):
    path = (fixture_name if isinstance(fixture_name, Path)
            else reference(fixture_name))
    rec = read_geotiff(path.read_bytes())
    lons = [c[0] for c in CAPITALS]
    lats = [c[1] for c in CAPITALS]
    x, y = laea_forward(lons, lats)
    # PixelIsPoint variant: coordinates shifted by (−500, +500)
    # (/root/reference/tests/transform.rs:150-175)
    x = x - 500.0 * shift
    y = y + 500.0 * shift
    vals = get_values_at(rec, x, y, 0)
    assert list(vals) == [0.0] * 9, vals  # BLACK


def test_laea_against_known_point():
    """EPSG:3035 projection of its own origin and a spot check."""
    x, y = laea_forward([10.0], [52.0])
    assert abs(x[0] - 4321000.0) < 1e-6
    assert abs(y[0] - 3210000.0) < 1e-6
