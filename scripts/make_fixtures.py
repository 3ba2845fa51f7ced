"""Generate every committed raster fixture under geotiff_spark/fixtures/.

    python scripts/make_fixtures.py

``FIXTURES`` maps each path (relative to the fixture directory) to the
function that builds its bytes. Every build is pure integer arithmetic
with no RNG, so rerunning rewrites identical files, and
tests/test_fixtures.py fails when a committed file and its build
function disagree.

The top-level ``*.tif`` files are the raster-query corpus
(``oracle_raster.FIXTURE_DIR``):

- synth_tiled_planar_deflate.tif: the tiled + planar + Deflate layout
  the reference corpus lacks (300×520 px, 2 × u16 samples, 64×64 tiles
  with padded edges, tie point + pixel scale).
- the two austrian_capitals_*.tif rasters and marbles.tif: stand-ins for
  the three reference files the registry queries name. They copy the
  reference layouts (FIXTURES.md §4) with synthetic pixels. The austrian
  pixels keep the reference goldens' shape: the capitals decode to 0 and
  the extent centre to 255.

u64/synth_u64.tif sits in a subdirectory: the corpus glob is
non-recursive, so its values (all above 2^63, none float64-representable)
stay out of the float64 pixel oracles and feed only u64_exact_sample.
"""

import os
import sys

import numpy as np

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, os.path.join(ROOT, "tests"))
from tiff_writer import write_tiff  # noqa: E402

FIXTURE_DIR = os.path.join(ROOT, "geotiff_spark", "fixtures")

# The austrian rasters: 507×190 px of 1000 m in EPSG:3035, upper-left
# corner (4302000, 2811000), so model = (4302000 + 1000·i, 2811000 − 1000·j).
AUSTRIAN_W, AUSTRIAN_H = 507, 190
AUSTRIAN_GEO_KEYS = [1, 1, 0, 3,          # version 1.1.0, 3 keys
                     1024, 0, 1, 1,       # GTModelType: projected
                     1025, 0, 1, 1,       # GTRasterType: PixelIsArea
                     3072, 0, 1, 3035]    # ProjectedCSType: EPSG:3035
# The pixel (ix, iy) of each of the 8 distinct capitals of the reference
# goldens (Graz repeats Eisenstadt there): EPSG:4326 → EPSG:3035 with the
# Snyder LAEA forward, then the inverse tie point + scale, floored.
# Written out, so the raster does not depend on the projection it tests.
CAPITAL_PIXELS = [(0, 101), (431, 134), (124, 126), (349, 189),
                  (338, 5), (247, 62), (436, 7), (492, 0)]
CENTRE_PIXEL = (253, 95)  # extent centre (4555500, 2716000)


def synth_tiled_planar_deflate() -> bytes:
    h, w, spp = 300, 520, 2
    iy, ix = np.mgrid[0:h, 0:w]
    arr = np.empty((h, w, spp), dtype=np.uint16)
    for band in range(spp):
        arr[:, :, band] = ((iy * 31 + ix * 17 + band * 7) % 1021).astype(
            np.uint16
        )
    return write_tiff(
        arr,
        compression=8,
        tile=(64, 64),
        planar=2,
        pixel_scale=[0.01, 0.01, 0.0],
        tie_points=[0.0, 0.0, 0.0, 10.0, 45.0, 0.0],
    )


def synth_u64() -> bytes:
    """64×64 u64: odd low bits at magnitude 2^63, where the float64 ulp
    is 2^11, so a float round trip anywhere changes the value."""
    h = w = 64
    k = np.arange(h * w, dtype=np.uint64)
    arr = (
        np.uint64(1) << np.uint64(63)
    ) + k * (np.uint64(1) << np.uint64(50)) + 2 * k + np.uint64(1)
    return write_tiff(
        arr.reshape(h, w, 1),
        compression=8,
        rows_per_strip=16,
        pixel_scale=[1.0, 1.0, 0.0],
        tie_points=[0.0, 0.0, 0.0, 0.0, float(h), 0.0],
    )


def austrian_values() -> np.ndarray:
    """Decoded values: background 1 + (7·ix + 13·iy) mod 250, a 3×3 block
    of 0 around each capital (clipped at the raster edge) and 255 at the
    extent centre."""
    iy, ix = np.mgrid[0:AUSTRIAN_H, 0:AUSTRIAN_W]
    v = (1 + (7 * ix + 13 * iy) % 250).astype(np.uint8)
    for cx, cy in CAPITAL_PIXELS:
        v[max(cy - 1, 0):cy + 2, max(cx - 1, 0):cx + 2] = 0
    v[CENTRE_PIXEL[1], CENTRE_PIXEL[0]] = 255
    return v


def _austrian(**geo) -> bytes:
    # WhiteIsZero, so the file stores 255 − value and the decoder inverts
    return write_tiff(
        255 - austrian_values(),
        byte_order=">",
        compression=32946,
        rows_per_strip=16,
        photometric=0,
        geo_directory=AUSTRIAN_GEO_KEYS,
        **geo,
    )


def austrian_tie_point_and_scale() -> bytes:
    return _austrian(
        pixel_scale=[1000.0, 1000.0, 0.0],
        tie_points=[431.0, 134.0, 0.0, 4733000.0, 2677000.0, 0.0],
    )


def austrian_tie_points() -> bytes:
    """Five tie points on the same affine: the 4 corners and (124, 126)."""
    tie_points = []
    for i, j in ((0, 0), (AUSTRIAN_W, 0), (0, AUSTRIAN_H),
                 (AUSTRIAN_W, AUSTRIAN_H), (124, 126)):
        tie_points += [float(i), float(j), 0.0,
                       4302000.0 + 1000.0 * i, 2811000.0 - 1000.0 * j, 0.0]
    return _austrian(tie_points=tie_points)


def marbles() -> bytes:
    """256×200 RGB u8, Deflate + predictor 2, no geo tags (identity
    transform): three diagonal ramps, so band 0 crosses any threshold
    in bands."""
    iy, ix = np.mgrid[0:200, 0:256]
    arr = np.stack([(3 * ix + 5 * iy) % 256,
                    (ix + 2 * iy) % 256,
                    (7 * ix + iy) % 256], axis=-1).astype(np.uint8)
    return write_tiff(arr, compression=8, predictor=2, rows_per_strip=8)


FIXTURES = {
    "synth_tiled_planar_deflate.tif": synth_tiled_planar_deflate,
    "u64/synth_u64.tif": synth_u64,
    "austrian_capitals_model_tie_point_and_pixel_scale_pixel_is_area.tif":
        austrian_tie_point_and_scale,
    "austrian_capitals_model_tie_points_pixel_is_area.tif":
        austrian_tie_points,
    "marbles.tif": marbles,
}


if __name__ == "__main__":
    for rel, build in FIXTURES.items():
        out = os.path.join(FIXTURE_DIR, rel)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        data = build()
        with open(out, "wb") as fh:
            fh.write(data)
        print(f"wrote {os.path.relpath(out, ROOT)} ({len(data)} bytes)")
