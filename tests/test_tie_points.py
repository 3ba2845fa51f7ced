"""Tie-points piecewise warp (A15-A19) vs the reference's transform.rs
goldens, plus triangulation/transform property tests."""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pytest

from fixture_paths import reference
from geotiff_spark.functions.delaunay import Triangulation
from geotiff_spark.functions.geotiff import get_values_at, read_geotiff
from geotiff_spark.functions.proj import laea_forward
from geotiff_spark.functions.tie_points import (
    tie_points_to_model, tie_points_to_raster,
)
from geotiff_spark.functions.transforms import sample_indices
from geotiff_spark.oracle_raster import TIE_RASTER

CAPITALS = [
    (9.74926, 47.50315), (15.43301, 47.06298), (15.43301, 47.06298),
    (11.39960, 47.26239), (14.31528, 46.62366), (14.30571, 48.27532),
    (13.05345, 47.80763), (15.62291, 48.20440), (16.37499, 48.22158),
]


@pytest.mark.parametrize("variant,shift", [("area", 0.0), ("point", 1.0)])
def test_tie_points_goldens(variant, shift):
    # /root/reference/tests/transform.rs:101-117 (feature-gated pair)
    rec = read_geotiff(
        reference(f"austrian_capitals_model_tie_points_pixel_is_{variant}.tif")
        .read_bytes()
    )
    assert rec["transform"][0] == "tie_points"
    want = (
        4302000.0 - 500 * shift, 2621000.0 + 500 * shift,
        4809000.0 - 500 * shift, 2811000.0 + 500 * shift,
    )
    assert tuple(round(v, 8) for v in rec["extent"]) == want

    x, y = laea_forward([c[0] for c in CAPITALS], [c[1] for c in CAPITALS])
    vals = get_values_at(rec, x - 500 * shift, y + 500 * shift, 0)
    assert list(vals) == [0.0] * 9  # BLACK

    cx, cy = (want[0] + want[2]) / 2, (want[1] + want[3]) / 2
    assert get_values_at(rec, [cx], [cy], 0)[0] == 255.0  # WHITE

    outside = get_values_at(rec, [want[0], want[2] + 1], [want[1], want[3] + 1], 0)
    assert math.isnan(outside[0]) and math.isnan(outside[1])


def test_committed_tie_points_raster_follows_its_affine():
    """The committed stand-in puts its 5 tie points on one affine (4 corners
    and (124, 126)). Every pixel centre a face covers samples its own
    pixel; the rest fall in wedge holes, which strict mode rejects and
    non-strict mode (the registry's tiepoints_sample) marks invalid, i.e.
    NULL."""
    rec = read_geotiff(Path(TIE_RASTER).read_bytes())
    kind, coeffs = rec["transform"]
    w, h = rec["width"], rec["height"]
    assert kind == "tie_points" and (w, h) == (507, 190)
    iy, ix = np.divmod(np.arange(w * h), w)
    x = 4302000.0 + 1000.0 * (ix + 0.5)
    y = 2811000.0 - 1000.0 * (iy + 0.5)

    def sample(sel, strict):
        return sample_indices(kind, coeffs, w, h, 1, rec["raster_type"],
                              x[sel], y[sel], 0, strict=strict)

    idx, valid = sample(slice(None), strict=False)
    assert int(valid.sum()) == 89_985 and int((~valid).sum()) == 6_345
    assert (idx[valid] == (iy * w + ix)[valid]).all()
    assert (sample(valid, strict=True)[0] == idx[valid]).all()
    with pytest.raises(ValueError, match="6345 points not contained"):
        sample(~valid, strict=True)


def test_roundtrip_inside_hull():
    """to_raster(to_model(p)) ≈ p wherever the reference's face-coverage
    predicates resolve both directions (they genuinely leave gaps for some
    meshes — the reference panics there, we replicate; see the strict
    flag). Coverage must still be substantial and the roundtrip exact."""
    rng = np.random.default_rng(3)
    pts = rng.uniform(0, 100, size=(12, 2))
    model = pts * np.array([3.0, 2.0]) + np.array([1000.0, 5000.0])
    coeffs = np.column_stack(
        [pts[:, 0], pts[:, 1], np.zeros(12), model[:, 0], model[:, 1], np.zeros(12)]
    ).ravel()
    q = rng.uniform(20, 80, size=(200, 2))
    mx, my = tie_points_to_model(coeffs, q[:, 0], q[:, 1], strict=False)
    covered = ~np.isnan(mx)
    assert covered.mean() > 0.6
    rx, ry = tie_points_to_raster(coeffs, mx[covered], my[covered], strict=False)
    both = ~np.isnan(rx)
    assert both.mean() > 0.8
    np.testing.assert_allclose(rx[both], q[covered, 0][both], rtol=0, atol=1e-9)
    np.testing.assert_allclose(ry[both], q[covered, 1][both], rtol=0, atol=1e-9)


def test_delaunay_properties():
    """Triangulation sanity on random point sets: empty-circumcircle
    property and full hull coverage."""
    rng = np.random.default_rng(17)
    for n in (4, 8, 20, 50):
        pts = rng.uniform(0, 1, size=(n, 2))
        t = Triangulation(pts)
        tris = t.triangle_list()
        hull = t.hull()
        assert len(tris) >= 1
        # CCW orientation of every triangle
        for a, b, c in tris:
            cross = (pts[b, 0] - pts[a, 0]) * (pts[c, 1] - pts[a, 1]) - (
                pts[b, 1] - pts[a, 1]
            ) * (pts[c, 0] - pts[a, 0])
            assert cross > 0
        # Delaunay empty-circumcircle (loose tolerance for f64 predicates)
        for a, b, c in tris:
            ax, ay = pts[a]
            bx, by = pts[b]
            cx, cy = pts[c]
            d = 2 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
            ux = ((ax**2 + ay**2) * (by - cy) + (bx**2 + by**2) * (cy - ay)
                  + (cx**2 + cy**2) * (ay - by)) / d
            uy = ((ax**2 + ay**2) * (cx - bx) + (bx**2 + by**2) * (ax - cx)
                  + (cx**2 + cy**2) * (bx - ax)) / d
            r2 = (ax - ux) ** 2 + (ay - uy) ** 2
            for i in range(n):
                if i in (a, b, c):
                    continue
                d2 = (pts[i, 0] - ux) ** 2 + (pts[i, 1] - uy) ** 2
                assert d2 >= r2 * (1 - 1e-9), (n, (a, b, c), i)
        # hull is convex and CCW
        h = len(hull)
        for i in range(h):
            a, b, c = hull[i], hull[(i + 1) % h], hull[(i + 2) % h]
            cross = (pts[b, 0] - pts[a, 0]) * (pts[c, 1] - pts[a, 1]) - (
                pts[b, 1] - pts[a, 1]
            ) * (pts[c, 0] - pts[a, 0])
            assert cross >= 0


def test_extrapolation_beyond_hull():
    """Points outside the hull are extrapolated by the open wedges (the
    reference's coverage is partial for arbitrary meshes — we require the
    same behavior: substantial extrapolation coverage, no crash in
    non-strict mode, and the austrian goldens pin the exact cases)."""
    rng = np.random.default_rng(5)
    pts = rng.uniform(0, 10, size=(6, 2))
    model = pts * 2.0 + 100.0
    coeffs = np.column_stack(
        [pts[:, 0], pts[:, 1], np.zeros(6), model[:, 0], model[:, 1], np.zeros(6)]
    ).ravel()
    q = rng.uniform(-50, 60, size=(500, 2))
    mx, my = tie_points_to_model(coeffs, q[:, 0], q[:, 1], strict=False)
    assert (~np.isnan(mx)).mean() > 0.5
    # extrapolated points (outside [0,10]^2) resolve too
    outside = (q[:, 0] < 0) | (q[:, 0] > 10) | (q[:, 1] < 0) | (q[:, 1] > 10)
    assert (~np.isnan(mx[outside])).mean() > 0.4
