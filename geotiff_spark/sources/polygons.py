"""Synthetic admin-boundary polygons + the broadcastable cell-cover index.

Polygon set per FIXTURES.md §2: convex + non-convex shapes, shared borders,
one polygon with a hole, one crossing a cell-prefix boundary. All vertices
derive from a fixed seed, committed by value through the generator.

The cell-cover index (polygon_cell_index_pdf) is the engine's broadcast
side: (cell, poly_id, is_boundary). Interior cells skip exact PIP at join
time — mirroring the reference's envelope-prefilter-then-exact-test pattern
(/root/reference/src/coordinate_transform/tie_points.rs:182-195).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from geotiff_spark.functions import pip as pipmod


def _regular_polygon(cx, cy, radius, n_vertices, rotate=0.0, squash=1.0):
    ang = np.linspace(0.0, 2.0 * np.pi, n_vertices, endpoint=False) + rotate
    xs = cx + radius * np.cos(ang)
    ys = cy + radius * squash * np.sin(ang)
    return np.column_stack([xs, ys])


def _star(cx, cy, r_out, r_in, points=5, rotate=0.0):
    ang = np.linspace(0.0, 2.0 * np.pi, 2 * points, endpoint=False) + rotate
    rad = np.where(np.arange(2 * points) % 2 == 0, r_out, r_in)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def synth_polygons() -> list[dict]:
    """~20 deterministic polygons over Europe + hot-city regions.

    Coordinates are (x=lon, y=lat).
    """
    polys: list[dict] = []
    rng = np.random.default_rng(4242)

    centers = [
        ("vienna_box", 16.37, 48.21, 0.8, 4),
        ("zurich_hex", 8.54, 47.38, 0.6, 6),
        ("munich_oct", 11.58, 48.14, 0.7, 8),
        ("berlin_tri", 13.40, 52.52, 0.9, 3),
        ("rome_pent", 12.50, 41.90, 0.8, 5),
        ("madrid_hex", -3.70, 40.42, 1.0, 6),
        ("london_box", -0.13, 51.51, 0.7, 4),
        ("nyc_box", -74.00, 40.71, 0.9, 4),
    ]
    for name, cx, cy, r, nv in centers:
        polys.append(
            {
                "poly_id": f"P_{name}",
                "name": name,
                "ring": _regular_polygon(cx, cy, r, nv, rotate=0.3),
                "holes": [],
            }
        )

    # non-convex star over the alps
    polys.append(
        {
            "poly_id": "P_alps_star",
            "name": "alps_star",
            "ring": _star(11.0, 47.0, 2.5, 1.0, points=7),
            "holes": [],
        }
    )
    # polygon with a hole (donut around Vienna suburbs)
    polys.append(
        {
            "poly_id": "P_vienna_donut",
            "name": "vienna_donut",
            "ring": _regular_polygon(16.37, 48.21, 2.0, 12),
            "holes": [_regular_polygon(16.37, 48.21, 0.9, 8)],
        }
    )
    # shared border pair: two rectangles meeting at lon=10
    polys.append(
        {
            "poly_id": "P_west_block",
            "name": "west_block",
            "ring": np.array([[6.0, 44.0], [10.0, 44.0], [10.0, 50.0], [6.0, 50.0]]),
            "holes": [],
        }
    )
    polys.append(
        {
            "poly_id": "P_east_block",
            "name": "east_block",
            "ring": np.array([[10.0, 44.0], [14.0, 44.0], [14.0, 50.0], [10.0, 50.0]]),
            "holes": [],
        }
    )
    # polygon straddling the lon=0 cell-prefix boundary (child of different
    # top-level quadrants)
    polys.append(
        {
            "poly_id": "P_meridian",
            "name": "meridian_straddle",
            "ring": np.array([[-1.5, 50.0], [1.5, 50.0], [1.5, 53.0], [-1.5, 53.0]]),
            "holes": [],
        }
    )
    # a few random convex blobs for coverage breadth
    for i in range(6):
        cx = float(rng.uniform(-20, 30))
        cy = float(rng.uniform(35, 60))
        polys.append(
            {
                "poly_id": f"P_blob{i}",
                "name": f"blob{i}",
                "ring": _regular_polygon(cx, cy, float(rng.uniform(0.5, 2.0)),
                                         int(rng.integers(3, 9)),
                                         rotate=float(rng.uniform(0, 3))),
                "holes": [],
            }
        )
    return polys


def polygon_cell_index_pdf(res: int) -> pd.DataFrame:
    """Driver-side cell cover for the synthetic polygon set (small dim —
    broadcast side of the spatial join, operators/spatial_join.py)."""
    rows = []
    for p in synth_polygons():
        cell_ids, boundary = pipmod.polygon_cell_cover(p["ring"], p["holes"], res)
        for c, b in zip(cell_ids, boundary):
            rows.append({"cell": int(c), "poly_id": p["poly_id"], "is_boundary": bool(b)})
    return pd.DataFrame(rows, columns=["cell", "poly_id", "is_boundary"])

