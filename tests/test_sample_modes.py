"""Broadcast and co-partitioned sampling agree with a direct numpy gather.

Built on synthetic GeoTIFFs from tests/tiff_writer (u16, i16 and float32,
each striped and tiled), so it needs no reference fixtures. Points fall
inside, outside, on an unknown raster_id and on a float32 pixel holding
NaN; the last three sample NULL in both modes.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_spark.operators import sample as smp
from tiff_writer import write_tiff

# name -> (dtype, shape, tiled, pixel scale (sx, sy), model origin (x0, y0))
RASTERS = {
    "u16_strip.tif": ("uint16", (37, 45), False, (2.0, 0.5), (100.0, 500.0)),
    "u16_tile.tif": ("uint16", (40, 33), True, (1.0, 1.0), (-50.0, 80.0)),
    "i16_strip.tif": ("int16", (29, 52), False, (0.5, 2.0), (10.0, 10.0)),
    "i16_tile.tif": ("int16", (48, 40), True, (4.0, 4.0), (300.0, -20.0)),
    "f32_strip.tif": ("float32", (33, 31), False, (1.0, 2.0), (0.0, 0.0)),
    "f32_tile.tif": ("float32", (35, 50), True, (0.25, 0.25), (7.0, 9.0)),
}
NAN_PIXELS = [(3, 4), (20, 17)]  # (row, col) set to NaN in float32 rasters


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Write the rasters; return (paths, {name: array})."""
    d = tmp_path_factory.mktemp("sample_modes")
    rng = np.random.RandomState(11)
    arrays, paths = {}, []
    for i, (name, (dtype, shape, tiled, (sx, sy), (x0, y0))) in enumerate(
        sorted(RASTERS.items())
    ):
        if dtype == "float32":
            arr = (rng.randint(-4000, 4000, size=shape) / 8.0).astype(dtype)
            for r, c in NAN_PIXELS:
                arr[r, c] = np.nan
        else:
            lo = -30000 if dtype == "int16" else 0
            arr = rng.randint(lo, 30000, size=shape).astype(dtype)
        data = write_tiff(
            arr, compression=8 if i % 2 else 1,
            tile=(16, 16) if tiled else None,
            rows_per_strip=None if tiled else 7,
            pixel_scale=[sx, sy, 0.0],
            tie_points=[0.0, 0.0, 0.0, x0, y0, 0.0],
        )
        p = d / name
        p.write_bytes(data)
        arrays[name] = arr
        paths.append(str(p))
    return paths, arrays


def _points(arrays):
    """(pid, rid, x, y) rows and the expected value per pid (None = NULL)."""
    rng = np.random.RandomState(5)
    rows, want = [], {}

    def add(rid, col, row):
        _dtype, (h, w), _t, (sx, sy), (x0, y0) = RASTERS.get(
            rid, ("", (0, 0), False, (1.0, 1.0), (0.0, 0.0))
        )
        pid = len(rows)
        rows.append((pid, rid, float(x0 + col * sx), float(y0 - row * sy)))
        if rid in arrays and 0 <= col < w and 0 <= row < h:
            v = float(arrays[rid][int(row), int(col)])
            want[pid] = None if math.isnan(v) else v
        else:
            want[pid] = None

    for rid, (_dtype, (h, w), *_rest) in sorted(RASTERS.items()):
        # inside: pixel-fraction positions that are exact in binary
        for _ in range(40):
            add(rid, rng.randint(0, w) + rng.choice([0.0, 0.25, 0.5, 0.75]),
                rng.randint(0, h) + rng.choice([0.0, 0.25, 0.5, 0.75]))
        # outside on every side
        for col, row in ((-0.5, 1.5), (w + 0.5, 1.5), (1.5, -0.25),
                         (1.5, h + 0.25), (-1e6, -1e6)):
            add(rid, col, row)
        if rid.startswith("f32"):
            for r, c in NAN_PIXELS:
                add(rid, c + 0.5, r + 0.5)
    add("nope.tif", 0.5, 0.5)  # unknown raster_id
    add("nope.tif", 3.5, 2.5)
    return rows, want


def test_sampling_modes_equal_numpy_gather(spark, corpus):
    paths, arrays = corpus
    rows, want = _points(arrays)
    pts = spark.createDataFrame(rows, "pid long, rid string, x double, y double")
    got = {}
    for mode in ("broadcast", "copartition"):
        out = smp.with_raster_sample(
            pts, spark, paths, F.col("rid"), mode=mode
        ).collect()
        got[mode] = {r.pid: r.value for r in out}
        # the point columns pass through untouched
        assert sorted((r.pid, r.rid, r.x, r.y) for r in out) == sorted(rows)
    assert got["broadcast"] == want
    assert got["copartition"] == want
    # every case is present: valid values, NULLs from all three causes
    assert sum(v is not None for v in want.values()) >= 6 * 40
    nulls = [rows[p][1] for p, v in want.items() if v is None]
    assert "nope.tif" in nulls and any(r.startswith("f32") for r in nulls)


@pytest.mark.parametrize("mode", ["broadcast", "copartition"])
def test_duplicate_basename_raises(spark, tmp_path, mode):
    """raster_id is the basename: two files named a.tif in different
    directories must fail loudly in both modes, never pick one."""
    paths = []
    for i, sub in enumerate(("one", "two")):
        d = tmp_path / sub
        d.mkdir()
        arr = np.full((8, 8), 10 * (i + 1), dtype="uint16")
        (d / "a.tif").write_bytes(write_tiff(
            arr, pixel_scale=[1.0, 1.0, 0.0],
            tie_points=[0.0, 0.0, 0.0, 0.0, 8.0, 0.0],
        ))
        paths.append(str(d / "a.tif"))
    pts = spark.createDataFrame(
        [(0, "a.tif", 1.5, 1.5)], "pid long, rid string, x double, y double"
    )
    with pytest.raises(Exception, match=r"duplicate raster basename 'a\.tif'"):
        smp.with_raster_sample(
            pts, spark, paths, F.col("rid"), mode=mode
        ).collect()


def test_tie_point_holes_raise_when_strict(spark, tmp_path):
    """A point no tie-point face covers fails the job under strict=True
    in both modes and samples NULL under strict=False."""
    from geotiff_spark.functions.tie_points import tie_points_to_raster

    rng = np.random.default_rng(5)
    px = rng.uniform(0, 10, size=(6, 2))
    model = px * 2.0 + 100.0
    coeffs = np.column_stack(
        [px[:, 0], px[:, 1], np.zeros(6), model[:, 0], model[:, 1], np.zeros(6)]
    ).ravel()
    q = rng.uniform(0, 200, size=(2000, 2))
    rx, _ry = tie_points_to_raster(coeffs, q[:, 0], q[:, 1], strict=False)
    hole = q[np.isnan(rx)][0]
    arr = np.arange(12 * 12, dtype="uint16").reshape(12, 12)
    (tmp_path / "tp.tif").write_bytes(
        write_tiff(arr, tie_points=[float(c) for c in coeffs])
    )
    paths = [str(tmp_path / "tp.tif")]
    pts = spark.createDataFrame(
        [(0, "tp.tif", float(hole[0]), float(hole[1]))],
        "pid long, rid string, x double, y double",
    )
    for mode in ("broadcast", "copartition"):
        with pytest.raises(Exception, match="not contained by any face"):
            smp.with_raster_sample(
                pts, spark, paths, F.col("rid"), mode=mode
            ).collect()
        out = smp.with_raster_sample(
            pts, spark, paths, F.col("rid"), mode=mode, strict=False
        ).collect()
        assert [r.value for r in out] == [None]
