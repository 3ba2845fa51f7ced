"""Raster tiling: round-trip exactness, pruning stats, raster→vector."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from fixture_paths import reference


def test_tile_roundtrip_bit_identical(spark):
    from geotiff_spark.functions.geotiff import read_geotiff
    from geotiff_spark.operators.tiling import raster_to_tiles, tiles_to_raster
    from geotiff_spark.sources.rasters import read_rasters

    rasters = read_rasters(spark, str(reference()))
    tiles = raster_to_tiles(rasters, tile_size=256).toPandas()
    assert (tiles["tile_w"] <= 256).all() and (tiles["tile_h"] <= 256).all()

    for rid in ["marbles.tif", "zh_dem_25.tif", "merc.tif"]:
        sub = tiles[tiles["raster_id"] == rid]
        rebuilt = tiles_to_raster(sub)
        orig = read_geotiff(reference(rid).read_bytes())["array"]
        np.testing.assert_array_equal(rebuilt, orig)


def test_tile_stats_prune_correctly(spark):
    """Pruning by tile max must never drop a tile containing qualifying
    pixels (min/max index soundness)."""
    from geotiff_spark.functions.geotiff import read_geotiff
    from geotiff_spark.operators.tiling import raster_to_tiles, tile_stats
    from geotiff_spark.sources.rasters import read_rasters

    zh = reference("zh_dem_25.tif")
    rasters = read_rasters(spark, str(zh.parent), glob=zh.name)
    tiles = raster_to_tiles(rasters, tile_size=128)
    stats = tile_stats(tiles).toPandas()
    arr = read_geotiff(zh.read_bytes())["array"][:, :, 0]
    threshold = 600.0
    surviving = stats[stats["v_max"] > threshold]
    # ground truth: tiles that actually contain qualifying pixels
    want = set()
    for ty in range(0, -(-arr.shape[0] // 128)):
        for tx in range(0, -(-arr.shape[1] // 128)):
            block = arr[ty * 128 : (ty + 1) * 128, tx * 128 : (tx + 1) * 128]
            if (block > threshold).any():
                want.add((tx, ty))
    got = {(int(r.tile_x), int(r.tile_y)) for r in surviving.itertuples()}
    assert got == want and len(want) > 0


def test_vectorize_threshold_matches_direct(spark):
    from geotiff_spark.functions import cells as C
    from geotiff_spark.functions import transforms as T
    from geotiff_spark.functions.geotiff import read_geotiff
    from geotiff_spark.operators import tiling
    from geotiff_spark.sources.rasters import read_rasters

    res, thr = tiling.VECTORIZE_RES, tiling.VECTORIZE_THRESHOLD
    zh = reference("zh_dem_25.tif")
    rasters = read_rasters(spark, str(zh.parent), glob=zh.name)
    got = {
        (r.cell, r.n_pixels, r.v_max)
        for r in tiling.vectorize_threshold(rasters).collect()
    }

    rec = read_geotiff(zh.read_bytes())
    vals = rec["array"][:, :, 0].astype(float)
    ys, xs = np.nonzero(vals > thr)
    kind, coeffs = rec["transform"]
    mx, my = T.to_model(kind, coeffs, xs + 0.5, ys + 0.5)
    cellv = C.latlon_to_cell(np.clip(my, -90, 90), np.clip(mx, -180, 180), res)
    want = set()
    for c in np.unique(cellv):
        sel = cellv == c
        want.add((int(c), int(sel.sum()), float(vals[ys[sel], xs[sel]].max())))
    assert got == want and len(want) > 0


def test_pyramid_levels_match_numpy_downsample(spark):
    """Overview pyramid: every level halves dims; level-1 values equal a
    direct numpy 2x2 floor-mean of the source raster."""
    from geotiff_spark.functions.geotiff import read_geotiff
    from geotiff_spark.operators.tiling import (
        TILE_SIZE as T, build_pyramid, raster_to_tiles, tiles_to_raster,
    )
    from geotiff_spark.sources.rasters import read_rasters

    zh = reference("zh_dem_25.tif")
    rasters = read_rasters(spark, str(zh.parent), glob=zh.name)
    pyr = build_pyramid(raster_to_tiles(rasters)).toPandas()
    assert set(pyr["level"]) == {0, 1, 2}

    lvl1 = pyr[pyr["level"] == 1].drop(columns=["level"])
    rebuilt = tiles_to_raster(lvl1)

    arr = read_geotiff(zh.read_bytes())["array"].astype(np.float64)
    h, w, _ = arr.shape
    # replicate the operator's per-tile edge handling: tiles are halved
    # independently, so compare tile-by-tile
    import math
    for ty in range(math.ceil(h / T)):
        for tx in range(math.ceil(w / T)):
            block = arr[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            bh, bw = block.shape[:2]
            ph, pw = math.ceil(bh / 2) * 2, math.ceil(bw / 2) * 2
            pad = np.zeros((ph, pw, 1))
            pad[:bh, :bw] = block
            if ph > bh:
                pad[bh:, :bw] = block[-1:]
            if pw > bw:
                pad[:, bw:] = pad[:, bw - 1:bw]
            want = np.floor(
                pad.reshape(ph // 2, 2, pw // 2, 2, 1).mean(axis=(1, 3))
            ).astype(np.int16)
            # parent-tile placement offsets
            oy = (ty // 2) * T + (ty % 2) * (T // 2)
            ox = (tx // 2) * T + (tx % 2) * (T // 2)
            got = rebuilt[oy : oy + want.shape[0], ox : ox + want.shape[1]]
            np.testing.assert_array_equal(got, want, err_msg=f"tile {tx},{ty}")
