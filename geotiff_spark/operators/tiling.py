"""Raster tiling: dense rasters ↔ fixed-size tile tables.

The distributed layout for raster data at scale: a (raster_id, tile_x,
tile_y) keyed table of fixed-size tiles, partitionable by tile coords and
joinable against cell-indexed page data. Complements the page-side "tile
assignment" (cell encode): this is the raster side of the tiling engine.

- raster_to_tiles: explode decoded rasters into edge-clipped tiles
- tiles_to_raster: exact inverse (tested bit-identical round trip)
- tile_stats: per-tile min/mean/max — the pruning index for value
  predicates (query "tiles with elevation > t" without touching pixels)
- vectorize_threshold: raster→vector — cells whose sampled pixel passes a
  predicate, i.e. the coverage of a value mask in cell space
- focal_stats: 3×3 focal (neighborhood) map algebra via HALO EXCHANGE —
  each tile ships only its 1-pixel border strips to the 8 neighbor tiles,
  so the shuffle moves O(perimeter) bytes per tile, not O(area); the
  focal kernel then runs tile-locally on the assembled padded block,
  one grouped Arrow call (applyInArrow) per tile.
  This is the scale architecture for any stencil op (focal mean/slope/
  hillshade/convolution) on a 100 TB raster table: one shuffle whose
  volume is ~4/tile_size of the data (≈1.6% at 256), never a pixel-level
  self-join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from geotiff_spark.plans.fusion import map_in_pandas

# Tile edge in pixels; focal_stats' default window radius; build_pyramid's
# overview levels; vectorize_threshold's cell resolution and value cut.
# The raster oracles (oracle_raster) read the same values.
TILE_SIZE = 256
FOCAL_RADIUS = 1
PYRAMID_LEVELS = 2
VECTORIZE_RES, VECTORIZE_THRESHOLD = 7, 200.0

TILE_SCHEMA = StructType(
    [
        StructField("raster_id", StringType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("tile_w", IntegerType()),
        StructField("tile_h", IntegerType()),
        StructField("num_samples", IntegerType()),
        StructField("dtype", StringType()),
        StructField("data", BinaryType()),
    ]
)


def raster_to_tiles(rasters: DataFrame, tile_size: int = TILE_SIZE) -> DataFrame:
    """Explode rasters (RASTER_SCHEMA rows) into edge-clipped tiles."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geotiff_spark.functions.tiff import NUMPY_BY_NAME

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["error"] is not None:
                    continue
                dt = NUMPY_BY_NAME[r["dtype"]]
                h, w, spp = r["height"], r["width"], r["num_samples"]
                arr = np.frombuffer(bytes(r["data"]), dtype=dt).reshape(h, w, spp)
                for ty in range(0, -(-h // tile_size)):
                    for tx in range(0, -(-w // tile_size)):
                        block = arr[
                            ty * tile_size : (ty + 1) * tile_size,
                            tx * tile_size : (tx + 1) * tile_size,
                        ]
                        rows.append({
                            "raster_id": r["raster_id"],
                            "tile_x": tx, "tile_y": ty,
                            "tile_w": block.shape[1],
                            "tile_h": block.shape[0],
                            "num_samples": spp,
                            "dtype": r["dtype"],
                            "data": np.ascontiguousarray(block).tobytes(),
                        })
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA.fields])

    return map_in_pandas(rasters, run, TILE_SCHEMA)


def tiles_to_raster(tiles_pdf: pd.DataFrame) -> np.ndarray:
    """Driver/test-side inverse: reassemble one raster's TILE_SIZE tiles."""
    from geotiff_spark.functions.tiff import NUMPY_BY_NAME

    tile_size = TILE_SIZE
    dt = NUMPY_BY_NAME[tiles_pdf["dtype"].iloc[0]]
    spp = int(tiles_pdf["num_samples"].iloc[0])
    w = int(
        (tiles_pdf["tile_x"] * tile_size + tiles_pdf["tile_w"]).max()
    )
    h = int(
        (tiles_pdf["tile_y"] * tile_size + tiles_pdf["tile_h"]).max()
    )
    out = np.zeros((h, w, spp), dtype=dt)
    for _, t in tiles_pdf.iterrows():
        block = np.frombuffer(bytes(t["data"]), dtype=dt).reshape(
            t["tile_h"], t["tile_w"], spp
        )
        y0, x0 = t["tile_y"] * tile_size, t["tile_x"] * tile_size
        out[y0 : y0 + t["tile_h"], x0 : x0 + t["tile_w"]] = block
    return out


def tile_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile value stats — the min/max pruning index for raster
    predicates (band 0)."""
    schema = StructType([
        StructField("raster_id", StringType()),
        StructField("tile_x", IntegerType()),
        StructField("tile_y", IntegerType()),
        StructField("v_min", DoubleType()),
        StructField("v_mean", DoubleType()),
        StructField("v_max", DoubleType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geotiff_spark.functions.tiff import NUMPY_BY_NAME

        for pdf in batches:
            rows = []
            for _, t in pdf.iterrows():
                dt = NUMPY_BY_NAME[t["dtype"]]
                arr = np.frombuffer(bytes(t["data"]), dtype=dt).reshape(
                    t["tile_h"], t["tile_w"], t["num_samples"]
                )[:, :, 0]
                rows.append({
                    "raster_id": t["raster_id"],
                    "tile_x": int(t["tile_x"]), "tile_y": int(t["tile_y"]),
                    "v_min": float(arr.min()), "v_mean": float(arr.mean()),
                    "v_max": float(arr.max()),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return map_in_pandas(tiles, run, schema)


FOCAL_STATS_SCHEMA = StructType([
    StructField("raster_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    StructField("f_sum", LongType()),
    StructField("f_cnt", LongType()),
    StructField("f_min", LongType()),
    StructField("f_max", LongType()),
])

_HALO_SCHEMA = StructType([
    StructField("raster_id", StringType()),
    StructField("tile_x", IntegerType()),
    StructField("tile_y", IntegerType()),
    # fragment origin in GLOBAL pixel coordinates — the assembler places
    # every fragment by subtracting its own frame origin, so edge-clipped
    # tiles and any radius fall out of the same arithmetic
    StructField("gx0", LongType()),
    StructField("gy0", LongType()),
    StructField("is_center", IntegerType()),
    StructField("frag_w", IntegerType()),
    StructField("frag_h", IntegerType()),
    StructField("dtype", StringType()),
    StructField("data", BinaryType()),
])


def focal_stats(
    tiles: DataFrame, radius: int = FOCAL_RADIUS, tile_size: int = TILE_SIZE
) -> DataFrame:
    """(2r+1)×(2r+1) focal-SUM stats per tile, computed with halo
    exchange (r = `radius`, default the classic 3×3).

    Per pixel, the focal sum/count aggregate the in-bounds window of
    band 0 (raster borders average fewer — exactly like the pixel-table
    SQL oracle's join semantics). Output per tile: SUM/MIN/MAX of the
    per-pixel focal sums plus the total neighbor count — all int64-exact
    for integer-dtype rasters, so the driver gate hash-matches an exact
    DuckDB oracle (oracle_raster.focal_stats_sql).

    Plan shape (the part that matters at 100 TB):
      tiles --mapInPandas--> center row + ≤8 border fragments (r px wide,
            addressed by GLOBAL pixel coords)
            --groupBy(raster, tx, ty) applyInArrow--> padded frame
            --numpy stencil--> per-tile stats.
    The grouped stage gets pyarrow Tables, not pandas frames: with ≤9
    fragments per group, per-group pandas handling outweighs the stencil.
    One shuffle, whose payload is the tile data plus ~4·r·tile_size·px
    of halo per tile (≈1.6% overhead at 256, r=1) — versus the naive
    pixel self-join, which shuffles (2r+1)² × the full pixel table.
    Tiles of one raster spread across executors freely; no raster-level
    hotspot. Requires radius ≤ tile_size so one-hop neighbors cover the
    window (interior tiles are full-size; only the last row/column tile
    may be smaller, and its preceding neighbor is full-size).
    """
    r = int(radius)
    if not 1 <= r <= tile_size:
        raise ValueError(f"radius must be in [1, tile_size], got {r}")

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geotiff_spark.functions.tiff import NUMPY_BY_NAME

        cols = [f.name for f in _HALO_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for _, t in pdf.iterrows():
                dt = NUMPY_BY_NAME[t["dtype"]]
                th, tw = int(t["tile_h"]), int(t["tile_w"])
                arr = np.frombuffer(bytes(t["data"]), dtype=dt).reshape(
                    th, tw, int(t["num_samples"])
                )[:, :, 0]
                tx, ty = int(t["tile_x"]), int(t["tile_y"])
                gx, gy = tx * tile_size, ty * tile_size
                rows.append({
                    "raster_id": t["raster_id"], "tile_x": tx, "tile_y": ty,
                    "gx0": gx, "gy0": gy, "is_center": 1,
                    "frag_w": tw, "frag_h": th, "dtype": t["dtype"],
                    "data": np.ascontiguousarray(arr).tobytes(),
                })
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if dx == 0 and dy == 0:
                            continue
                        ntx, nty = tx + dx, ty + dy
                        if ntx < 0 or nty < 0:
                            continue
                        # overlap of this tile with the neighbor's halo
                        # frame [ntx·ts − r, (ntx+1)·ts + r) (the upper
                        # bound is generous for edge tiles; the assembler
                        # clips to its actual frame)
                        xs0 = max(gx, ntx * tile_size - r)
                        xs1 = min(gx + tw, (ntx + 1) * tile_size + r)
                        ys0 = max(gy, nty * tile_size - r)
                        ys1 = min(gy + th, (nty + 1) * tile_size + r)
                        if xs1 <= xs0 or ys1 <= ys0:
                            continue
                        frag = np.ascontiguousarray(
                            arr[ys0 - gy : ys1 - gy, xs0 - gx : xs1 - gx]
                        )
                        rows.append({
                            "raster_id": t["raster_id"],
                            "tile_x": ntx, "tile_y": nty,
                            "gx0": xs0, "gy0": ys0, "is_center": 0,
                            "frag_w": frag.shape[1], "frag_h": frag.shape[0],
                            "dtype": t["dtype"],
                            "data": frag.tobytes(),
                        })
            yield pd.DataFrame(rows, columns=cols)

    out_schema = to_arrow_schema(FOCAL_STATS_SCHEMA)

    def assemble(key: tuple, frags: pa.Table) -> pa.Table:
        from geotiff_spark.functions.tiff import NUMPY_BY_NAME

        rid, tx, ty = (k.as_py() for k in key)
        centre = np.flatnonzero(frags.column("is_center").to_numpy() == 1)
        if len(centre) == 0:  # halo addressed past the raster edge
            return out_schema.empty_table()
        c = int(centre[0])
        dt = NUMPY_BY_NAME[frags.column("dtype")[c].as_py()]
        fws = frags.column("frag_w").to_pylist()
        fhs = frags.column("frag_h").to_pylist()
        th, tw = fhs[c], fws[c]
        ox, oy = tx * tile_size - r, ty * tile_size - r
        frame_h, frame_w = th + 2 * r, tw + 2 * r
        padded = np.zeros((frame_h, frame_w), dtype=np.int64)
        mask = np.zeros((frame_h, frame_w), dtype=np.int64)
        for fw, fh, gx0, gy0, buf in zip(
            fws, fhs, frags.column("gx0").to_pylist(),
            frags.column("gy0").to_pylist(), frags.column("data").to_pylist(),
        ):
            frag = np.frombuffer(buf, dtype=dt).reshape(fh, fw)
            x0, y0 = gx0 - ox, gy0 - oy
            fh, fw = min(fh, frame_h - y0), min(fw, frame_w - x0)
            if fh <= 0 or fw <= 0:
                continue
            padded[y0 : y0 + fh, x0 : x0 + fw] = frag[:fh, :fw]
            mask[y0 : y0 + fh, x0 : x0 + fw] = 1
        fsum = np.zeros((th, tw), dtype=np.int64)
        fcnt = np.zeros((th, tw), dtype=np.int64)
        for u in range(2 * r + 1):
            for v in range(2 * r + 1):
                fsum += padded[u : u + th, v : v + tw]
                fcnt += mask[u : u + th, v : v + tw]
        return pa.Table.from_pylist([{
            "raster_id": rid, "tile_x": tx, "tile_y": ty,
            "f_sum": int(fsum.sum()), "f_cnt": int(fcnt.sum()),
            "f_min": int(fsum.min()), "f_max": int(fsum.max()),
        }], schema=out_schema)

    frags = map_in_pandas(tiles, emit, _HALO_SCHEMA)
    return (
        frags.groupBy("raster_id", "tile_x", "tile_y")
        .applyInArrow(assemble, schema=FOCAL_STATS_SCHEMA)
    )


def build_pyramid(tiles: DataFrame) -> DataFrame:
    """Tile pyramid (overview levels): level k+1 halves level k by 2×2
    mean (integer floor-mean for integer dtypes — deterministic).

    Level-0 TILE_SIZE tiles in → levels 0..PYRAMID_LEVELS out with a
    `level` column. Each level derives from the previous by one grouped
    shuffle on the parent tile key: 4 child tiles (2×2 block) aggregate
    into one parent tile — a logarithmic number of shrinking jobs,
    classic map-reduce pyramid.
    """
    from pyspark.sql.types import IntegerType

    tile_size = TILE_SIZE
    levelled = tiles.withColumn("level", F.lit(0))
    out = levelled
    schema = StructType(
        [StructField("level", IntegerType())] + TILE_SCHEMA.fields
    )

    def downsample(key, pdf):
        from geotiff_spark.functions.tiff import NUMPY_BY_NAME

        rid, lvl, px, py = key
        dt = NUMPY_BY_NAME[pdf["dtype"].iloc[0]]
        spp = int(pdf["num_samples"].iloc[0])
        # assemble the up-to-2x2 parent block from child tiles
        full = np.zeros((2 * tile_size, 2 * tile_size, spp), dtype=dt)
        max_y = max_x = 0
        for _, t in pdf.iterrows():
            block = np.frombuffer(bytes(t["data"]), dtype=dt).reshape(
                t["tile_h"], t["tile_w"], spp
            )
            oy = (int(t["tile_y"]) % 2) * tile_size
            ox = (int(t["tile_x"]) % 2) * tile_size
            full[oy : oy + t["tile_h"], ox : ox + t["tile_w"]] = block
            max_y = max(max_y, oy + int(t["tile_h"]))
            max_x = max(max_x, ox + int(t["tile_w"]))
        full = full[:max_y, :max_x]
        # pad odd dims so the 2x2 mean is defined at edges
        ph, pw = -(-full.shape[0] // 2) * 2, -(-full.shape[1] // 2) * 2
        if (ph, pw) != full.shape[:2]:
            padded = np.zeros((ph, pw, spp), dtype=dt)
            padded[: full.shape[0], : full.shape[1]] = full
            # replicate edge rows/cols so padding doesn't bias the mean
            if ph > full.shape[0]:
                padded[full.shape[0]:, : full.shape[1]] = full[-1:]
            if pw > full.shape[1]:
                padded[:, full.shape[1]:] = padded[:, full.shape[1] - 1 : full.shape[1]]
            full = padded
        down = (
            full.reshape(ph // 2, 2, pw // 2, 2, spp)
            .astype(np.float64)
            .mean(axis=(1, 3))
        )
        if np.issubdtype(dt, np.integer):
            down = np.floor(down)
        down = down.astype(dt)
        return pd.DataFrame([{
            "level": int(lvl) + 1,
            "raster_id": rid,
            "tile_x": int(px), "tile_y": int(py),
            "tile_w": down.shape[1], "tile_h": down.shape[0],
            "num_samples": spp,
            "dtype": pdf["dtype"].iloc[0],
            "data": np.ascontiguousarray(down).tobytes(),
        }])

    current = levelled
    for _lvl in range(PYRAMID_LEVELS):
        parents = (
            current.withColumn("px", (F.col("tile_x") / 2).cast("int"))
            .withColumn("py", (F.col("tile_y") / 2).cast("int"))
            .groupBy("raster_id", "level", "px", "py")
            .applyInPandas(downsample, schema=schema)
        )
        out = out.unionByName(parents)
        current = parents
    return out


def vectorize_threshold(rasters: DataFrame) -> DataFrame:
    """Raster → vector: distinct cells (at VECTORIZE_RES) whose covering
    band-0 pixel value exceeds VECTORIZE_THRESHOLD — the cell-space
    footprint of a value mask. Each pixel center is transformed to model
    space, encoded to a cell; output (raster_id, cell, n_pixels, v_max)."""
    res, threshold = VECTORIZE_RES, VECTORIZE_THRESHOLD
    schema = StructType([
        StructField("raster_id", StringType()),
        StructField("cell", LongType()),
        StructField("n_pixels", LongType()),
        StructField("v_max", DoubleType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geotiff_spark.functions import cells as cellmod
        from geotiff_spark.functions import transforms as tf
        from geotiff_spark.functions.tiff import NUMPY_BY_NAME

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["error"] is not None:
                    continue
                dt = NUMPY_BY_NAME[r["dtype"]]
                h, w, spp = r["height"], r["width"], r["num_samples"]
                arr = np.frombuffer(bytes(r["data"]), dtype=dt).reshape(h, w, spp)
                vals = arr[:, :, 0].astype(np.float64)
                ys, xs = np.nonzero(vals > threshold)
                if len(ys) == 0:
                    continue
                # pixel centers -> model space (lon=x, lat=y convention)
                t = r["transform"]
                mx, my = tf.to_model(
                    t["kind"], list(t["coeffs"]),
                    xs.astype(np.float64) + 0.5, ys.astype(np.float64) + 0.5,
                )
                cell = cellmod.latlon_to_cell(
                    np.clip(my, -90, 90), np.clip(mx, -180, 180), res
                )
                v = vals[ys, xs]
                order = np.argsort(cell, kind="stable")
                cvals, starts = np.unique(cell[order], return_index=True)
                bounds = np.append(starts, len(order))
                for i, c in enumerate(cvals):
                    sel = order[bounds[i]:bounds[i + 1]]
                    rows.append({
                        "raster_id": r["raster_id"], "cell": int(c),
                        "n_pixels": int(len(sel)),
                        "v_max": float(v[sel].max()),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return map_in_pandas(rasters, run, schema)
