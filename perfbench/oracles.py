"""Expected answers computed without the timed path: numpy for geometry,
embeddings and rasters. Each is computed once per (workload, seed, size)
and cached as JSON under the work dir.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re

import numpy as np

import inputs

TILE = 128
GEOTAG = re.compile(r"geo: (-?\d+\.\d+),(-?\d+\.\d+)$")


def cached(path: str, compute) -> dict:
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


def matches(got, want, rel: float = 1e-9) -> bool:
    """Structural equality; floats within a relative tolerance (sums taken
    in another order differ in the last digits)."""
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(matches(got[k], want[k], rel) for k in want))
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(matches(g, w, rel) for g, w in zip(got, want)))
    if isinstance(want, float) or isinstance(got, float):
        return math.isclose(float(got), float(want), rel_tol=rel,
                            abs_tol=1e-9)
    return got == want


# ---- geometry ----------------------------------------------------------------

def ray_cast(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd rule: a point is inside when a ray towards +x crosses the
    ring an odd number of times."""
    inside = np.zeros(px.shape, dtype=bool)
    xs, ys = ring[:, 0], ring[:, 1]
    for i in range(len(ring)):
        x1, y1 = xs[i], ys[i]
        x2, y2 = xs[i - 1], ys[i - 1]
        straddle = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            cross = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (px < cross)
    return inside


def polygon_counts(texts: np.ndarray) -> dict[str, int]:
    """Pages per polygon, from the geotags in the generated text."""
    from geotiff_spark.sources.polygons import synth_polygons

    lat, lon = [], []
    for t in texts:
        m = GEOTAG.search(t)
        if m:
            lat.append(float(m.group(1)))
            lon.append(float(m.group(2)))
    lat, lon = np.asarray(lat), np.asarray(lon)
    counts = {}
    for p in synth_polygons():
        ring = np.asarray(p["ring"], dtype=np.float64)
        inside = ray_cast(lon, lat, ring)
        for hole in p["holes"]:
            inside &= ~ray_cast(lon, lat, np.asarray(hole, dtype=np.float64))
        if inside.any():
            counts[p["poly_id"]] = int(inside.sum())
    return counts


def near_dup_pairs(vecs: np.ndarray) -> list[list[int]]:
    """All pairs at cosine >= NEAR_DUP_COS, by brute force."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    a, b = np.nonzero(np.triu(cos >= inputs.NEAR_DUP_COS, k=1))
    return [[int(i), int(j)] for i, j in zip(a, b)]


# ---- rasters -----------------------------------------------------------------

def focal_sums(band: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-pixel 3x3 in-bounds window sum and window size."""
    h, w = band.shape
    pad = np.zeros((h + 2, w + 2), dtype=np.int64)
    mask = np.zeros((h + 2, w + 2), dtype=np.int64)
    pad[1:-1, 1:-1] = band
    mask[1:-1, 1:-1] = 1
    fs = np.zeros((h, w), dtype=np.int64)
    fc = np.zeros((h, w), dtype=np.int64)
    for u in range(3):
        for v in range(3):
            fs += pad[u:u + h, v:v + w]
            fc += mask[u:u + h, v:v + w]
    return fs, fc


def raster_expected(seed: int, meta: dict) -> dict:
    md5, stats, focal, px = {}, {}, {}, 0
    arrays = {}
    for spec in meta["specs"]:
        arr = inputs.raster_array(seed, spec)
        arrays[spec.name] = arr
        px += arr.size
        md5[spec.name] = hashlib.md5(arr.tobytes()).hexdigest()
        band = arr[:, :, 0].astype(np.int64)
        fs, fc = focal_sums(band)
        for ty in range(-(-spec.height // TILE)):
            for tx in range(-(-spec.width // TILE)):
                win = (slice(ty * TILE, (ty + 1) * TILE),
                       slice(tx * TILE, (tx + 1) * TILE))
                t, s = band[win], fs[win]
                key = f"{spec.name}/{tx}/{ty}"
                stats[key] = [float(t.min()), float(t.mean()), float(t.max())]
                focal[key] = [int(s.sum()), int(fc[win].sum()), int(s.min()),
                              int(s.max())]
    pts = meta["points"]
    n_valid, total = 0, 0.0
    for i, spec in enumerate(meta["specs"]):
        sel = pts["which"] == i
        rx = (pts["x"][sel] - spec.x0) / inputs.PIXEL_SIZE
        ry = (pts["y"][sel] - spec.y0) / -inputs.PIXEL_SIZE
        ok = (rx >= 0) & (rx < spec.width) & (ry >= 0) & (ry < spec.height)
        vals = arrays[spec.name][ry[ok].astype(np.int64),
                                 rx[ok].astype(np.int64), 0]
        n_valid += int(ok.sum())
        total += float(vals.astype(np.float64).sum())
    sample = {"n": len(pts["x"]), "valid": n_valid, "sum": total}
    return {"read_rasters": md5,
            "tile_stats": stats, "focal_stats": focal,
            "sample_broadcast": sample, "sample_copartition": sample,
            "pixels": px}
