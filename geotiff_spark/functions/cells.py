"""Hierarchical spatial cell index (H3-style role, quadtree scheme).

The sandbox has no h3/s2 wheel, and the north rule requires *our* tile
assignments to be deterministic and exactly reproducible — not equal to
canonical H3 output. This implements a documented, self-consistent scheme:

- lat/lon → equirectangular unit square: u=(lon+180)/360, v=(lat+90)/180
- at resolution r (0..26): ix=floor(u·2^r), iy=floor(v·2^r), clipped
- cell id (int64): (r << 57) | morton(ix, iy)   — bit-interleaved Z-order
- cell token (string): r base-4 digits, one per level, MSB first.
  **Prefix property**: a child token starts with its parent's token, so
  `substring(token, 1, p)` is a valid coarser cell — this is what the
  engine's adaptive "partition by cell prefix" uses.

Everything is vectorized numpy over arrays (used inside pandas UDFs).

Role in the engine = the reference's R-tree envelope prefilter
(/root/reference/src/coordinate_transform/tie_points.rs:173-195): coarse
candidate generation before an exact geometric test.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M8 = np.uint64(0x00FF00FF00FF00FF)
_M16 = np.uint64(0x0000FFFF0000FFFF)
_M32 = np.uint64(0x00000000FFFFFFFF)


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 into even bit positions."""
    v = v.astype(np.uint64) & _M32
    v = (v | (v << np.uint64(16))) & _M16
    v = (v | (v << np.uint64(8))) & _M8
    v = (v | (v << np.uint64(4))) & _M4
    v = (v | (v << np.uint64(2))) & _M2
    v = (v | (v << np.uint64(1))) & _M1
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits: gather even bit positions into low 32."""
    v = v.astype(np.uint64) & _M1
    v = (v | (v >> np.uint64(1))) & _M2
    v = (v | (v >> np.uint64(2))) & _M4
    v = (v | (v >> np.uint64(4))) & _M8
    v = (v | (v >> np.uint64(8))) & _M16
    v = (v | (v >> np.uint64(16))) & _M32
    return v


def latlon_to_grid(lat, lon, res: int) -> tuple[np.ndarray, np.ndarray]:
    """lat/lon arrays → integer grid coords (ix, iy) at resolution res."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = np.int64(1) << np.int64(res)
    u = (lon + 180.0) / 360.0
    v = (lat + 90.0) / 180.0
    ix = np.clip(np.floor(u * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(v * n).astype(np.int64), 0, n - 1)
    return ix, iy


def grid_to_cell(ix, iy, res: int) -> np.ndarray:
    """Grid coords → int64 cell id: (res << 57) | morton(ix, iy)."""
    ix = np.asarray(ix).astype(np.uint64)
    iy = np.asarray(iy).astype(np.uint64)
    morton = _spread_bits(ix) | (_spread_bits(iy) << np.uint64(1))
    return ((np.uint64(res) << np.uint64(57)) | morton).astype(np.int64)


def cell_to_grid(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell id → (res, ix, iy) arrays."""
    c = np.asarray(cell).astype(np.uint64)
    res = (c >> np.uint64(57)).astype(np.int64)
    morton = c & ((np.uint64(1) << np.uint64(57)) - np.uint64(1))
    ix = _compact_bits(morton).astype(np.int64)
    iy = _compact_bits(morton >> np.uint64(1)).astype(np.int64)
    return res, ix, iy


def latlon_to_cell(lat, lon, res: int) -> np.ndarray:
    ix, iy = latlon_to_grid(lat, lon, res)
    return grid_to_cell(ix, iy, res)


def cell_to_token(cell) -> np.ndarray:
    """int64 cell id → base-4 token string (one digit per level, MSB
    first). Child tokens extend parent tokens — prefix-prunable."""
    res, ix, iy = cell_to_grid(cell)
    if res.ndim and res.size == 0:
        return np.empty(0, dtype="U1")
    res_scalar = int(res[0]) if res.ndim else int(res)
    if res.ndim and not (res == res_scalar).all():
        raise ValueError("mixed resolutions in one token batch")
    morton = _spread_bits(np.asarray(ix).astype(np.uint64)) | (
        _spread_bits(np.asarray(iy).astype(np.uint64)) << np.uint64(1)
    )
    digits = np.empty((res_scalar, morton.size), dtype="U1")
    m = morton.reshape(-1)
    for level in range(res_scalar):
        shift = np.uint64(2 * (res_scalar - 1 - level))
        digits[level] = ((m >> shift) & np.uint64(3)).astype("U1")
    if res_scalar == 0:
        return np.full(morton.reshape(-1).shape, "", dtype="U1")
    out = digits[0]
    for level in range(1, res_scalar):
        out = np.char.add(out, digits[level])
    return out


def parent_cell(cell, parent_res: int) -> np.ndarray:
    """Coarsen a cell id to parent_res (truncate Z-order bits)."""
    res, ix, iy = cell_to_grid(cell)
    shift = res - parent_res
    if (np.asarray(shift) < 0).any():
        raise ValueError("parent_res must be <= cell res")
    return grid_to_cell(ix >> shift, iy >> shift, parent_res)


def cell_bounds(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Cell id → (lat_min, lon_min, lat_max, lon_max) arrays."""
    res, ix, iy = cell_to_grid(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon_min = ix / n * 360.0 - 180.0
    lon_max = (ix + 1) / n * 360.0 - 180.0
    lat_min = iy / n * 180.0 - 90.0
    lat_max = (iy + 1) / n * 180.0 - 90.0
    return lat_min, lon_min, lat_max, lon_max


def ring_cells(cell: int, k: int) -> np.ndarray:
    """All cells at Chebyshev grid distance exactly k from `cell` (k=0 →
    the cell itself). Longitude wraps; latitude clips at the poles. The
    test reference for disk_cells: a k-disk is the union of rings 0..k."""
    res, ix, iy = cell_to_grid(np.asarray([cell]))
    res, ix, iy = int(res[0]), int(ix[0]), int(iy[0])
    n = 1 << res
    if k == 0:
        return np.asarray([cell], dtype=np.int64)
    dx = np.arange(-k, k + 1)
    dxs, dys = np.meshgrid(dx, dx)
    mask = np.maximum(np.abs(dxs), np.abs(dys)) == k
    nx = (ix + dxs[mask]) % n  # wrap longitude
    ny = iy + dys[mask]
    keep = (ny >= 0) & (ny < n)  # clip latitude
    return np.unique(grid_to_cell(nx[keep], ny[keep], res))


def disk_cells(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance <= k (the 'k-disk')."""
    res, ix, iy = cell_to_grid(np.asarray([cell]))
    res, ix, iy = int(res[0]), int(ix[0]), int(iy[0])
    n = 1 << res
    dx = np.arange(-k, k + 1)
    dxs, dys = np.meshgrid(dx, dx)
    nx = (ix + dxs.ravel()) % n
    ny = iy + dys.ravel()
    keep = (ny >= 0) & (ny < n)
    return np.unique(grid_to_cell(nx[keep], ny[keep], res))


def disk_cells_many(cells: np.ndarray, k: int) -> list[np.ndarray]:
    """Vectorized disk_cells over a batch of SAME-resolution cell ids:
    one (2k+1)² offset grid broadcast against the whole batch (the per-row
    form the kNN join's Arrow batches need). Longitude wraps, latitude
    clips — identical semantics to disk_cells."""
    cells = np.asarray(cells, dtype=np.int64)
    if cells.size == 0:
        return []
    res, ix, iy = cell_to_grid(cells)
    r0 = int(res[0])
    if not (res == r0).all():
        raise ValueError("mixed resolutions in one disk_cells_many batch")
    n = 1 << r0
    d = np.arange(-k, k + 1)
    dxs, dys = np.meshgrid(d, d)
    dxs, dys = dxs.ravel(), dys.ravel()
    nx = (ix[:, None] + dxs[None, :]) % n
    ny = iy[:, None] + dys[None, :]
    keep = (ny >= 0) & (ny < n)
    ids = grid_to_cell(nx, np.clip(ny, 0, n - 1), r0)
    return [np.unique(ids[i][keep[i]]) for i in range(cells.size)]


def cell_size_degrees(res: int) -> tuple[float, float]:
    """(lat_extent, lon_extent) of one cell at res, in degrees."""
    n = float(1 << res)
    return 180.0 / n, 360.0 / n
