"""Tie-points piecewise-linear warp (feature-parity tier).

Reimplements the reference's `tie-points` cargo feature
(/root/reference/src/coordinate_transform/tie_points.rs): Delaunay-
triangulate the raster-space tie points, build twin raster/model face
meshes sharing the topology, classify hull edges as "open" boundaries
bounded by hull-vertex angle-bisector rays (extrapolation beyond the
hull), and transform points by barycentric locate in the source mesh +
interpolate in the target mesh (A15–A19).

The containment tests replicate the reference's exact cross-product sign
checks (including its handling of multi-hull-edge faces, which the
austrian 4-point fixtures exercise) — tie_points.rs:205-229. Instead of
an STR R-tree we test faces in mesh order per batch (meshes here are tiny;
shared edges/rays are sign-disambiguated exactly like the reference, so
the first containing face is unique).

Triangulation is functions/delaunay.py's port of delaunator, the crate the
reference depends on (CCW triangles, CCW hull).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np


# ---------------------------------------------------------------------------
# Face mesh (replicates build_faces, tie_points.rs:43-171)
# ---------------------------------------------------------------------------

def _normalize(v: np.ndarray) -> np.ndarray:
    return v / np.hypot(v[0], v[1])


def _contains_sequence(hull: list[int], seq: tuple[int, int]) -> bool:
    """Cyclic ordered-subsequence test (tie_points.rs:333-347)."""
    n = len(hull)
    for i in range(n):
        if hull[i] == seq[0] and hull[(i + 1) % n] == seq[1]:
            return True
    return False


def build_faces(points: np.ndarray, tris, hull) -> list[dict]:
    pts = np.asarray(points, dtype=np.float64)
    bisectors: dict[int, np.ndarray] = {}
    ln = len(hull)
    for i in range(ln):
        pi, ci, ni = hull[i], hull[(i + 1) % ln], hull[(i + 2) % ln]
        prev_curr = _normalize(pts[ci] - pts[pi])
        next_curr = _normalize(pts[ci] - pts[ni])
        bisectors[ci] = _normalize(prev_curr + next_curr)

    faces = []
    for i1, i2, i3 in tris:
        b12 = _contains_sequence(hull, (i1, i2))
        b23 = _contains_sequence(hull, (i2, i3))
        b31 = _contains_sequence(hull, (i3, i1))
        c1, c2, c3 = pts[i1], pts[i2], pts[i3]

        if b12:
            if b23:
                boundary = (
                    None
                    if b31
                    else ("open", [c3, c1], bisectors[i3], bisectors[i1])
                )
            elif b31:
                boundary = ("open", [c2, c3], bisectors[i2], bisectors[i3])
            else:
                boundary = ("open", [c2, c3, c1], bisectors[i2], bisectors[i1])
        elif b23:
            if b31:
                boundary = ("open", [c1, c2], bisectors[i1], bisectors[i2])
            else:
                boundary = ("open", [c3, c1, c2], bisectors[i3], bisectors[i2])
        elif b31:
            boundary = ("open", [c1, c2, c3], bisectors[i1], bisectors[i3])
        else:
            boundary = ("closed", [c1, c2, c3, c1])

        faces.append({"boundary": boundary, "support": np.array([c1, c2, c3])})
    return faces


def _check(c1, c2, px, py):
    """Half-plane sign test, exact reference semantics: the cross product's
    IEEE sign bit decides (+0.0 counts as inside, −0.0 as outside) —
    tie_points.rs:210-212."""
    cross = (c2[0] - c1[0]) * (py - c1[1]) - (c2[1] - c1[1]) * (px - c1[0])
    return ~np.signbit(cross)


def face_check_edges(face: dict) -> list[tuple[np.ndarray, np.ndarray]]:
    """The (c1, c2) half-plane check pairs face_contains ANDs together —
    exported so SQL oracles can replicate containment edge-for-edge
    (cross((c2-c1), (p-c1)) must be non-negative for every pair)."""
    boundary = face["boundary"]
    if boundary is None:
        return []
    if boundary[0] == "closed":
        coords = boundary[1]
        return [(coords[i], coords[i + 1]) for i in range(3)]
    _, coords, from_dir, to_dir = boundary
    edges = [
        (coords[0] + from_dir, coords[1]),
        (coords[1], coords[1] + to_dir),
    ]
    edges.extend(zip(coords[:-1], coords[1:]))
    return edges


def face_contains(face: dict, px: np.ndarray, py: np.ndarray) -> np.ndarray:
    edges = face_check_edges(face)
    ok = np.ones(np.shape(px), dtype=bool)
    for c1, c2 in edges:
        ok &= _check(c1, c2, px, py)
    return ok


def _locate(face: dict, px, py):
    """Barycentric (u, v) — tie_points.rs:231-238, exact formula."""
    a, b, c = face["support"]
    d = c[0] * (a[1] - b[1]) - b[0] * (a[1] - c[1]) + a[0] * (b[1] - c[1])
    u = -(px * (a[1] - c[1]) - c[0] * (a[1] - py) + a[0] * (c[1] - py)) / d
    v = (px * (a[1] - b[1]) - b[0] * (a[1] - py) + a[0] * (b[1] - py)) / d
    return u, v


def _interpolate(face: dict, u, v):
    """tie_points.rs:240-247, exact formula."""
    a, b, c = face["support"]
    x = -u * a[0] - v * a[0] + a[0] + u * b[0] + v * c[0]
    y = -u * a[1] - v * a[1] + a[1] + u * b[1] + v * c[1]
    return x, y


@lru_cache(maxsize=64)
def _build_meshes(coeffs: tuple[float, ...]):
    from .delaunay import Triangulation

    arr = np.asarray(coeffs, dtype=np.float64).reshape(-1, 6)
    raster_pts = arr[:, 0:2]
    model_pts = arr[:, 3:5]
    t = Triangulation(raster_pts)
    tris, hull = t.triangle_list(), t.hull()
    return build_faces(raster_pts, tris, hull), build_faces(model_pts, tris, hull)


def _transform(source_mesh, target_mesh, x, y, strict: bool = True):
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    out_x = np.full(x.shape, np.nan)
    out_y = np.full(y.shape, np.nan)
    remaining = np.ones(x.shape, dtype=bool)
    for fi, face in enumerate(source_mesh):
        if not remaining.any():
            break
        sel = remaining & face_contains(face, x, y)
        if not sel.any():
            continue
        u, v = _locate(face, x[sel], y[sel])
        tx, ty = _interpolate(target_mesh[fi], u, v)
        out_x[sel] = tx
        out_y[sel] = ty
        remaining &= ~sel
    if remaining.any() and strict:
        # the reference panics here (tie_points.rs:192 .unwrap()): its
        # wedge predicates do not cover the full plane for every mesh
        raise ValueError(
            f"{int(remaining.sum())} points not contained by any face"
        )
    return out_x, out_y


def tie_points_to_model(coeffs, x, y, strict: bool = True):
    raster_mesh, model_mesh = _build_meshes(tuple(np.asarray(coeffs).ravel()))
    return _transform(raster_mesh, model_mesh, x, y, strict)


def tie_points_to_raster(coeffs, x, y, strict: bool = True):
    raster_mesh, model_mesh = _build_meshes(tuple(np.asarray(coeffs).ravel()))
    return _transform(model_mesh, raster_mesh, x, y, strict)
