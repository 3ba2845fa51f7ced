"""Every public top-level function and class of the package is reached
from the package itself, the bench, the driver entry, a script or
perfbench. Code that only tests call is either deleted or named here with
the reason it stays."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "geotiff_spark"

ALLOWED = {
    "geotiff.get_values_at": "mirror of the georust crate's public API",
    "geotiff.get_values_at_pixel": "mirror of the georust crate's public API",
    "cells.cell_bounds": "test reference for latlon_to_cell",
    "cells.parent_cell": "test reference for latlon_to_cell",
    "cells.ring_cells": "test reference for disk_cells",
    "cells.disk_cells": "scalar test reference for disk_cells_many",
    "bpe.bpe_train": "reference trainer that bpe_train_fast reproduces",
    "extract.extract_text_from_html": "JVM form of extract_batch's text rule",
    "extract.with_geotag": "JVM form of extract_batch's geotag rule",
    "tiling.tiles_to_raster": "inverse of raster_to_tiles, for round trips",
    "jpeg.encode_jpeg_multiscan": "generator of the multi-scan test corpus",
    "vp8.decode_webp_lossy_rgb": "RGB decode pinned to libwebp's RGBA",
    "webp_oracle.decode_rgba": "decoder oracle for the WebP tests",
    "webp_oracle.decode_yuv": "decoder oracle for the WebP tests",
}


def _used(node: ast.AST, skip: str | None = None) -> set[str]:
    """Names a tree uses as a Name, an Attribute or an import alias."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out - {skip}


def test_every_public_definition_is_reached():
    defined, used = {}, set()
    for path in PKG.rglob("*.py"):
        for stmt in ast.parse(path.read_text()).body:
            name = getattr(stmt, "name", None)
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                if not name.startswith("_"):
                    defined[name] = f"{path.stem}.{name}"
            used |= _used(stmt, skip=name)
    callers = [REPO / "bench.py", REPO / "__spark_entry__.py",
               *(REPO / "scripts").glob("*.py"),
               *(REPO / "perfbench").glob("*.py")]
    for path in callers:
        used |= _used(ast.parse(path.read_text()))
    unreached = sorted(q for n, q in defined.items()
                       if n not in used and q not in ALLOWED)
    assert not unreached, f"reached only from tests: {unreached}"
    stale = sorted(set(ALLOWED) - set(defined.values()))
    assert not stale, f"allowlisted names no longer defined: {stale}"
