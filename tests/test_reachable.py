"""Every public top-level function and class of the package is reached
from the package itself, the bench, the driver entry, a script or
perfbench, and every defaulted parameter of a public function takes a
second value there. Code and parameters that only tests use are either
deleted or named here with the reason they stay."""

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
    "webp_oracle.decode_yuv": "decoder oracle for the WebP tests",
}

# module.function.parameter -> why a value only tests pass keeps it
ALLOWED_PARAMS = {
    "geotiff.get_values_at.sample": "mirror of the georust crate's public API",
    "geotiff.get_values_at_pixel.sample": "mirror of the georust crate's public API",
    "dedup.minhash_lsh_pairs.max_inline_bucket":
        "forces the streamed big-bucket arm at test scale",
    "similarity.lsh_near_dup_pairs.max_local_bucket":
        "forces the streamed big-bucket arm at test scale",
    "partitioning.deep_histogram.driver_budget":
        "forces the depth back-off at test scale",
    "dedup.connected_components.max_iters": "drives the non-convergence error",
    "tie_points.tie_points_to_model.strict": "maps coverage holes to NaN",
    "knn.knn_join.res": "fine cells keep the 120k-query test small",
    "pages.synth_pages.partitions": "fixes the partitioning tests pin",
    "gif.encode_gif.delays": "distinct delays pin decode_gif's delay parse",
    "jpeg.encode_jpeg_multiscan.quality": "spans the multi-scan test corpus",
    "jpeg.encode_jpeg_multiscan.subsampling":
        "spans the multi-scan test corpus",
}
CALLERS = [REPO / "bench.py", REPO / "__spark_entry__.py",
           *(REPO / "scripts").glob("*.py")]
PERFBENCH = [*(REPO / "perfbench").glob("*.py")]


def _trees(paths) -> list[tuple[Path, ast.Module]]:
    return [(p, ast.parse(p.read_text())) for p in paths]


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
    for path, tree in _trees(PKG.rglob("*.py")):
        for stmt in tree.body:
            name = getattr(stmt, "name", None)
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                if not name.startswith("_"):
                    defined[name] = f"{path.stem}.{name}"
            used |= _used(stmt, skip=name)
    for _, tree in _trees(CALLERS + PERFBENCH):
        used |= _used(tree)
    unreached = sorted(q for n, q in defined.items()
                       if n not in used and q not in ALLOWED)
    assert not unreached, f"reached only from tests: {unreached}"
    stale = sorted(set(ALLOWED) - set(defined.values()))
    assert not stale, f"allowlisted names no longer defined: {stale}"


def _defaults(fn: ast.FunctionDef) -> tuple[list[str], dict[str, str]]:
    """A def's positional parameter names and its defaulted parameters'
    default source."""
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    dflt = dict(zip(pos[len(pos) - len(a.defaults):],
                    map(ast.unparse, a.defaults)))
    dflt |= {x.arg: ast.unparse(d)
             for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    return pos, dflt


def test_every_defaulted_parameter_has_a_second_value():
    """With one value in use, a parameter is a constant. Calls match by
    name; perfbench naming a parameter keeps it, and a *args/**kwargs call
    uses every parameter."""
    funcs = {}
    pkg = _trees(PKG.rglob("*.py"))
    for path, tree in pkg:
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_"):
                funcs[fn.name] = (f"{path.stem}.{fn.name}", *_defaults(fn))
    live = set()
    for perf, trees in ((False, pkg + _trees(CALLERS)),
                        (True, _trees(PERFBENCH))):
        for call in (n for _, t in trees for n in ast.walk(t)
                     if isinstance(n, ast.Call)):
            name = getattr(call.func, "id", getattr(call.func, "attr", None))
            if name not in funcs:
                continue
            q, pos, dflt = funcs[name]
            passed = dict(zip(pos, call.args))
            passed |= {k.arg: k.value for k in call.keywords}
            if None in passed or any(isinstance(a, ast.Starred)
                                     for a in call.args):
                passed = dict.fromkeys(dflt)
            live |= {f"{q}.{p}" for p, v in passed.items() if p in dflt
                     and (perf or v is None or ast.unparse(v) != dflt[p])}
    params = {f"{q}.{p}" for q, _, dflt in funcs.values() for p in dflt}
    dead = sorted(params - live - set(ALLOWED_PARAMS))
    assert not dead, f"one value in use, make it a constant: {dead}"
    stale = sorted(set(ALLOWED_PARAMS) - params)
    assert not stale, f"allowlisted parameters no longer defaulted: {stale}"
