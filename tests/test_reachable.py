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
    "salting.salted_join.n_salt":
        "plans/salting.py is to be replaced by per-raster replication",
    "salting.salted_join.hot":
        "plans/salting.py is to be replaced by per-raster replication",
    "salting.salted_join.salt_source":
        "plans/salting.py is to be replaced by per-raster replication",
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
    default value."""
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    dflt = {p: _literal(d) or ast.unparse(d)
            for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    dflt |= {x.arg: _literal(d) or ast.unparse(d)
             for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    return pos, dflt


def _literal(node: ast.AST, immutable: bool = False) -> str | None:
    """The value of an expression built from literals alone (`4`,
    `1 << 22`, `("url",)`, `[1, 2]`), as its repr; None for anything
    else, and with `immutable` for a list, dict or set too (one bound to
    a name may be filled before it is passed)."""
    if any(isinstance(n, (ast.Name, ast.Attribute, ast.Call, ast.Lambda))
           for n in ast.walk(node)):
        return None
    try:
        value = eval(compile(ast.Expression(node), "<arg>", "eval"),
                     {"__builtins__": {}})
        if immutable:
            hash(value)
    except Exception:
        return None
    return repr(value)


def _bindings(body: list[ast.stmt]) -> dict[str, str | None]:
    """Names a scope binds: to a literal's value when it binds the name
    once, to `x = <literal>` or `x, y = <literal>, <literal>`; to None
    when it binds it any other way (a parameter, a loop target, an
    import, a second assignment). Nested defs are scopes of their own."""
    out: dict[str, str | None] = {}

    def bind(name: str, value: ast.AST | None) -> None:
        out[name] = (None if name in out or value is None
                     else _literal(value, immutable=True))

    todo = list(body)
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)):
            bind(n.name, None)
            continue
        if isinstance(n, ast.Assign):
            for t in n.targets:
                if isinstance(t, ast.Name):
                    bind(t.id, n.value)
                elif (isinstance(t, ast.Tuple) and isinstance(n.value, ast.Tuple)
                      and len(t.elts) == len(n.value.elts)):
                    for te, ve in zip(t.elts, n.value.elts):
                        if isinstance(te, ast.Name):
                            bind(te.id, ve)
                        else:
                            todo.append(te)
                else:
                    todo.append(t)
            todo.append(n.value)
            continue
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            bind(n.id, None)
        elif isinstance(n, ast.alias):
            bind((n.asname or n.name).split(".")[0], None)
        elif isinstance(n, ast.arg):
            bind(n.arg, None)
        todo.extend(ast.iter_child_nodes(n))
    return out


def _calls(tree: ast.Module):
    """(call, resolve) for every call in a module, where resolve maps an
    argument to its literal value: a literal itself, or a name the
    innermost scope that binds it binds to one literal."""
    def walk(node, scopes):
        for child in ast.iter_child_nodes(node):
            inner = scopes
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.Lambda)):
                body = child.body if isinstance(child.body, list) else []
                inner = [_bindings([*child.args.posonlyargs, *child.args.args,
                                    *child.args.kwonlyargs, *body])
                         | {a.arg: None for a in (child.args.vararg,
                                                  child.args.kwarg) if a},
                         *scopes]
            if isinstance(child, ast.Call):
                yield child, inner
            yield from walk(child, inner)

    def resolve(arg: ast.AST, scopes) -> str | None:
        if isinstance(arg, ast.Name):
            for scope in scopes:
                if arg.id in scope:
                    return scope[arg.id]
            return None
        return _literal(arg)

    for call, scopes in walk(tree, [_bindings(tree.body)]):
        yield call, lambda arg, s=scopes: resolve(arg, s)


def test_every_defaulted_parameter_has_a_second_value():
    """With one value in use, a parameter is a constant. A call that
    leaves a parameter out passes its default; an argument that is a
    literal, or a name bound to one literal in its function or module,
    passes that value; any other argument may pass anything. Calls match
    by name; perfbench naming a parameter keeps it, and a *args/**kwargs
    call uses every parameter."""
    funcs = {}
    pkg = _trees(PKG.rglob("*.py"))
    for path, tree in pkg:
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_"):
                funcs[fn.name] = (f"{path.stem}.{fn.name}", *_defaults(fn))
    live, values = set(), {}
    for perf, trees in ((False, pkg + _trees(CALLERS)),
                        (True, _trees(PERFBENCH))):
        for call, resolve in (c for _, t in trees for c in _calls(t)):
            name = getattr(call.func, "id", getattr(call.func, "attr", None))
            if name not in funcs:
                continue
            q, pos, dflt = funcs[name]
            passed = dict(zip(pos, call.args))
            passed |= {k.arg: k.value for k in call.keywords}
            if None in passed or any(isinstance(a, ast.Starred)
                                     for a in call.args):
                live |= {f"{q}.{p}" for p in dflt}
                continue
            for p, d in dflt.items():
                v = resolve(passed[p]) if p in passed else d
                if perf and p in passed or v is None:
                    live.add(f"{q}.{p}")
                else:
                    values.setdefault(f"{q}.{p}", set()).add(v)
    live |= {p for p, vs in values.items() if len(vs) > 1}
    params = {f"{q}.{p}" for q, _, dflt in funcs.values() for p in dflt}
    dead = sorted(params - live - set(ALLOWED_PARAMS))
    assert not dead, f"one value in use, make it a constant: {dead}"
    stale = sorted(set(ALLOWED_PARAMS) - params)
    assert not stale, f"allowlisted parameters no longer defaulted: {stale}"
