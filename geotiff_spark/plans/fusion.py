"""Fuse chained pandas map stages into one Python operator per task.

Why: every ``mapInPandas`` in a plan is its own Python runner in every
task, and each stage of a row-local chain such as decode → tiles → stats
ships its whole output across Arrow to the JVM and back into the next
runner although no row ever leaves the partition between the stages.
Fusing saves one Arrow round trip (serialize, copy, deserialize) per
fused stage. It was first measured against larger fixed costs per Python
task, which fusion only spread over fewer operators:
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``,
which made each zipimporter on the worker path re-read the directory of
``pyspark.zip`` (~0.3 s of worker CPU), and the daemon's ``gc.collect()``
after each task walked the ~74k objects of the worker's imports (33-43 ms).
Both are now removed at their root by ``geotiff_spark.worker_daemon`` (see
``session.py``), which keeps Spark's archives off the worker path and
freezes the imports before it forks the workers.

``map_in_pandas(df, fn, schema)`` returns a DataFrame that remembers its
input and its function. When exactly that DataFrame object is handed to
the next ``map_in_pandas`` and is not cached, the input is mapped once
with the composed function instead of stacking a second operator. A
persisted intermediate (``is_cached``) is never fused, so it is still
read from the cache; any other transformation in between returns a new
DataFrame object and ends the chain.

A ``passthrough`` stage yields its input batches unchanged (a row
counter). A chain made only of such stages is column-agnostic, so a
consumer's ``columns`` selection moves below it and the scan reads only
the columns the consumer needs. Selecting ``columns`` from any other
chain's output starts a new operator.

The fused operator is named after its stages (``a>b>c``), so
``explain()`` shows what runs inside it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

MapFn = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]

_CHAIN = "_fusion_chain"


@dataclass(frozen=True)
class _Chain:
    source: DataFrame
    names: tuple[str, ...]
    fns: tuple[MapFn, ...]
    passthrough: bool  # every stage yields its input batches unchanged


def _compose(names: tuple[str, ...], fns: tuple[MapFn, ...]) -> MapFn:
    def fused(batches):
        for fn in fns:
            batches = fn(batches)
        return batches

    fused.__name__ = fused.__qualname__ = ">".join(names)
    return fused


def map_in_pandas(
    df: DataFrame,
    fn: MapFn,
    schema: StructType,
    columns: list[str] | tuple[str, ...] | None = None,
    *,
    name: str | None = None,
    passthrough: bool = False,
) -> DataFrame:
    """``df.select(*columns).mapInPandas(fn, schema)``, fused into the
    operator that produced ``df`` when ``df`` came from this helper and is
    not cached (see the module docstring). ``name`` defaults to the
    function that defines ``fn``; ``passthrough`` declares that ``fn``
    yields its input batches unchanged."""
    # a stage defined inside an operator is named after the operator
    name = name or fn.__qualname__.split(".<locals>.")[0]
    chain: _Chain | None = None if df.is_cached else vars(df).get(_CHAIN)
    if chain is not None and columns and not chain.passthrough:
        chain = None  # a selection of computed columns ends the chain
    if chain is None:
        source = df.select(*columns) if columns else df
        names, fns = (name,), (fn,)
    else:
        source = chain.source.select(*columns) if columns else chain.source
        names, fns = chain.names + (name,), chain.fns + (fn,)
        passthrough = passthrough and chain.passthrough
    out = source.mapInPandas(_compose(names, fns), schema=schema)
    vars(out)[_CHAIN] = _Chain(source, names, fns, passthrough)
    return out
