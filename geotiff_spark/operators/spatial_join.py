"""Point-in-polygon spatial join: a map-side lookup in a broadcast cell
index + exact ray-casting refinement on boundary cells only.

Plan shape (scale rationale, SURVEY.md §4, measurements PLANS.md §1):

    points → ONE mapInPandas stage per task:
        cell encode → hash lookup in the broadcast dict
        cell → [(poly_id, is_boundary)]
        → interior hits pass through untouched
        → boundary hits run the exact vectorized ray-cast

The cell lookup is the coarse prefilter (reference analog: R-tree
envelope search, /root/reference/src/coordinate_transform/tie_points.rs:188-192);
ray casting is the exact test (analog of Face::contains half-plane tests,
:205-229). The polygon index and geometry are small, so they ride
`SparkContext.broadcast` dicts, one copy per worker. The 10^12-row points
side is never shuffled and no join node is planned, so AQE skew handling
does not apply. Exactness: interior cells are proven inside at index build
time, so skipping the ray-cast there cannot change results.

Two point sources share the one stage (`_pip_stage`): `fused_pages_pip`
mines points from crawl html, `pip_join` reads `lat`/`lon` columns.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from geotiff_spark.functions import cells as cellmod
from geotiff_spark.functions import pip as pipmod
from geotiff_spark.plans.fusion import map_in_pandas
from geotiff_spark.sources import polygons as polysrc

Points = Callable[[pd.DataFrame], tuple[np.ndarray, np.ndarray]]


def _polygon_lookup() -> dict[str, tuple[np.ndarray, list[np.ndarray]]]:
    return {
        p["poly_id"]: (np.asarray(p["ring"], dtype=np.float64),
                       [np.asarray(h, dtype=np.float64) for h in p["holes"]])
        for p in polysrc.synth_polygons()
    }


def _pip_stage(
    spark: SparkSession,
    df: DataFrame,
    res: int,
    carry: tuple[str, ...],
    columns: tuple[str, ...],
    points: Points,
    name: str,
) -> DataFrame:
    """The one PIP join loop. `points(pdf)` maps a batch of `columns` to
    float64 (lat, lon) arrays, NaN where a row has no point; such rows
    match nothing.

    Output: (carry..., lat, lon, cell, poly_id) — one row per (input
    row, containing polygon).
    """
    cell_index: dict[int, list[tuple[str, bool]]] = {}
    idx_pdf = polysrc.polygon_cell_index_pdf(res)
    for cell, pid, bnd in idx_pdf.itertuples(index=False):
        cell_index.setdefault(int(cell), []).append((pid, bool(bnd)))
    bc_index = spark.sparkContext.broadcast(cell_index)
    bc_polys = spark.sparkContext.broadcast(_polygon_lookup())

    out_schema = StructType(
        [df.schema[c] for c in carry]
        + [
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("cell", LongType()),
            StructField("poly_id", StringType()),
        ]
    )

    def run(batches):
        index = bc_index.value
        polys = bc_polys.value
        for pdf in batches:
            lats, lons = points(pdf)
            ok = ~(np.isnan(lats) | np.isnan(lons))
            if not ok.any():
                continue
            cells = np.zeros(len(pdf), dtype=np.int64)
            cells[ok] = cellmod.latlon_to_cell(lats[ok], lons[ok], res)

            # map-side join: candidates grouped per cell, one vectorized
            # ray-cast per (cell, polygon) group
            out_rows: list[int] = []
            out_pids: list[str] = []
            order = np.argsort(cells, kind="stable")
            order = order[ok[order]]
            cvals, starts = np.unique(cells[order], return_index=True)
            bounds = np.append(starts, len(order))
            for ci, cval in enumerate(cvals):
                cands = index.get(int(cval))
                if not cands:
                    continue
                rows = order[bounds[ci]:bounds[ci + 1]]
                for pid, is_boundary in cands:
                    if is_boundary:
                        ring, holes = polys[pid]
                        inside = pipmod.points_in_polygon(
                            lons[rows], lats[rows], ring, holes
                        )
                        hit_rows = rows[inside]
                    else:
                        hit_rows = rows
                    out_rows.extend(hit_rows.tolist())
                    out_pids.extend([pid] * len(hit_rows))
            sel = np.asarray(out_rows, dtype=np.int64)
            out = pdf.iloc[sel][list(carry)].reset_index(drop=True)
            out["lat"] = lats[sel]
            out["lon"] = lons[sel]
            out["cell"] = cells[sel]
            out["poly_id"] = out_pids
            yield out

    return map_in_pandas(df, run, out_schema, columns=(*carry, *columns),
                         name=name)


def pip_join(
    spark: SparkSession,
    df: DataFrame,
    res: int,
    carry: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Points in the `lat`/`lon` columns of `df` ⋈ polygons.

    Output: (carry..., lat, lon, cell, poly_id) — one row per (row,
    containing polygon). A row with either coordinate NULL or NaN
    matches nothing.
    """
    def points(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        return (pdf["lat"].to_numpy(dtype=np.float64, na_value=np.nan),
                pdf["lon"].to_numpy(dtype=np.float64, na_value=np.nan))

    return _pip_stage(spark, df, res, carry, ("lat", "lon"), points,
                      "pip_join")


def fused_pages_pip(
    spark: SparkSession,
    pages: DataFrame,
    res: int,
    carry: tuple[str, ...] = ("url",),
) -> DataFrame:
    """The single-stage fast path: `html` decode → text extraction → geotag
    → the PIP stage, all in ONE mapInPandas pass.

    Why: every pandas-UDF stage costs a wave of Python workers plus a JVM
    row queue; chaining a decode stage into a separate PIP stage pays both
    twice (measured: 2-4× the fused cost at sf0.1). Results are identical
    to with_fused_geo + pip_join (tested).

    Output: (carry..., lat, lon, cell, poly_id) — one row per (page,
    containing polygon).
    """
    from geotiff_spark.operators.extract import extract_batch

    def points(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        _texts, lats, lons = extract_batch(pdf["html"])
        return lats, lons

    return _pip_stage(spark, pages, res, carry, ("html",), points,
                      "fused_pages_pip")
