"""Point-in-polygon spatial join: broadcast cell-index equi-join + exact
ray-casting refinement on boundary cells only.

Plan shape (scale rationale, SURVEY.md §4):

    pages(+cell) ⋈broadcast cell_index(cell, poly_id, is_boundary)
        → interior hits pass through untouched (no Python)
        → boundary hits run the exact PIP pandas UDF (Arrow batches)

The equi-join on `cell` is the coarse prefilter (reference analog: R-tree
envelope search, /root/reference/src/coordinate_transform/tie_points.rs:188-192);
ray casting is the exact test (analog of Face::contains half-plane tests,
:205-229). The polygon index is a small dim → always broadcast: no shuffle
of the 10^12-row pages side, and AQE skew handling is irrelevant because
the big side never moves. Exactness: interior cells are proven inside at
index build time, so skipping the UDF there cannot change results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from geotiff_spark.functions import pip as pipmod
from geotiff_spark.plans.fusion import map_in_pandas
from geotiff_spark.sources import polygons as polysrc


def _polygon_lookup() -> dict[str, tuple[np.ndarray, list[np.ndarray]]]:
    return {
        p["poly_id"]: (np.asarray(p["ring"], dtype=np.float64),
                       [np.asarray(h, dtype=np.float64) for h in p["holes"]])
        for p in polysrc.synth_polygons()
    }


def pip_refine_udf(spark: SparkSession):
    """Exact PIP test as a vectorized pandas UDF over
    (poly_id, lon, lat, is_boundary).

    Interior-cell rows (is_boundary=False) short-circuit to True inside the
    same Arrow pass — one UDF stage, no plan branch, no double evaluation.
    Polygon geometry rides a SparkContext broadcast — one copy per worker,
    not per task (at scale the polygon set is MBs, the pages are TBs).
    """
    bc = spark.sparkContext.broadcast(_polygon_lookup())

    @pandas_udf("boolean")
    def inside(
        poly_id: pd.Series, lon: pd.Series, lat: pd.Series,
        is_boundary: pd.Series,
    ) -> pd.Series:
        polys = bc.value
        px = lon.to_numpy(dtype=np.float64)
        py = lat.to_numpy(dtype=np.float64)
        bnd = is_boundary.to_numpy(dtype=bool)
        out = ~bnd  # interior cells: proven inside at index build time
        if bnd.any():
            pids = poly_id.to_numpy()
            # group by polygon: one vectorized ray-cast per polygon per batch
            for pid in pd.unique(pids[bnd]):
                mask = bnd & (pids == pid)
                ring, holes = polys[pid]
                out[mask] = pipmod.points_in_polygon(
                    px[mask], py[mask], ring, holes
                )
        return pd.Series(out)

    return inside


def pip_join(
    spark: SparkSession,
    pages_with_cell: DataFrame,
    res: int,
    how: str = "inner",
) -> DataFrame:
    """pages (with `cell`, `lat`, `lon`) ⋈ polygons → + poly_id.

    Returns one row per (page, containing polygon). Interior-cell hits skip
    the exact test; boundary-cell hits are refined. Pages without geotag
    (cell NULL) are dropped on inner, kept with NULL poly_id on left.
    """
    index = F.broadcast(polysrc.polygon_cell_index(spark, res))
    refine = pip_refine_udf(spark)

    joined = pages_with_cell.join(index, "cell", "inner")
    exact = (
        joined.withColumn(
            "_inside",
            refine(
                F.col("poly_id"), F.col("lon"), F.col("lat"),
                F.col("is_boundary"),
            ),
        )
        .filter(F.col("_inside"))
        .drop("_inside", "is_boundary")
    )

    if how == "inner":
        return exact
    if how == "left":
        hits = exact.select("url", "poly_id")
        return pages_with_cell.join(hits, "url", "left")
    raise ValueError(f"unsupported how={how}")


def fused_pages_pip(
    spark: SparkSession,
    pages: DataFrame,
    res: int,
    html: str = "html",
    carry: tuple[str, ...] = ("url",),
) -> DataFrame:
    """The single-stage fast path: html decode → text extraction → geotag
    → cell encode → broadcast cell-index lookup → exact PIP refine, all in
    ONE mapInPandas pass (a map-side broadcast join with custom refine).

    Why: every pandas-UDF stage costs a wave of Python workers plus a JVM
    row queue; chaining decode-UDF → join → refine-UDF pays both twice
    (measured: 2-4× the fused cost at sf0.1). The polygon cell index is a
    small broadcast dict — the equi-join on `cell` is a hash lookup inside
    the same Arrow batch that computed `cell`. Results are identical to
    with_fused_geo + pip_join (tested).

    Output: (carry..., lat, lon, cell, poly_id) — one row per (page,
    containing polygon).
    """
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from geotiff_spark.operators.extract import extract_batch

    from geotiff_spark.functions import cells as cellmod
    from geotiff_spark.sources.polygons import polygon_cell_index_pdf

    idx_pdf = polygon_cell_index_pdf(res)
    cell_index: dict[int, list[tuple[str, bool]]] = {}
    for cell, pid, bnd in idx_pdf.itertuples(index=False):
        cell_index.setdefault(int(cell), []).append((pid, bool(bnd)))
    bc_index = spark.sparkContext.broadcast(cell_index)
    bc_polys = spark.sparkContext.broadcast(_polygon_lookup())

    carry_fields = [pages.schema[c] for c in carry]
    out_schema = StructType(
        carry_fields
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
            n = len(pdf)
            _texts, lats, lons = extract_batch(pdf[html])
            ok = ~np.isnan(lats)
            if not ok.any():
                yield pd.DataFrame(columns=[f.name for f in out_schema.fields])
                continue
            cells = np.zeros(n, dtype=np.int64)
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

    return map_in_pandas(pages, run, out_schema, columns=(*carry, html))
