"""Standalone timings of the numpy kernels in ``geotiff_spark.functions``
(and the page extractor they are fed by): one process, warm, on batches
from the same seeded generator as the workload. Read next to the Spark
numbers, they tell a kernel regression apart from a plan regression.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import inputs

BATCH = 8192  # spark.sql.execution.arrow.maxRecordsPerBatch of the session


def rate(fn, work: float, min_reps: int = 5, budget_s: float = 0.3) -> float:
    """Median work-per-second over repeated warm calls."""
    fn()
    rates = []
    t_end = time.perf_counter() + budget_s
    while len(rates) < min_reps or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(work / (time.perf_counter() - t0))
    return statistics.median(rates)


def pages_kernels(seed: int, res: int) -> dict:
    from geotiff_spark.functions.cells import latlon_to_cell
    from geotiff_spark.functions.pip import points_in_polygon
    from geotiff_spark.operators.extract import extract_batch
    from geotiff_spark.sources.pages import synth_pages_pdf
    from geotiff_spark.sources.polygons import synth_polygons

    html = synth_pages_pdf(inputs.page_ids(seed, BATCH))["html"]
    _texts, lat, lon = extract_batch(html)
    ok = ~np.isnan(lat)
    lat, lon = lat[ok], lon[ok]
    poly = next(p for p in synth_polygons() if p["holes"])
    ring = np.asarray(poly["ring"], dtype=np.float64)
    holes = [np.asarray(h, dtype=np.float64) for h in poly["holes"]]
    return {
        "functions.extract_batch.rows_per_s":
            rate(lambda: extract_batch(html), len(html)),
        "functions.cells.latlon_to_cell.rows_per_s":
            rate(lambda: latlon_to_cell(lat, lon, res), len(lat)),
        "functions.pip.points_in_polygon.points_per_s":
            rate(lambda: points_in_polygon(lon, lat, ring, holes), len(lat)),
    }


def raster_kernels(meta: dict) -> dict:
    from geotiff_spark.functions.geotiff import read_geotiff
    from geotiff_spark.functions.transforms import sample_indices

    rdir = os.path.join(meta["dir"], "rasters")
    out = {}
    for comp, label in inputs.COMPRESSIONS.items():
        spec = next(s for s in meta["specs"] if s.compression == comp)
        with open(os.path.join(rdir, spec.name), "rb") as fh:
            data = fh.read()
        decoded = spec.width * spec.height * spec.spp * 2
        out[f"functions.geotiff.read_geotiff.bytes_per_s.{label}"] = rate(
            lambda d=data: read_geotiff(d), decoded)
    rec = read_geotiff(data)
    pts = meta["points"]
    x, y = pts["x"][:BATCH * 4], pts["y"][:BATCH * 4]
    kind, coeffs = rec["transform"]
    out["functions.transforms.sample_indices.points_per_s"] = rate(
        lambda: sample_indices(kind, coeffs, rec["width"], rec["height"],
                               rec["num_samples"], rec["raster_type"], x, y,
                               0, False),
        len(x))
    return out
