"""DuckDB oracle-SQL generators for the spatial operators.

The driver's correctness gate runs each Spark query against an ANSI-SQL
equivalent in DuckDB. For the spatial path we express the *semantics* in
portable SQL:

- cell encode: unrolled Morton bit-interleave (exact integer arithmetic)
- PIP join: even-odd ray casting as a crossing-count over a literal edge
  table (holes are extra rings of the same poly_id — even-odd handles them)

IEEE note: every float expression mirrors the numpy kernel's operation
order so doubles match bit-for-bit.
"""

from __future__ import annotations

import numpy as np

from geotiff_spark.sources.polygons import synth_polygons

# deterministic geo enrichment (must mirror pipeline.geo_documents)
LAT_SQL = "(36.0 + ((doc_id * 2654435761) % 220000) / 10000.0)"
LON_SQL = "(-10.0 + ((doc_id * 40503 + 7) % 400000) / 10000.0)"


def grid_exprs_sql(res: int, lat_expr: str, lon_expr: str) -> tuple[str, str]:
    """(ix, iy) SQL expressions matching cells.latlon_to_grid exactly."""
    n = 1 << res
    ix = f"LEAST(GREATEST(CAST(FLOOR((({lon_expr}) + 180.0) / 360.0 * {n}.0) AS BIGINT), 0), {n - 1})"
    iy = f"LEAST(GREATEST(CAST(FLOOR((({lat_expr}) + 90.0) / 180.0 * {n}.0) AS BIGINT), 0), {n - 1})"
    return ix, iy


def morton_sql(res: int, ix: str = "ix", iy: str = "iy") -> str:
    """Unrolled bit-interleave + resolution tag over grid-coord columns —
    the SQL form of cells.grid_to_cell."""
    terms = []
    for i in range(res):
        terms.append(f"((({ix} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({iy} >> {i}) & 1) << {2 * i + 1})")
    morton = " + ".join(terms) if terms else "0"
    return f"CAST({res} AS BIGINT) * {1 << 57} + ({morton})"


def cell_sql(res: int) -> str:
    """SELECT-able expression set: a CTE producing (doc_id, cell) of the
    documents' geo enrichment that matches cells.latlon_to_cell exactly."""
    ix, iy = grid_exprs_sql(res, LAT_SQL, LON_SQL)
    return f"""
WITH grid AS (
  SELECT doc_id, {ix} AS ix, {iy} AS iy FROM documents
)
SELECT doc_id, {morton_sql(res)} AS cell
FROM grid
"""


def _edges_values() -> str:
    """Literal VALUES rows (poly_id, x0, y0, x1, y1) for every ring
    (outer + holes) of the synthetic polygon set, full float precision."""
    rows = []
    for p in synth_polygons():
        rings = [np.asarray(p["ring"], dtype=np.float64)] + [
            np.asarray(h, dtype=np.float64) for h in p["holes"]
        ]
        for ring in rings:
            if len(ring) >= 2 and (ring[0] == ring[-1]).all():
                ring = ring[:-1]
            for i in range(len(ring)):
                x0, y0 = ring[i]
                x1, y1 = ring[(i + 1) % len(ring)]
                rows.append(
                    f"('{p['poly_id']}', {x0!r}, {y0!r}, {x1!r}, {y1!r})"
                )
    return ",\n    ".join(rows)


def pip_join_sql() -> str:
    """(doc_id, poly_id) pairs where the document's geo point lies inside
    the polygon, by even-odd crossing count — semantics identical to
    functions.pip.points_in_polygon (strict 'px < xin', half-open y test).
    """
    return f"""
WITH pts AS (
  SELECT doc_id, {LAT_SQL} AS lat, {LON_SQL} AS lon FROM documents
),
edges(poly_id, x0, y0, x1, y1) AS (
  VALUES
    {_edges_values()}
)
SELECT p.doc_id AS doc_id, e.poly_id AS poly_id
FROM pts p
JOIN edges e
  ON ((e.y0 > p.lat) <> (e.y1 > p.lat))
 AND p.lon < e.x0 + ((p.lat - e.y0) / (e.y1 - e.y0)) * (e.x1 - e.x0)
GROUP BY p.doc_id, e.poly_id
HAVING COUNT(*) % 2 = 1
"""


def pip_counts_sql() -> str:
    """Aggregated variant: docs per polygon."""
    return f"""
WITH hits AS ({pip_join_sql()})
SELECT poly_id, COUNT(*) AS n_docs
FROM hits
GROUP BY poly_id
"""
