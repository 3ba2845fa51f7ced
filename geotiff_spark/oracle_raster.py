"""Exact DuckDB oracles for the raster path (zonal stats, tile stats).

Raster decode is not expressible in ANSI SQL, but everything downstream of
it is: the trusted (golden-verified, bit-exact vs the reference fixtures)
numpy decoder materializes each raster once as a (ix, iy, value) pixel
parquet, and the oracle SQL re-expresses the rest of the pipeline —
EPSG:3035 LAEA projection (closed-form Snyder trig), inverse
tiepoint+scale transform, floor, bounds check, pixel gather, groupBy —
over that table. This puts the flagship zonal-stats query and the tiling
stats under the driver's hash-match gate instead of a rows-only check.

Transform semantics mirrored here:
- inverse affine / tiepoint+scale: two FMAs
  (/root/reference/src/coordinate_transform/affine_transform.rs:39-44,
   tie_point_and_pixel_scale.rs:39-49)
- sampling: floor + half-open bounds (/root/reference/src/lib.rs:164-199)

All raster values in the committed corpus (FIXTURE_DIR, written by
scripts/make_fixtures.py) are integers (u8/u16), so
every aggregate (sum/avg/min/max) is exact in float64 regardless of
accumulation order — the only cross-engine risk is a trig ulp flipping a
floor() at a pixel boundary, which for 1000 m pixels needs a point within
~1e-9 m of a boundary (deterministic inputs; verified green at both sf).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

ORACLE_DIR = "/tmp/geotiff_spark_oracle_v3"

# the raster-query corpus: every *.tif directly in this directory (the
# glob is non-recursive; u64/ holds the u64 gate's raster). All of it is
# committed and written by scripts/make_fixtures.py.
FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "fixtures")
AUSTRIAN = os.path.join(
    FIXTURE_DIR,
    "austrian_capitals_model_tie_point_and_pixel_scale_pixel_is_area.tif",
)


def cached_tables(tag: str, key: bytes, build) -> dict[str, str]:
    """The one oracle-table cache. `build()` returns {table: {column:
    array}}; the tables are written under ORACLE_DIR/<tag>_<digest of
    key>/ and published by one atomic directory rename, so a directory
    that exists is complete and a build that raises publishes nothing.
    `key` is the bytes the tables are computed from. Returns {table:
    parquet path}."""
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = f"{ORACLE_DIR}/{tag}_{hashlib.sha256(key).hexdigest()[:16]}"
    if not os.path.isdir(out):
        os.makedirs(ORACLE_DIR, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f"{os.path.basename(out)}.tmp",
                               dir=ORACLE_DIR)
        try:
            for table, cols in build().items():
                pq.write_table(pa.table(cols), f"{tmp}/{table}.parquet")
            try:
                os.rename(tmp, out)
            except OSError:
                if not os.path.isdir(out):  # else a concurrent build won
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return {
        f[: -len(".parquet")]: f"{out}/{f}"
        for f in sorted(os.listdir(out)) if f.endswith(".parquet")
    }


def _files_key(paths: list[str]) -> bytes:
    """The files' basenames and bytes: the cache key of a table built
    from them, so a changed fixture never serves a stale oracle."""
    key = b""
    for p in paths:
        with open(p, "rb") as fh:
            data = fh.read()
        key += os.path.basename(p).encode() + b"\0"
        key += hashlib.sha256(data).digest()
    return key


def pixel_tables() -> tuple[str | None, str]:
    """Materialize (once per corpus content) and return paths of:
    - the flagship austrian raster pixel table (ix, iy, value), None
      when the corpus lacks that raster
    - the band-0 pixel table of every corpus raster
      (raster_id, ix, iy, value)
    """
    import glob

    from geotiff_spark.operators.sample import load_raster_records

    paths = sorted(glob.glob(f"{FIXTURE_DIR}/*.tif"))

    def build() -> dict:
        tables = {}
        rids, ixs, iys, vals = [], [], [], []
        for rid, rec in load_raster_records(paths).items():
            h, w, spp = rec["height"], rec["width"], rec["num_samples"]
            flat = np.frombuffer(rec["data"], dtype=np.dtype(rec["dtype"]))
            band0 = flat.reshape(h, w, spp)[:, :, 0].astype(np.float64)
            iy, ix = np.divmod(np.arange(h * w, dtype=np.int64), w)
            rids.append(np.full(h * w, rid, dtype=object))
            ixs.append(ix)
            iys.append(iy)
            vals.append(band0.ravel())
            if rid == AUSTRIAN.rsplit("/", 1)[-1]:
                tables["austrian_pixels"] = {
                    "ix": ix, "iy": iy, "value": band0.ravel()}
        tables["fixture_pixels_band0"] = {
            "raster_id": np.concatenate(rids),
            "ix": np.concatenate(ixs),
            "iy": np.concatenate(iys),
            "value": np.concatenate(vals),
        }
        return tables

    tables = cached_tables("pixels", _files_key(paths), build)
    return tables.get("austrian_pixels"), tables["fixture_pixels_band0"]


def _laea_xy_sql(lat_expr: str = "lat", lon_expr: str = "lon") -> str:
    """SELECT-fragment computing EPSG:3035 (x, y) from lat/lon degrees —
    the same Snyder closed form as functions.proj.laea_forward, with every
    point-independent term precomputed by the identical numpy arithmetic
    and embedded at full precision."""
    from geotiff_spark.functions.proj import laea_constants

    c = laea_constants()
    e, e2, qp = c["e"], c["e2"], c["qp"]
    return f"""
  SELECT *,
         {c['fe']!r} + b * {c['d']!r} * COS(beta) * SIN(dlon) AS x,
         {c['fn']!r} + (b / {c['d']!r}) *
           ({c['cos_beta1']!r} * SIN(beta)
            - {c['sin_beta1']!r} * COS(beta) * COS(dlon)) AS y
  FROM (
    SELECT *,
           {c['rq']!r} * SQRT(2.0 / (1.0 + {c['sin_beta1']!r} * SIN(beta)
             + {c['cos_beta1']!r} * COS(beta) * COS(dlon))) AS b
    FROM (
      SELECT *,
             ASIN(LEAST(GREATEST(q / {qp!r}, -1.0), 1.0)) AS beta,
             RADIANS({lon_expr}) - {c['lon0']!r} AS dlon
      FROM (
        SELECT *,
               (1.0 - {e2!r}) * (sinphi / (1.0 - {e2!r} * sinphi * sinphi)
                 - (1.0 / (2.0 * {e!r}))
                   * LN((1.0 - {e!r} * sinphi) / (1.0 + {e!r} * sinphi))) AS q
        FROM (SELECT *, SIN(RADIANS({lat_expr})) AS sinphi FROM __pts__)
      )
    )
  )
"""


def _flagship_sampled_cte() -> str:
    """Shared CTE chain ending in `sampled(poly_id, value)` — PIP hits →
    LAEA x/y → inverse tiepoint+scale → floor/bounds → pixel gather.
    Prefix for zonal_stats_sql and zonal_mode_sql."""
    from geotiff_spark import oracle
    from geotiff_spark.operators.sample import load_raster_records

    austrian_path, _ = pixel_tables()
    rec = load_raster_records([AUSTRIAN])[AUSTRIAN.rsplit("/", 1)[-1]]
    rx0, ry0, mx, my, sx, sy = rec["transform"][1]
    w, h = rec["width"], rec["height"]
    laea = _laea_xy_sql().replace(
        "__pts__",
        f"""(
      SELECT h.doc_id, h.poly_id,
             {oracle.LAT_SQL} AS lat, {oracle.LON_SQL} AS lon
      FROM hits h
    )""",
    )
    return f"""
WITH hits AS ({oracle.pip_join_sql()}),
proj AS ({laea}),
idx AS (
  SELECT doc_id, poly_id,
         CASE WHEN rx >= 0.0 AND rx < {w} AND ry >= 0.0 AND ry < {h}
              THEN CAST(FLOOR(rx) AS BIGINT) END AS ix,
         CASE WHEN rx >= 0.0 AND rx < {w} AND ry >= 0.0 AND ry < {h}
              THEN CAST(FLOOR(ry) AS BIGINT) END AS iy
  FROM (
    SELECT doc_id, poly_id,
           (x - {mx!r}) / {sx!r} + {rx0!r} AS rx,
           (y - {my!r}) / -({sy!r}) + {ry0!r} AS ry
    FROM proj
  )
),
sampled AS (
  SELECT i.poly_id, px.value AS value
  FROM idx i
  LEFT JOIN read_parquet('{austrian_path}') px
    ON px.ix = i.ix AND px.iy = i.iy
)"""


def zonal_stats_sql() -> str:
    """Flagship oracle: per-polygon count/avg/min/max over the shared
    sampled CTE (_flagship_sampled_cte)."""
    return f"""{_flagship_sampled_cte()}
SELECT poly_id,
       COUNT(*) AS n_docs,
       AVG(value) AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM sampled
GROUP BY poly_id
"""


def zonal_mode_sql() -> str:
    """Zonal MAJORITY oracle: most frequent sampled value per polygon,
    deterministic tiebreak (smallest value wins), NULL-sampled points
    excluded; polygons with no covered points drop out."""
    return f"""{_flagship_sampled_cte()},
counts AS (
  SELECT poly_id, value, COUNT(*) AS n
  FROM sampled WHERE value IS NOT NULL
  GROUP BY poly_id, value
)
SELECT poly_id, value AS mode_value, n AS n_mode FROM (
  SELECT poly_id, value, n,
         ROW_NUMBER() OVER (PARTITION BY poly_id
                            ORDER BY n DESC, value ASC) AS rk
  FROM counts
) WHERE rk = 1
"""


TIE_RASTER = os.path.join(
    FIXTURE_DIR, "austrian_capitals_model_tie_points_pixel_is_area.tif"
)

# deterministic model-space sample points inside the austrian extent —
# pure int64 arithmetic, exact in float64, reproducible in any SQL engine.
# (base, mult, add, mod) shared by the Spark query and the SQL so the two
# sides cannot drift.
TIE_X_PARAMS = (4302000.0, 48271, 0, 507000)
TIE_Y_PARAMS = (2621000.0, 16807, 3, 190000)


def _tie_sql(params: tuple) -> str:
    base, mult, add, mod = params
    return f"({base!r} + (doc_id * {mult} + {add}) % {mod})"


TIE_X_SQL = _tie_sql(TIE_X_PARAMS)
TIE_Y_SQL = _tie_sql(TIE_Y_PARAMS)


def tie_point_col(params: tuple):
    """The Spark Column form of the same deterministic point expression."""
    from pyspark.sql import functions as F

    base, mult, add, mod = params
    return F.lit(base) + (F.col("doc_id") * F.lit(mult) + F.lit(add)) % F.lit(mod)


def tiepoints_tables() -> tuple[str, str]:
    """Materialize the tie-points warp's face/edge tables (trusted kernel:
    Delaunay + build_faces, golden-verified vs the reference), so SQL can
    replicate containment edge-for-edge and the per-face barycentric
    affine verbatim. Returns (faces_path, edges_path)."""
    from geotiff_spark.functions.tie_points import _build_meshes, face_check_edges
    from geotiff_spark.operators.sample import load_raster_records

    def build() -> dict:
        rec = load_raster_records([TIE_RASTER])[TIE_RASTER.rsplit("/", 1)[-1]]
        coeffs = tuple(np.asarray(rec["transform"][1]).ravel())
        raster_mesh, model_mesh = _build_meshes(coeffs)

        frows: dict[str, list] = {k: [] for k in (
            "face_id", "s_ax", "s_ay", "s_bx", "s_by", "s_cx", "s_cy",
            "t_ax", "t_ay", "t_bx", "t_by", "t_cx", "t_cy",
        )}
        erows: dict[str, list] = {k: [] for k in (
            "face_id", "e1x", "e1y", "e2x", "e2y",
        )}
        # model→raster: containment + locate in the MODEL mesh,
        # interpolate in the RASTER mesh (tie_points_to_raster
        # source/target order)
        for fid, (src, tgt) in enumerate(zip(model_mesh, raster_mesh)):
            (sa, sb, sc), (ta, tb, tc) = src["support"], tgt["support"]
            frows["face_id"].append(fid)
            for k, v in zip(
                ("s_ax", "s_ay", "s_bx", "s_by", "s_cx", "s_cy",
                 "t_ax", "t_ay", "t_bx", "t_by", "t_cx", "t_cy"),
                (*sa, *sb, *sc, *ta, *tb, *tc),
            ):
                frows[k].append(float(v))
            edges = face_check_edges(src)
            if not edges:
                # boundary-None face contains everything: a degenerate
                # edge whose cross product is identically +0.0 always
                # passes
                edges = [(np.zeros(2), np.zeros(2))]
            for c1, c2 in edges:
                erows["face_id"].append(fid)
                erows["e1x"].append(float(c1[0]))
                erows["e1y"].append(float(c1[1]))
                erows["e2x"].append(float(c2[0]))
                erows["e2y"].append(float(c2[1]))
        return {
            "tiepoints_faces": {k: np.asarray(v) for k, v in frows.items()},
            "tiepoints_edges": {k: np.asarray(v) for k, v in erows.items()},
        }

    tables = cached_tables("tiepoints", _files_key([TIE_RASTER]), build)
    return tables["tiepoints_faces"], tables["tiepoints_edges"]


def tiepoints_sample_sql() -> str:
    """Oracle for sampling the tie-points raster at deterministic model
    points: half-plane containment (first containing face = MIN face_id,
    matching the kernel's mesh-order scan), the exact _locate/_interpolate
    barycentric formulas, floor/bounds, pixel gather. Uncovered points
    (wedge holes — faithful to the reference) and out-of-bounds indices
    yield NULL, matching strict=False bulk sampling.

    KNOWN DIVERGENCE (measure-zero for the current points): containment
    here uses `cross >= 0`, which treats a cross product of -0.0 as
    inside, while the Python kernel uses ~np.signbit(cross), which treats
    -0.0 as OUTSIDE. A sample point lying exactly on a shared edge (or on
    an open-boundary bisector ray, where adjacent affines differ) could
    therefore be assigned to a different face by the two sides. The
    deterministic integer-derived TIE_X/Y_PARAMS points never land on
    such a ray (verified by the green hash-match); if sample points ever
    become user-supplied, emulate the sign-bit test in SQL, e.g.
    CASE WHEN cross = 0 THEN SIGN(1.0/cross) >= 0 ELSE cross > 0 END."""
    from geotiff_spark.operators.sample import load_raster_records

    faces_path, edges_path = tiepoints_tables()
    _, all_path = pixel_tables()
    rid = TIE_RASTER.rsplit("/", 1)[-1]
    rec = load_raster_records([TIE_RASTER])[rid]
    w, h = rec["width"], rec["height"]
    return f"""
WITH pts AS (
  SELECT doc_id, {TIE_X_SQL} AS x, {TIE_Y_SQL} AS y FROM documents
),
passes AS (
  SELECT p.doc_id, e.face_id,
         MIN(CASE WHEN (e.e2x - e.e1x) * (p.y - e.e1y)
                       - (e.e2y - e.e1y) * (p.x - e.e1x) >= 0
                  THEN 1 ELSE 0 END) AS all_ok
  FROM pts p CROSS JOIN read_parquet('{edges_path}') e
  GROUP BY p.doc_id, e.face_id
),
best AS (
  SELECT doc_id, MIN(face_id) AS face_id
  FROM passes WHERE all_ok = 1 GROUP BY doc_id
),
uv AS (
  SELECT p.doc_id,
         -(p.x * (f.s_ay - f.s_cy) - f.s_cx * (f.s_ay - p.y)
           + f.s_ax * (f.s_cy - p.y))
           / (f.s_cx * (f.s_ay - f.s_by) - f.s_bx * (f.s_ay - f.s_cy)
              + f.s_ax * (f.s_by - f.s_cy)) AS u,
         (p.x * (f.s_ay - f.s_by) - f.s_bx * (f.s_ay - p.y)
          + f.s_ax * (f.s_by - p.y))
           / (f.s_cx * (f.s_ay - f.s_by) - f.s_bx * (f.s_ay - f.s_cy)
              + f.s_ax * (f.s_by - f.s_cy)) AS v,
         f.t_ax, f.t_ay, f.t_bx, f.t_by, f.t_cx, f.t_cy
  FROM pts p
  JOIN best b ON b.doc_id = p.doc_id
  JOIN read_parquet('{faces_path}') f ON f.face_id = b.face_id
),
rxy AS (
  SELECT doc_id,
         -u * t_ax - v * t_ax + t_ax + u * t_bx + v * t_cx AS rx,
         -u * t_ay - v * t_ay + t_ay + u * t_by + v * t_cy AS ry
  FROM uv
),
idx AS (
  SELECT p.doc_id,
         CASE WHEN r.rx >= 0.0 AND r.rx < {w} AND r.ry >= 0.0 AND r.ry < {h}
              THEN CAST(FLOOR(r.rx) AS BIGINT) END AS ix,
         CASE WHEN r.rx >= 0.0 AND r.rx < {w} AND r.ry >= 0.0 AND r.ry < {h}
              THEN CAST(FLOOR(r.ry) AS BIGINT) END AS iy
  FROM pts p LEFT JOIN rxy r ON r.doc_id = p.doc_id
)
SELECT i.doc_id, px.value AS value
FROM idx i
LEFT JOIN (
  SELECT ix, iy, value FROM read_parquet('{all_path}')
  WHERE raster_id = '{rid}'
) px ON px.ix = i.ix AND px.iy = i.iy
"""


def tile_stats_sql() -> str:
    """Tiling oracle: band-0 pixel table → tile coords by integer
    division → per-tile min/mean/max."""
    from geotiff_spark.operators.tiling import TILE_SIZE as tile_size

    _, all_path = pixel_tables()
    return f"""
SELECT raster_id,
       CAST(ix // {tile_size} AS INTEGER) AS tile_x,
       CAST(iy // {tile_size} AS INTEGER) AS tile_y,
       MIN(value) AS v_min,
       AVG(value) AS v_mean,
       MAX(value) AS v_max
FROM read_parquet('{all_path}')
GROUP BY raster_id, tile_x, tile_y
"""


def focal_stats_sql() -> str:
    """Oracle for the halo-exchange focal op: the semantics re-expressed
    as the naive (2r+1)²-offset pixel self-join (fine at fixture scale,
    the exact shape the distributed engine must NOT use at 100 TB) — per
    pixel, SUM/COUNT over the in-bounds window of band 0, then per-tile
    SUM/MIN/MAX. All values integral (see module docstring), so every
    aggregate is exact in int64."""
    from geotiff_spark.operators.tiling import FOCAL_RADIUS as radius
    from geotiff_spark.operators.tiling import TILE_SIZE as tile_size

    _, all_path = pixel_tables()
    offs = ",".join(
        f"({dx},{dy})"
        for dy in range(-radius, radius + 1)
        for dx in range(-radius, radius + 1)
    )
    # scatter form: each pixel contributes its value to the (2r+1)²
    # positions around it, group by target position, then keep only
    # targets that are real pixels (a plain two-relation equi-join DuckDB
    # hash-joins; the gather form's 3-relation key defeats its planner).
    return f"""
WITH offs(dx, dy) AS (
  VALUES {offs}
),
contrib AS (
  SELECT p.raster_id, p.ix + o.dx AS cx, p.iy + o.dy AS cy,
         SUM(CAST(p.value AS BIGINT)) AS fs,
         COUNT(*) AS fc
  FROM read_parquet('{all_path}') p
  JOIN offs o ON TRUE
  GROUP BY 1, 2, 3
),
f AS (
  SELECT c.raster_id, c.cx AS ix, c.cy AS iy, c.fs, c.fc
  FROM contrib c
  JOIN read_parquet('{all_path}') q
    ON q.raster_id = c.raster_id AND q.ix = c.cx AND q.iy = c.cy
)
SELECT raster_id,
       CAST(ix // {tile_size} AS INTEGER) AS tile_x,
       CAST(iy // {tile_size} AS INTEGER) AS tile_y,
       CAST(SUM(fs) AS BIGINT) AS f_sum,
       CAST(SUM(fc) AS BIGINT) AS f_cnt,
       CAST(MIN(fs) AS BIGINT) AS f_min,
       CAST(MAX(fs) AS BIGINT) AS f_max
FROM f
GROUP BY 1, 2, 3
"""


def vectorize_sql() -> str:
    """Oracle for raster→vector on the identity-transform marbles fixture:
    pixel centers ARE model coords, so cell assignment is the plain
    clip + grid + Morton arithmetic (shared with oracle.cell_sql) over
    the pixel parquet; per-cell count + max of passing values."""
    from geotiff_spark import oracle
    from geotiff_spark.operators.tiling import VECTORIZE_RES as res
    from geotiff_spark.operators.tiling import VECTORIZE_THRESHOLD as threshold

    _, all_path = pixel_tables()
    # vectorize_threshold clips model coords to the lat/lon domain before
    # cell encoding (lon=x, lat=y convention)
    lon = "LEAST(GREATEST(ix + 0.5, -180.0), 180.0)"
    lat = "LEAST(GREATEST(iy + 0.5, -90.0), 90.0)"
    gx, gy = oracle.grid_exprs_sql(res, lat, lon)
    return f"""
WITH px AS (
  SELECT ix, iy, value FROM read_parquet('{all_path}')
  WHERE raster_id = 'marbles.tif' AND value > {threshold!r}
),
grid AS (
  SELECT {gx} AS gix, {gy} AS giy, value FROM px
)
SELECT 'marbles.tif' AS raster_id,
       {oracle.morton_sql(res, 'gix', 'giy')} AS cell,
       COUNT(*) AS n_pixels,
       MAX(value) AS v_max
FROM grid
GROUP BY cell
"""


def pyramid_stats_sql() -> str:
    """Oracle for pyramid levels 1..PYRAMID_LEVELS: the engine's 2x2
    floor-mean downsample (with edge-replication padding) equals
    FLOOR(AVG(children)) grouped by (ix//2, iy//2) — the replicated row/col is a copy of the
    only real row/col inside the same parent block, so duplicates never
    change the mean; the argument applies recursively, so level k is k
    nested FLOOR(AVG) groupings. CONSTRAINT: exact only for integer-dtype
    rasters — build_pyramid floors the 2x2 mean only for integer dtypes
    (operators/tiling.py), so a float-typed fixture added to FIXTURE_DIR
    would need the FLOOR() dropped per-raster here. All current corpus
    fixtures are u8/u16; integer values keep every aggregate exact."""
    from geotiff_spark.operators.tiling import PYRAMID_LEVELS as levels
    from geotiff_spark.operators.tiling import TILE_SIZE as tile_size

    _, all_path = pixel_tables()
    lvl_sql = []
    prev = f"SELECT raster_id, ix, iy, value FROM read_parquet('{all_path}')"
    for lvl in range(1, levels + 1):
        lvl_sql.append(
            f"lvl{lvl} AS (\n"
            f"  SELECT raster_id, ix // 2 AS ix, iy // 2 AS iy,\n"
            f"         FLOOR(AVG(value)) AS value\n"
            f"  FROM ({prev})\n"
            f"  GROUP BY raster_id, ix // 2, iy // 2\n"
            f")"
        )
        prev = f"SELECT * FROM lvl{lvl}"
    selects = [
        f"""SELECT raster_id, {lvl} AS level,
       CAST(ix // {tile_size} AS INTEGER) AS tile_x,
       CAST(iy // {tile_size} AS INTEGER) AS tile_y,
       MIN(value) AS v_min,
       AVG(value) AS v_mean,
       MAX(value) AS v_max
FROM lvl{lvl}
GROUP BY raster_id, tile_x, tile_y"""
        for lvl in range(1, levels + 1)
    ]
    union = "\nUNION ALL\n".join(selects)
    return "WITH " + ",\n".join(lvl_sql) + "\n" + union


# ---- u64 exact-value sampling (hard part #4: Spark has no unsigned types;
# DecimalType(20,0) carries the full u64 range, compared as digit strings
# so no engine's numeric encoding can lossy-convert) --------------------------

U64_RASTER = os.path.join(FIXTURE_DIR, "u64", "synth_u64.tif")

# deterministic in/out-of-bounds sample points from doc_id — int ops then
# one IEEE division, identical doubles in Spark and DuckDB. x in [0, 80)
# (extent is [0, 64), so ~20% sample out of bounds -> NULL parity);
# y in (0, 64).
U64_X_PARAMS = (7919, 8000)    # (doc_id * mult) % mod / 100.0
U64_Y_PARAMS = (104729, 6399)  # (doc_id * mult) % mod / 100.0 + 0.005

U64_X_SQL = f"((doc_id * {U64_X_PARAMS[0]}) % {U64_X_PARAMS[1]}) / 100.0"
U64_Y_SQL = (
    f"((doc_id * {U64_Y_PARAMS[0]}) % {U64_Y_PARAMS[1]}) / 100.0 + 0.005"
)


def u64_point_cols():
    from pyspark.sql import functions as F

    x = ((F.col("doc_id") * U64_X_PARAMS[0]) % U64_X_PARAMS[1]) / F.lit(100.0)
    y = (
        (F.col("doc_id") * U64_Y_PARAMS[0]) % U64_Y_PARAMS[1]
    ) / F.lit(100.0) + F.lit(0.005)
    return x, y


def u64_pixel_table() -> str:
    """(ix, iy, val_str) for the u64 fixture — values as digit strings,
    produced by the trusted decoder WITHOUT any float stage (uint64 →
    python int → str)."""
    from geotiff_spark.operators.sample import load_raster_records

    def build() -> dict:
        rec = load_raster_records([U64_RASTER])["synth_u64.tif"]
        h, w = rec["height"], rec["width"]
        flat = np.frombuffer(rec["data"], dtype=np.dtype(rec["dtype"]))
        iy, ix = np.divmod(np.arange(h * w, dtype=np.int64), w)
        return {"u64_pixels": {
            "ix": ix,
            "iy": iy,
            "val_str": np.array([str(int(v)) for v in flat], dtype=object),
        }}

    return cached_tables("u64", _files_key([U64_RASTER]), build)["u64_pixels"]


def u64_sample_sql() -> str:
    """Oracle for the exact u64 sampling gate: same inverse
    tiepoint+scale + floor/bounds as the engine (transform coeffs read
    from the trusted record), gather from the digit-string pixel table."""
    from geotiff_spark.operators.sample import load_raster_records

    rec = load_raster_records([U64_RASTER])["synth_u64.tif"]
    rx0, ry0, mx, my, sx, sy = rec["transform"][1]
    w, h = rec["width"], rec["height"]
    path = u64_pixel_table()
    return f"""
WITH pts AS (
  SELECT doc_id, {U64_X_SQL} AS x, {U64_Y_SQL} AS y FROM documents
),
idx AS (
  SELECT doc_id,
         CASE WHEN rx >= 0.0 AND rx < {w} AND ry >= 0.0 AND ry < {h}
              THEN CAST(FLOOR(rx) AS BIGINT) END AS ix,
         CASE WHEN rx >= 0.0 AND rx < {w} AND ry >= 0.0 AND ry < {h}
              THEN CAST(FLOOR(ry) AS BIGINT) END AS iy
  FROM (
    SELECT doc_id,
           (x - {mx!r}) / {sx!r} + {rx0!r} AS rx,
           (y - {my!r}) / -({sy!r}) + {ry0!r} AS ry
    FROM pts
  )
)
SELECT i.doc_id,
       CASE WHEN px.val_str IS NOT NULL THEN 'uint64' END AS dtype,
       px.val_str AS u64_value
FROM idx i
LEFT JOIN read_parquet('{path}') px ON px.ix = i.ix AND px.iy = i.iy
"""
