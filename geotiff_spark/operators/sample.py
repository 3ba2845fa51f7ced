"""Raster sampling join: model-space points gather pixel values from
decoded rasters.

Engine form of get_value_at (/root/reference/src/lib.rs:126-130): a million
lookups become one vectorized gather ``data[(floor(ry)*w + floor(rx))*spp +
s]`` per Arrow batch (SURVEY.md §1.3). Out-of-bounds → NULL (reference:
None).

Scale shape (SURVEY.md §4.3): rasters are ALWAYS decoded on executors
(sources/rasters.py binaryFile → mapInPandas). A cheap header-only probe
(no pixel decode) sizes the decoded corpus, then:

- ``broadcast`` branch (corpus ≤ the size guard): decoded records are
  collected once and broadcast; sampling is a zero-shuffle ``arrow_udf``.
- ``copartition`` branch (corpus above the guard): points shuffle by
  raster_id, each decoded raster row ships once, and the same gather
  kernel runs group-locally inside a cogroup ``applyInArrow`` — the pixel
  data never transits the driver, and per-raster work scales with
  executors.

Both hand Python pyarrow data, not pandas frames, and sample NULL out of
bounds, on an unknown raster_id and on a NaN pixel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import arrow_udf, pandas_udf
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from geotiff_spark.functions import transforms as tf
from geotiff_spark.functions.geotiff import read_geotiff
from geotiff_spark.functions.tiff import NUMPY_BY_NAME

# Decoded corpora at or under this many bytes broadcast; larger corpora
# take the co-partitioned join.
MAX_BROADCAST_BYTES = 512 << 20

# Per-process caches so repeated sampling queries in one session don't
# re-run the decode/probe jobs for the same (small) raster corpus. Keyed
# by (path, mtime_ns, size) per sorted path — a raster rewritten
# mid-session invalidates the entry instead of serving stale pixels
# (ADVICE r04). Bounded — sampling corpora worth caching are the
# broadcastable ones.
_RECORDS_CACHE: dict[tuple, dict[str, dict]] = {}
_SIZES_CACHE: dict[tuple, int] = {}
_CACHE_MAX = 4


def _cache_put(cache: dict, key: tuple, value):
    """Insert into a bounded cache, evicting the oldest entry when full."""
    if len(cache) >= _CACHE_MAX:
        cache.pop(next(iter(cache)))
    cache[key] = value
    return value


def _cache_key(paths: list[str]) -> tuple:
    import os

    parts = []
    for p in sorted(paths):
        try:
            st = os.stat(p)
            parts.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            parts.append((p, -1, -1))
    return tuple(parts)


def _duplicate_basename(rid: str) -> ValueError:
    """raster_id is the file BASENAME — two corpus paths sharing one
    basename would silently collapse to a single record (ADVICE r04).
    Both sampling modes fail loudly with this error instead."""
    return ValueError(
        f"duplicate raster basename {rid!r} in corpus — raster_id is "
        "the basename, so each file needs a distinct one"
    )


def _add_record(records: dict, rid: str, rec: dict) -> None:
    if rid in records:
        raise _duplicate_basename(rid)
    records[rid] = rec


def _row_record(r) -> dict:
    """One rasters-DataFrame row (a ``Row`` or an Arrow ``to_pylist``
    dict) → sampling record. Raises on an error row — a silently missing
    raster would turn into all-NULL samples downstream."""
    if r["error"] is not None:
        raise RuntimeError(
            f"raster decode failed for {r['raster_id']}: {r['error']}"
        )
    return {
        "width": r["width"],
        "height": r["height"],
        "num_samples": r["num_samples"],
        # rasters DF carries reference-style names (u8/i16/f32 —
        # sample_type, A2); records use numpy names like the driver loop
        "dtype": str(NUMPY_BY_NAME[r["dtype"]]),
        "transform": (r["transform"]["kind"], list(r["transform"]["coeffs"])),
        "raster_type": r["raster_type"],
        "extent": (
            r["extent"]["minx"], r["extent"]["miny"],
            r["extent"]["maxx"], r["extent"]["maxy"],
        ),
        "data": bytes(r["data"]),
    }


def _gather(rec: dict, xs, ys, strict: bool):
    """One record's band-0 pixel values at model-space points: (values
    in the raster dtype, valid mask; invalid values are arbitrary)."""
    flat = np.frombuffer(rec["data"], dtype=np.dtype(rec["dtype"]))
    kind, coeffs = rec["transform"]
    idx, valid = tf.sample_indices(
        kind, coeffs, rec["width"], rec["height"], rec["num_samples"],
        rec["raster_type"], xs, ys, 0, strict,
    )
    return flat[idx], valid


def load_raster_records(paths: list[str]) -> dict[str, dict]:
    """Driver-side decode of a raster set → broadcastable records.

    Test/oracle path only (and the shape contract for the records dict):
    production queries go through :func:`load_raster_records_distributed`,
    which produces the identical records via the executor-side decode.
    """
    records = {}
    for p in paths:
        with open(p, "rb") as fh:
            rec = read_geotiff(fh.read())
        rid = p.rsplit("/", 1)[-1]
        _add_record(records, rid, {
            "width": rec["width"],
            "height": rec["height"],
            "num_samples": rec["num_samples"],
            "dtype": str(rec["array"].dtype),
            "transform": rec["transform"],
            "raster_type": rec["raster_type"],
            "extent": rec["extent"],
            "data": rec["array"].tobytes(),
        })
    return records


def load_raster_records_distributed(
    spark: SparkSession, paths: list[str]
) -> dict[str, dict]:
    """Executor-side decode (sources/rasters.py mapInPandas) collected to
    the broadcastable records dict. Decode parallelism = number of files;
    the driver only receives the finished arrays. Raises on any decode
    error row."""
    key = _cache_key(paths)
    cached = _RECORDS_CACHE.get(key)
    if cached is not None:
        return cached
    from geotiff_spark.sources.rasters import read_rasters

    records: dict[str, dict] = {}
    for r in read_rasters(spark, list(paths), glob="*").collect():
        _add_record(records, r["raster_id"], _row_record(r))
    return _cache_put(_RECORDS_CACHE, key, records)


def raster_decoded_sizes(spark: SparkSession, paths: list[str]) -> DataFrame:
    """(raster_id, decoded_bytes) WITHOUT decoding pixels: header/IFD
    parse only (dims × samples × dtype width). This is the probe that
    decides broadcast vs co-partitioned sampling — the decision must not
    itself materialize the corpus."""
    schema = StructType([
        StructField("raster_id", StringType()),
        StructField("decoded_bytes", LongType()),
        StructField("error", StringType()),
    ])

    def probe(batches):
        from geotiff_spark.functions import tiff

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rid = path.rsplit("/", 1)[-1]
                try:
                    _bo, ifds = tiff.parse_ifds(bytes(content))
                    meta, _segs = tiff.segment_plan(ifds[0])
                    nbytes = (
                        meta["width"] * meta["height"] * meta["num_samples"]
                        * np.dtype(meta["dtype_np"]).itemsize
                    )
                    rows.append({"raster_id": rid, "decoded_bytes": nbytes,
                                 "error": None})
                except Exception as exc:
                    rows.append({"raster_id": rid, "decoded_bytes": None,
                                 "error": f"{type(exc).__name__}: {exc}"})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*")
        .load(list(paths))
        .select("path", "content")
    )
    return scan.mapInPandas(probe, schema=schema)


def _total_decoded_bytes(spark: SparkSession, paths: list[str]) -> int:
    key = _cache_key(paths)
    cached = _SIZES_CACHE.get(key)
    if cached is not None:
        return cached
    rows = raster_decoded_sizes(spark, paths).collect()
    bad = [r for r in rows if r["error"] is not None]
    if bad:
        raise RuntimeError(
            f"raster header probe failed for {bad[0]['raster_id']}: "
            f"{bad[0]['error']}"
        )
    total = int(sum(r["decoded_bytes"] for r in rows))
    return _cache_put(_SIZES_CACHE, key, total)


def sample_udf(spark: SparkSession, records: dict[str, dict],
               strict: bool = True):
    """Arrow UDF (raster_id, x, y) → double value: NULL out of bounds,
    on an unknown raster_id and on a NaN pixel. strict=False maps
    tie-points coverage holes to NULL instead of failing the task
    (bulk-sampling semantics)."""
    bc = spark.sparkContext.broadcast(records)

    @arrow_udf("double")
    def sample_value(raster_id: pa.Array, x: pa.Array, y: pa.Array) -> pa.Array:
        recs = bc.value
        xs = x.to_numpy(zero_copy_only=False)
        ys = y.to_numpy(zero_copy_only=False)
        out = np.full(len(xs), np.nan)
        rids = raster_id.dictionary_encode()
        codes = rids.indices.fill_null(-1).to_numpy()
        for code, rid in enumerate(rids.dictionary.to_pylist()):
            rec = recs.get(rid)
            if rec is None:
                continue
            mask = codes == code
            vals, valid = _gather(rec, xs[mask], ys[mask], strict)
            out[mask] = np.where(valid, vals, np.nan)
        return pa.array(out, mask=np.isnan(out))

    # deterministic in fact; marked otherwise so a downstream filter on
    # the sampled value (e.g. zonal_mode's isNotNull) cannot inline the
    # alias and re-plan a second ArrowEvalPython running the gather
    # twice (round 4, same pathology as dedup.minhash_signatures)
    return sample_value.asNondeterministic()


def sample_join_copartitioned(
    df: DataFrame,
    rasters: DataFrame,
    raster_id: Column,
    strict: bool = True,
) -> DataFrame:
    """Sampling join for raster corpora too large to broadcast: cogroup
    (x, y) points (shuffled by raster_id) with the decoded rasters
    DataFrame (each raster row ships once), and run the same vectorized
    gather group-locally into column `value`. The pixel data never
    touches the driver."""
    point_cols = [f.name for f in df.schema.fields]
    out_schema = StructType(df.schema.fields + [StructField("value", DoubleType())])
    pts = df.withColumn("__rid", raster_id)
    r = rasters.select(
        "raster_id", "width", "height", "num_samples", "dtype",
        "transform", "raster_type", "extent", "data", "error",
    )

    def kernel(_key: tuple, points: pa.Table, raster: pa.Table) -> pa.Table:
        res = points.select(point_cols)
        if raster.num_rows == 0:  # unknown raster_id → NULL, like broadcast
            return res.append_column("value", pa.nulls(res.num_rows, pa.float64()))
        if raster.num_rows > 1:
            raise _duplicate_basename(raster.column("raster_id")[0].as_py())
        vals, valid = _gather(
            _row_record(raster.to_pylist()[0]),
            points.column("x").to_numpy(), points.column("y").to_numpy(),
            strict,
        )
        vals = vals.astype(np.float64)
        return res.append_column(
            "value", pa.array(vals, mask=~valid | np.isnan(vals))
        )

    # cogroup pairs the two sides' keys by position, not by name
    return (
        pts.groupBy("__rid")
        .cogroup(r.groupBy("raster_id"))
        .applyInArrow(kernel, schema=out_schema)
    )


def with_raster_sample(
    df: DataFrame,
    spark: SparkSession,
    raster_paths: list[str],
    raster_id: str | Column,
    strict: bool = True,
    mode: str = "auto",
) -> DataFrame:
    """Attach column `value`: band 0 of the raster at each row's
    model-space point (`x`, `y`). `raster_id` may be a literal (every row
    samples one raster) or a column (per-row raster routing).

    mode: 'auto' (header-probe the decoded size, broadcast at or under
    MAX_BROADCAST_BYTES, co-partition above it), 'broadcast', or
    'copartition'. Both branches produce identical values
    (pytest-pinned)."""
    rid_col = F.lit(raster_id) if isinstance(raster_id, str) else raster_id
    if mode == "auto":
        total = _total_decoded_bytes(spark, raster_paths)
        mode = "broadcast" if total <= MAX_BROADCAST_BYTES else "copartition"
    if mode == "broadcast":
        records = load_raster_records_distributed(spark, raster_paths)
        udf = sample_udf(spark, records, strict)
        return df.withColumn("value", udf(rid_col, F.col("x"), F.col("y")))
    if mode == "copartition":
        from geotiff_spark.sources.rasters import read_rasters

        rasters = read_rasters(spark, list(raster_paths), glob="*")
        return sample_join_copartitioned(df, rasters, rid_col, strict)
    raise ValueError(f"unknown sampling mode {mode!r}")


def sample_exact_udf(spark: SparkSession, records: dict[str, dict]):
    """Exact-value variant (band 0): returns struct<dtype, int_val
    (decimal(20,0)), float_val> so u64 samples above 2^63 and i64 extremes survive without
    a float round trip (SURVEY.md §1.3 / hard part #4 — Spark has no
    unsigned types; DecimalType(20,0) holds the full u64 range).
    """
    bc = spark.sparkContext.broadcast(records)

    @pandas_udf("struct<dtype:string,int_val:decimal(20,0),float_val:double>")
    def sample_value(raster_id: pd.Series, x: pd.Series, y: pd.Series) -> pd.DataFrame:
        from decimal import Decimal

        recs = bc.value
        xs = x.to_numpy(dtype=np.float64)
        ys = y.to_numpy(dtype=np.float64)
        rids = raster_id.to_numpy()
        out_dtype = np.full(len(xs), None, dtype=object)
        out_int = np.full(len(xs), None, dtype=object)
        out_float = np.full(len(xs), np.nan)
        for rid in pd.unique(rids):
            rec = recs.get(rid)
            if rec is None:
                continue
            mask = rids == rid
            dt = np.dtype(rec["dtype"])
            vals, valid = _gather(rec, xs[mask], ys[mask], True)
            midx = np.nonzero(mask)[0]
            for j, (v, ok) in enumerate(zip(vals, valid)):
                if not ok:
                    continue
                i = midx[j]
                out_dtype[i] = dt.name
                if dt.kind in "ui":
                    out_int[i] = Decimal(int(v))
                    out_float[i] = float(v)
                else:
                    out_float[i] = float(v)
        return pd.DataFrame(
            {"dtype": out_dtype, "int_val": out_int, "float_val": out_float}
        )

    return sample_value


def zonal_stats(joined: DataFrame) -> DataFrame:
    """Zonal statistics: sample join → groupBy(poly_id).agg of `value` —
    the raster zonal-stats operator (SURVEY.md §2.C aggregations). Partial
    aggregation (map-side combine) is automatic."""
    return joined.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
