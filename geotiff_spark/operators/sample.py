"""Raster sampling join: model-space points gather pixel values from
decoded rasters.

Engine form of get_value_at (/root/reference/src/lib.rs:126-130): a million
lookups become one vectorized gather ``data[(floor(ry)*w + floor(rx))*spp +
s]`` per Arrow batch (SURVEY.md §1.3). Out-of-bounds → NULL (reference:
None).

Scale shape (SURVEY.md §4.3): rasters are ALWAYS decoded on executors. A
cheap header-only probe (no pixel decode) sizes the decoded corpus, then:

- ``broadcast`` branch (corpus ≤ the size guard): rasters decode in
  sources/rasters.py (binaryFile → mapInPandas), the records are
  collected once and broadcast, and sampling is a zero-shuffle
  ``arrow_udf``.
- ``copartition`` branch (corpus above the guard): points are hashed by
  raster_id and sorted within each partition; an iterator ``arrow_udf``
  decodes each raster straight from its path when the sorted run of
  raster_ids reaches it. Only the paths leave the driver: a task holds
  one decoded raster at a time and decodes it once, the pixels never
  cross a shuffle or reach the driver, and per-raster work scales with
  executors.

Both hand Python pyarrow data, not pandas frames, run the same per-batch
gather (:func:`_sample_batch`), and sample NULL out of bounds, on an
unknown raster_id and on a NaN pixel.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import arrow_udf, pandas_udf
from pyspark.sql.types import LongType, StringType, StructField, StructType

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


def _add_record(records: dict, rid: str, rec) -> None:
    if rid in records:
        raise _duplicate_basename(rid)
    records[rid] = rec


def _decode_failed(rid: str, error: str) -> RuntimeError:
    """Both sampling modes fail with this error on a raster that does not
    decode — a silently missing raster would turn into all-NULL samples
    downstream."""
    return RuntimeError(f"raster decode failed for {rid!r}: {error}")


def _row_record(r) -> dict:
    """One rasters-DataFrame ``Row`` → sampling record. Raises on an
    error row."""
    if r["error"] is not None:
        raise _decode_failed(r["raster_id"], r["error"])
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


def _file_record(path: str) -> dict:
    """Decode one GeoTIFF file → sampling record."""
    with open(path, "rb") as fh:
        rec = read_geotiff(fh.read())
    return {
        "width": rec["width"],
        "height": rec["height"],
        "num_samples": rec["num_samples"],
        "dtype": str(rec["array"].dtype),
        "transform": rec["transform"],
        "raster_type": rec["raster_type"],
        "extent": rec["extent"],
        "data": rec["array"].tobytes(),
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
    production queries decode on executors, through
    :func:`load_raster_records_distributed` (identical records) or the
    copartition branch's per-file :func:`_file_record`.
    """
    records = {}
    for p in paths:
        _add_record(records, p.rsplit("/", 1)[-1], _file_record(p))
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


def _sample_batch(
    record: Callable[[str], dict | None],
    raster_id: pa.Array, x: pa.Array, y: pa.Array, strict: bool,
) -> pa.Array:
    """One Arrow batch of (raster_id, x, y) → double values. Looks each
    distinct raster_id up once, in order of first appearance, through
    `record` (None: unknown raster → NULL); NULL out of bounds and on a
    NaN pixel."""
    xs = x.to_numpy(zero_copy_only=False)
    ys = y.to_numpy(zero_copy_only=False)
    out = np.full(len(xs), np.nan)
    rids = raster_id.dictionary_encode()
    codes = rids.indices.fill_null(-1).to_numpy()
    for code, rid in enumerate(rids.dictionary.to_pylist()):
        rec = record(rid)
        if rec is None:
            continue
        mask = codes == code
        vals, valid = _gather(rec, xs[mask], ys[mask], strict)
        out[mask] = np.where(valid, vals, np.nan)
    return pa.array(out, mask=np.isnan(out))


def sample_udf(spark: SparkSession, records: dict[str, dict],
               strict: bool = True):
    """Arrow UDF (raster_id, x, y) → double value: NULL out of bounds,
    on an unknown raster_id and on a NaN pixel. strict=False maps
    tie-points coverage holes to NULL instead of failing the task
    (bulk-sampling semantics)."""
    bc = spark.sparkContext.broadcast(records)

    @arrow_udf("double")
    def sample_value(raster_id: pa.Array, x: pa.Array, y: pa.Array) -> pa.Array:
        return _sample_batch(bc.value.get, raster_id, x, y, strict)

    # deterministic in fact; marked otherwise so a downstream filter on
    # the sampled value (e.g. zonal_mode's isNotNull) cannot inline the
    # alias and re-plan a second ArrowEvalPython running the gather
    # twice (round 4, same pathology as dedup.minhash_signatures)
    return sample_value.asNondeterministic()


def sample_join_copartitioned(
    df: DataFrame,
    raster_paths: list[str],
    raster_id: Column,
    strict: bool = True,
) -> DataFrame:
    """Sampling join for raster corpora too large to broadcast: hash the
    (x, y) points by raster_id, sort each partition by it, and attach
    column `value` with an iterator Arrow UDF that decodes each raster
    from its path on the executor when the sorted run reaches it. Only
    the basename → path map ships with the UDF: a task holds one decoded
    raster at a time and decodes it once, and the pixels never cross a
    shuffle or reach the driver. A raster no point names is never read.

    Raises on the driver on a duplicate basename; a raster that does not
    decode fails the task with the broadcast branch's error."""
    paths: dict[str, str] = {}
    for p in raster_paths:
        _add_record(paths, p.rsplit("/", 1)[-1], p)

    @arrow_udf("double")
    def sample_value(
        batches: Iterator[tuple[pa.Array, pa.Array, pa.Array]],
    ) -> Iterator[pa.Array]:
        held: dict[str, dict | None] = {}  # the sorted run's raster

        def record(rid: str) -> dict | None:
            if rid not in held:
                held.clear()
                path = paths.get(rid)
                try:
                    held[rid] = None if path is None else _file_record(path)
                except Exception as exc:
                    raise _decode_failed(
                        rid, f"{type(exc).__name__}: {exc}") from exc
            return held[rid]

        for raster_ids, x, y in batches:
            yield _sample_batch(record, raster_ids, x, y, strict)

    key = "__rid"
    return (
        df.withColumn(key, raster_id)
        .repartition(key)
        .sortWithinPartitions(key)
        # nondeterministic for the reason sample_udf gives
        .withColumn("value", sample_value.asNondeterministic()(
            F.col(key), F.col("x"), F.col("y")))
        .drop(key)
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
        return sample_join_copartitioned(df, raster_paths, rid_col, strict)
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
