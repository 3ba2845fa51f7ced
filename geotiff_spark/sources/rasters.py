"""Raster ingest: binaryFile scan → mapInPandas decode → rasters DataFrame.

Engine equivalent of GeoTiff::read (/root/reference/src/lib.rs:49-84), run
once per file on executors: the FILE is the unit of parallelism, which
matches the measured corpus layout (many small rasters). One row builder
turns a decoded record or a failure into a RASTER_SCHEMA row.
At 100 TB the rasters table is written once to Parquet and reused — the
decode cost is paid one time per raster, not per query (persisted-table
sampling is golden-tested).

Schema (SURVEY.md §1.3): data carried as raw native-endian numpy bytes +
dtype tag. Spark has no unsigned types, so u16..u64 must NOT round-trip
through long columns — the bytes+tag form is lossless for all 10 dtypes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from geotiff_spark.plans.fusion import map_in_pandas

RASTER_SCHEMA = StructType(
    [
        StructField("raster_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("num_samples", IntegerType()),
        StructField("dtype", StringType()),
        StructField(
            "transform",
            StructType(
                [
                    StructField("kind", StringType()),
                    StructField("coeffs", ArrayType(DoubleType())),
                ]
            ),
        ),
        StructField("raster_type", StringType()),
        StructField("geo_keys", MapType(StringType(), StringType())),
        StructField(
            "extent",
            StructType(
                [
                    StructField("minx", DoubleType()),
                    StructField("miny", DoubleType()),
                    StructField("maxx", DoubleType()),
                    StructField("maxy", DoubleType()),
                ]
            ),
        ),
        StructField("data", BinaryType()),
        StructField("error", StringType()),
    ]
)


def _raster_row(raster_id: str, rec: dict) -> dict:
    """One RASTER_SCHEMA row from a read_geotiff-shaped record."""
    kind, coeffs = rec["transform"]
    return {
        "raster_id": raster_id,
        "width": rec["width"],
        "height": rec["height"],
        "num_samples": rec["num_samples"],
        "dtype": rec["dtype"],
        "transform": {"kind": kind, "coeffs": [float(c) for c in coeffs]},
        "raster_type": rec["raster_type"],
        "geo_keys": {k: str(v) for k, v in rec["geo_keys"].items()},
        "extent": dict(zip(("minx", "miny", "maxx", "maxy"), rec["extent"])),
        "data": rec["array"].tobytes(),
        "error": None,
    }


def _error_message(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _error_row(raster_id: str, error: str) -> dict:
    """The error-status row of a raster that failed to decode: the job
    goes on, every other column is NULL."""
    row = dict.fromkeys(RASTER_SCHEMA.fieldNames())
    row.update(raster_id=raster_id, error=error)
    return row


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # import inside the UDF: executors only need the pure-numpy kernel
    from geotiff_spark.functions.geotiff import read_geotiff

    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            rid = path.rsplit("/", 1)[-1]
            try:
                rows.append(_raster_row(rid, read_geotiff(bytes(content))))
            except Exception as exc:  # error-status row, don't kill the job
                rows.append(_error_row(rid, _error_message(exc)))
        yield pd.DataFrame(rows)


def read_rasters(
    spark: SparkSession, path: str | list[str], glob: str = "*.tif"
) -> DataFrame:
    """Scan GeoTIFF files and decode to the rasters DataFrame.

    ``spark.read.format('binaryFile')`` parallelizes across files; decode
    runs in ``mapInPandas`` (Arrow batches, no per-row Python overhead on
    the Spark side; the kernel itself is whole-file numpy). ``path`` may
    be one directory or a list of directories (multi-source corpus).
    """
    paths = [path] if isinstance(path, str) else list(path)
    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(paths)
        .select("path", "content")
    )
    return map_in_pandas(scan, _decode_batches, RASTER_SCHEMA,
                         name="read_rasters")
