"""Raster ingest: binaryFile scan → mapInPandas decode → rasters DataFrame.

Engine equivalent of GeoTiff::read (/root/reference/src/lib.rs:49-84), run
once per file on executors. read_rasters parallelizes across FILES (the
common corpus shape); read_rasters_parallel parallelizes WITHIN files at
strip/tile granularity (bit-identical, for corpora of few huge rasters).
One segment plan (functions/tiff.segment_plan) serves both readers, so
they place pixels and reject malformed layouts the same way, and one row
builder turns either reader's record or failure into a RASTER_SCHEMA row.
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


def read_rasters_parallel(
    spark: SparkSession,
    path: str,
    glob: str = "*.tif",
    partitions: int | None = None,
) -> DataFrame:
    """Strip/tile-parallel raster ingest: one FILE is no longer the unit
    of parallelism — segments are.

    Stage 1 (mapInPandas): parse the IFD, explode per-segment rows
    carrying only each segment's compressed bytes + placement.
    Stage 2 (repartition → mapInPandas): decode segments anywhere.
    Stage 3 (groupBy raster → applyInPandas): reassemble + metadata.

    Same output schema and bit-identical results as read_rasters (tested);
    use it when single large rasters would serialize decode (e.g. one
    LZW-compressed file with thousands of strips).
    """
    import json

    import numpy as np

    from geotiff_spark.functions import tiff
    from geotiff_spark.functions.geotiff import geo_header

    seg_schema = StructType([
        StructField("raster_id", StringType()),
        StructField("seg_bytes", BinaryType()),
        StructField("seg_json", StringType()),
        StructField("meta_json", StringType()),   # only on the first segment
    ])

    def explode_segments(batches):
        for pdf in batches:
            rows = []
            for pth, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                rid = pth.rsplit("/", 1)[-1]
                try:
                    _bo, ifds = tiff.parse_ifds(data)
                    meta, segs = tiff.segment_plan(ifds[0])
                    meta.update(geo_header(ifds[0], meta["width"], meta["height"]))
                except Exception as exc:
                    rows.append({
                        "raster_id": rid, "seg_bytes": b"", "seg_json": "",
                        "meta_json": json.dumps({"error": _error_message(exc)}),
                    })
                    continue
                # each segment carries its own decode essentials so stage 2
                # decodes with no join back to the header
                dec_meta = {
                    "compression": meta["compression"],
                    "predictor": meta["predictor"],
                    "dtype_np": meta["dtype_np"],
                }
                for i, seg in enumerate(segs):
                    sj = {k: v for k, v in seg.items()
                          if k not in ("offset", "nbytes")}
                    sj.update(dec_meta)
                    rows.append({
                        "raster_id": rid,
                        "seg_bytes": data[seg["offset"]: seg["offset"] + seg["nbytes"]],
                        "seg_json": json.dumps(sj),
                        "meta_json": json.dumps(meta) if i == 0 else None,
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in seg_schema.fields])

    dec_schema = StructType([
        StructField("raster_id", StringType()),
        StructField("decoded", BinaryType()),
        StructField("seg_json", StringType()),
        StructField("meta_json", StringType()),
    ])

    def decode_segments(batches):
        for pdf in batches:
            rows = []
            for rid, seg_bytes, seg_json, meta_json in zip(
                pdf["raster_id"], pdf["seg_bytes"], pdf["seg_json"],
                pdf["meta_json"],
            ):
                decoded = b""
                if seg_json:  # empty on the row of a raster whose header failed
                    try:
                        seg = json.loads(seg_json)
                        decoded = tiff.decode_planned_segment(
                            bytes(seg_bytes), seg, seg
                        ).tobytes()
                    except Exception as exc:  # reported by assemble
                        seg_json = ""
                        meta_json = json.dumps({"error": _error_message(exc)})
                rows.append({"raster_id": rid, "decoded": decoded,
                             "seg_json": seg_json, "meta_json": meta_json})
            yield pd.DataFrame(rows, columns=[f.name for f in dec_schema.fields])

    def assemble(key, pdf):  # (key, pdf) -> pdf; hints omitted so pyspark
        # uses the positional applyInPandas protocol without warnings
        rid = key[0]
        metas = [json.loads(m) for m in pdf["meta_json"].dropna()]
        errors = [m["error"] for m in metas if "error" in m]
        if errors:
            return pd.DataFrame([_error_row(rid, errors[0])])
        meta = metas[0]
        native = np.dtype(meta["dtype_np"]).newbyteorder("=")
        pieces = (
            (seg, np.frombuffer(buf, dtype=native).reshape(
                seg["rows"], seg["cols"], seg["spp"]))
            for seg, buf in zip(map(json.loads, pdf["seg_json"]), pdf["decoded"])
        )
        try:
            full = tiff.assemble_segments(meta, pieces)
        except Exception as exc:
            return pd.DataFrame([_error_row(rid, _error_message(exc))])
        return pd.DataFrame([_raster_row(rid, {**meta, "array": full})])

    scan = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    segs = scan.mapInPandas(explode_segments, schema=seg_schema)
    n_part = partitions or spark.sparkContext.defaultParallelism
    decoded = segs.repartition(n_part).mapInPandas(decode_segments, schema=dec_schema)
    return decoded.groupBy("raster_id").applyInPandas(assemble, schema=RASTER_SCHEMA)


def rasters_metadata(df: DataFrame) -> DataFrame:
    """Metadata-only projection (column pruning keeps `data` unread when a
    query needs only dims/extent — e.g. partition pruning of page→raster
    assignment via A3 extents)."""
    return df.select(
        "raster_id", "width", "height", "num_samples", "dtype",
        "transform", "raster_type", "extent", "error",
    )
