"""Raster ingest: binaryFile scan → mapInPandas decode → rasters DataFrame.

Engine equivalent of GeoTiff::read (/root/reference/src/lib.rs:49-84), run
once per file on executors. read_rasters parallelizes across FILES (the
common corpus shape); read_rasters_parallel parallelizes WITHIN files at
strip/tile granularity (bit-identical, for corpora of few huge rasters).
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
from pyspark.sql import functions as F
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


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # import inside the UDF: executors only need the pure-numpy kernel
    from geotiff_spark.functions.geotiff import read_geotiff

    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                rec = read_geotiff(bytes(content))
                rows.append(
                    {
                        "raster_id": path.rsplit("/", 1)[-1],
                        "width": rec["width"],
                        "height": rec["height"],
                        "num_samples": rec["num_samples"],
                        "dtype": rec["dtype"],
                        "transform": {
                            "kind": rec["transform"][0],
                            "coeffs": [float(c) for c in rec["transform"][1]],
                        },
                        "raster_type": rec["raster_type"],
                        "geo_keys": {
                            k: str(v) for k, v in rec["geo_keys"].items()
                        },
                        "extent": {
                            "minx": rec["extent"][0],
                            "miny": rec["extent"][1],
                            "maxx": rec["extent"][2],
                            "maxy": rec["extent"][3],
                        },
                        "data": rec["array"].tobytes(),
                        "error": None,
                    }
                )
            except Exception as exc:  # error-status row, don't kill the job
                rows.append(
                    {
                        "raster_id": path.rsplit("/", 1)[-1],
                        "width": None,
                        "height": None,
                        "num_samples": None,
                        "dtype": None,
                        "transform": None,
                        "raster_type": None,
                        "geo_keys": None,
                        "extent": None,
                        "data": None,
                        "error": f"{type(exc).__name__}: {exc}",
                    }
                )
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

    from geotiff_spark.functions import geokeys, tiff, transforms

    seg_schema = StructType([
        StructField("raster_id", StringType()),
        StructField("seg_idx", IntegerType()),
        StructField("seg_bytes", BinaryType()),
        StructField("seg_json", StringType()),
        StructField("meta_json", StringType()),   # only on seg_idx == 0
        StructField("n_segs", IntegerType()),
    ])

    def explode_segments(batches):
        for pdf in batches:
            rows = []
            for pth, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                rid = pth.rsplit("/", 1)[-1]
                try:
                    bo, ifds = tiff.parse_ifds(data)
                    ifd = ifds[0]
                    meta, segs = tiff.segment_plan(data, ifd)
                    # header metadata: geokeys + transform + extent
                    directory = ifd.values(tiff.TAG_GEO_KEY_DIRECTORY)
                    if directory is None:
                        gk = geokeys.default_geo_key_directory()
                    else:
                        gk = geokeys.parse_geo_key_directory(
                            directory,
                            ifd.values(tiff.TAG_GEO_DOUBLE_PARAMS, []),
                            ifd.scalar(tiff.TAG_GEO_ASCII_PARAMS, ""),
                        )
                    ps = ifd.values(tiff.TAG_MODEL_PIXEL_SCALE)
                    tp = ifd.values(tiff.TAG_MODEL_TIEPOINT)
                    mx = ifd.values(tiff.TAG_MODEL_TRANSFORMATION)
                    if ps is None and tp is None and mx is None:
                        kind, coeffs = "identity", []
                    else:
                        kind, coeffs = transforms.transform_from_tag_data(ps, tp, mx)
                    meta.update({
                        "geo_keys": gk, "kind": kind,
                        "coeffs": [float(c) for c in coeffs],
                        "raster_type": gk.get("raster_type"),
                    })
                except Exception as exc:
                    rows.append({
                        "raster_id": rid, "seg_idx": 0, "seg_bytes": b"",
                        "seg_json": "", "n_segs": 1,
                        "meta_json": json.dumps(
                            {"error": f"{type(exc).__name__}: {exc}"}
                        ),
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
                        "seg_idx": i,
                        "seg_bytes": data[seg["offset"]: seg["offset"] + seg["nbytes"]],
                        "seg_json": json.dumps(sj),
                        "meta_json": json.dumps(meta) if i == 0 else None,
                        "n_segs": len(segs),
                    })
            yield pd.DataFrame(rows, columns=[f.name for f in seg_schema.fields])

    dec_schema = StructType([
        StructField("raster_id", StringType()),
        StructField("seg_idx", IntegerType()),
        StructField("decoded", BinaryType()),
        StructField("seg_json", StringType()),
        StructField("meta_json", StringType()),
    ])

    def decode_segments(batches):
        for pdf in batches:
            rows = []
            for rid, i, seg_bytes, seg_json, meta_json in zip(
                pdf["raster_id"], pdf["seg_idx"], pdf["seg_bytes"],
                pdf["seg_json"], pdf["meta_json"],
            ):
                if not seg_json:  # error header row
                    rows.append({"raster_id": rid, "seg_idx": int(i),
                                 "decoded": b"", "seg_json": "",
                                 "meta_json": meta_json})
                    continue
                seg = json.loads(seg_json)
                try:
                    arr = tiff.decode_planned_segment(
                        bytes(seg_bytes), seg, seg
                    )
                    decoded = arr.tobytes()
                except Exception as exc:
                    decoded = b""
                    seg["decode_error"] = f"{type(exc).__name__}: {exc}"
                rows.append({
                    "raster_id": rid, "seg_idx": int(i),
                    "decoded": decoded, "seg_json": json.dumps(seg),
                    "meta_json": meta_json,
                })
            yield pd.DataFrame(rows, columns=[f.name for f in dec_schema.fields])

    def assemble(key, pdf):  # (key, pdf) -> pdf; hints omitted so pyspark
        # uses the positional applyInPandas protocol without warnings
        import numpy as np

        rid = key[0]
        header = pdf.loc[pdf["meta_json"].notna(), "meta_json"]
        meta = json.loads(header.iloc[0]) if len(header) else {}
        if "error" in meta or not meta:
            return pd.DataFrame([{
                "raster_id": rid, "width": None, "height": None,
                "num_samples": None, "dtype": None, "transform": None,
                "raster_type": None, "geo_keys": None, "extent": None,
                "data": None, "error": meta.get("error", "missing header"),
            }])
        try:
            import numpy as np

            native = np.dtype(meta["dtype_np"]).newbyteorder("=")
            pieces = []
            for _, row in pdf.iterrows():
                seg = json.loads(row["seg_json"])
                if "decode_error" in seg:
                    raise RuntimeError(seg["decode_error"])
                arr = np.frombuffer(bytes(row["decoded"]), dtype=native).reshape(
                    seg["rows"], seg["cols"], seg["spp"]
                )
                pieces.append((seg, arr))
            full = tiff.assemble_segments(meta, pieces)
            extent = transforms.model_extent(
                meta["kind"], meta["coeffs"], meta["width"], meta["height"],
                meta["raster_type"],
            )
            return pd.DataFrame([{
                "raster_id": rid,
                "width": meta["width"], "height": meta["height"],
                "num_samples": meta["num_samples"], "dtype": meta["dtype"],
                "transform": {"kind": meta["kind"], "coeffs": meta["coeffs"]},
                "raster_type": meta["raster_type"],
                "geo_keys": {k: str(v) for k, v in meta["geo_keys"].items()},
                "extent": dict(zip(("minx", "miny", "maxx", "maxy"), extent)),
                "data": full.tobytes(),
                "error": None,
            }])
        except Exception as exc:
            return pd.DataFrame([{
                "raster_id": rid, "width": None, "height": None,
                "num_samples": None, "dtype": None, "transform": None,
                "raster_type": None, "geo_keys": None, "extent": None,
                "data": None, "error": f"{type(exc).__name__}: {exc}",
            }])

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
