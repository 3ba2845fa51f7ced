"""GeoTIFF read: container decode → raster record (the engine's unit row).

Equivalent of GeoTiff::read (/root/reference/src/lib.rs:49-84): parse geo
keys + transform tags, read dims/SamplesPerPixel, decode the whole image to
a typed array; plus the point-sampling API (get_value_at,
/root/reference/src/lib.rs:126-130) in vectorized form for tests and for the
Spark sampling-join kernel.
"""

from __future__ import annotations

import numpy as np

from . import geokeys, tiff, transforms


def read_geotiff(data: bytes) -> dict:
    """Decode one GeoTIFF byte string into a raster record dict.

    Keys: width, height, num_samples, dtype, array (h,w,spp native numpy),
    transform (kind, coeffs), raster_type, geo_keys (flat dict), extent
    (minx, miny, maxx, maxy).
    """
    _bo, ifds = tiff.parse_ifds(data)
    ifd = ifds[0]  # first IFD only, like Decoder::new + read_image
    img = tiff.decode_tiff_ifd(data, ifd)
    return {**img, **geo_header(ifd, img["width"], img["height"])}


def geo_header(ifd: tiff.Ifd, width: int, height: int) -> dict:
    """The georeferencing half of a raster record, from tags alone:
    transform (kind, coeffs), raster_type, geo_keys, extent."""
    # GeoKeyDirectory (decoder_ext.rs:45-67)
    directory = ifd.values(tiff.TAG_GEO_KEY_DIRECTORY)
    if directory is None:
        gk = geokeys.default_geo_key_directory()
    else:
        doubles = ifd.values(tiff.TAG_GEO_DOUBLE_PARAMS, [])
        ascii_params = ifd.scalar(tiff.TAG_GEO_ASCII_PARAMS, "")
        gk = geokeys.parse_geo_key_directory(directory, doubles, ascii_params)

    # CoordinateTransform (decoder_ext.rs:17-43): None if all tags absent
    pixel_scale = ifd.values(tiff.TAG_MODEL_PIXEL_SCALE)
    tie_points = ifd.values(tiff.TAG_MODEL_TIEPOINT)
    matrix = ifd.values(tiff.TAG_MODEL_TRANSFORMATION)
    if pixel_scale is None and tie_points is None and matrix is None:
        kind, coeffs = "identity", []
    else:
        kind, coeffs = transforms.transform_from_tag_data(
            pixel_scale, tie_points, matrix
        )

    raster_type = gk.get("raster_type")
    return {
        "transform": (kind, coeffs),
        "raster_type": raster_type,
        "geo_keys": gk,
        "extent": transforms.model_extent(
            kind, coeffs, width, height, raster_type
        ),
    }


def get_values_at(record: dict, x, y, sample: int = 0) -> np.ndarray:
    """Vectorized get_value_at (/root/reference/src/lib.rs:126-130):
    model-space coords → float64 array of sampled values, NaN where the
    point falls outside the raster (reference returns None)."""
    arr = record["array"]
    flat = arr.reshape(-1)
    kind, coeffs = record["transform"]
    idx, valid = transforms.sample_indices(
        kind, coeffs,
        record["width"], record["height"], record["num_samples"],
        record["raster_type"], x, y, sample,
    )
    out = flat[idx].astype(np.float64)
    out[~valid] = np.nan
    return out


def get_values_at_pixel(record: dict, x, y, sample: int = 0) -> np.ndarray:
    """Vectorized get_value_at_pixel (/root/reference/src/lib.rs:134-162):
    0-based pixel coords, NaN when out of bounds, raise on bad sample."""
    if sample >= record["num_samples"]:
        raise IndexError(
            f"sample out of bounds: the number of samples is "
            f"{record['num_samples']} but the sample is {sample}"
        )
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    w, h, spp = record["width"], record["height"], record["num_samples"]
    valid = (x >= 0) & (x < w) & (y >= 0) & (y < h)
    idx = (np.where(valid, y, 0) * w + np.where(valid, x, 0)) * spp + sample
    out = record["array"].reshape(-1)[idx].astype(np.float64)
    out[~valid] = np.nan
    return out
