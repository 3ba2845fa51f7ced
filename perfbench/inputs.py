"""Seeded inputs. The program only ever sees the files written here.

- pages: ``sources.pages.synth_pages_pdf`` over an id range offset by the
  seed, written as several parquet files so the scan has at least one
  split per core;
- rasters: a GeoTIFF corpus written with ``tests/tiff_writer.write_tiff``;
  the seed picks the content and which file gets which layout of a fixed
  compression/layout mix;
- points: sample points routed per row to the rasters, with a fixed share
  on one hot raster;
- embeddings: one single-row-group parquet file of vectors with planted
  near-duplicates.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Seeds select disjoint page-id ranges of this width.
ID_STRIDE = 1 << 32
HOT_RASTER_SHARE = 0.5
# Layout slot of the hot raster (deflate, striped, predictor 2): fixed, so
# that which file is hot varies with the seed but its decode cost does not.
HOT_SLOT = 2
OUTSIDE_SHARE = 0.02
PIXEL_SIZE = 2.0
COMPRESSIONS = {1: "none", 32773: "packbits", 8: "deflate"}
EMBED_DIM = 64
NEAR_DUP_COS = 0.9


@dataclass(frozen=True)
class Size:
    """Input sizes of one benchmark scale."""

    pages: int
    rasters: int
    raster_px: int
    points: int


SIZES = {
    "full": Size(pages=60_000, rasters=8, raster_px=448, points=240_000),
    "tiny": Size(pages=4_000, rasters=6, raster_px=64, points=2_000),
}


def rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream))])


def page_ids(seed: int, n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64) + seed * ID_STRIDE


def write_pages(seed: int, n: int, out_dir: str, files: int) -> None:
    """Pages parquet dir with `files` part files."""
    from geotiff_spark.sources.pages import synth_pages_pdf

    os.makedirs(out_dir, exist_ok=True)
    for i, ids in enumerate(np.array_split(page_ids(seed, n), files)):
        pdf = synth_pages_pdf(ids)
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


@dataclass(frozen=True)
class RasterSpec:
    name: str
    slot: int
    width: int
    height: int
    spp: int
    compression: int
    tile: int | None
    planar: int
    predictor: int
    x0: float
    y0: float


def raster_specs(seed: int, count: int, px: int) -> list[RasterSpec]:
    """Seed-derived corpus layout over a fixed mix, so every seed decodes
    the same amount of work: each compression appears in a striped and a
    tiled layout; two-sample rasters alternate chunky and planar; some
    deflate and uncompressed files use predictor 2. The seed permutes the
    layouts over the files and picks their content."""
    comps = list(COMPRESSIONS)
    slots = []
    for j in range(count):
        comp = comps[j % len(comps)]
        spp = 1 + j % 2
        slots.append(dict(
            compression=comp, spp=spp,
            tile=None if (j // len(comps)) % 2 == 0 else 64,
            planar=2 if spp == 2 and j % 4 == 3 else 1,
            predictor=2 if comp != 32773 and j % 2 == 0 else 1,
        ))
    order = rng(seed, "raster-layout").permutation(count)
    return [RasterSpec(name=f"r{i:03d}.tif", slot=int(k),
                       width=px + 16, height=px,
                       x0=100_000.0 * (i + 1), y0=5_000_000.0 + 10_000.0 * i,
                       **slots[k])
            for i, k in enumerate(order)]


def raster_array(seed: int, spec: RasterSpec) -> np.ndarray:
    """Smooth field plus noise: compressible but never constant."""
    r = rng(seed, spec.name)
    yy, xx = np.mgrid[0:spec.height, 0:spec.width]
    base = (xx * 7 + yy * 3 + int(r.integers(0, 5000))) % 20000
    out = np.empty((spec.height, spec.width, spec.spp), dtype=np.uint16)
    for b in range(spec.spp):
        noise = r.integers(0, 64, size=base.shape)
        out[:, :, b] = (base + 997 * b + noise).astype(np.uint16)
    return out


def write_rasters(seed: int, specs: list[RasterSpec], out_dir: str) -> None:
    from tests.tiff_writer import write_tiff

    os.makedirs(out_dir, exist_ok=True)
    for spec in specs:
        data = write_tiff(
            raster_array(seed, spec), compression=spec.compression,
            tile=(spec.tile, spec.tile) if spec.tile else None,
            rows_per_strip=None if spec.tile else 16,
            planar=spec.planar, predictor=spec.predictor,
            pixel_scale=[PIXEL_SIZE, PIXEL_SIZE, 0.0],
            tie_points=[0.0, 0.0, 0.0, spec.x0, spec.y0, 0.0],
        )
        with open(os.path.join(out_dir, spec.name), "wb") as fh:
            fh.write(data)


def points(seed: int, n: int, specs: list[RasterSpec]) -> dict:
    """Model-space points: a fixed share on the hot raster, the rest
    spread over the others, a few just outside their raster."""
    r = rng(seed, "points")
    hot = next(i for i, s in enumerate(specs) if s.slot == HOT_SLOT)
    others = [i for i in range(len(specs)) if i != hot]
    which = np.where(r.random(n) < HOT_RASTER_SHARE, hot,
                     np.asarray(others)[r.integers(len(others), size=n)])
    w = np.array([s.width for s in specs])[which]
    h = np.array([s.height for s in specs])[which]
    u, v = r.random(n), r.random(n)
    outside = r.random(n) < OUTSIDE_SHARE
    u = np.where(outside, 1.0 + u, u)
    x = np.array([s.x0 for s in specs])[which] + u * w * PIXEL_SIZE
    y = np.array([s.y0 for s in specs])[which] - v * h * PIXEL_SIZE
    return {"pid": np.arange(n, dtype=np.int64),
            "raster_id": np.array([s.name for s in specs])[which],
            "x": x, "y": y, "which": which}


def write_points(pts: dict, path: str) -> None:
    pq.write_table(pa.table({k: pts[k] for k in ("pid", "raster_id", "x", "y")}),
                   path)


def embeddings(seed: int, n: int) -> np.ndarray:
    """Gaussian vectors; the last twentieth are noisy copies of the first
    (cosine ~0.999), while two independent vectors sit far below
    NEAR_DUP_COS."""
    r = rng(seed, "embeddings")
    v = r.standard_normal((n, EMBED_DIM))
    k = n // 20
    v[n - k:] = v[:k] + 0.05 * r.standard_normal((k, EMBED_DIM))
    return v


def write_embeddings(vecs: np.ndarray, path: str) -> None:
    """One file, one row group: the degenerate scan."""
    pq.write_table(pa.table({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float64())),
    }), path)


def page_texts(in_dir: str) -> np.ndarray:
    """The text column of the pages written by `write_pages` (read with
    pyarrow, for the oracles)."""
    return pq.read_table(os.path.join(in_dir, "pages"),
                         columns=["text"]).column("text").to_numpy()


def build(workload: str, seed: int, size: Size, out_dir: str,
          files: int) -> dict:
    """Write one workload's inputs into `out_dir`, unless a completed
    build of the same seed and size is already there; returns what the
    oracles need (nothing here is handed to the program)."""
    stamp = os.path.join(out_dir, "BUILT")
    key = f"{workload} {seed} {size} {files}"
    meta: dict = {"dir": out_dir}
    if workload == "ingest":
        meta["pages"] = size.pages
    elif workload == "raster":
        specs = raster_specs(seed, size.rasters, size.raster_px)
        meta.update(specs=specs, points=points(seed, size.points, specs))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    meta["cached"] = False
    if os.path.exists(stamp):
        with open(stamp) as fh:
            meta["cached"] = fh.read() == key
    if not meta["cached"]:
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        if workload == "ingest":
            write_pages(seed, size.pages, os.path.join(out_dir, "pages"),
                        files)
            write_embeddings(embeddings(seed, size.pages // 20),
                             os.path.join(out_dir, "embeddings.parquet"))
        else:
            write_rasters(seed, meta["specs"],
                          os.path.join(out_dir, "rasters"))
            write_points(meta["points"],
                         os.path.join(out_dir, "points.parquet"))
        with open(stamp, "w") as fh:
            fh.write(key)
    if workload == "ingest":
        pages_dir = os.path.join(out_dir, "pages")
        meta["page_bytes"] = sum(os.path.getsize(os.path.join(pages_dir, f))
                                 for f in os.listdir(pages_dir))
    return meta
