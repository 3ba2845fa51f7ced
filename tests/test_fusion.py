"""Chained pandas map stages fuse into one Python operator per task
(plans/fusion.py): same rows as the staged chain, one MapInPandas in the
plan, lineage counters riding the adjacent operator. Built on synthetic
GeoTIFFs from tests/tiff_writer, so no reference fixtures are needed."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotiff_spark.operators.tiling import (
    focal_stats, raster_to_tiles, tile_stats,
)
from geotiff_spark.sources.rasters import read_rasters
from tiff_writer import write_tiff

TILE = 32
SHAPES = [(70 + 5 * i, 90 + 3 * i) for i in range(4)]
N_TILES = sum(-(-h // TILE) * -(-w // TILE) for h, w in SHAPES)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def raster_dir(tmp_path_factory):
    """Four rasters: u16 and i16, striped and tiled, raw and deflate,
    sizes that leave edge-clipped tiles."""
    d = tmp_path_factory.mktemp("fusion_rasters")
    rng = np.random.RandomState(7)
    for i, dtype in enumerate(("uint16", "int16", "uint16", "int16")):
        arr = rng.randint(-3000 if dtype == "int16" else 0, 30000,
                          size=SHAPES[i]).astype(dtype)
        data = write_tiff(
            arr, compression=8 if i % 2 else 1,
            tile=(16, 16) if i >= 2 else None,
            rows_per_strip=None if i >= 2 else 8,
            pixel_scale=[1.0, 1.0, 0.0],
            tie_points=[0.0, 0.0, 0.0, 10.0 + i, 40.0, 0.0],
        )
        (d / f"r{i}.tif").write_bytes(data)
    return str(d)


def _tiles(spark, raster_dir):
    return raster_to_tiles(read_rasters(spark, raster_dir), TILE)


def test_fused_tile_stats_equals_staged_chain(spark, raster_dir):
    fused = tile_stats(_tiles(spark, raster_dir))
    plan = _plan(fused)
    assert plan.count("MapInPandas") == 1, plan
    assert "read_rasters>raster_to_tiles>tile_stats" in plan, plan
    # persisting the tiles ends the chain: stats read the cached tiles
    tiles = _tiles(spark, raster_dir).persist()
    try:
        staged = tile_stats(tiles)
        assert "InMemoryTableScan" in _plan(staged)
        assert "read_rasters>raster_to_tiles>tile_stats" not in _plan(staged)
        want = _rows(staged)
    finally:
        tiles.unpersist()
    got = _rows(fused)
    assert len(got) == N_TILES
    assert got == want


def test_fused_focal_stats_equals_staged_chain(spark, raster_dir):
    fused = focal_stats(_tiles(spark, raster_dir), tile_size=TILE)
    plan = _plan(fused)
    # decode → tiles → halo emit is one operator below the one exchange;
    # the assemble stage stays after it
    assert plan.count("Exchange") == 1, plan
    assert plan.count("MapInPandas") == 1, plan
    assert plan.index("MapInPandas") > plan.index("Exchange"), plan
    assert "read_rasters>raster_to_tiles>focal_stats" in plan, plan
    tiles = _tiles(spark, raster_dir).persist()
    try:
        want = _rows(focal_stats(tiles, tile_size=TILE))
    finally:
        tiles.unpersist()
    got = _rows(fused)
    assert len(got) == N_TILES
    assert got == want


def test_transformed_intermediate_is_not_fused(spark, raster_dir):
    """Only the very DataFrame a stage returned fuses with the next."""
    tiles = _tiles(spark, raster_dir).filter(F.col("tile_x") > 0)
    assert _plan(tile_stats(tiles)).count("MapInPandas") == 2


def test_map_in_pandas_chain_rules(spark):
    """Stages fuse; a column selection moves below pass-through stages
    only; results match the unfused operators either way."""
    from pyspark.sql.types import LongType, StructField, StructType

    from geotiff_spark.plans.fusion import map_in_pandas

    def same(batches):
        yield from batches

    def plus_one(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] + 1)

    ids = StructType([StructField("id", LongType())])
    src = spark.range(0, 50, numPartitions=2).withColumn("x", F.col("id") * 2)

    piped = map_in_pandas(src, same, src.schema, name="same",
                          passthrough=True)
    fused = map_in_pandas(piped, plus_one, ids, columns=["id"],
                          name="plus_one")
    plan = _plan(fused)
    assert plan.count("MapInPandas") == 1, plan
    assert "same>plus_one(id#" in plan, plan
    assert [r.id for r in fused.collect()] == list(range(1, 51))

    computed = map_in_pandas(src, plus_one, src.schema)
    split = map_in_pandas(computed, plus_one, ids, columns=["id"])
    assert _plan(split).count("MapInPandas") == 2
    assert [r.id for r in split.collect()] == list(range(2, 52))


def test_lineage_counters_ride_fused_pip(spark, tmp_path):
    """instrument → fused_pages_pip → instrument: the staged chain's
    per-partition snapshot, from one MapInPandas whose scan reads only
    url and html."""
    from geotiff_spark.operators.spatial_join import fused_pages_pip
    from geotiff_spark.plans.lineage import StageMetrics
    from geotiff_spark.sources.pages import synth_pages

    path = str(tmp_path / "pages")
    synth_pages(spark, 3000, partitions=3).write.parquet(path)

    def chain(staged: bool):
        m = StageMetrics(spark)
        pages = m.instrument(spark.read.parquet(path), "scan")
        held = [pages.persist()] if staged else []
        hits = fused_pages_pip(spark, pages, 7)
        held += [hits.persist()] if staged else []
        return m, m.instrument(hits, "pip_join"), held

    m, hits, _ = chain(staged=False)
    plan = _plan(hits)
    assert plan.count("MapInPandas") == 1, plan
    assert "count[scan]>fused_pages_pip>count[pip_join]" in plan, plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0].strip()
    assert read_schema == "struct<url:string,html:binary>", read_schema
    n_hits = hits.count()
    got = m.snapshot()

    m_staged, staged, held = chain(staged=True)
    try:
        assert staged.count() == n_hits
        want = m_staged.snapshot()
    finally:
        for df in held:
            df.unpersist()
    assert got == want
    assert sum(r["rows"] for r in got if r["stage"] == "scan") == 3000
    assert sum(r["rows"] for r in got if r["stage"] == "pip_join") == n_hits
    assert n_hits > 0
