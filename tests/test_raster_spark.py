"""Raster sampling through the SPARK operator path must reproduce the
reference's golden pixel values (the kernels are tested in test_decode;
this pins the DataFrame plumbing)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from fixture_paths import reference


def test_spark_sample_zh_dem_goldens(spark):
    from geotiff_spark.operators.sample import with_raster_sample

    pts = spark.createDataFrame(
        [
            (677575.0, 253000.0), (679250.0, 251875.0), (685700.0, 249450.0),
            (0.0, 0.0),  # far out of bounds -> NULL
        ],
        ["x", "y"],
    )
    out = with_raster_sample(
        pts, spark, [str(reference("zh_dem_25.tif"))],
        "zh_dem_25.tif",
    ).orderBy(F.desc("x")).collect()
    by_xy = {(r.x, r.y): r.value for r in out}
    assert by_xy[(677575.0, 253000.0)] == 551.0
    assert by_xy[(679250.0, 251875.0)] == 530.0
    assert by_xy[(685700.0, 249450.0)] == 587.0
    assert by_xy[(0.0, 0.0)] is None or math.isnan(by_xy[(0.0, 0.0)])


def test_spark_rasters_df_all_fixtures_decode(spark):
    from geotiff_spark.sources.rasters import read_rasters

    meta = read_rasters(spark, str(reference())).select(
        "raster_id", "width", "height", "num_samples", "dtype", "error",
    ).collect()
    assert len(meta) == 9
    errors = {r.raster_id: r.error for r in meta if r.error}
    assert errors == {}, errors
    dims = {r.raster_id: (r.width, r.height, r.num_samples, r.dtype) for r in meta}
    assert dims["marbles.tif"] == (1419, 1001, 3, "u8")
    assert dims["zh_dem_25.tif"] == (399, 366, 1, "i16")
    assert dims["merc.tif"] == (200, 200, 1, "u8")


def test_spark_multi_raster_routing(spark):
    """Per-row raster routing: each row samples its own raster."""
    from geotiff_spark.operators.sample import with_raster_sample

    pts = spark.createDataFrame(
        [
            ("zh_dem_25.tif", 677575.0, 253000.0),
            ("marbles.tif", 761.0, 599.0),
        ],
        ["rid", "x", "y"],
    )
    out = with_raster_sample(
        pts, spark,
        [
            str(reference("zh_dem_25.tif")),
            str(reference("marbles.tif")),
        ],
        F.col("rid"),
    ).collect()
    vals = {r.rid: r.value for r in out}
    assert vals["zh_dem_25.tif"] == 551.0
    assert vals["marbles.tif"] == 147.0  # band 0


def test_exact_u64_sampling(spark, tmp_path):
    """u64 samples above 2^63 must survive exactly (no float/long round
    trip) through the exact sampling struct."""
    import numpy as np
    from pyspark.sql import functions as F

    from geotiff_spark.operators.sample import load_raster_records, sample_exact_udf
    from tiff_writer import write_tiff

    arr = np.array(
        [[2**64 - 1, 2**63 + 12345], [7, 2**53 + 1]], dtype=np.uint64
    )
    p = tmp_path / "u64.tif"
    p.write_bytes(write_tiff(arr, rows_per_strip=1))
    records = load_raster_records([str(p)])
    udf = sample_exact_udf(spark, records)
    pts = spark.createDataFrame(
        [(0.5, 0.5), (1.5, 0.5), (0.5, 1.5), (1.5, 1.5), (9.0, 9.0)],
        ["x", "y"],
    )
    out = pts.withColumn("s", udf(F.lit("u64.tif"), "x", "y")).collect()
    got = {(r.x, r.y): r.s for r in out}
    assert int(got[(0.5, 0.5)].int_val) == 2**64 - 1
    assert int(got[(1.5, 0.5)].int_val) == 2**63 + 12345
    assert int(got[(0.5, 1.5)].int_val) == 7
    assert int(got[(1.5, 1.5)].int_val) == 2**53 + 1  # float64 would round this
    assert got[(9.0, 9.0)].dtype is None  # out of bounds
    assert got[(0.5, 0.5)].dtype == "uint64"


def test_persisted_rasters_table_roundtrip(spark, tmp_path):
    """The 100 TB architecture: decode once, persist the rasters table,
    sample from the persisted form — golden pixel values must survive the
    parquet round trip (binary data + transform + raster_type)."""
    import numpy as np
    from pyspark.sql import functions as F

    from geotiff_spark.functions import transforms as T
    from geotiff_spark.functions.tiff import NUMPY_BY_NAME
    from geotiff_spark.sources.rasters import read_rasters

    out = str(tmp_path / "rasters_table")
    read_rasters(spark, str(reference())).write.parquet(out)
    persisted = spark.read.parquet(out)
    row = persisted.filter(F.col("raster_id") == "zh_dem_25.tif").collect()[0]

    flat = np.frombuffer(bytes(row.data), dtype=NUMPY_BY_NAME[row.dtype])
    idx, valid = T.sample_indices(
        row.transform.kind, list(row.transform.coeffs),
        row.width, row.height, row.num_samples, row.raster_type,
        np.array([677575.0, 679250.0, 685700.0]),
        np.array([253000.0, 251875.0, 249450.0]),
        0,
    )
    assert valid.all()
    assert flat[idx].tolist() == [551, 530, 587]


def test_zonal_and_tile_oracles_hash_match(spark):
    """The exact DuckDB oracles for the raster path (pixel-parquet +
    SQL-expressed projection/inverse-transform/gather) must reproduce the
    Spark results value-for-value at sf0.001."""
    import duckdb

    from geotiff_spark import oracle_raster
    from geotiff_spark.pipeline import flagship
    from geotiff_spark.operators.tiling import raster_to_tiles, tile_stats
    from geotiff_spark.sources.rasters import read_rasters

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )

    from oracle_check import value_hash

    spark_z = flagship(spark, "/root/testdata/sf0.001").toPandas()
    duck_z = con.execute(oracle_raster.zonal_stats_sql()).fetchdf()
    assert value_hash(spark_z) == value_hash(duck_z)

    # same corpus as the registry query: the committed fixtures
    tiles = tile_stats(
        raster_to_tiles(read_rasters(spark, oracle_raster.FIXTURE_DIR))
    ).toPandas()
    duck_t = con.execute(oracle_raster.tile_stats_sql()).fetchdf()
    assert value_hash(tiles) == value_hash(duck_t)
