"""Flagship pipeline: geo-documents → cell encode → PIP join → raster
sample → zonal stats.

The driver's testdata has no geotagged pages, so documents are enriched
with DETERMINISTIC lat/lon derived from doc_id by plain integer arithmetic
— the same expression is reproducible in any ANSI-SQL engine (DuckDB
oracle), keeping the whole spatial path inside the driver's correctness
gate:

    lat = 36 + ((doc_id * 2654435761) % 220000) / 10000.0   -- [36, 58)
    lon = -10 + ((doc_id * 40503 + 7) % 400000) / 10000.0   -- [-10, 30)

(a Europe-sized box, where the polygon set lives)

Both stay JVM-side in Spark (no UDF) and bit-match DuckDB since they're
exact int64 ops followed by one IEEE division.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from geotiff_spark.operators import extract as ex
from geotiff_spark.operators import sample as smp
from geotiff_spark.operators import spatial_join as sj
from geotiff_spark.oracle_raster import AUSTRIAN

# Cell resolution of the documents' geo pipeline.
RES = 7


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The one table loader of the query modules: `{sf_dir}/{name}.parquet`,
    read as it is. Fan-out is not the loader's call: an operator whose
    per-row work grows with the length of a row's text or vector
    repartitions its own input
    (:func:`~geotiff_spark.plans.partitioning.ensure_map_parallelism`)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _with_latlon(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "lat",
        F.lit(36.0) + ((F.col("doc_id") * F.lit(2654435761)) % F.lit(220000)) / F.lit(10000.0),
    ).withColumn(
        "lon",
        F.lit(-10.0) + ((F.col("doc_id") * F.lit(40503) + F.lit(7)) % F.lit(400000)) / F.lit(10000.0),
    )


def geo_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic (lat, lon) — pure JVM expressions."""
    return _with_latlon(load_table(spark, sf_dir, "documents"))


def geo_documents_with_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ex.with_cell(geo_documents(spark, sf_dir), RES)


def doc_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents ⋈ admin polygons → (doc_id, lat, lon, cell, poly_id)."""
    return sj.pip_join(spark, geo_documents(spark, sf_dir), RES,
                       carry=("doc_id",))


def laea_udf():
    """EPSG:4326 → EPSG:3035 forward as a vectorized pandas UDF."""
    from geotiff_spark.functions.proj import laea_forward

    @pandas_udf("struct<x:double,y:double>")
    def project(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
        x, y = laea_forward(lon.to_numpy(float), lat.to_numpy(float))
        return pd.DataFrame({"x": x, "y": y})

    return project


def flagship_sampled(
    spark: SparkSession, sf_dir: str, sample_mode: str = "auto",
) -> DataFrame:
    """The flagship pipeline up to the per-document sampled value:
    geo documents → PIP join → project to EPSG:3035 → sample the
    austrian coverage raster. Shared by zonal_stats and zonal_mode.
    sample_mode passes through to with_raster_sample ('auto' broadcasts
    here — the corpus is tiny; 'copartition' forces the large-corpus
    branch, driver-gated by zonal_stats_copart: the points are hashed by
    raster_id and the raster is decoded from its path on the executors,
    so its pixels never reach the driver)."""
    hits = doc_pip_join(spark, sf_dir)
    proj = laea_udf()
    hits = hits.withColumn("xy", proj(F.col("lon"), F.col("lat")))
    return smp.with_raster_sample(
        hits.withColumn("x", F.col("xy.x")).withColumn("y", F.col("xy.y")),
        spark,
        [AUSTRIAN],
        AUSTRIAN.rsplit("/", 1)[-1],
        mode=sample_mode,
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: geo documents → PIP join → project to EPSG:3035 →
    sample the austrian coverage raster → zonal stats per polygon.

    Single shuffle (the final groupBy); the joins are broadcast; every
    kernel is an Arrow-batched pandas UDF.
    """
    return (
        smp.zonal_stats(flagship_sampled(spark, sf_dir))
        .withColumnRenamed("n_points", "n_docs")
        .orderBy("poly_id")
    )
