"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship spatial pipeline at sf0.001 (geo documents →
                 cell encode → PIP join → EPSG:3035 raster sample → zonal
                 stats).
queries()      — every implemented operator from SURVEY.md §2 as
                 (spark, sf_dir) -> DataFrame. It builds no oracle.
oracle_sql()   — matching DuckDB SQL for EVERY query (full coverage
                 since round 6: the formerly-probabilistic LSH/simhash/
                 ANN variants run md5-derived hash/plane/anchor modes
                 whose oracles replay them bit-for-bit). It is the one
                 place that materializes the oracle tables the raster
                 and media SQL reads.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from geotiff_spark.pipeline import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from geotiff_spark.queries import registry

    return {name: fn for name, (fn, _sql) in registry().items()}


def oracle_sql() -> dict[str, str]:
    from geotiff_spark.queries import registry

    return {name: sql if isinstance(sql, str) else sql()
            for name, (_fn, sql) in registry().items()}
