"""Adaptive partitioning by cell prefix (north rule).

The cell token is a base-4 quadkey whose prefixes are valid coarser cells
(geotiff_spark.functions.cells). Partitioning output by a token prefix
gives spatial locality (co-located cells share files → partition pruning
on spatial predicates), but a FIXED prefix depth either under-splits hot
regions or over-splits empty ones.

One exact groupBy measures the histogram: rows per prefix at the deepest
depth whose distinct prefixes fit the driver budget (deep_histogram), the
pull bounded by a limit and backed off one depth when it overflows. Every
coarser depth's histogram derives from it driver-side (prefix sums), so
choosing the balanced depth and the hot prefixes costs that one Spark job
regardless of how many depths are considered.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DRIVER_HISTOGRAM_BUDGET = 100_000
# Deepest token prefix considered.
MAX_DEPTH = 12


def ensure_map_parallelism(df: DataFrame) -> DataFrame:
    """Fix DEGENERATE input partitioning before a CPU-heavy map stage.

    The rule: an operator whose per-row work grows with the length of a
    row's text or vector fans out its own input with this call, at its
    top, once; the table loader and the operator's callers never do.
    tests/test_plan_shapes.py's FAN_OUT and FAN_OUT_QUERIES list the
    callers and pin each one's plan; perfbench also calls it on its
    embeddings corpus.

    A small/unsplittable source (one parquet row group) plans as a
    handful of partitions, serializing the stage no matter how many
    cores exist (measured: sf0.1 documents.parquet = 1 row group →
    the whole signature stage on one core, 4s instead of ~0.3s on 32).
    Repartition ONLY when the scan yields fewer than half the cluster's
    default parallelism — at production scale a 100 TB scan has orders of
    magnitude more splits than cores and this is a no-op with zero
    shuffle; when it does fire, the shuffled bytes are by construction
    tiny (the input was under a few row groups). AQE cannot ADD
    parallelism to an unsplittable scan.

    A data-size-proportional target (1 task / 4 MB) lost to full fan-out
    on the sf0.1 minhash pipeline in an interleaved A/B (min wall 5.5 s
    at 32 parts vs 11.1 s at 4), so the core-count target stays."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 1):
        return df.repartition(target)
    return df


def deep_histogram(
    df: DataFrame, token: str, driver_budget: int = DRIVER_HISTOGRAM_BUDGET,
) -> pd.DataFrame:
    """(prefix@depth, n) — the exact histogram at the deepest depth (up
    to MAX_DEPTH) whose distinct prefixes fit the driver budget. One groupBy per depth tried,
    collected through limit(driver_budget + 1): a result that fits is the
    histogram, one that overflows is dropped and the next shallower depth
    is tried. So the driver never holds more than budget + 1 rows however
    dense the cells are, and a res-7 token (at most 4^7 prefixes) costs one
    job."""
    for depth in range(MAX_DEPTH, 0, -1):
        hist = (
            df.groupBy(F.substring(F.col(token), 1, depth).alias("prefix"))
            .agg(F.count(F.lit(1)).alias("n"))
            .limit(driver_budget + 1)
            .toPandas()
        )
        if len(hist) <= driver_budget:
            return hist
    raise ValueError(
        f"{token}: more than {driver_budget} distinct depth-1 prefixes")


def _histogram_at(hist: pd.DataFrame, depth: int) -> pd.Series:
    return hist.groupby(hist["prefix"].str[:depth])["n"].sum()


def choose_prefix_depth(hist: pd.DataFrame, target_rows: int = 100_000) -> int:
    """Shallowest depth whose largest prefix bucket ≤ target_rows."""
    for depth in range(1, MAX_DEPTH + 1):
        if _histogram_at(hist, depth).max() <= target_rows:
            return depth
    return MAX_DEPTH


def adaptive_prefix_column(
    df: DataFrame, token: str, target_rows: int,
) -> DataFrame:
    """Adds `cell_prefix`, a variable-depth prefix: the shallowest uniform
    depth for the bulk, two extra levels for prefixes still above
    target_rows. Balanced against the measured distribution — hot cities
    split finer, oceans stay coarse. Costs deep_histogram's one groupBy
    over df (one more per depth it has to back off)."""
    hist = deep_histogram(df, token)
    depth = choose_prefix_depth(hist, target_rows=target_rows * 4)
    deep = min(depth + 2, MAX_DEPTH)
    at_depth = _histogram_at(hist, depth)
    hot = list(at_depth[at_depth > target_rows].index)
    col = F.when(
        F.substring(F.col(token), 1, depth).isin(hot) if hot else F.lit(False),
        F.substring(F.col(token), 1, deep),
    ).otherwise(F.substring(F.col(token), 1, depth))
    return df.withColumn("cell_prefix", col)
