"""kNN join via cell ring expansion (north rule) — fully distributed.

Candidates for each query point come from the grid cells within Chebyshev
ring radius r of the query's cell (the cell analog of the reference's
R-tree envelope search, /root/reference/src/coordinate_transform/
tie_points.rs:188-192); exact distances rank the candidates, and the
result is EXACT because a query only settles at radius r when its k-th
neighbor distance is strictly within the ring-r safety bound (points
outside the disk are provably farther; ties at the bound escalate).

Scale shape: queries NEVER touch the driver. Query cells are computed by
the vectorized cell UDF, disk-cell candidates explode from an Arrow-batched
``array<long>`` pandas UDF, settlement is a window-flag + anti-join — no
``.collect()`` anywhere, so the operator is the same plan at 10^2 or 10^8
queries. Each escalation round localCheckpoints its (small, k-rows-per-
query) top-k output to truncate lineage: MAX_ROUNDS Spark jobs total, each
a cell equi-join of candidates against the cell-indexed corpus.

Distance metric: planar degrees sqrt(dlat² + dlon²) — deterministic and
ANSI-SQL-expressible, so the whole operator sits under the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.window import Window

from geotiff_spark.functions import cells as cellmod

# Neighbours per query, and ring-doubling rounds before the last round
# settles every query still pending.
K, MAX_ROUNDS = 5, 4


def disk_cells_udf(radius: int):
    """cell id → array<long> of all cells within Chebyshev `radius`."""

    @pandas_udf("array<long>")
    def disks(cells: pd.Series) -> pd.Series:
        arr = cells.to_numpy(dtype=np.int64)
        return pd.Series(cellmod.disk_cells_many(arr, radius))

    return disks


def knn_join(
    spark: SparkSession, corpus: DataFrame, queries: DataFrame, res: int = 7,
) -> DataFrame:
    """Exact kNN join. corpus: (doc_id, lat, lon [+cell]); queries: same.

    Returns (qid, nn_id, dist, rank), rank 1..K, self excluded, planar
    degree distance, ties broken by nn_id.
    """
    from geotiff_spark.operators.extract import cell_udf

    if "cell" not in corpus.columns:
        corpus = corpus.withColumn("cell", cell_udf(res)(F.col("lat"), F.col("lon")))
    corpus = corpus.select(
        F.col("doc_id").alias("nn_id"),
        F.col("lat").alias("nlat"),
        F.col("lon").alias("nlon"),
        "cell",
    )

    pending = queries.select(
        F.col("doc_id").alias("qid"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    ).withColumn("qcell", cell_udf(res)(F.col("qlat"), F.col("qlon")))

    cell_h_deg, _cell_w_deg = cellmod.cell_size_degrees(res)
    w_rank = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("nn_id"))
    w_all = Window.partitionBy("qid")

    results: DataFrame | None = None
    radius = 1
    for _round in range(MAX_ROUNDS):
        last = _round == MAX_ROUNDS - 1
        cand = pending.withColumn(
            "cell", F.explode(disk_cells_udf(radius)(F.col("qcell")))
        ).drop("qcell")
        scored = (
            corpus.join(cand, "cell")
            .filter(F.col("nn_id") != F.col("qid"))
            .withColumn(
                "dist",
                # explicit multiply (not pow) so the DuckDB oracle's
                # (a-b)*(a-b) matches bit-for-bit
                F.sqrt(
                    (F.col("nlat") - F.col("qlat")) * (F.col("nlat") - F.col("qlat"))
                    + (F.col("nlon") - F.col("qlon")) * (F.col("nlon") - F.col("qlon"))
                ),
            )
        )
        # safety bound: a point outside disk-r differs by ≥ r+1 cells on
        # some axis, so even with worst-case intra-cell positions its
        # planar-degree distance is ≥ r · min-cell-extent (lat extent —
        # lon cells are 2× wider in degrees). Strict <: a point at exactly
        # the bound with a smaller id could displace the k-th neighbor
        # under the (dist, nn_id) tie-break.
        safe = float(radius) * cell_h_deg
        topk = (
            scored.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= K)
        )
        flagged = topk.withColumn(
            "settled",
            F.lit(True)
            if last
            else (F.count(F.lit(1)).over(w_all) >= K)
            & (F.max("dist").over(w_all) < F.lit(safe)),
        ).select("qid", "nn_id", "dist", "rank", "settled")
        # truncate lineage: each round's top-k is k rows per live query —
        # tiny next to the corpus — and both the results union and the
        # next round's anti-join consume it
        flagged = flagged.localCheckpoint(eager=True)
        settled_rows = flagged.filter(F.col("settled")).drop("settled")
        results = (
            settled_rows
            if results is None
            else results.unionByName(settled_rows)
        )
        if last:
            break
        settled_qids = settled_rows.select("qid").distinct()
        pending = pending.join(settled_qids, "qid", "left_anti").localCheckpoint(
            eager=True
        )
        if pending.rdd.isEmpty():
            break
        radius *= 2
    return results.select(
        "qid", "nn_id", F.round("dist", 9).alias("dist"), "rank"
    )
