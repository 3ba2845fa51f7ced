"""Explicit salting of hot cells (north rule).

AQE's skew-join splitting handles sort-merge skew at runtime; explicit
salting is still required when (a) the skew is on a *broadcastable* dim
whose fan-out we control, or (b) a downstream groupBy on the hot key needs
pre-aggregation. The protocol:

1. measure: hot_keys() runs a cheap count-by-key and flags keys above a
   median-based threshold,
2. big side: salt = pmod(xxhash64(row-unique-col), n_salt) on hot keys,
   0 elsewhere,
3. small side: hot rows exploded × n_salt, cold rows get salt 0,
4. equi-join on (key, salt) — provably the same row set as the unsalted
   join (tested by exact equivalence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str) -> list:
    """Keys whose row count exceeds 4 × the median count, at most 64.

    One cheap aggregation over the keys — at 10^12 rows this is the
    histogram you were going to need anyway for partition sizing.
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    qs = counts.approxQuantile("n", [0.5], 0.01)
    if not qs or qs[0] == 0:
        return []
    # a key is hot when it dwarfs the median; cap the list so the
    # small-side explode stays bounded
    threshold = qs[0] * 4.0
    return [
        r[key]
        for r in counts.filter(F.col("n") > threshold)
        .orderBy(F.desc("n"))
        .limit(64)
        .select(key)
        .collect()
    ]


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salt: int = 8,
    hot: list | None = None,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner equi-join on `key` with hot keys salted across n_salt
    buckets.

    `salt_source`: a column of `big` whose hash spreads rows (defaults to
    spark_partition_id + monotonically_increasing_id mix, which is
    deterministic within a run but not across runs — pass a real column
    for reproducible plans).

    Result rows are EXACTLY those of big.join(small, key).
    """
    if hot is None:
        hot = hot_keys(big, key)
    if not hot:
        return big.join(small, key)

    hot_col = F.col(key).isin([h for h in hot])
    src = (
        F.xxhash64(F.col(salt_source))
        if salt_source
        else F.xxhash64(F.monotonically_increasing_id())
    )
    big_salted = big.withColumn(
        "_salt", F.when(hot_col, F.pmod(src, F.lit(n_salt)).cast("int")).otherwise(F.lit(0))
    )
    salts = F.array(*[F.lit(i) for i in range(n_salt)])
    small_salted = small.withColumn(
        "_salt",
        F.explode(F.when(hot_col, salts).otherwise(F.array(F.lit(0)))),
    )
    return big_salted.join(small_salted, [key, "_salt"]).drop("_salt")
