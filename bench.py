"""Benchmark harness: the bench table's entries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on get_spark's default master, whose cores
$SPARK_GRAFT_CPUS sets (default: the CPUs this process may use).

Every entry is forced with force_all, `--runs` times (default 3), under a
job group named after it; its figure is the median of its runs, and every
run is in the record. After each entry it prints one flushed JSON line
{"name": ..., "runs": [sec, ...], "rows": ...} of its own to stderr, so a
stopped run keeps the figures of its finished entries. At the end it
prints ONE JSON line to stdout:
  {"metric": "...", "value": <sum of the suite entries' medians>,
   "unit": "sec", "queries": {suite entry: median sec},
   "diagnostics": {diagnostic entry: median sec},
   "runs": {entry: [sec, ...]}, "sf": ..., "pages_per_sec": ..., ...}

The north-star metric (BASELINE.json) is pages/sec through the end-to-end
spatial pipeline (text extraction + geotag + cell encode + PIP join), read
from the pages_e2e_bign entry. A pages table is generated deterministically
before the timed runs of the first entry that reads it and cached as parquet
in /tmp, so the benchmark measures the ENGINE, not the generator.

Usage: python bench.py                    # every table entry, three runs each
       python bench.py --only cell_compact zonal_stats --runs 3
                                          # any table or registry names
       SPARK_GRAFT_CPUS=8 python bench.py # local[8] (scaling runs)
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PAGES_PER_SF = 2_000_000  # sf0.1 -> 200k pages
STEADY_MIN_PAGES = 2_000_000  # big-n steady state: amortize worker spin-up
RES = 7  # H3-style cell resolution of the pages pipeline


def scale_factor(sf_dir: str) -> float:
    return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])


def n_pages(sf_dir: str, steady: bool = False) -> int:
    """Rows of the pages table at this sf; `steady` lifts it to at least
    STEADY_MIN_PAGES."""
    n = int(PAGES_PER_SF * scale_factor(sf_dir))
    return max(n, STEADY_MIN_PAGES) if steady else n


def pages(spark, n: int):
    """The synthetic pages table of n rows, written as parquet on first
    use."""
    path = f"/tmp/geotiff_spark_bench/pages_{n}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        from geotiff_spark.sources.pages import write_pages_parquet

        write_pages_parquet(spark, n, path)
    return spark.read.parquet(path)


def force_all(df) -> int:
    """Force FULL evaluation of every output column and return the row
    count. A bare .count() lets Catalyst prune value columns and
    eliminate outer/aggregate-keyed joins whose columns go unused —
    round 5 caught it erasing the ENTIRE expensive branch of several
    operators (rep_signals' per-doc top-gram join, chunk_dedup's
    first-occurrence aggregate, the cell-encode / raster-gather /
    bloom-probe pandas UDFs), so those bench walls measured the
    optimizer's dead-code elimination, not the operator. Summing an
    xxhash64 over all columns makes every column — and therefore every
    join branch and Python stage — observable."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        # bit_xor, not sum: order-independent AND overflow-free under
        # ANSI mode (sum(xxhash64) trips ARITHMETIC_OVERFLOW)
        F.expr(
            "bit_xor(xxhash64("
            + ", ".join(f"`{c}`" for c in df.columns)
            + "))"
        ).alias("cks"),
    ).collect()[0]
    return row["n"]


# ---------------------------------------------------------------------------
# The bench's own entries: (spark, sf_dir) -> the DataFrame the entry forces,
# the signature of a registry query.
# ---------------------------------------------------------------------------

def _pages_per_polygon(spark, pages_df):
    from pyspark.sql import functions as F

    from geotiff_spark.operators import spatial_join as sj

    # single-stage map-side broadcast PIP join (see fused_pages_pip)
    hits = sj.fused_pages_pip(spark, pages_df, RES)
    return hits.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pages"))


def pages_e2e(spark, sf_dir):
    return _pages_per_polygon(spark, pages(spark, n_pages(sf_dir)))


def pages_e2e_bign(spark, sf_dir):
    """pages_e2e over at least 2M pages: the steady-state pages/sec, with
    the Python-worker spin-up amortized."""
    return _pages_per_polygon(spark, pages(spark, n_pages(sf_dir, True)))


def pages_e2e_twostage(spark, sf_dir):
    """Two-stage variant (fused decode stage, then pip_join's separate
    map-side PIP stage) — a DIAGNOSTIC to quantify the fusion win."""
    from pyspark.sql import functions as F

    from geotiff_spark.operators import extract as ex
    from geotiff_spark.operators import spatial_join as sj

    geo = ex.with_fused_geo(pages(spark, n_pages(sf_dir)), RES)
    hits = sj.pip_join(spark, geo.select("url", "lat", "lon", "cell"), RES)
    return hits.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n_pages"))


def raster_decode(spark, sf_dir):
    from pyspark.sql import functions as F

    from geotiff_spark.oracle_raster import FIXTURE_DIR
    from geotiff_spark.sources.rasters import read_rasters

    # geo_keys is a map column (not hashable by force_all) — drop it;
    # the decode itself still runs (mapInPandas is opaque to pruning)
    return read_rasters(spark, FIXTURE_DIR).filter(
        F.col("error").isNull()
    ).drop("geo_keys")


def minhash_candidates(spark, sf_dir):
    """LSH candidate generation throughput (the scale-relevant cost;
    the exact-verify variant's output size is a property of the
    synthetic corpus, not the engine)."""
    from geotiff_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, verify=False)


def _pages2m(spark, sf_dir):
    from pyspark.sql import functions as F

    return pages(spark, n_pages(sf_dir, True)).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )


def chunk_dedup_pages2m(spark, sf_dir):
    """The chunk-level dedup primary at realistic row counts — the full
    2M-row synthetic pages corpus, not the 500-doc oracle table."""
    from geotiff_spark.queries_textdata import chunk_dedup_frame

    return chunk_dedup_frame(_pages2m(spark, sf_dir))


def rep_signals_pages2m(spark, sf_dir):
    from geotiff_spark.queries_textdata import rep_signals_frame

    return rep_signals_frame(_pages2m(spark, sf_dir))


def bloom_dedup_pages2m(spark, sf_dir):
    """Incremental Bloom dedup at realistic volume — 1.6M history
    pages build a 4 Mbit packed filter (one bounded word-keyed
    aggregation), 0.4M new pages probe its broadcast with zero
    batch-side shuffle. The same operators serve the sf0.01
    bloom_chunk_dedup oracle query."""
    from geotiff_spark.queries_textdata import bloom_incremental_frame

    return bloom_incremental_frame(_pages2m(spark, sf_dir))


def substring_dedup_pages2m(spark, sf_dir):
    """Winnowed ExactSubstr at 2M pages — page text is 20-45 chars so
    k=20/w=5 keeps every doc in play (the sf0.01 oracle runs the same
    operator at k=50/w=8 on the longer docs table). One Generate, one
    digest-partition window count, text crosses the wire once;
    winnowing ships ~1/3 of the fingerprint volume the exhaustive mode
    would."""
    from geotiff_spark.operators.dedup import exact_substring_dedup

    return exact_substring_dedup(_pages2m(spark, sf_dir), k=20, winnow=5)


def substring_exhaustive_pages2m(spark, sf_dir):
    """DIAGNOSTIC twin of substring_dedup_pages2m: the exhaustive
    (every-position) fingerprint plane at the same k — quantifies what
    winnowing saves on the digest exchange."""
    from geotiff_spark.operators.dedup import exact_substring_dedup

    return exact_substring_dedup(_pages2m(spark, sf_dir), k=20)


def bpe_encode_pages2m(spark, sf_dir):
    """PRODUCTION-scale BPE tokenization at 2M pages — the committed
    web8k table (8192 merges, trained from this corpus by
    scripts/train_bpe_web8k.py) applied byte-level (no OOV) in an Arrow
    batch with per-batch word memoization (operators/bpe.py). Zero
    shuffle; the wall is the Python merge-loop stage. The 26-merge toy
    table stays on the oracle query only."""
    from geotiff_spark.operators.bpe import bpe_encode_counts, load_merges

    merges = load_merges(os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "geotiff_spark", "data", "bpe_merges_web8k.json"))
    return bpe_encode_counts(_pages2m(spark, sf_dir), merges=merges,
                             byte_level=True)


# The bench table, in run order: name -> (function returning the entry's
# DataFrame, counts toward the suite total, the pages table it reads). A
# function of None is the registry query of that name. An entry outside the
# total is a diagnostic: recorded, but not summed. The pages table ("sf":
# n_pages rows, "steady": at least STEADY_MIN_PAGES) is generated before the
# entry's timed runs.
TABLE = {
    "pages_e2e": (pages_e2e, True, "sf"),
    "pages_e2e_bign": (pages_e2e_bign, True, "steady"),
    "pages_e2e_twostage": (pages_e2e_twostage, False, "sf"),
    "raster_decode": (raster_decode, True, None),
    "minhash_candidates": (minhash_candidates, True, None),
    "chunk_dedup_pages2m": (chunk_dedup_pages2m, True, "steady"),
    "rep_signals_pages2m": (rep_signals_pages2m, True, "steady"),
    "bloom_dedup_pages2m": (bloom_dedup_pages2m, True, "steady"),
    "substring_dedup_pages2m": (substring_dedup_pages2m, True, "steady"),
    "substring_exhaustive_pages2m": (
        substring_exhaustive_pages2m, False, "steady"),
    "bpe_encode_pages2m": (bpe_encode_pages2m, True, "steady"),
    "cell_assign": (None, True, None),
    "pip_join": (None, True, None),
    "pip_counts": (None, True, None),
    "zonal_stats": (None, True, None),
    "zonal_stats_copart": (None, True, None),
    "png_image_features": (None, True, None),
    "u64_exact_sample": (None, True, None),
    "webp_lossy_features": (None, True, None),
    "tiepoints_sample": (None, True, None),
    "focal_stats": (None, True, None),
    "cell_compact": (None, True, None),
    "agg_pricing_summary": (None, True, None),
    "multi_join_revenue_by_region": (None, True, None),
    "window_topn_orders": (None, True, None),
    "global_topk": (None, True, None),
    "exact_dedup": (None, True, None),
    "ann_cosine_topk": (None, True, None),
    "token_count": (None, True, None),
    "quality_features": (None, True, None),
    # sign-LSH near-dup detection in the production regime (threshold 0.9
    # on planted near-dups: candidates ~4% of all pairs). At the threshold
    # 0.4 of the diagnostic ~98% of random pairs collide in some table, so
    # its wall measures the regime, not the operator.
    "embedding_near_dups_planted": (None, True, None),
    "embedding_near_dups": (None, False, None),
}


def run(spark, sf_dir: str, only: list[str] | None = None,
        runs: int = 3) -> dict:
    """Force each entry named in `only` (default: the whole table) `runs`
    times and return the bench record. `only` may name any table or
    registry entry; a registry query outside the table is a diagnostic.
    Raises ValueError naming each unknown name."""
    from geotiff_spark.queries import registry

    reg = registry()
    names = only or list(TABLE)
    unknown = [n for n in names if n not in TABLE and n not in reg]
    if unknown:
        raise ValueError(f"unknown bench entries: {', '.join(unknown)}")
    if runs < 1:
        raise ValueError(f"runs must be at least 1, got {runs}")

    sc = spark.sparkContext
    # spin up the Python worker pool before any timing — a long-lived
    # cluster has warm workers, and without this the first Python-stage
    # entry absorbs ~2s of one-time process forks
    spark.range(10_000, numPartitions=sc.defaultParallelism).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    queries: dict[str, float] = {}
    diagnostics: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    counts: dict[str, int] = {}
    for name in names:
        build, in_total, reads = TABLE.get(name, (None, False, None))
        build = build or reg[name][0]
        if reads:
            pages(spark, n_pages(sf_dir, reads == "steady"))
        times = []
        sc.setJobGroup(name, f"bench {name}")
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                counts[name] = force_all(build(spark, sf_dir))
                times.append(round(time.perf_counter() - t0, 3))
        finally:
            sc._jsc.clearJobGroup()
        all_runs[name] = times
        (queries if in_total else diagnostics)[name] = round(
            statistics.median(times), 3)
        # the leading newline: Spark's console progress bar clears its
        # line without ending it
        print("\n" + json.dumps({"name": name, "runs": times,
                                 "rows": counts[name]}),
              file=sys.stderr, flush=True)

    steady_n = n_pages(sf_dir, True)
    bign = queries.get("pages_e2e_bign")
    return {
        "metric": "bench suite wall time (sum of the suite entries' medians)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "diagnostics": diagnostics,
        "runs": all_runs,
        "sf": scale_factor(sf_dir),
        "n_pages": n_pages(sf_dir),
        "steady_n_pages": steady_n,
        "pages_per_sec": round(steady_n / bign, 1) if bign else None,
        "parallelism": sc.defaultParallelism,
        "row_counts": counts,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", nargs="*", default=None,
                    help="table or registry entries (default: the table)")
    ap.add_argument("--runs", type=int, default=3,
                    help="runs per entry; its figure is their median")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from geotiff_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps(run(spark, sf_dir, args.only, args.runs)))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
