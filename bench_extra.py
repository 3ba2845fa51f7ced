"""Round-8 measurement harness. bench.py is FROZEN for the official
metric; this file exists for guide-§1 methodology work: per-query
isolation (same force_all the bench uses, or a noop sink), repeat runs,
and .explain("formatted") capture for plans/r08/.

Usage:
  python bench_extra.py --names cell_compact zonal_stats --runs 3
  python bench_extra.py --names cell_compact --explain-dir plans/r08 \
      --suffix before
  python bench_extra.py --all --runs 1          # whole headline set once

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS exactly like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen harness, reused for identical setup)


def bench_frames(spark, sf_dir: str, pages_path: str, bign_path: str,
                 res: int = 7):
    """name -> zero-arg callable returning the DataFrame a bench query
    forces — mirrors bench.bench_queries, for explain capture."""
    from pyspark.sql import functions as F

    from geotiff_spark.operators import spatial_join as sj
    from geotiff_spark.queries import registry

    reg = registry()

    def pages2m():
        return spark.read.parquet(bign_path).select(
            F.xxhash64("url").alias("doc_id"), "text"
        )

    def pages_e2e():
        pages = spark.read.parquet(pages_path)
        hits = sj.fused_pages_pip(spark, pages, res)
        return hits.groupBy("poly_id").agg(
            F.count(F.lit(1)).alias("n_pages")
        )

    def minhash_candidates():
        from geotiff_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(docs, verify=False)

    def chunk_dedup_pages2m():
        from geotiff_spark.queries_textdata import chunk_dedup_frame

        return chunk_dedup_frame(pages2m())

    def rep_signals_pages2m():
        from geotiff_spark.queries_textdata import rep_signals_frame

        return rep_signals_frame(pages2m())

    def bloom_dedup_pages2m():
        from geotiff_spark.queries_textdata import bloom_incremental_frame

        return bloom_incremental_frame(pages2m(), n_segments=4)

    def substring_dedup_pages2m():
        from geotiff_spark.operators.dedup import exact_substring_dedup

        return exact_substring_dedup(pages2m(), k=20, winnow=5)

    def substring_exhaustive_pages2m():
        from geotiff_spark.operators.dedup import exact_substring_dedup

        return exact_substring_dedup(pages2m(), k=20)

    def bpe_encode_pages2m():
        from geotiff_spark.operators.bpe import bpe_encode_counts, load_merges

        merges = load_merges(os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "geotiff_spark", "data", "bpe_merges_web8k.json"))
        return bpe_encode_counts(pages2m(), merges=merges, byte_level=True)

    def raster_decode():
        from geotiff_spark.oracle_raster import RESOURCE_DIR
        from geotiff_spark.sources.rasters import read_rasters

        # geo_keys is a map column (not hashable by force_all) — drop it;
        # the decode itself still runs (mapInPandas is opaque to pruning)
        return read_rasters(spark, RESOURCE_DIR).filter(
            F.col("error").isNull()
        ).drop("geo_keys")

    out = {
        "pages_e2e": pages_e2e,
        "raster_decode": raster_decode,
        "minhash_candidates": minhash_candidates,
        "chunk_dedup_pages2m": chunk_dedup_pages2m,
        "rep_signals_pages2m": rep_signals_pages2m,
        "bloom_dedup_pages2m": bloom_dedup_pages2m,
        "substring_dedup_pages2m": substring_dedup_pages2m,
        "substring_exhaustive_pages2m": substring_exhaustive_pages2m,
        "bpe_encode_pages2m": bpe_encode_pages2m,
    }
    for name, (fn, _sql) in reg.items():
        out.setdefault(name, lambda f=fn: f(spark, sf_dir))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true",
                    help="time with the noop sink instead of force_all")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_pages = int(bench.PAGES_PER_SF * sf)

    spark = bench.build_spark(args.parallelism)
    spark.sparkContext.setLogLevel("ERROR")
    pages_path = bench.ensure_pages(spark, f"sf{sf}", n_pages)
    bign_n = max(n_pages, bench.STEADY_MIN_PAGES)
    bign_path = bench.ensure_pages(spark, f"bign{bign_n}", bign_n)

    # warm the Python worker pool (same as bench.py)
    n_parts = spark.sparkContext.defaultParallelism
    spark.range(10_000, numPartitions=n_parts).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    frames = bench_frames(spark, sf_dir, pages_path, bign_path)
    names = args.names or (list(frames) if args.all else [])

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in names:
            df = frames[name]()
            path = os.path.join(
                args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {path}")
        spark.stop()
        return 0

    results: dict[str, list[float]] = {}
    for name in names:
        fn = frames[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        runs = []
        for _ in range(args.runs):
            t0 = time.time()
            if args.noop:
                fn().write.format("noop").mode("overwrite").save()
            else:
                bench.force_all(fn())
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = runs
        print(json.dumps({"query": name, "runs": runs,
                          "min": min(runs)}), flush=True)
    print(json.dumps({"sf": sf, "results": results,
                      "mins": {k: min(v) for k, v in results.items()}}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
