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

    frames = bench.bench_frames(spark, sf_dir, pages_path, bign_path)
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
