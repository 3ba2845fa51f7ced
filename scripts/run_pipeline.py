"""Production-shaped pipeline job: the full north-rule feature set in one
spark-submit-able script.

    spark-submit --py-files geotiff_spark.zip scripts/run_pipeline.py \
        --pages /data/pages --out /data/geo_hits --res 7

Stages (all DataFrame ops):
 1. pages scan (Iceberg if available, parquet fallback)
 2. fused decode → text extraction → geotag → cell encode → broadcast
    cell-index PIP join (single mapInPandas stage, zero shuffle)
 3. per-partition lineage + row-count metrics (accumulator side-table,
    persisted): the counters ride inside the stage-2 Python operator
    (plans/fusion.py), so counting adds no Python pass and the scan still
    reads only `url, html`
 4. hot-cell measurement → adaptive cell-prefix partition key
 5. resumable partitioned write (manifest-committed buckets): kill the
    job at any point and rerun — completed buckets are skipped and the
    final output is identical

Rerunning the SAME command resumes; `--fail-after N` simulates a kill
after N bucket batches (for drills).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

try:  # packaged run: geotiff_spark arrives via spark-submit --py-files
    import geotiff_spark  # noqa: F401
except ImportError:  # direct `python scripts/run_pipeline.py` from a checkout
    import os

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default="/tmp/geotiff_spark_bench/pages_sf0.1")
    ap.add_argument("--out", default="/tmp/geotiff_spark_out/geo_hits")
    ap.add_argument("--metrics", default="/tmp/geotiff_spark_out/metrics")
    ap.add_argument("--res", type=int, default=7)
    ap.add_argument("--target-rows", type=int, default=50_000)
    ap.add_argument("--fail-after", type=int, default=None)
    args = ap.parse_args()

    from geotiff_spark.operators.extract import with_cell_token
    from geotiff_spark.operators.spatial_join import fused_pages_pip
    from geotiff_spark.plans.checkpoint import resumable_write
    from geotiff_spark.plans.lineage import StageMetrics
    from geotiff_spark.plans.partitioning import adaptive_prefix_column
    from geotiff_spark.session import get_spark
    from geotiff_spark.sources.pages import load_pages

    spark = get_spark("geotiff-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    metrics = StageMetrics(spark)
    t0 = time.time()

    pages = load_pages(spark, args.pages)
    pages = metrics.instrument(pages, "scan")

    hits = fused_pages_pip(spark, pages, args.res)
    hits = metrics.instrument(hits, "pip_join")

    # cell token for prefix partitioning (prefix of the quadkey)
    hits = with_cell_token(hits)
    # persist: the histogram pass and the bucketed writes reuse this stage
    hits = hits.persist()
    # measured histogram -> variable-depth prefix: hot cities split deeper
    hits = adaptive_prefix_column(
        hits, "cell_token", target_rows=args.target_rows
    )

    stats = resumable_write(
        hits, args.out, "cell_prefix", fail_after=args.fail_after,
    )
    metrics.flush(args.metrics)

    print(json.dumps({
        "written_buckets": len(stats["written"]),
        "skipped_buckets": len(stats["skipped"]),
        "stages": metrics.snapshot()[:8],
        "wall_sec": round(time.time() - t0, 1),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
