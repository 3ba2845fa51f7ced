"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "pages_per_sec": ...}

The north-star metric (BASELINE.json) is pages/sec through the end-to-end
spatial pipeline (text extraction + geotag + cell encode + PIP join); the
pages table is generated deterministically once per sf and cached as
parquet in /tmp so the benchmark measures the ENGINE, not the generator.

Usage: python bench.py            # full suite, one JSON line
       python bench.py --parallelism 8   # local[8] instead of get_spark's
                                         # default master (scaling runs)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PAGES_PER_SF = 2_000_000  # sf0.1 -> 200k pages


def build_spark(cpus: int | None = None):
    """local[cpus], or get_spark's default master when cpus is None;
    shuffle partitions follow the parallelism the session reports."""
    from geotiff_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]" if cpus else None)
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(max(spark.sparkContext.defaultParallelism * 2, 8)))
    return spark


STEADY_MIN_PAGES = 2_000_000  # big-n steady state: amortize worker spin-up


def ensure_pages(spark, tag: str, n_pages: int) -> str:
    path = f"/tmp/geotiff_spark_bench/pages_{tag}"
    marker = f"{path}/_SUCCESS"
    if not os.path.exists(marker):
        from geotiff_spark.sources.pages import synth_pages

        synth_pages(spark, n_pages).write.mode("overwrite").parquet(path)
    return path


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


def bench_frames(spark, sf_dir: str, pages_path: str, bign_path: str,
                 res: int = 7):
    """name -> zero-arg callable returning the DataFrame a bench entry
    forces: the bench's own entries, then every registry query."""
    from pyspark.sql import functions as F

    from geotiff_spark.operators import extract as ex
    from geotiff_spark.operators import spatial_join as sj
    from geotiff_spark.queries import registry

    def pages2m():
        return spark.read.parquet(bign_path).select(
            F.xxhash64("url").alias("doc_id"), "text"
        )

    def pages_e2e():
        pages = spark.read.parquet(pages_path)
        # single-stage map-side broadcast PIP join (see fused_pages_pip)
        hits = sj.fused_pages_pip(spark, pages, res)
        return hits.groupBy("poly_id").agg(
            F.count(F.lit(1)).alias("n_pages")
        )

    def pages_e2e_twostage():
        """Two-stage variant (fused decode stage, then pip_join's separate
        map-side PIP stage) — kept as a DIAGNOSTIC to quantify the fusion
        win; excluded from the headline total."""
        pages = spark.read.parquet(pages_path)
        pages = ex.with_fused_geo(pages, res, carry=("url",))
        hits = sj.pip_join(
            spark, pages.select("url", "lat", "lon", "cell"), res
        )
        return hits.groupBy("poly_id").agg(
            F.count(F.lit(1)).alias("n_pages")
        )

    def raster_decode():
        from geotiff_spark.oracle_raster import FIXTURE_DIR
        from geotiff_spark.sources.rasters import read_rasters

        # geo_keys is a map column (not hashable by force_all) — drop it;
        # the decode itself still runs (mapInPandas is opaque to pruning)
        return read_rasters(spark, FIXTURE_DIR).filter(
            F.col("error").isNull()
        ).drop("geo_keys")

    def minhash_candidates():
        """LSH candidate generation throughput (the scale-relevant cost;
        the exact-verify variant's output size is a property of the
        synthetic corpus, not the engine)."""
        from geotiff_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(docs, verify=False)

    def chunk_dedup_pages2m():
        """Round-5: the chunk-level dedup primary at realistic row
        counts — the full 2M-row synthetic pages corpus, not the 500-doc
        oracle table (VERDICT r04 next-round #7)."""
        from geotiff_spark.queries_textdata import chunk_dedup_frame

        return chunk_dedup_frame(pages2m())

    def rep_signals_pages2m():
        from geotiff_spark.queries_textdata import rep_signals_frame

        return rep_signals_frame(pages2m())

    def bloom_dedup_pages2m():
        """Incremental Bloom dedup at realistic volume — 1.6M history
        pages build a 4 Mbit packed filter (one bounded word-keyed
        aggregation), 0.4M new pages probe its broadcast with zero
        batch-side shuffle. The same operators serve the sf0.01
        bloom_chunk_dedup oracle query."""
        from geotiff_spark.queries_textdata import bloom_incremental_frame

        return bloom_incremental_frame(pages2m())

    def substring_dedup_pages2m():
        """Round-7: winnowed ExactSubstr at 2M pages — page text is
        20-45 chars so k=20/w=5 keeps every doc in play (the sf0.01
        oracle runs the same operator at k=50/w=8 on the longer docs
        table). One Generate, one digest-partition window count, text
        crosses the wire once; winnowing ships ~1/3 of the fingerprint
        volume the exhaustive mode would."""
        from geotiff_spark.operators.dedup import exact_substring_dedup

        return exact_substring_dedup(pages2m(), k=20, winnow=5)

    def substring_exhaustive_pages2m():
        """DIAGNOSTIC twin of substring_dedup_pages2m: the exhaustive
        (every-position) fingerprint plane at the same k — quantifies
        what winnowing saves on the digest exchange. Excluded from the
        headline total."""
        from geotiff_spark.operators.dedup import exact_substring_dedup

        return exact_substring_dedup(pages2m(), k=20)

    def bpe_encode_pages2m():
        """Round-7: PRODUCTION-scale BPE tokenization at 2M pages — the
        committed web8k table (8192 merges, trained from this corpus by
        scripts/train_bpe_web8k.py) applied byte-level (no OOV) in an
        Arrow batch with per-batch word memoization (operators/bpe.py).
        Zero shuffle; the wall is the Python merge-loop stage. The
        26-merge toy table stays on the oracle query only."""
        from geotiff_spark.operators.bpe import bpe_encode_counts, load_merges

        merges = load_merges(os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "geotiff_spark", "data", "bpe_merges_web8k.json"))
        return bpe_encode_counts(pages2m(), merges=merges, byte_level=True)

    out = {
        "pages_e2e": pages_e2e,
        "pages_e2e_twostage": pages_e2e_twostage,
        "raster_decode": raster_decode,
        "minhash_candidates": minhash_candidates,
        "chunk_dedup_pages2m": chunk_dedup_pages2m,
        "rep_signals_pages2m": rep_signals_pages2m,
        "bloom_dedup_pages2m": bloom_dedup_pages2m,
        "substring_dedup_pages2m": substring_dedup_pages2m,
        "substring_exhaustive_pages2m": substring_exhaustive_pages2m,
        "bpe_encode_pages2m": bpe_encode_pages2m,
    }
    for name, (fn, _sql) in registry().items():
        out.setdefault(name, lambda f=fn: f(spark, sf_dir))
    return out


# the headline suite, in run order among equal bands: the bench's own
# entries, then the registry queries it times
HEADLINE = [
    "pages_e2e", "pages_e2e_twostage", "raster_decode",
    "minhash_candidates", "chunk_dedup_pages2m", "rep_signals_pages2m",
    "bloom_dedup_pages2m", "substring_dedup_pages2m",
    "substring_exhaustive_pages2m", "bpe_encode_pages2m",
    "cell_assign", "pip_join", "pip_counts", "zonal_stats",
    # round 4: the co-partitioned sampling branch, real-PNG decode
    # feature kernel, and the u64 exact-value gate
    "zonal_stats_copart", "png_image_features", "u64_exact_sample",
    "webp_lossy_features",
    "tiepoints_sample", "focal_stats", "cell_compact",
    "agg_pricing_summary", "multi_join_revenue_by_region",
    "window_topn_orders", "global_topk",
    "exact_dedup", "ann_cosine_topk",
    "token_count", "quality_features",
    # round 3: sign-LSH near-dup detection in the production regime
    # (threshold 0.9 on planted near-dups: candidates ~4% of all
    # pairs, recall 1.0). The threshold-0.4 form is a DIAGNOSTIC —
    # at that permissive threshold ~98% of random pairs collide in
    # some table, so candidates ≈ the cross product and the wall
    # time measures the regime, not the operator.
    "embedding_near_dups_planted",
    "embedding_near_dups",
]

# headline entries timed with a bare .count(); every other one is
# forced with force_all
COUNTED = {"pages_e2e", "pages_e2e_twostage", "raster_decode",
           "minhash_candidates"}


def bench_queries(spark, sf_dir: str, pages_path: str, bign_path: str,
                  res: int = 7):
    """name -> zero-arg callable returning a row count (forces execution)."""
    frames = bench_frames(spark, sf_dir, pages_path, bign_path, res)

    def forced(name):
        if name in COUNTED:
            return lambda: frames[name]().count()
        return lambda: force_all(frames[name]())

    return {name: forced(name) for name in HEADLINE}


# measured for comparison/diagnosis, not part of the headline suite total
DIAGNOSTIC_QUERIES = {"pages_e2e_twostage", "embedding_near_dups",
                      "substring_exhaustive_pages2m"}

# Committed per-query bands at sf0.1 / local[32] (seconds): the pooled
# best-of-n from BENCH/BASELINE.md plus headroom (~1.5x). A first run at
# or under its band is accepted immediately; anything over is treated as
# a suspected co-tenant burst and re-run (min kept, up to 3 runs total,
# short-circuiting the moment a run lands inside the band). This makes
# ONE bench.py invocation noise-robust — the round-4 official record
# landed in a burst and overstated the suite wall ~2.5x (71.5s recorded
# vs 42.3s re-measured the same day, minhash_candidates 29.1s recorded
# vs 6.0s), which is exactly the failure mode this kills.
COMMITTED_BANDS = {
    "pages_e2e": 1.8,
    "pages_e2e_twostage": 3.3,
    "raster_decode": 3.0,
    "minhash_candidates": 8.0,
    "cell_assign": 0.9,
    "pip_join": 2.6,
    "pip_counts": 3.0,
    "zonal_stats": 3.3,
    "zonal_stats_copart": 4.0,
    "png_image_features": 1.9,
    "u64_exact_sample": 1.7,
    "tiepoints_sample": 2.0,
    "focal_stats": 4.1,
    "cell_compact": 3.2,
    "agg_pricing_summary": 1.1,
    "multi_join_revenue_by_region": 1.9,
    "window_topn_orders": 1.5,
    "global_topk": 0.7,
    "exact_dedup": 0.9,
    "ann_cosine_topk": 2.0,
    "token_count": 0.5,
    "quality_features": 0.7,
    "embedding_near_dups_planted": 11.0,
    "embedding_near_dups": 40.0,
    # round-5 additions, measured on the 2M-row pages corpus with
    # force_all (the earlier .count() readings measured Catalyst's
    # join elimination, not the operators): chunk dedup 4.9s best
    # (~400k pages/s through two full-text shuffles), rep signals
    # 12.1s best after the row-local top-gram rewrite (~165k pages/s,
    # zero shuffle), bloom incremental dedup 28.1s end-to-end (build
    # once + packed probe)
    "chunk_dedup_pages2m": 8.0,
    "rep_signals_pages2m": 15.0,
    # round 6: dropped from 34 after the build path shed its two
    # corpus-sized stages (the deserialized localCheckpoint of the
    # (seed,pos) set — the SizeEstimator bimodality source — and the
    # redundant pre-bit_or distinct); quiet-host runs land 9-17 s
    "bloom_dedup_pages2m": 20.0,
    # round 7: RE-MEASURED with the committed web8k table (8192 merges,
    # byte-level) replacing the 26-merge toy vocabulary — 2.7 s warm at
    # 2M pages (~750k pages/s); the toy table stays only on the oracle
    # query (BENCH/BASELINE.md round 7 labels the vocab)
    "bpe_encode_pages2m": 6.0,
    # round 7: winnowed ExactSubstr (k=20, w=5) at 2M pages — 14.4 s
    # warm / 21.4 s cold-read measurements
    "substring_dedup_pages2m": 22.0,
    # round 7: exhaustive twin (diagnostic) + the lossy-VP8 media query
    "substring_exhaustive_pages2m": 40.0,
    "webp_lossy_features": 6.0,
}


def pages_e2e_count(spark, pages_path: str, res: int = 7) -> int:
    from pyspark.sql import functions as F

    from geotiff_spark.operators import spatial_join as sj

    pages = spark.read.parquet(pages_path)
    hits = sj.fused_pages_pip(spark, pages, res)
    return hits.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_pages")
    ).count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    n_pages = int(PAGES_PER_SF * sf)

    spark = build_spark(args.parallelism)
    spark.sparkContext.setLogLevel("ERROR")
    parallelism = spark.sparkContext.defaultParallelism
    pages_path = ensure_pages(spark, f"sf{sf}", n_pages)
    bign_n = max(n_pages, STEADY_MIN_PAGES)
    bign_path = ensure_pages(spark, f"bign{bign_n}", bign_n)

    # spin up the Python worker pool before any timing — a long-lived
    # cluster has warm workers, and without this the first Python-stage
    # query absorbs ~2s of one-time process forks
    spark.range(10_000, numPartitions=parallelism).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    qs = bench_queries(spark, sf_dir, pages_path, bign_path)
    timings: dict[str, float] = {}
    diagnostics: dict[str, float] = {}
    counts: dict[str, int] = {}
    over_band: dict[str, float] = {}
    # Retry budgeting is PER QUERY, proportional to each query's
    # committed band (round-5 lesson: one global 240s pool was exhausted
    # by the three 2M-page entries' first passes alone, so exactly the
    # most expensive — and most burst-exposed — entries ran unprotected
    # and the official record landed 5-13x over their bands). Each query
    # may spend up to RETRY_FACTOR x band wall-clock on re-runs (min
    # 10s), and a global hard deadline (env override) still backstops
    # the harness timeout. Heavy entries run FIRST so a deadline hit
    # degrades the cheap tail, never the headline 2M-page numbers.
    bench_start = time.time()
    hard_deadline = bench_start + float(
        os.environ.get("SPARK_GRAFT_BENCH_RETRY_BUDGET", "900")
    )
    retry_factor = float(
        os.environ.get("SPARK_GRAFT_BENCH_RETRY_FACTOR", "4")
    )
    ordered = sorted(
        qs.items(),
        key=lambda kv: -COMMITTED_BANDS.get(kv[0], 2.5),
    )
    for name, fn in ordered:
        if args.only and name not in args.only:
            continue
        band = COMMITTED_BANDS.get(name, 2.5)
        # diagnostics are context, not the record — one re-run at most
        factor = 1.0 if name in DIAGNOSTIC_QUERIES else retry_factor
        t0 = time.time()
        counts[name] = fn()
        dt = round(time.time() - t0, 3)
        # the retry allowance budgets RE-RUNS only — anchoring it before
        # the first pass meant a burst-hit first pass consumed the whole
        # allowance and got zero re-runs, exactly the case retries exist
        # for (ADVICE r06)
        q_deadline = min(
            time.time() + max(factor * band, 10.0), hard_deadline
        )
        # co-tenant noise protection (see BENCH/BASELINE.md methodology):
        # a run inside the query's committed band is the engine's number
        # and is accepted as-is; a run over the band is a suspected
        # neighbor burst and gets re-run with the min kept, until the
        # query's own retry allowance is spent or a run lands in-band.
        while dt > band and time.time() < q_deadline:
            t0 = time.time()
            fn()
            dt = min(dt, round(time.time() - t0, 3))
        if dt > 2.0 * band:
            # LOUD record: this entry never landed near its committed
            # band even after retries — either a sustained host burst
            # or a stale band; both demand a human look.
            over_band[name] = round(dt / band, 2)
        (diagnostics if name in DIAGNOSTIC_QUERIES else timings)[name] = dt

    # End-of-suite re-queue for flagged non-diagnostic entries (VERDICT
    # r06 #6): a co-tenant burst usually passes within the suite's own
    # wall, so anything still over 2x band gets one more attempt each at
    # the end — the record keeps the min; a still-over row is then a
    # genuine sustained burst (or a stale band), not a scheduling
    # accident of when its slot in the suite happened to land.
    for name in [n for n in over_band if n in timings]:
        if time.time() >= hard_deadline:
            break
        fn = qs[name]
        band = COMMITTED_BANDS.get(name, 2.5)
        requeue_deadline = min(
            time.time() + max(retry_factor * band, 10.0), hard_deadline
        )
        dt = timings[name]
        while dt > band and time.time() < requeue_deadline:
            t0 = time.time()
            fn()
            dt = min(dt, round(time.time() - t0, 3))
        timings[name] = dt
        if dt <= 2.0 * band:
            del over_band[name]
        else:
            over_band[name] = round(dt / band, 2)

    # THE pages/sec metric: steady-state throughput at >= 2M pages, so
    # the ~2s Python-worker spin-up wave is amortized and round-over-round
    # comparisons measure the engine, not fixed overhead. Two timed runs
    # after a warm-up; best-of-2 (host carries co-tenant noise, see
    # BENCH/BASELINE.md).
    pages_per_sec = None
    if not args.only or "pages_e2e" in args.only:
        t0 = time.time()
        pages_e2e_count(spark, bign_path)  # warm-up (worker spin-up)
        diagnostics["pages_e2e_bign_cold"] = round(time.time() - t0, 3)
        steady = []
        for _ in range(3):
            t0 = time.time()
            counts["pages_e2e_bign"] = pages_e2e_count(spark, bign_path)
            steady.append(time.time() - t0)
        # sustained-burst guard: committed steady-state is ~1.1 µs/page
        # (BENCH/BASELINE.md); if even the best of 3 sits above ~2x that
        # band, keep trying (up to 2 more) while the global retry budget
        # allows — the r04 record's 5.2s pages_e2e_steady (vs 2.19s
        # re-measured) is the burst shape this absorbs
        extra = 0
        while (
            time.time() < hard_deadline
            and min(steady) > 2e-6 * bign_n
            and extra < 2
        ):
            t0 = time.time()
            pages_e2e_count(spark, bign_path)
            steady.append(time.time() - t0)
            extra += 1
        timings["pages_e2e_steady"] = round(min(steady), 3)
        pages_per_sec = round(bign_n / min(steady), 1)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline suite wall time (pages e2e + spatial + relational + dedup + ann)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_pages": n_pages,
        "steady_n_pages": bign_n,
        "pages_per_sec": pages_per_sec,
        "parallelism": parallelism,
        "diagnostics": diagnostics,
        "over_band": over_band,
        "row_counts": counts,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
