"""The workloads: the operations of one pass, and the check of each
operation's result against the cached oracle.

Every operation is a closed loop with one client: it submits its Spark
actions one at a time and returns a small result signature. Operations
record the layers they call through ``ctx.layer`` (a timer, plus a span
when tracing) and any counts through ``ctx.note``.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
import oracles

RES = 7
TILE = oracles.TILE
# Bucket batch of the first (warm-up) write; later writes split the
# seed's bucket count into WRITE_BATCHES batches, so every seed runs the
# same number of write jobs (the count varies from about 14 to 23).
FIRST_BATCH = 8
WRITE_BATCHES = 3


class Ctx:
    """Per-run state shared by a workload's operations."""

    def __init__(self, spark, tracer, in_dir: str, out_dir: str, meta: dict):
        self.spark = spark
        self.tracer = tracer
        self.in_dir = in_dir
        self.out_dir = out_dir
        self.meta = meta
        self.state: dict = {}
        self.timings: dict[str, float] = {}
        self.notes: dict[str, float] = {}
        self.made: list[str] = []

    @contextmanager
    def layer(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.timings[name] = self.timings.get(name, 0.0) + (
            time.perf_counter() - t0)

    def note(self, name: str, value: float) -> None:
        self.notes[name] = value

    def fresh(self, name: str) -> str:
        """A new output dir. Nothing is deleted inside a timed operation:
        `sweep` removes the dirs after the operation's check."""
        path = os.path.join(self.out_dir, f"{name}.{len(self.made)}")
        self.made.append(path)
        self.state[name] = path
        return path

    def sweep(self) -> None:
        while self.made:
            shutil.rmtree(self.made.pop(), ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# ---- geojoin / ingest --------------------------------------------------------

def _pages(ctx):
    from geotiff_spark.sources.pages import load_pages

    with ctx.layer("sources.pages.load_pages"):
        return load_pages(ctx.spark, os.path.join(ctx.in_dir, "pages"),
                          source="parquet")


def geojoin_counts(ctx) -> dict:
    from geotiff_spark.operators.spatial_join import fused_pages_pip

    pages = _pages(ctx)
    with ctx.layer("operators.spatial_join.fused_pages_pip"):
        rows = (fused_pages_pip(ctx.spark, pages, RES)
                .groupBy("poly_id").count().collect())
    counts = {r["poly_id"]: int(r["count"]) for r in rows}
    ctx.note("operators.spatial_join.rows_out", sum(counts.values()))
    return counts


def _token_udf():
    from pyspark.sql.pandas.functions import pandas_udf

    from geotiff_spark.functions import cells as cellmod

    @pandas_udf("string")
    def token(cell: pd.Series) -> pd.Series:
        return pd.Series(cellmod.cell_to_token(cell.to_numpy(dtype="int64")))

    return token


def _output_signature(path: str) -> list:
    """Row count and an order-free xor of per-row hashes of a written
    output, read with pyarrow rather than through Spark."""
    rows = pq.read_table(path, columns=["url", "poly_id", "cell", "lat",
                                        "lon"]).to_pandas()
    hashes = pd.util.hash_pandas_object(rows, index=False).to_numpy()
    return [len(rows), int(np.bitwise_xor.reduce(hashes, initial=0))]


def ingest_write(ctx) -> dict:
    """The public calls of scripts/run_pipeline.py, into a fresh dir.

    The first (warm-up) pass writes uninterrupted: its output is the
    reference. Every later pass is killed after its first bucket batch and
    then resumed, and must reproduce that reference."""
    from pyspark.sql import functions as F

    from geotiff_spark.operators.spatial_join import fused_pages_pip
    from geotiff_spark.plans.checkpoint import completed_buckets, resumable_write
    from geotiff_spark.plans.lineage import StageMetrics
    from geotiff_spark.plans.partitioning import adaptive_prefix_column

    out, lineage = ctx.fresh("geo_hits"), ctx.fresh("lineage")
    kill = "reference" in ctx.state
    batch = ctx.state.get("batch", FIRST_BATCH)
    metrics = StageMetrics(ctx.spark)
    pages = metrics.instrument(_pages(ctx), "scan")
    with ctx.layer("operators.spatial_join.fused_pages_pip"):
        hits = fused_pages_pip(ctx.spark, pages, RES, carry=("url",))
    hits = metrics.instrument(hits, "pip_join")
    hits = hits.withColumn("cell_token", _token_udf()(F.col("cell"))).persist()
    with ctx.layer("plans.partitioning.adaptive_prefix_column"):
        hits = adaptive_prefix_column(hits, "cell_token",
                                      target_rows=ctx.meta["target_rows"])
    killed = False
    with ctx.layer("plans.checkpoint.resumable_write"):
        try:
            stats = resumable_write(hits, out, "cell_prefix", batch_size=batch,
                                    fail_after=1 if kill else None)
        except RuntimeError:
            killed = True
    if kill:
        before = completed_buckets(out)
        t0 = time.perf_counter()
        with ctx.layer("plans.checkpoint.resume"):
            stats = resumable_write(hits, out, "cell_prefix",
                                    batch_size=batch)
        ctx.note("resume_s", time.perf_counter() - t0)
        redone = len(before & set(stats["written"]))
    with ctx.layer("plans.lineage.flush"):
        metrics.flush(lineage)
    hits.unpersist()
    buckets = len(stats["written"]) + len(stats["skipped"])
    ctx.note("plans.checkpoint.buckets", buckets)
    ctx.note("plans.checkpoint.write_jobs", -(-buckets // batch))
    if kill:
        ctx.note("plans.checkpoint.resume_redone_frac", redone / buckets)
    else:
        ctx.state["batch"] = -(-buckets // WRITE_BATCHES)
    return {"kill": kill, "killed": killed, "buckets": buckets,
            "skipped": len(stats["skipped"]), "batch": batch}


def ingest_check(ctx, got: dict, want: dict) -> bool:
    """The output holds the oracle's row count; a resumed output equals the
    uninterrupted reference (row count plus order-free hash xor); the kill
    came after exactly one batch."""
    out = ctx.state["geo_hits"]
    written = dir_bytes(out)
    ctx.note("plans.checkpoint.bytes_written", written)
    ctx.note("write_amp", (written + dir_bytes(ctx.state["lineage"]))
             / ctx.meta["page_bytes"])
    sig = _output_signature(out)
    if not got["kill"]:
        ctx.state["reference"] = sig
        return sig[0] == want["rows"] and got["skipped"] == 0
    return (got["killed"] == (got["buckets"] > got["batch"])
            and got["skipped"] == min(got["batch"], got["buckets"])
            and sig == ctx.state["reference"])


# ---- text operators (traced ingest runs only) ---------------------------------
#
# The text layers run once per traced ingest run, after the timed passes,
# over every TEXT_EVERY-th of the same seeded pages (a filter, so the scan
# keeps its splits): their per-layer numbers come from there, and the
# end-to-end passes do not include them.
TEXT_EVERY = 4


def _docs(ctx):
    from pyspark.sql import functions as F

    docs = _pages(ctx).select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("doc_id"),
        "text")
    return docs.where(F.col("doc_id") % TEXT_EVERY == 0)


def text_minhash(ctx) -> dict:
    from geotiff_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(ctx)
    with ctx.layer("operators.dedup.minhash_lsh_pairs"):
        cand = minhash_lsh_pairs(docs, verify=False).count()
    with ctx.layer("operators.dedup.minhash_verify"):
        true = minhash_lsh_pairs(docs, verify=True).count()
    ctx.note("operators.dedup.minhash.candidates_per_true_pair",
             cand / max(true, 1))
    return {"candidates": cand, "pairs": true}


def text_substring(ctx) -> dict:
    from geotiff_spark.operators.dedup import exact_substring_dedup

    with ctx.layer("operators.dedup.exact_substring_dedup"):
        return {"rows": exact_substring_dedup(_docs(ctx), k=20,
                                              winnow=5).count()}


def text_bpe(ctx) -> dict:
    from geotiff_spark.operators.bpe import bpe_encode_counts

    with ctx.layer("operators.bpe.bpe_encode_counts"):
        return {"rows": bpe_encode_counts(_docs(ctx)).count()}


def text_rep_signals(ctx) -> dict:
    from geotiff_spark.queries_textdata import rep_signals_frame

    with ctx.layer("queries_textdata.rep_signals_frame"):
        return {"rows": rep_signals_frame(_docs(ctx)).count()}


def text_chunk_dedup(ctx) -> dict:
    from geotiff_spark.queries_textdata import chunk_dedup_frame

    with ctx.layer("queries_textdata.chunk_dedup_frame"):
        return {"rows": chunk_dedup_frame(_docs(ctx)).count()}


def text_near_dups(ctx) -> dict:
    """Embedding near-duplicates over a one-file corpus: the degenerate
    scan ``ensure_map_parallelism`` repartitions, then LSH + verify."""
    from geotiff_spark.operators.similarity import lsh_near_dup_pairs
    from geotiff_spark.plans.partitioning import ensure_map_parallelism

    corpus = ctx.spark.read.parquet(os.path.join(ctx.in_dir,
                                                 "embeddings.parquet"))
    with ctx.layer("plans.partitioning.ensure_map_parallelism"):
        corpus = ensure_map_parallelism(corpus)
    ctx.note("plans.partitioning.doc_scan_tasks", corpus.rdd.getNumPartitions())
    with ctx.layer("operators.similarity.lsh_near_dup_pairs"):
        rows = lsh_near_dup_pairs(corpus, threshold=inputs.NEAR_DUP_COS,
                                  dim=inputs.EMBED_DIM).collect()
    pairs = sorted([min(r[0], r[1]), max(r[0], r[1])] for r in rows)
    ctx.note("operators.similarity.near_dups.pairs", len(pairs))
    return {"pairs": pairs}


TEXT_OPS = [("minhash_lsh_pairs", text_minhash),
            ("exact_substring_dedup", text_substring),
            ("bpe_encode_counts", text_bpe),
            ("rep_signals_frame", text_rep_signals),
            ("chunk_dedup_frame", text_chunk_dedup),
            ("lsh_near_dup_pairs", text_near_dups)]


def text_check(op: str, got: dict, want: dict) -> bool:
    """Row-preserving operators keep one row per page; dedup keeps at
    most that; planted near-duplicate pairs are found exactly."""
    if op == "minhash_lsh_pairs":
        return 0 <= got["pairs"] <= got["candidates"]
    if op in ("bpe_encode_counts", "rep_signals_frame"):
        return got["rows"] == want["text_pages"]
    if op == "lsh_near_dup_pairs":
        return got["pairs"] == want["near_dup_pairs"]
    return 0 < got["rows"] <= want["text_pages"]


# ---- raster ------------------------------------------------------------------

def _tiles(ctx):
    from geotiff_spark.operators.tiling import raster_to_tiles
    from geotiff_spark.sources.rasters import read_rasters

    return raster_to_tiles(
        read_rasters(ctx.spark, os.path.join(ctx.in_dir, "rasters")), TILE)


def raster_decode(ctx) -> dict:
    """Decode only: an md5 of every decoded array."""
    from pyspark.sql import functions as F

    from geotiff_spark.sources.rasters import read_rasters

    with ctx.layer("sources.rasters.read_rasters"):
        rows = read_rasters(ctx.spark, os.path.join(ctx.in_dir, "rasters")
                            ).select("raster_id", F.md5("data").alias("md5")
                                     ).collect()
    return {r["raster_id"]: r["md5"] for r in rows}


def raster_tile_stats(ctx) -> dict:
    """decode → tiles → per-tile stats, one chain of Python stages."""
    from geotiff_spark.operators.tiling import tile_stats

    with ctx.layer("operators.tiling.tile_stats"):
        rows = tile_stats(_tiles(ctx)).collect()
    return {f"{r['raster_id']}/{r['tile_x']}/{r['tile_y']}":
            [r["v_min"], r["v_mean"], r["v_max"]] for r in rows}


def raster_focal(ctx) -> dict:
    from geotiff_spark.operators.tiling import focal_stats

    with ctx.layer("operators.tiling.focal_stats"):
        rows = focal_stats(_tiles(ctx), radius=1, tile_size=TILE).collect()
    return {f"{r['raster_id']}/{r['tile_x']}/{r['tile_y']}":
            [r["f_sum"], r["f_cnt"], r["f_min"], r["f_max"]] for r in rows}


def _sample(ctx, mode: str) -> dict:
    from pyspark.sql import functions as F

    from geotiff_spark.operators.sample import with_raster_sample

    rdir = os.path.join(ctx.in_dir, "rasters")
    paths = sorted(os.path.join(rdir, f) for f in os.listdir(rdir))
    pts = ctx.spark.read.parquet(os.path.join(ctx.in_dir, "points.parquet"))
    with ctx.layer(f"operators.sample.{mode}"):
        row = with_raster_sample(
            pts, ctx.spark, paths, F.col("raster_id"), mode=mode,
        ).agg(F.count(F.lit(1)).alias("n"), F.count("value").alias("valid"),
              F.sum("value").alias("sum")).collect()[0]
    return {"n": int(row["n"]), "valid": int(row["valid"]),
            "sum": float(row["sum"] or 0.0)}


# ---- registry ----------------------------------------------------------------
# Why each workload exists is stated in BENCHMARK.json.

WORKLOADS = {
    "ingest": {
        "modules": ("geotiff_spark.operators.spatial_join",
                    "geotiff_spark.plans.lineage"),
        "ops": [("fused_pages_pip", geojoin_counts), ("write", ingest_write)],
    },
    "raster": {
        "modules": ("geotiff_spark.functions.geotiff",
                    "geotiff_spark.operators.tiling",
                    "geotiff_spark.operators.sample"),
        "ops": [("read_rasters", raster_decode),
                ("tile_stats", raster_tile_stats),
                ("focal_stats", raster_focal),
                ("sample_broadcast", lambda c: _sample(c, "broadcast")),
                ("sample_copartition", lambda c: _sample(c, "copartition"))],
    },
}


def check(workload: str, ctx, op: str, got, want: dict) -> bool:
    if op in dict(TEXT_OPS):
        return text_check(op, got, want)
    if op == "fused_pages_pip":
        return got == want["counts"]
    if workload == "ingest":
        return ingest_check(ctx, got, want)
    return oracles.matches(got, want[op])
