"""Manifest-based checkpoint-resumable writes (north rule).

Job-level resume protocol (df.checkpoint is intra-job only):

- output is bucketed by a deterministic column (e.g. the adaptive cell
  prefix, or pmod(hash(key), n)), written one spark job per bucket batch
  with `partitionBy(bucket)`,
- a `_manifest/<bucket>.done` marker commits each bucket AFTER its data
  lands (write → rename-free marker, idempotent),
- rerun: completed buckets are read from the manifest and anti-joined
  out of the input (a metadata-only filter when the bucket column is a
  partition key), so a killed run resumes exactly where it stopped and
  the final output is byte-identical to an uninterrupted run (tested).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST = "_manifest"


def completed_buckets(out_dir: str) -> set[str]:
    mdir = os.path.join(out_dir, MANIFEST)
    if not os.path.isdir(mdir):
        return set()
    return {
        name[: -len(".done")]
        for name in os.listdir(mdir)
        if name.endswith(".done")
    }


def _mark_done(out_dir: str, bucket: str) -> None:
    mdir = os.path.join(out_dir, MANIFEST)
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"{bucket}.done"), "w") as fh:
        fh.write("ok\n")


def resumable_write(
    df: DataFrame,
    out_dir: str,
    bucket_col: str,
    batch_size: int = 8,
    fail_after: int | None = None,
) -> dict:
    """Write df partitioned by bucket_col, resumably.

    Buckets already in the manifest are skipped (anti-join on the bucket
    id). Buckets are committed in batches of `batch_size` (one spark job
    each — bounds re-done work to one batch on a crash). `fail_after`
    (tests only) simulates a kill after N batches.

    Returns {written: [...], skipped: [...]}.
    """
    done = completed_buckets(out_dir)
    all_buckets = [
        str(r[bucket_col])
        for r in df.select(bucket_col).distinct().collect()
    ]
    todo = sorted(b for b in all_buckets if b not in done)
    skipped = sorted(set(all_buckets) & done)

    written: list[str] = []
    batches = [
        todo[i : i + batch_size] for i in range(0, len(todo), batch_size)
    ]
    for bi, batch in enumerate(batches):
        if fail_after is not None and bi >= fail_after:
            raise RuntimeError(f"simulated kill after {fail_after} batches")
        (
            df.filter(F.col(bucket_col).cast("string").isin(batch))
            .repartition(F.col(bucket_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(bucket_col)
            .parquet(out_dir)
        )
        for b in batch:
            _mark_done(out_dir, b)
        written.extend(batch)
    return {"written": written, "skipped": skipped}
