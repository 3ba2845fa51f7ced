"""Greedy sequence packing — training-batch construction.

Packs documents into fixed-capacity context windows (next-fit greedy by
ascending doc id), the step that turns a curated corpus into dense
training sequences. Packing is inherently sequential, so the scale
design makes the sequential unit small and the parallelism wide:
documents are hashed into BUCKETS independent buckets and each bucket
packs its own bins in one `applyInPandas` group — at 100 TB you raise
BUCKETS so each bucket's document list fits one task, and the
only exchange is the one groupBy(bucket) hash shuffle of (id, n_tokens)
pairs (never text). Bin ids are bucket-local; (bucket, bin_id) is the
global bin key. Deterministic by construction (pure function of ids and
token counts), so a recursive-CTE SQL oracle reproduces it exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tokens per context window, and doc_id buckets packed independently.
CAPACITY, BUCKETS = 512, 32


def pack_sequences(df: DataFrame) -> DataFrame:
    """Assign each (doc_id, n_tokens) row a (bucket, bin_id) so that
    consecutive documents (by doc_id, within their bucket) share a bin
    while their token counts fit CAPACITY; a document that does not fit
    opens the next bin (next-fit greedy). An oversized document still
    occupies one bin alone rather than erroring — the caller decides
    whether to truncate upstream."""
    # NULL token counts cannot be packed: inside the pandas group they
    # become NaN, silently opening a new bin per row and risking a
    # NaN→long cast error (ADVICE r05). Dropping them mirrors the
    # oracle's WHERE-filtered input; callers that want NULL-counted docs
    # packed must coalesce upstream.
    bucketed = df.filter(F.col("n_tokens").isNotNull()).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("doc_id") % BUCKETS).cast("long").alias("bucket"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        bin_ids = []
        bin_id, fill = -1, CAPACITY + 1  # force a new bin on the first row
        for n in pdf["n_tokens"]:
            if fill + n <= CAPACITY:
                fill += n
            else:
                bin_id += 1
                fill = n
            bin_ids.append(bin_id)
        pdf["bin_id"] = pd.Series(bin_ids, dtype="int64")
        return pdf

    return bucketed.groupBy("bucket").applyInPandas(
        pack, schema="doc_id long, n_tokens long, bucket long, bin_id long"
    )
