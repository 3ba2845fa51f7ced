"""Per-partition lineage + row-count metrics (north rule).

`instrument(df, stage)` counts rows per physical partition in a
pass-through pandas stage that rides the adjacent engine map stage
(plans/fusion.py): it is composed into the operator before it, or
absorbed by the one after it (e.g. `fused_pages_pip`), whose column
selection still reaches the scan. Only with no adjacent engine map stage
does it run as a mapInPandas pass of its own. Metrics flow back
through a Spark accumulator (survives speculative re-execution by keying
on partition id and keeping the max) and `flush(path)` persists them as
parquet, written on the driver with pyarrow: the lineage side-table for
checkpoint-resumable reruns.

Counting costs one iterator pass, no data copies, no extra shuffle.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import DataFrame, SparkSession

from geotiff_spark.plans.fusion import map_in_pandas

_SIDE_TABLE = pa.schema([
    ("partition_id", pa.int64()),
    ("rows", pa.int64()),
    ("stage", pa.string()),
])


class _DictMaxParam(AccumulatorParam):
    """Accumulate {key: rows}; re-executed tasks overwrite, not add."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = max(a.get(k, 0), v)
        return a


class StageMetrics:
    """Collects (stage, partition_id) → row counts across jobs."""

    def __init__(self, spark: SparkSession):
        self.acc = spark.sparkContext.accumulator({}, _DictMaxParam())
        self.started = time.time()

    def instrument(self, df: DataFrame, stage: str) -> DataFrame:
        acc = self.acc

        def count_rows(batches):
            pid = TaskContext.get().partitionId()
            rows = 0
            for pdf in batches:
                rows += len(pdf)
                yield pdf
            acc.add({f"{stage}\x1f{pid}": rows})

        return map_in_pandas(df, count_rows, df.schema,
                             name=f"count[{stage}]", passthrough=True)

    def snapshot(self) -> list[dict]:
        out = []
        for key, rows in sorted(self.acc.value.items()):
            stage, pid = key.split("\x1f")
            out.append({"stage": stage, "partition_id": int(pid), "rows": rows})
        return out

    def flush(self, path: str) -> None:
        """Persist the lineage side-table (parquet + a json summary)."""
        rows = self.snapshot()
        os.makedirs(path, exist_ok=True)
        stamp = int(self.started)
        with open(f"{path}/metrics_{stamp}.json", "w") as fh:
            json.dump(rows, fh)
        if rows:
            # a few rows: one part file per flush, appended next to the
            # earlier ones, with no Spark job
            os.makedirs(f"{path}/parquet", exist_ok=True)
            table = pa.Table.from_pylist(rows, schema=_SIDE_TABLE)
            pq.write_table(
                table,
                f"{path}/parquet/part-00000-{uuid.uuid4()}-c000.snappy.parquet",
                compression="snappy",
            )
