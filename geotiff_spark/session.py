"""SparkSession builder with the engine's tuned defaults.

Scale posture (SURVEY.md §4): AQE on (incl. skew-join splitting), Arrow on
with large batches (all custom kernels are vectorized pandas UDFs), shuffle
partitions sized for the sandbox but overridable for a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


DEFAULT_CONFIGS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # broadcast the polygon cell index / raster dim tables aggressively
    "spark.sql.autoBroadcastJoinThreshold": "67108864",
    "spark.sql.session.timeZone": "UTC",
    # Same fault-storm fix for the PYTHON workers (they cannot pre-touch
    # a fixed heap): stop glibc from returning freed memory to the OS —
    # no trim, and keep sub-32MB allocations (every Arrow batch at the
    # 8192-row setting) in the arena. Workers plateau at their peak RSS
    # instead of re-faulting returned pages through the virtualized
    # host's slow path every batch wave.
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "17179869184",
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "33554432",
    "spark.ui.enabled": "false",
}


def _heap_configs() -> dict[str, str]:
    """The driver heap: SPARK_GRAFT_DRIVER_MEM, else min(16g, 55% of
    MemTotal), so the pinned, pre-touched heap fits the host with room
    left for the Python workers (a 16g heap cannot start on a 15 GB host
    with no swap)."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        try:
            with open("/proc/meminfo") as fh:
                kb = next(int(line.split()[1]) for line in fh
                          if line.startswith("MemTotal:"))
            mem = f"{min(16 * 1024, int(kb * 0.55) // 1024)}m"
        except (OSError, StopIteration, ValueError):
            mem = "16g"
    return {
        # local mode: the driver JVM IS the executor
        "spark.driver.memory": mem,
        # Pin the heap (-Xms == driver memory) and pre-touch it once at
        # startup. Round-6 finding: with the default lazy/shrinkable heap,
        # long sessions intermittently collapsed into KERNEL-time page-fault
        # storms (sys 85-95%, user ~1%; /proc sampling showed
        # exc_page_fault + memcg accounting; identical queries ran 10-30x
        # slower: rep_signals 13 s -> 431 s mid-session) — G1 uncommits
        # heap after concurrent cycles and a virtualized host
        # makes RE-faulting returned pages brutally slow whenever the host
        # is tight. Pinning forbids the uncommit and pre-touch pays the
        # fault cost exactly once at startup; an interleaved same-window
        # A/B (BENCH/BASELINE.md round 6) showed the pinned config stable
        # at 13-18 s where the lazy config hit 147 s. The cap dropped
        # 48g -> 16g to bound the one-time pre-touch tax (a tight-host
        # window made a 28g pre-touch take minutes; 16g starts in ~10 s and
        # the full suite fits it). On a real cluster this is the standard
        # spark-executor posture anyway (fixed-size pre-touched heaps).
        "spark.driver.extraJavaOptions": f"-Xms{mem} -XX:+AlwaysPreTouch",
    }


def get_spark(
    app_name: str = "geotiff_spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    for k, v in {**DEFAULT_CONFIGS, **_heap_configs(), **(extra or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
