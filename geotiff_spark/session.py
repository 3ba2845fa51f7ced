"""SparkSession builder with the engine's tuned defaults.

Scale posture (SURVEY.md §4): AQE on (incl. skew-join splitting), Arrow on
with large batches (all custom kernels are vectorized pandas UDFs), and
shuffle partitions set to twice the session's ``defaultParallelism`` once
the context is up, so the shuffle follows the master's cores on every
entry point; a value in ``extra`` wins.

Python workers: two fixed costs are paid on every Python task. Spark puts
``pyspark.zip``, the py4j zip and the spark-core jar first on every
worker's ``sys.path``, and each task's ``importlib.invalidate_caches()``
then makes every zipimporter re-read its archive (0.2-0.3 s of CPU per
task). And a reused worker runs a full ``gc.collect()`` after each task,
which walks the ~74k objects the pyspark, pandas, pyarrow and numpy
imports left (33-43 ms per task). On a ``local[...]`` master with the
package imported from a plain directory, the workers start through
``geotiff_spark.worker_daemon``, which drops those archives when pyspark is
importable without them and forks the workers from a heap whose imports
are frozen out of the collector (``gc.freeze()``), and the package's
parent directory goes first on the executors' ``PYTHONPATH`` so the daemon
module is found from any working directory. When the package comes from a
zip (``spark-submit --py-files``) or the master is a cluster, the stock
daemon is kept.
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


_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_DAEMON = "spark.python.daemon.module"
_SHUFFLE = "spark.sql.shuffle.partitions"


def _worker_configs(master: str, extra: dict[str, str]) -> dict[str, str]:
    """The worker daemon and path settings (module docstring); none unless
    the master is local and this package is a plain directory. A daemon
    module in ``extra`` wins; a ``PYTHONPATH`` in it is kept after the
    package root."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    local = master == "local" or master.startswith("local[")
    if not (local and os.path.isdir(pkg)):
        return {}
    paths = (os.path.dirname(pkg), extra.get(_PYTHONPATH))
    return {
        _DAEMON: extra.get(_DAEMON, "geotiff_spark.worker_daemon"),
        _PYTHONPATH: os.pathsep.join(p for p in paths if p),
    }


def get_spark(
    app_name: str = "geotiff_spark",
    master: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    extra = extra or {}
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**DEFAULT_CONFIGS, **_heap_configs(), **extra,
                 **_worker_configs(master, extra)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if _SHUFFLE not in extra:
        spark.conf.set(_SHUFFLE, str(2 * spark.sparkContext.defaultParallelism))
    return spark
