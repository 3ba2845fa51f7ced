"""Python worker daemon that imports pyspark from its installation instead
of from the archives Spark puts first on the worker path.

The JVM starts each worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar at the front of ``sys.path``. Workers
then import pyspark from the zip and hold one ``zipimporter`` per archive
and per package inside it, and every task's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which on Python 3.11 makes each of them
re-read its archive's whole directory: 0.2-0.3 s of CPU per task.

The second per-task cost is the daemon's own ``gc.collect()``: a reused
worker runs one after every task (the ``while True: code = worker(...)``
loop of ``pyspark/daemon.py``), and a full collection walks every tracked
object. The pyspark, pandas, pyarrow and numpy imports leave ~74k of them,
so each collection cost 33-43 ms of CPU per Python task. Importing those
modules in the daemon alone does not help: the forked workers inherit the
objects still tracked. ``gc.freeze()`` after the imports moves them to the
permanent generation, which no collection visits, so a worker's per-task
collection walks only what the worker made itself (~1k objects, 0.4 ms).
The imports must come before the freeze, since only objects that already
exist are frozen. The numpy import starts OpenBLAS's thread pool in the
daemon; OpenBLAS rebuilds it in each forked child itself (``pthread_atfork``).

Run as ``spark.python.daemon.module``: drop those archives from the path,
but only when pyspark and py4j are still importable without them, import
what the workers import, freeze the heap, then run pyspark's own daemon
unchanged. User ``--py-files`` live outside ``SPARK_HOME`` and reach each
task later, so they are never touched.
"""

import gc
import importlib.machinery
import os
import sys


def drop_spark_archives(path: list[str], importer_cache: dict,
                        spark_home: str) -> list[str]:
    """Remove from ``path`` (in place) and ``importer_cache`` the
    ``.zip``/``.jar`` entries whose real path is under
    ``realpath(spark_home)``, if pyspark and py4j are found on what is
    left; return the entries dropped."""
    if not spark_home:
        return []
    root = os.path.join(os.path.realpath(spark_home), "")
    dropped = [p for p in path if p.endswith((".zip", ".jar"))
               and os.path.realpath(p).startswith(root)]
    kept = [p for p in path if p not in dropped]
    finder = importlib.machinery.PathFinder
    if not dropped or not all(finder.find_spec(m, kept)
                              for m in ("pyspark", "py4j")):
        return []
    path[:] = kept
    for p in dropped:
        importer_cache.pop(p, None)
    return dropped


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache,
                        os.environ.get("SPARK_HOME", ""))
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    from pyspark.daemon import manager

    gc.freeze()
    manager()
