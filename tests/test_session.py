"""Session start-up: Python workers import pyspark from its installation,
not from the archives Spark puts first on the worker path, fork from a
daemon whose imports are frozen out of the garbage collector, the
worker daemon module is found from any working directory, and shuffle
partitions are twice the session's parallelism."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from geotiff_spark import session
from geotiff_spark.worker_daemon import drop_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_pyspark_outside_archives(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        zips = sum(isinstance(v, zipimport.zipimporter)
                   for v in sys.path_importer_cache.values())
        for _ in batches:
            yield pd.DataFrame({"file": [pyspark.__file__], "zips": [zips]})

    rows = spark.range(4, numPartitions=2).mapInPandas(
        probe, "file string, zips long").collect()
    assert rows
    for r in rows:
        assert os.path.isfile(r["file"]), r["file"]
        assert r["zips"] == 0


def test_workers_fork_from_a_frozen_heap(spark):
    """The daemon freezes its imports before forking, so the full
    ``gc.collect()`` a reused worker runs after every task walks only the
    worker's own objects, not the ~74k that the imports left."""
    def probe(batches):
        import gc

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"frozen": [gc.get_freeze_count()],
                                "tracked": [len(gc.get_objects())]})

    rows = spark.range(4, numPartitions=2).mapInPandas(
        probe, "frozen long, tracked long").collect()
    assert len(rows) == 2
    for r in rows:
        assert r["frozen"] >= 30_000, r
        assert r["tracked"] <= 10_000, r


def test_session_from_outside_the_checkout(tmp_path):
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from geotiff_spark.session import get_spark
spark = get_spark("outside", master="local[1]")
def plus_one(batches):
    for b in batches:
        yield b + 1
print("SUM", spark.range(10).mapInPandas(plus_one, "id long")
      .groupBy().sum("id").first()[0])
print("SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "SUM 55" in proc.stdout
    assert "SHUFFLE 2\n" in proc.stdout  # 2 x local[1]'s parallelism


def test_shuffle_partitions_follow_parallelism(spark):
    """The shared session passes no shuffle setting, so it gets the rule:
    twice its default parallelism."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        2 * spark.sparkContext.defaultParallelism)


def _package(root, name: str) -> str:
    os.makedirs(os.path.join(root, name))
    open(os.path.join(root, name, "__init__.py"), "w").close()
    return str(root)


def _archive(path, *modules: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for m in modules:
            zf.writestr(f"{m}/__init__.py", "")
    return str(path)


def _fake_spark(tmp_path):
    """A Spark home reached through a symlink, its archives named by the
    real path (as the JVM names its own jar), and a user zip elsewhere."""
    real = tmp_path / "spark-4.1.2-bin"
    home = tmp_path / "spark"
    os.makedirs(real)
    os.symlink(real, home)
    archives = [_archive(home / "python" / "lib" / "pyspark.zip",
                         "pyspark", "py4j"),
                _archive(real / "jars" / "spark-core.jar")]
    user = _archive(tmp_path / "user" / "deps.zip", "deps")
    return str(home), archives, user


def test_drop_spark_archives(tmp_path):
    home, archives, user = _fake_spark(tmp_path)
    site = _package(tmp_path / "site", "pyspark")
    _package(tmp_path / "site", "py4j")
    path = [*archives, user, site]
    cache = {p: object() for p in path}
    assert drop_spark_archives(path, cache, home) == archives
    assert path == [user, site]
    assert set(cache) == {user, site}


@pytest.mark.parametrize("installed", ["py4j", "pyspark"])
def test_drop_spark_archives_keeps_path_when_only_archives_have_both(
        tmp_path, installed):
    home, archives, user = _fake_spark(tmp_path)
    site = _package(tmp_path / "site", installed)
    path = [*archives, user, site]
    cache = {p: object() for p in path}
    assert drop_spark_archives(path, cache, home) == []
    assert path == [*archives, user, site]
    assert set(cache) == set(path)


def test_worker_configs():
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    conf = session._worker_configs("local[2]", {})
    assert conf == {
        "spark.python.daemon.module": "geotiff_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": root,
    }
    conf = session._worker_configs("local", {
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": "/deps",
    })
    assert conf == {
        "spark.python.daemon.module": "pyspark.daemon",
        "spark.executorEnv.PYTHONPATH": root + os.pathsep + "/deps",
    }
    assert session._worker_configs("spark://host:7077", {}) == {}
