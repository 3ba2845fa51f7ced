"""The oracle-table cache is keyed by content: a rewritten fixture
must never serve the old pixels, a key is built once, and a failed build
publishes nothing."""

import numpy as np
import pyarrow.parquet as pq
import pytest

from geotiff_spark import oracle_raster
from tiff_writer import write_tiff


def test_pixel_tables_follow_fixture_content(tmp_path, monkeypatch):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    monkeypatch.setattr(oracle_raster, "FIXTURE_DIR", str(corpus))
    monkeypatch.setattr(oracle_raster, "ORACLE_DIR", str(tmp_path / "oracle"))
    raster = corpus / "r.tif"

    def values_after_writing(arr):
        raster.write_bytes(write_tiff(arr))
        _, all_path = oracle_raster.pixel_tables()
        t = pq.read_table(all_path).to_pandas().sort_values(["iy", "ix"])
        return t["value"].tolist()

    first = np.arange(12, dtype=np.uint8).reshape(3, 4)
    assert values_after_writing(first) == first.ravel().tolist()
    second = first[::-1].copy() + 100
    assert values_after_writing(second) == second.ravel().tolist()


def test_cached_tables_publish_once_per_key(tmp_path, monkeypatch):
    monkeypatch.setattr(oracle_raster, "ORACLE_DIR", str(tmp_path))
    built = []

    def build(v):
        def run():
            built.append(v)
            return {"t": {"v": np.array([v])}}
        return run

    def rows(tables):
        return pq.read_table(tables["t"]).column("v").to_pylist()

    first = oracle_raster.cached_tables("x", b"one", build(1))
    assert rows(first) == [1] and built == [1]
    assert oracle_raster.cached_tables("x", b"one", build(9)) == first
    assert built == [1]  # same key: no rebuild
    second = oracle_raster.cached_tables("x", b"two", build(2))
    assert second["t"] != first["t"] and rows(second) == [2]

    def broken():
        raise RuntimeError("build failed")

    before = sorted(p.name for p in tmp_path.iterdir())
    with pytest.raises(RuntimeError):
        oracle_raster.cached_tables("x", b"three", broken)
    assert sorted(p.name for p in tmp_path.iterdir()) == before
    assert not list(tmp_path.glob("*.tmp*"))
    assert rows(oracle_raster.cached_tables("x", b"three", build(3))) == [3]
