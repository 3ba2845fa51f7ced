"""The raster oracle's pixel-table cache is keyed by the corpus
content: a rewritten fixture must never serve the old pixels."""

import numpy as np
import pyarrow.parquet as pq

from geotiff_spark import oracle_raster
from tiff_writer import write_tiff


def test_pixel_tables_follow_fixture_content(tmp_path, monkeypatch):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    monkeypatch.setattr(oracle_raster, "CORPUS_DIRS", [str(corpus)])
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
