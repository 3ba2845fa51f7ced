"""Committed golden outputs (SURVEY.md §5.3 item 3): the spatial pipeline
on a fixed deterministic input must reproduce the committed parquet
byte-for-byte in content (order-insensitive row sets).

Regenerate (only when the engine's *intended* semantics change):
    python tests/test_goldens.py --regenerate
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

GOLDEN_DIR = Path(__file__).parent / "goldens"
N_PAGES = 10_000
RES = 7


def compute_hits_pdf(spark) -> pd.DataFrame:
    from geotiff_spark.operators.spatial_join import fused_pages_pip
    from geotiff_spark.sources.pages import synth_pages

    pages = synth_pages(spark, N_PAGES, partitions=8)
    hits = fused_pages_pip(spark, pages, RES, carry=("url",))
    pdf = hits.toPandas()
    return pdf.sort_values(["url", "poly_id"]).reset_index(drop=True)


def test_pip_golden(spark):
    golden_path = GOLDEN_DIR / "pip_hits_10k.parquet"
    assert golden_path.exists(), "golden missing — run --regenerate"
    want = pd.read_parquet(golden_path)
    got = compute_hits_pdf(spark)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_cell_assignment_golden(spark):
    """Tile (cell) assignments for the same corpus — the north rule's
    'tile assignments must be deterministic and exactly reproducible'."""
    golden_path = GOLDEN_DIR / "cell_assign_10k.parquet"
    assert golden_path.exists(), "golden missing — run --regenerate"
    from geotiff_spark.operators.extract import with_fused_geo
    from geotiff_spark.sources.pages import synth_pages

    pages = synth_pages(spark, N_PAGES, partitions=8)
    got = (
        with_fused_geo(pages, RES)
        .select("url", "cell")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = pd.read_parquet(golden_path)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


if __name__ == "__main__":
    if "--regenerate" not in sys.argv:
        raise SystemExit("pass --regenerate to rewrite goldens")
    sys.path.insert(0, str(Path(__file__).parent.parent))
    sys.path.insert(0, str(Path(__file__).parent))
    from geotiff_spark.session import get_spark

    spark = get_spark("golden-gen", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    GOLDEN_DIR.mkdir(exist_ok=True)
    compute_hits_pdf(spark).to_parquet(GOLDEN_DIR / "pip_hits_10k.parquet")

    from geotiff_spark.operators.extract import with_fused_geo
    from geotiff_spark.sources.pages import synth_pages

    pages = synth_pages(spark, N_PAGES, partitions=8)
    (
        with_fused_geo(pages, RES)
        .select("url", "cell")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
        .to_parquet(GOLDEN_DIR / "cell_assign_10k.parquet")
    )
    print("goldens written to", GOLDEN_DIR)
    spark.stop()
