"""The one resolver for the reference GeoTIFF corpus in tests.

Every path comes from ``oracle_raster.RESOURCE_DIR``. A test that needs a
file the host lacks is skipped with the missing path as its reason, so a
host that has the corpus still runs every assertion.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from geotiff_spark.oracle_raster import RESOURCE_DIR


def reference(name: str = "") -> Path:
    """Path of ``name`` in the reference corpus (the corpus directory for
    ``""``); skips the calling test when that path is absent."""
    path = Path(RESOURCE_DIR, name)
    if not path.exists():
        pytest.skip(f"reference fixture absent: {path}")
    return path
