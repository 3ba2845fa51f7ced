"""The one resolver for the reference GeoTIFF corpus in tests.

The reference goldens read the reference's own files and nothing else:
the committed stand-ins in ``oracle_raster.FIXTURE_DIR`` share their
names but not their pixels. A test that needs a file the host lacks is
skipped with the missing path as its reason, so a host that has the
corpus still runs every assertion.
"""

from __future__ import annotations

from pathlib import Path

import pytest

REFERENCE_DIR = "/root/reference/resources"


def reference(name: str = "") -> Path:
    """Path of ``name`` in the reference corpus (the corpus directory for
    ``""``); skips the calling test when that path is absent."""
    path = Path(REFERENCE_DIR, name)
    if not path.exists():
        pytest.skip(f"reference fixture absent: {path}")
    return path
