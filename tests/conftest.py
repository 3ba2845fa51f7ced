from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))


@pytest.fixture(scope="session")
def spark():
    from geotiff_spark.session import get_spark

    s = get_spark("pytest", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
