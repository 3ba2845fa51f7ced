"""Every committed raster fixture is exactly what its build function in
scripts/make_fixtures.py writes, so a fixture cannot be edited without
its generator (or the generator without the fixture)."""

import importlib.util
from pathlib import Path

import pytest

from geotiff_spark.oracle_raster import FIXTURE_DIR

_SCRIPT = Path(__file__).resolve().parent.parent / "scripts" / "make_fixtures.py"
_spec = importlib.util.spec_from_file_location("make_fixtures", _SCRIPT)
make_fixtures = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(make_fixtures)


@pytest.mark.parametrize("rel", sorted(make_fixtures.FIXTURES))
def test_fixture_rebuilds_to_committed_bytes(rel):
    committed = Path(FIXTURE_DIR, rel).read_bytes()
    assert make_fixtures.FIXTURES[rel]() == committed, rel


def test_every_committed_fixture_is_generated():
    on_disk = {str(p.relative_to(FIXTURE_DIR))
               for p in Path(FIXTURE_DIR).rglob("*.tif")}
    assert on_disk == set(make_fixtures.FIXTURES)
