"""Error-path parity with the reference's validation semantics
(/root/reference/src/coordinate_transform.rs:45-128,
/root/reference/src/geo_key_directory.rs:68-93)."""

from __future__ import annotations

import numpy as np
import pytest

from geotiff_spark.functions.geokeys import GeoKeyError, parse_geo_key_directory
from geotiff_spark.functions.geotiff import read_geotiff
from geotiff_spark.functions.transforms import TransformError, transform_from_tag_data

from fixture_paths import reference
from tiff_writer import write_tiff


def test_matrix_excludes_other_tags():
    m = [1.0] * 16
    with pytest.raises(TransformError, match="mutually exclusive"):
        transform_from_tag_data([1.0, 1.0, 0.0], None, m)
    with pytest.raises(TransformError, match="mutually exclusive"):
        transform_from_tag_data(None, [0.0] * 6, m)


def test_matrix_wrong_length():
    with pytest.raises(TransformError, match="exactly 16"):
        transform_from_tag_data(None, None, [1.0] * 15)


def test_tiepoint_without_scale():
    with pytest.raises(TransformError, match="ModelPixelScaleTag required"):
        transform_from_tag_data(None, [0.0] * 6, None)


def test_scale_without_tiepoint():
    with pytest.raises(TransformError, match="must be present"):
        transform_from_tag_data([1.0, 1.0, 0.0], None, None)


def test_tiepoints_not_multiple_of_6():
    with pytest.raises(TransformError, match="divisible by 6"):
        transform_from_tag_data(None, [0.0] * 7, None)


def test_singular_matrix():
    m = [0.0] * 16
    with pytest.raises(TransformError, match="not invertible"):
        transform_from_tag_data(None, None, m)


def test_unknown_geo_key_is_hard_error():
    # reference: unknown key id -> hard error (geo_key_directory.rs:89-93)
    with pytest.raises(GeoKeyError, match="unknown geo key id 9999"):
        parse_geo_key_directory([1, 1, 0, 1, 9999, 0, 1, 1], [], "")


def test_geo_key_length_mismatch():
    with pytest.raises(GeoKeyError, match="!= 4"):
        parse_geo_key_directory([1, 1, 0, 2, 1024, 0, 1, 1], [], "")


def test_double_key_count_must_be_one():
    # reference get_double: count != 1 -> error (geo_key_directory.rs:498-502)
    with pytest.raises(GeoKeyError, match="expected 1, got 2"):
        parse_geo_key_directory(
            [1, 1, 0, 1, 2059, 34736, 2, 0], [1.0, 2.0], ""
        )


def test_double_key_single_value():
    out = parse_geo_key_directory(
        [1, 1, 0, 1, 2059, 34736, 1, 1], [0.0, 298.25], ""
    )
    assert out["geog_inv_flattening"] == 298.25


def test_ascii_key_end_must_be_strictly_inside():
    # reference get_string: end = offset + count - 1 must be < len
    # (geo_key_directory.rs:536-542) — end == len is an error
    with pytest.raises(GeoKeyError, match="ascii slice out of range"):
        parse_geo_key_directory([1, 1, 0, 1, 1026, 34737, 4, 0], [], "ab|")
    out = parse_geo_key_directory([1, 1, 0, 1, 1026, 34737, 3, 0], [], "ab|")
    assert out["citation"] == "ab"


def test_ascii_key_start_out_of_range():
    with pytest.raises(GeoKeyError, match="ascii start offset out of range"):
        parse_geo_key_directory([1, 1, 0, 1, 1026, 34737, 1, 5], [], "ab|")


def test_sample_out_of_bounds_message_matches_reference():
    """The panic message format from /root/reference/src/lib.rs:149-153."""
    from geotiff_spark.functions.geotiff import get_values_at

    rec = read_geotiff(write_tiff(np.zeros((2, 2), dtype=np.uint8)))
    with pytest.raises(
        IndexError,
        match="sample out of bounds: the number of samples is 1 but the sample is 3",
    ):
        get_values_at(rec, [0.0], [0.0], 3)


def test_error_status_rows_not_job_failures(spark, tmp_path):
    """A corrupt file among good ones yields an error row, never a failed
    Spark job."""
    import shutil

    from geotiff_spark.sources.rasters import read_rasters

    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(reference("merc.tif"), d / "good.tif")
    (d / "corrupt.tif").write_bytes(b"II*\x00garbage-not-a-tiff")
    rows = {r.raster_id: r for r in read_rasters(spark, str(d)).collect()}
    assert rows["good.tif"].error is None
    assert rows["corrupt.tif"].error is not None
