"""Property-based tests (hypothesis) over the pure kernels."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geotiff_spark.functions import cells as C
from geotiff_spark.functions import transforms as T
from geotiff_spark.functions.tiff import lzw_decode, packbits_decode

from fixture_paths import reference
from tiff_writer import packbits_encode


@given(
    lat=st.floats(min_value=-90, max_value=90, allow_nan=False),
    lon=st.floats(min_value=-180, max_value=180, allow_nan=False),
    res=st.integers(min_value=0, max_value=26),
)
@settings(max_examples=200, deadline=None)
def test_cell_encode_total_and_bounded(lat, lon, res):
    cell = int(C.latlon_to_cell([lat], [lon], res)[0])
    r, ix, iy = C.cell_to_grid(np.asarray([cell]))
    assert int(r[0]) == res
    n = 1 << res
    assert 0 <= int(ix[0]) < n and 0 <= int(iy[0]) < n


@given(
    lat=st.floats(min_value=-89.99, max_value=89.99, allow_nan=False),
    lon=st.floats(min_value=-179.99, max_value=179.99, allow_nan=False),
    res=st.integers(min_value=1, max_value=20),
    parent=st.integers(min_value=0, max_value=20),
)
@settings(max_examples=200, deadline=None)
def test_parent_consistency(lat, lon, res, parent):
    if parent > res:
        parent, res = res, parent
    fine = C.latlon_to_cell([lat], [lon], res)
    assert int(C.parent_cell(fine, parent)[0]) == int(
        C.latlon_to_cell([lat], [lon], parent)[0]
    )


@given(data=st.binary(min_size=0, max_size=4096))
@settings(max_examples=100, deadline=None)
def test_packbits_roundtrip(data):
    assert packbits_decode(packbits_encode(data)) == data


@given(
    a=st.floats(min_value=-1e3, max_value=1e3),
    b=st.floats(min_value=-1e3, max_value=1e3),
    c=st.floats(min_value=-1e6, max_value=1e6),
    d=st.floats(min_value=-1e3, max_value=1e3),
    e=st.floats(min_value=-1e3, max_value=1e3),
    f=st.floats(min_value=-1e6, max_value=1e6),
    x=st.floats(min_value=-1e4, max_value=1e4),
    y=st.floats(min_value=-1e4, max_value=1e4),
)
@settings(max_examples=200, deadline=None)
def test_affine_roundtrip(a, b, c, d, e, f, x, y):
    det = a * e - b * d
    mag = max(abs(a), abs(b), abs(d), abs(e), 1e-9)
    if abs(det) < 1e-2 * mag * mag:
        return  # ill-conditioned: roundtrip error is unbounded by design
    # row-major 4x4 layout expected by affine_from_matrix
    m = [a, b, 0.0, c, d, e, 0.0, f, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]
    kind, coeffs = T.affine_from_matrix(m)
    mx, my = T.to_model(kind, coeffs, [x], [y])
    rx, ry = T.to_raster(kind, coeffs, mx, my)
    # error scales with the model-space magnitude over the conditioning
    scale = max(abs(x), abs(y), abs(c), abs(f), 1.0) * (mag * mag / abs(det))
    assert abs(rx[0] - x) < 1e-7 * scale
    assert abs(ry[0] - y) < 1e-7 * scale


def test_lzw_roundtrip_via_reference_fixture():
    """No LZW encoder here — bit-exactness is pinned by marbles.tif; this
    checks the decoder tolerates truncated streams without crashing."""
    data = reference("marbles.tif").read_bytes()
    # feed garbage-prefixed stream: must raise or return bytes, not hang
    try:
        lzw_decode(data[1000:1100])
    except Exception:
        pass


def test_disk_cells_many_matches_scalar(spark=None):
    import numpy as np

    from geotiff_spark.functions import cells as cellmod

    rng = np.random.default_rng(3)
    lat = rng.uniform(-89, 89, 40)
    lon = rng.uniform(-180, 180, 40)
    for res in (3, 7, 12):
        ids = cellmod.latlon_to_cell(lat, lon, res)
        for k in (1, 2, 5):
            batch = cellmod.disk_cells_many(ids, k)
            for i, c in enumerate(ids):
                np.testing.assert_array_equal(
                    batch[i], cellmod.disk_cells(int(c), k)
                )


def test_minhash_signatures_partition_invariant(spark):
    from geotiff_spark.operators.dedup import minhash_signatures

    rows = [(i, f"w{i % 7} common text body {i % 3} tail") for i in range(200)]
    a = minhash_signatures(
        spark.createDataFrame(rows, ["doc_id", "text"]).repartition(1)
    ).orderBy("doc_id").collect()
    b = minhash_signatures(
        spark.createDataFrame(rows, ["doc_id", "text"]).repartition(13)
    ).orderBy("doc_id").collect()
    assert [(r.doc_id, list(r.sigs)) for r in a] == [
        (r.doc_id, list(r.sigs)) for r in b
    ]


def test_extract_batch_adversarial_markers(spark):
    """Byte-identity with the JVM substring_index form on edge-case html:
    multiple/nested markers, missing markers, unicode, empty body."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geotiff_spark.operators.extract import (
        extract_batch, extract_text_from_html,
    )

    cases = [
        b"<article>plain body</article>",
        b"no markers at all",
        b"<article>first</article><article>second</article>",
        b"prefix<article>only open marker",
        b"only close marker</article>suffix",
        "<article>unicode ü中文 geo: 48.20820,16.37380</article>".encode(),
        b"<article></article>",
        b"",
        b"<article>outer<article>inner</article>tail</article>",
    ]
    texts, lats, lons = extract_batch(pd.Series(cases))
    df = spark.createDataFrame([(c,) for c in cases], ["html"])
    jvm = [
        r.t for r in df.select(
            extract_text_from_html(F.col("html")).alias("t")
        ).collect()
    ]
    assert texts == jvm
    assert lats[5] == 48.20820 and lons[5] == 16.37380
