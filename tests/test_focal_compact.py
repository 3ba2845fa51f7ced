"""Unit tests for the round-3 operators: halo-exchange focal stats,
quadtree cell compaction, char-n-gram Jaccard."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotiff_spark.operators.compact import compact_cells
from geotiff_spark.operators.dedup import char_ngram_jaccard_pairs
from geotiff_spark.operators.tiling import focal_stats, raster_to_tiles


def _raster_df(spark, arr: np.ndarray, rid: str = "r0"):
    """Wrap a (h, w) numpy array as a 1-row RASTER_SCHEMA-ish DataFrame
    (the subset of columns raster_to_tiles reads)."""
    from geotiff_spark.functions.tiff import DTYPE_NAMES

    h, w = arr.shape
    pdf = pd.DataFrame([{
        "raster_id": rid, "height": h, "width": w, "num_samples": 1,
        "dtype": DTYPE_NAMES[arr.dtype.str.lstrip("<>|=")],
        "data": arr.tobytes(), "error": None,
    }])
    return spark.createDataFrame(pdf)


def _brute_focal(arr: np.ndarray, tile_size: int, r: int = 1) -> pd.DataFrame:
    """Reference: per-pixel (2r+1)² in-bounds sum/count, grouped to tiles."""
    h, w = arr.shape
    a = arr.astype(np.int64)
    rows = {}
    for y in range(h):
        for x in range(w):
            ys, ye = max(0, y - r), min(h, y + r + 1)
            xs, xe = max(0, x - r), min(w, x + r + 1)
            fs = int(a[ys:ye, xs:xe].sum())
            fc = (ye - ys) * (xe - xs)
            key = (x // tile_size, y // tile_size)
            s = rows.setdefault(key, [0, 0, fs, fs])
            s[0] += fs
            s[1] += fc
            s[2] = min(s[2], fs)
            s[3] = max(s[3], fs)
    return pd.DataFrame(
        [
            {"tile_x": k[0], "tile_y": k[1],
             "f_sum": v[0], "f_cnt": v[1], "f_min": v[2], "f_max": v[3]}
            for k, v in rows.items()
        ]
    ).sort_values(["tile_x", "tile_y"]).reset_index(drop=True)


@pytest.mark.parametrize("h,w,ts,r", [
    (7, 9, 4, 1), (8, 8, 4, 1), (5, 5, 8, 1), (9, 13, 3, 1),
    # radius 2, incl. 1-px-wide edge tiles (w % ts == 1) whose window
    # reaches through the full-size preceding neighbor
    (9, 13, 4, 2), (9, 9, 4, 2), (7, 9, 8, 3),
])
def test_focal_stats_matches_bruteforce(spark, h, w, ts, r):
    """Halo exchange across many small tiles (incl. edge-clipped ones and
    a single-tile raster) must equal the naive per-pixel stencil, for
    3×3 and wider windows."""
    rng = np.random.RandomState(h * 100 + w + r)
    arr = rng.randint(0, 255, size=(h, w)).astype(np.uint8)
    tiles = raster_to_tiles(_raster_df(spark, arr), tile_size=ts)
    got = (
        focal_stats(tiles, radius=r, tile_size=ts)
        .toPandas()
        .sort_values(["tile_x", "tile_y"])
        .reset_index(drop=True)[["tile_x", "tile_y", "f_sum", "f_cnt",
                                 "f_min", "f_max"]]
    )
    want = _brute_focal(arr, ts, r)
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_dtype=False
    )


def test_focal_stats_signed_dtype(spark):
    """Negative int16 values must survive the int64 accumulation."""
    arr = np.array([[-5, 3], [7, -11]], dtype=np.int16)
    tiles = raster_to_tiles(_raster_df(spark, arr), tile_size=2)
    got = focal_stats(tiles).toPandas().iloc[0]
    # every pixel's 3x3 window is the whole raster: sum = -6 each
    assert got["f_sum"] == -24 and got["f_cnt"] == 16
    assert got["f_min"] == -6 and got["f_max"] == -6


def _brute_compact(cells: set[tuple[int, int]], res: int):
    """Reference bottom-up compaction over a python set."""
    out = []
    cur = set(cells)
    for r in range(res, 0, -1):
        parents = {}
        for ix, iy in cur:
            parents.setdefault((ix // 2, iy // 2), []).append((ix, iy))
        nxt = set()
        for p, kids in parents.items():
            if len(kids) == 4:
                nxt.add(p)
            else:
                out.extend((r, ix, iy) for ix, iy in kids)
        cur = nxt
    out.extend((0, ix, iy) for ix, iy in cur)
    return sorted(out)


@pytest.mark.parametrize("seed,n", [(1, 30), (2, 200), (3, 1000)])
def test_compact_cells_matches_bruteforce(spark, seed, n):
    res = 5
    rng = np.random.RandomState(seed)
    m = 1 << res
    pts = {(int(rng.randint(0, m)), int(rng.randint(0, m))) for _ in range(n)}
    grid = spark.createDataFrame(
        pd.DataFrame(sorted(pts), columns=["ix", "iy"])
    )
    got = sorted(
        (int(r["res"]), int(r["ix"]), int(r["iy"]))
        for r in compact_cells(grid, res).collect()
    )
    assert got == _brute_compact(pts, res)


def test_compact_cells_full_grid_collapses_to_root(spark):
    """A complete res-2 grid (16 cells) compacts to the single root."""
    pts = [(ix, iy) for ix in range(4) for iy in range(4)]
    grid = spark.createDataFrame(pd.DataFrame(pts, columns=["ix", "iy"]))
    rows = compact_cells(grid, 2).collect()
    assert len(rows) == 1
    assert rows[0]["res"] == 0 and rows[0]["cell"] == 0


def test_compact_expansion_roundtrip(spark):
    """Expanding every compacted cell back to res leaves exactly the
    input set (compaction is lossless)."""
    res = 4
    rng = np.random.RandomState(7)
    m = 1 << res
    pts = {(int(rng.randint(0, m)), int(rng.randint(0, m))) for _ in range(120)}
    grid = spark.createDataFrame(
        pd.DataFrame(sorted(pts), columns=["ix", "iy"])
    )
    expanded = set()
    for r in compact_cells(grid, res).collect():
        k = res - r["res"]
        for dx in range(1 << k):
            for dy in range(1 << k):
                expanded.add(
                    ((r["ix"] << k) + dx, (r["iy"] << k) + dy)
                )
    assert expanded == pts


def test_char_ngram_jaccard_crafted(spark):
    """Hand-checkable grams: near-identical strings pass the threshold,
    disjoint ones produce no pair."""
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": ["abcdefghij", "abcdefghij", "zzzzzzzzzz"],
        })
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in char_ngram_jaccard_pairs(docs).collect()
    }
    assert got == {(1, 2): 1.0}


def test_char_ngram_short_text(spark):
    """Texts shorter than n emit NO grams (ADVICE r3: the old
    single-truncated-gram fallback let unrelated short docs score
    jaccard 1.0), so identical short docs produce no pair here —
    exact-duplicate detection of short docs is exact_dedup's job."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["ab", "ab"]})
    )
    got = char_ngram_jaccard_pairs(docs).collect()
    assert got == []


def test_zonal_mode_tiebreak(spark):
    """Mode with deterministic smallest-value tiebreak, NULLs excluded."""
    import pandas as pd
    from pyspark.sql import Window

    sampled = spark.createDataFrame(pd.DataFrame({
        "poly_id": ["a", "a", "a", "a", "b", "b", "c"],
        "value": [5.0, 3.0, 5.0, 3.0, None, 7.0, None],
    }))
    counts = (
        sampled.filter(F.col("value").isNotNull())
        .groupBy("poly_id", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("poly_id").orderBy(F.desc("n"), F.asc("value"))
    got = {
        r["poly_id"]: (r["value"], r["n"])
        for r in counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1).collect()
    }
    # a: 3.0 and 5.0 tie at 2 -> smallest value wins; c drops (all NULL)
    assert got == {"a": (3.0, 2), "b": (7.0, 1)}
