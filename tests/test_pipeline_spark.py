"""End-to-end Spark pipeline tests (SURVEY.md §5.3 items 3-4)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {
        "poly_id", "n_docs", "avg_value", "min_value", "max_value",
    }


def test_text_extraction_byte_identical(spark):
    """north-rule invariant: extracted text == source text per url."""
    from geotiff_spark.operators.extract import extract_text_from_html
    from geotiff_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 2000, partitions=4)
    ext = pages.withColumn("extracted_text",
                           extract_text_from_html(F.col("html")))
    bad = ext.filter(F.col("extracted_text") != F.col("text")).count()
    assert bad == 0
    # and not vacuous
    assert ext.count() == 2000


def test_geotag_extraction_roundtrip(spark):
    """Geotag mined from text must reproduce the generator's coordinates
    (5-decimal precision by construction)."""
    from geotiff_spark.operators.extract import with_geotag
    from geotiff_spark.sources.pages import synth_pages

    pages = with_geotag(synth_pages(spark, 1000, partitions=2))
    n_geo = pages.filter(F.col("lat").isNotNull()).count()
    assert 0.5 * 1000 < n_geo < 0.7 * 1000  # GEO_FRACTION = 0.6
    sample = pages.filter(F.col("lat").isNotNull()).limit(50).collect()
    for r in sample:
        assert f"geo: {r.lat:.5f},{r.lon:.5f}" in r.text


def test_pages_deterministic_across_partitionings(spark):
    from geotiff_spark.sources.pages import synth_pages

    a = synth_pages(spark, 500, partitions=1).orderBy("url").collect()
    b = synth_pages(spark, 500, partitions=7).orderBy("url").collect()
    assert a == b


def _pip_pairs(df) -> set:
    return {(r.url, r.poly_id) for r in df.select("url", "poly_id").collect()}


def _bruteforce_pip(rows) -> set:
    """(url, poly_id) for every polygon containing a (url, lat, lon) row,
    by the exact ray-cast over the whole polygon set (no cell index)."""
    from geotiff_spark.functions import pip as P
    from geotiff_spark.sources.polygons import synth_polygons

    urls = np.array([r.url for r in rows])
    lat = np.array([r.lat for r in rows], dtype=np.float64)
    lon = np.array([r.lon for r in rows], dtype=np.float64)
    want = set()
    for p in synth_polygons():
        inside = P.points_in_polygon(
            lon, lat, np.asarray(p["ring"]), [np.asarray(h) for h in p["holes"]]
        )
        want.update((u, p["poly_id"]) for u in urls[inside])
    return want


def _assert_pip_paths_agree(spark, pages, res: int) -> set:
    """pip_join on the geotag columns, fused_pages_pip on the html and the
    brute force must give the same (url, poly_id) pairs."""
    from geotiff_spark.operators.extract import with_geotag
    from geotiff_spark.operators.spatial_join import fused_pages_pip, pip_join

    geo = with_geotag(pages)
    joined = _pip_pairs(pip_join(spark, geo, res))
    fused = _pip_pairs(fused_pages_pip(spark, pages, res))
    want = _bruteforce_pip(
        geo.filter(F.col("lat").isNotNull()).select("url", "lat", "lon").collect()
    )
    assert joined == want
    assert fused == want
    return want


def test_pip_join_matches_bruteforce(spark):
    """Both PIP operators == driver-side brute force on synth pages."""
    from geotiff_spark.sources.pages import synth_pages

    want = _assert_pip_paths_agree(
        spark, synth_pages(spark, 3000, partitions=4), 7)
    assert len(want) > 100


def test_pip_join_hot_boundary_cell(spark):
    """Hot-cell drill: 95% of the points fall in ONE boundary cell of the
    holed polygon, about half of them inside it; the rest spread over the
    polygon's bounding box, reaching its interior cells."""
    import pandas as pd

    from geotiff_spark.functions import cells as C
    from geotiff_spark.functions import pip as P
    from geotiff_spark.sources.pages import HTML_PREFIX, HTML_SUFFIX, PAGES_SCHEMA
    from geotiff_spark.sources.polygons import (
        polygon_cell_index_pdf, synth_polygons,
    )

    res, pid = 9, "P_vienna_donut"
    poly = next(p for p in synth_polygons() if p["poly_id"] == pid)
    ring, holes = np.asarray(poly["ring"]), [np.asarray(h) for h in poly["holes"]]
    index = polygon_cell_index_pdf(res)
    index = index[index.poly_id == pid]
    assert (~index.is_boundary).any()  # the background reaches interior cells
    rng = np.random.default_rng(7)

    def in_cell(cell, n):
        lat0, lon0, lat1, lon1 = (float(v[0]) for v in C.cell_bounds([cell]))
        m = 1e-3  # the geotag keeps 5 decimals: stay off the cell edges
        return (rng.uniform(lat0 + m, lat1 - m, n),
                rng.uniform(lon0 + m, lon1 - m, n))

    def inside_frac(cell):
        lat, lon = in_cell(cell, 400)
        return P.points_in_polygon(lon, lat, ring, holes).mean()

    hot = min(index[index.is_boundary].cell, key=lambda c: abs(inside_frac(c) - 0.5))
    n_hot, n_bg = 1900, 100
    lat_h, lon_h = in_cell(hot, n_hot)
    lat = np.concatenate([lat_h, rng.uniform(ring[:, 1].min(), ring[:, 1].max(), n_bg)])
    lon = np.concatenate([lon_h, rng.uniform(ring[:, 0].min(), ring[:, 0].max(), n_bg)])
    text = [f"hot geo: {a:.5f},{o:.5f}" for a, o in zip(lat, lon)]
    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://hot.example/p/{i}" for i in range(len(text))],
        "warc_ts": pd.Timestamp("2026-01-01"),
        "html": [HTML_PREFIX + t.encode() + HTML_SUFFIX for t in text],
        "text": text,
        "lang": "en",
    }), schema=PAGES_SCHEMA).repartition(3)

    cells = C.latlon_to_cell(np.round(lat, 5), np.round(lon, 5), res)
    assert (cells == hot).mean() >= 0.9
    want = _assert_pip_paths_agree(spark, pages, res)
    hits_in_hot = sum(
        1 for u, p in want if p == pid and int(u.rsplit("/", 1)[1]) < n_hot
    )
    assert 0.2 * n_hot < hits_in_hot < 0.8 * n_hot  # the ray-cast decides


def test_pip_join_skips_half_null_points(spark):
    """A row with only lat or only lon NULL (or lon NaN) matches nothing
    and raises nothing; every other row matches as in the brute force
    and in fused_pages_pip."""
    from geotiff_spark.operators.extract import with_geotag
    from geotiff_spark.operators.spatial_join import fused_pages_pip, pip_join
    from geotiff_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 2000, partitions=3)
    h = F.abs(F.hash("url")) % 4
    null = F.lit(None).cast("double")
    geo = with_geotag(pages).withColumn("h", h)
    holed = (
        geo.withColumn("lat", F.when(h == 0, null).otherwise(F.col("lat")))
        .withColumn("lon", F.when(h == 1, null)
                    .when(h == 2, F.lit(float("nan")))
                    .otherwise(F.col("lon")))
    )
    got = _pip_pairs(pip_join(spark, holed, 7))

    rows = geo.filter(F.col("lat").isNotNull()).select(
        "url", "lat", "lon", "h").collect()
    kept = _bruteforce_pip([r for r in rows if r.h == 3])
    dropped = _bruteforce_pip([r for r in rows if r.h != 3])
    assert len(kept) > 50 and len(dropped) > 50  # both sides non-vacuous
    assert got == kept
    keep_urls = {r.url for r in rows if r.h == 3}
    fused = _pip_pairs(fused_pages_pip(spark, pages, 7))
    assert {(u, p) for u, p in fused if u in keep_urls} == kept


@pytest.mark.parametrize("name", ["pip_join", "pip_counts"])
def test_pip_queries_match_duckdb_oracle(spark, name):
    """The registry's spatial joins hash-match their DuckDB even-odd
    oracles at sf0.01 (the fixture directory alone, nothing else)."""
    import os

    import duckdb
    from oracle_check import TABLES, value_hash

    from geotiff_spark import oracle
    from geotiff_spark.queries import q_pip_counts, q_pip_join

    sf = os.path.join(os.path.dirname(SF), "sf0.01")
    fn, sql = {
        "pip_join": (q_pip_join, oracle.pip_join_sql()),
        "pip_counts": (q_pip_counts, oracle.pip_counts_sql()),
    }[name]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    want = con.execute(sql).df()
    got = fn(spark, sf).toPandas()
    assert len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)


def test_minhash_lsh_recall_on_near_dups(spark):
    """Planted near-duplicates must be caught by the LSH path."""
    from geotiff_spark.operators.dedup import minhash_lsh_pairs, token_jaccard_pairs

    base = [
        ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lam mu nu xi omicron pi rho sigma tau upsilon"),
        ("one two three four five six seven eight nine ten eleven "
         "twelve thirteen fourteen fifteen sixteen"),
    ]
    rows = []
    doc_id = 0
    for b in base:
        toks = b.split()
        for variant in range(6):
            # drop one token -> jaccard ~ (n-1)/n
            t = " ".join(toks[:variant] + toks[variant + 1:])
            rows.append((doc_id, t))
            doc_id += 1
    # unrelated noise docs
    for i in range(20):
        rows.append((doc_id, f"noise{i} junk{i} filler{i} word{i}"))
        doc_id += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = {
        (r.id_a, r.id_b)
        for r in token_jaccard_pairs(df, threshold=0.7).collect()
    }
    # shingle=1: signatures and verify both on token sets — directly
    # comparable to the exact baseline
    lsh = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, threshold=0.7, shingle=1).collect()
    }
    assert lsh <= exact          # verified candidates never exceed exact
    assert len(exact) >= 30      # the planted groups produce many pairs
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, recall
    # shingled production path still catches the planted near-dup groups
    shingled = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, threshold=0.6).collect()
    }
    assert len(shingled) >= 20


def test_simhash_identical_docs_zero_distance(spark):
    from geotiff_spark.operators.dedup import simhash_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "completely different words entirely here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_mixed_sign_segments(spark):
    """Pigeonhole recall must survive sign-bit diffs: a pair whose only
    clean segment is segment 0 and whose signs differ (the sign bit is one
    of the diffs) was silently missed when segments used signed `%`."""
    from geotiff_spark.operators.dedup import simhash_pairs_from_sigs

    base = 0x0000_0000_0000_1234
    # diffs in segments 1 (bit 17), 2 (bit 33), 3 (bit 63 = sign bit):
    # hamming 3, only segment 0 is identical, signs differ
    other = base ^ (1 << 17) ^ (1 << 33) ^ (1 << 63)
    a = np.int64(np.uint64(base)).item()
    b = np.int64(np.uint64(other)).item()
    assert (a >= 0) != (b >= 0)
    sigs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "simhash"])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_sigs(sigs, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 3


def test_simhash_segments_tile_all_64_bits(spark):
    """With 64 % segs != 0 the last segment must absorb the high bits —
    a pair differing only in bits above segs*width must still be found."""
    from geotiff_spark.operators.dedup import simhash_pairs_from_sigs

    # max_hamming=4 -> 5 segments of width 12 (covering 60 bits) + the
    # remainder: put all 4 diffs in bits 60..63
    a = np.int64(np.uint64(0x0123456789ABCDEF & 0x0FFF_FFFF_FFFF_FFFF)).item()
    b = np.int64(np.uint64(a) ^ np.uint64(0xF000_0000_0000_0000)).item()
    sigs = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "simhash"])
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_sigs(sigs, max_hamming=4).collect()
    }
    assert pairs.get((1, 2)) == 4


def test_lsh_topk_recall(spark):
    """Sign-LSH ANN recall vs brute force on real embeddings."""
    from geotiff_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.nn_id)
        for r in brute_force_topk(emb, q).collect()
    }
    approx = {
        (r.query_id, r.nn_id)
        for r in lsh_topk(emb, q).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # ANN tier: recall traded for cost


def test_zonal_stats_flagship_deterministic(spark):
    from geotiff_spark.pipeline import flagship

    a = [tuple(r) for r in flagship(spark, SF).collect()]
    b = [tuple(r) for r in flagship(spark, SF).collect()]
    assert a == b


def test_ivf_topk_recall(spark):
    """IVF ANN recall vs brute force on real embeddings; candidate volume
    must stay well under the brute-force cross product."""
    from geotiff_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.nn_id)
        for r in brute_force_topk(emb, q).collect()
    }
    approx = {
        (r.query_id, r.nn_id)
        for r in ivf_topk(emb, q).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # ANN tier: recall traded for cost


def test_ivf_centroids_deterministic(spark):
    from geotiff_spark.operators.similarity import train_ivf_centroids
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = train_ivf_centroids(spark, emb)
    b = train_ivf_centroids(spark, emb)
    assert np.array_equal(a, b)


def test_connected_components_known_graph(spark):
    """Min-label propagation must produce exact components, including a
    chain longer than one hop and singleton nodes."""
    from geotiff_spark.operators.dedup import connected_components

    # components: {0,1,2,3} (chain), {10,11}, {20} (singleton via nodes)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 10, 11, 20)], ["doc_id"]
    )
    out = {
        r.doc_id: r.component_id
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20}


def test_connected_components_random_vs_union_find(spark):
    """Property check: min-label propagation equals a classic union-find
    on deterministic pseudo-random graphs."""
    from geotiff_spark.operators.dedup import connected_components

    rng = np.random.default_rng(7)
    n = 200
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, size=(150, 2))
        if a != b
    ]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for x in range(n):
        root = find(x)
        want[x] = min(
            i for i in range(n) if find(i) == root
        )

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    got = {
        r.doc_id: r.component_id
        for r in connected_components(pairs, nodes=nodes).collect()
    }
    assert got == want


def test_connected_components_string_keys(spark):
    """Labels may be any orderable type — convergence must not depend on
    numeric ids (urls and digests are natural dedup keys)."""
    from geotiff_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components(pairs).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_raises_on_non_convergence(spark):
    from geotiff_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=2)


def test_minhash_big_bucket_path_matches_inline_path(spark):
    """Candidate pairs must be identical whether a bucket goes through
    the inline pair explode or the bucket-restricted self-join."""
    from geotiff_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "common text shared by every doc here") for i in range(30)]
    rows += [(100 + i, f"unique{i} totally different words {i}") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    inline = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, verify=False, shingle=1).collect()
    }
    streamed = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            df, verify=False, shingle=1, max_inline_bucket=4
        ).collect()
    }
    assert inline == streamed
    clique = {(a, b) for a in range(30) for b in range(a + 1, 30)}
    assert clique <= inline  # the identical-doc clique is fully recovered


def test_minhash_drops_tokenless_docs(spark):
    from geotiff_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "some real text"), (2, "   "), (3, "")], ["doc_id", "text"]
    )
    got = {r.doc_id for r in minhash_signatures(df, shingle=1).collect()}
    assert got == {1}
