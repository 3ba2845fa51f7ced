"""Round-3 primaries: the LSH-bucketed forms that replaced quadratic
registry queries must EQUAL their exact baselines on the test corpora
(deterministic seeds + deterministic data ⇒ this is a hard equality, not
a flaky recall bound), and the shared bucket machinery must behave.
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_embedding_lsh_near_dups_equal_exact(spark):
    from geotiff_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = set(
        map(
            tuple,
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", similarity.cosine(F.col("va"), F.col("vb")))
            .filter(F.col("cos") >= 0.4)
            .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
            .collect(),
        )
    )
    got = set(
        map(
            tuple,
            similarity.lsh_near_dup_pairs(
                emb, threshold=0.4, n_planes=3
            ).collect(),
        )
    )
    assert got == exact and len(exact) > 0


def test_lsh_fed_components_equal_exact_fed(spark):
    from geotiff_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lsh_pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.8, shingle=1, bands=32
    )
    exact_pairs = dedup.token_jaccard_pairs(docs, threshold=0.8)
    assert set(map(tuple, lsh_pairs.select("id_a", "id_b").collect())) == set(
        map(tuple, exact_pairs.select("id_a", "id_b").collect())
    )
    lsh_comp = dict(
        dedup.connected_components(lsh_pairs, nodes=docs).collect()
    )
    exact_comp = dict(
        dedup.connected_components(exact_pairs, nodes=docs).collect()
    )
    assert lsh_comp == exact_comp and len(lsh_comp) > 0


def test_bucket_candidate_pairs_streams_big_buckets(spark):
    from geotiff_spark.operators.dedup import bucket_candidate_pairs

    rows = [(i, i % 2) for i in range(40)]
    stacked = spark.createDataFrame(rows, "doc_id long, bucket long")
    got = set(
        map(
            tuple,
            bucket_candidate_pairs(
                stacked, "doc_id", ["bucket"], max_inline_bucket=5
            ).collect(),
        )
    )
    want = {
        (a, b)
        for a in range(40)
        for b in range(40)
        if a < b and a % 2 == b % 2
    }
    assert got == want


def test_simhash_max_hamming_validation(spark):
    from geotiff_spark.operators.dedup import simhash_pairs_from_sigs

    sigs = spark.createDataFrame([(1, 5)], "doc_id long, simhash long")
    for bad in (0, 32, -1):
        with pytest.raises(ValueError, match="max_hamming"):
            simhash_pairs_from_sigs(sigs, max_hamming=bad)


def test_train_split_key_arithmetic_survives_huge_ids(spark):
    """The split hash must not overflow int64 for ids at 10^12 scale —
    the reduced-then-multiplied form stays below 2.7e18 for any
    non-negative id."""
    big = spark.createDataFrame(
        [(0,), (3_500_000_000,), (10**12,), (2**62,)], "doc_id long"
    )
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1_000_000_007)) * F.lit(2654435761)
        + F.lit(17),
        F.lit(100),
    )
    vals = [r[0] for r in big.select(bucket.alias("b")).collect()]
    assert all(0 <= v < 100 for v in vals)
    import duckdb

    duck = duckdb.sql(
        "SELECT ((doc_id % 1000000007) * 2654435761 + 17) % 100 FROM "
        "(VALUES (0::BIGINT), (3500000000::BIGINT), (1000000000000::BIGINT),"
        " (4611686018427387904::BIGINT)) t(doc_id)"
    ).fetchall()
    assert [int(r[0]) for r in duck] == vals


def test_synth_fixture_in_corpus(spark):
    """The committed tiled+planar+deflate fixture decodes through the
    distributed read path alongside the rest of the committed corpus."""
    import numpy as np

    from geotiff_spark.functions.tiff import NUMPY_BY_NAME
    from geotiff_spark.oracle_raster import FIXTURE_DIR
    from geotiff_spark.sources.rasters import read_rasters

    rows = (
        read_rasters(spark, FIXTURE_DIR)
        .filter(F.col("raster_id") == "synth_tiled_planar_deflate.tif")
        .collect()
    )
    assert len(rows) == 1
    r = rows[0]
    assert r["error"] is None
    assert (r["width"], r["height"], r["num_samples"]) == (520, 300, 2)
    arr = np.frombuffer(bytes(r["data"]), dtype=NUMPY_BY_NAME[r["dtype"]])
    arr = arr.reshape(300, 520, 2)
    iy, ix = np.mgrid[0:300, 0:520]
    assert (arr[:, :, 0] == ((iy * 31 + ix * 17) % 1021)).all()
    assert (arr[:, :, 1] == ((iy * 31 + ix * 17 + 7) % 1021)).all()


def test_null_text_docs_drop_from_signatures(spark):
    """ADVICE r3: NULL text must yield a NULL signature (dropped), not a
    TypeError inside the Arrow UDF — covers minhash (shingle=1 and 3)
    and simhash."""
    from geotiff_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "alpha beta gamma delta"),
         (4, ""), (5, "   ")],
        "doc_id long, text string",
    )
    for shingle in (1, 3):
        sigs = dedup.minhash_signatures(docs, shingle=shingle).collect()
        assert sorted(r.doc_id for r in sigs) == [1, 3]
    sh = dedup.simhash_signatures(docs).collect()
    assert sorted(r.doc_id for r in sh) == [1, 3]
    # end-to-end: the LSH pair path survives NULL-text rows
    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.8, shingle=1, bands=32
    ).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 3)]


def test_char_ngram_short_docs_emit_no_grams(spark):
    """ADVICE r3: docs shorter than n emit NO grams (no truncated/empty
    gram), so two unrelated short docs can't score jaccard 1.0."""
    from geotiff_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "ab"), (2, "xy"), (3, ""), (4, "abcdefgh"), (5, "abcdefgh")],
        "doc_id long, text string",
    )
    grams = dedup.char_ngram_df(docs).collect()
    assert {r.doc_id for r in grams} == {4, 5}
    pairs = dedup.char_ngram_jaccard_pairs(docs).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(4, 5)]


def test_chunk_dedup_first_occurrence_semantics(spark):
    """Chunk-level dedup: a chunk repeated across docs survives only in
    the earliest (doc_id, pos); docs reassemble from surviving chunks in
    original order."""
    from geotiff_spark.queries_textdata import q_chunk_dedup

    a = " ".join(f"a{i}" for i in range(10))
    b = " ".join(f"b{i}" for i in range(10))
    c = " ".join(f"c{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{b} {c}"), (3, a), (4, "short text")],
        "doc_id long, text string",
    )

    import geotiff_spark.queries_textdata as qt
    orig = qt._t
    qt._t = lambda _s, _d, _n: docs
    try:
        got = {r.doc_id: r for r in q_chunk_dedup(spark, "ignored").collect()}
    finally:
        qt._t = orig
    assert got[1].n_chunks == 2 and got[1].n_kept == 2
    assert got[1].new_text == f"{a} {b}"
    # doc 2: chunk b already seen in doc 1 -> only c survives
    assert got[2].n_chunks == 2 and got[2].n_kept == 1
    assert got[2].new_text == c
    # doc 3: chunk a already seen -> nothing survives
    assert got[3].n_chunks == 1 and got[3].n_kept == 0
    assert got[3].new_text == ""
    # doc 4: unique short chunk survives whole
    assert got[4].n_kept == 1 and got[4].new_text == "short text"


def test_chunk_dedup_hot_chunk_skew(spark):
    """Round-5 skew drill: ONE boilerplate chunk appears in 50% of docs
    (the '(c) all rights reserved'-at-10^9 shape VERDICT r04 flagged).
    With the groupBy+min(struct) rewrite the hot digest collapses to one
    candidate per map task before the exchange; semantics must still be
    first-occurrence-wins."""
    from geotiff_spark.queries_textdata import q_chunk_dedup

    boiler = " ".join(f"w{i}" for i in range(10))
    rows = []
    for d in range(1, 401):
        uniq = " ".join(f"d{d}t{i}" for i in range(10))
        rows.append((d, f"{boiler} {uniq}" if d % 2 == 0 else uniq))

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import geotiff_spark.queries_textdata as qt
    orig = qt._t
    qt._t = lambda _s, _d, _n: docs
    try:
        got = {r.doc_id: r for r in q_chunk_dedup(spark, "ignored").collect()}
    finally:
        qt._t = orig

    assert len(got) == 400
    # doc 2 is the FIRST (lowest doc_id) holder of the boilerplate chunk
    uniq2 = " ".join(f"d2t{i}" for i in range(10))
    assert got[2].n_kept == 2 and got[2].new_text == f"{boiler} {uniq2}"
    # every later even doc loses the boilerplate, keeps its unique chunk
    for d in range(4, 401, 2):
        uniq = " ".join(f"d{d}t{i}" for i in range(10))
        assert got[d].n_chunks == 2 and got[d].n_kept == 1, d
        assert got[d].new_text == uniq, d
    # odd docs untouched
    for d in range(1, 401, 2):
        assert got[d].n_chunks == 1 and got[d].n_kept == 1, d


def test_decontaminate_semantics(spark):
    """Doc sharing an 8-token shingle with the eval set (doc_id%50==0)
    is flagged; disjoint docs are not; eval docs are excluded."""
    from geotiff_spark.queries_textdata import q_decontaminate

    ev = " ".join(f"e{i}" for i in range(8))          # eval doc text
    rows = [
        (0, f"prefix {ev} suffix"),                    # eval (excluded)
        (1, f"copied here {ev} end"),                  # contaminated
        (2, " ".join(f"c{i}" for i in range(12))),     # clean
        (3, "too short"),                              # <8 tokens: clean
        (50, " ".join(f"x{i}" for i in range(9))),     # eval (excluded)
        (51, " ".join(f"x{i}" for i in range(1, 10))), # shares no FULL
                                                       # 8-gram? x1..x8
                                                       # IS in doc 50
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    import geotiff_spark.queries_textdata as qt
    orig = qt._t
    qt._t = lambda _s, _d, _n: docs
    try:
        got = {r.doc_id: r for r in q_decontaminate(spark, "x").collect()}
    finally:
        qt._t = orig
    assert sorted(got) == [1, 2, 3, 51]
    assert got[1].contaminated and got[1].n_contaminated_grams == 1
    assert not got[2].contaminated
    assert not got[3].contaminated and got[3].n_contaminated_grams == 0
    # doc 50 = x0..x8 has 8-grams {x0..x7, x1..x8}; doc 51 = x1..x9 has
    # {x1..x8, x2..x9} -> one shared gram
    assert got[51].contaminated and got[51].n_contaminated_grams == 1


def test_decontaminate_plan_broadcasts_eval_grams(spark):
    """The eval-gram membership probe must be a BROADCAST semi join —
    the train side (10^12 docs at scale) must not sort-merge shuffle."""
    from geotiff_spark.queries_textdata import q_decontaminate

    plan = q_decontaminate(
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan.split("LeftSemi")[0], plan


def test_pii_scrub_semantics(spark):
    import hashlib

    from geotiff_spark.queries_textdata import q_pii_scrub

    text = "mail a@b.co or ab.c-d@ex.org x 123456789 12345678 end"
    expected = "mail <EMAIL> or <EMAIL> x <NUMBER> 12345678 end"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    import geotiff_spark.queries_textdata as qt
    orig = qt._t
    qt._t = lambda _s, _d, _n: docs
    try:
        row = q_pii_scrub(spark, "x").collect()[0]
    finally:
        qt._t = orig
    assert row.n_emails == 2
    assert row.n_long_digit_runs == 1  # 8-digit run stays
    assert row.scrubbed_md5 == hashlib.md5(expected.encode()).hexdigest()
    assert row.scrubbed_len == len(expected)


def test_lsh_near_dups_never_pair_a_key_with_itself(spark):
    """A key present twice (same vector) must not come back as an
    id_a == id_b pair with cos 1.0."""
    from geotiff_spark.operators import similarity

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.1, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.lsh_near_dup_pairs(emb, threshold=0.9, dim=4).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(0, 1)]
    assert got[0]["cos"] == round(1 / (1 + 0.01) ** 0.5, 6)
