"""Physical-plan shape pins: the scale properties PLANS.md claims must
hold in the actual executed plans, not just in prose — no shuffle where
the operator is row-local, broadcast where the dim is small, pushdown
reaching the scan."""

from __future__ import annotations

import importlib
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_minhash_signatures_plan_has_no_exchange(spark):
    """The signature stage is a pure map: it adds no exchange, on a
    1-row-group scan or on a well-partitioned input (its caller,
    minhash_lsh_pairs, owns the fan-out)."""
    from geotiff_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # well-partitioned input: the only Exchange is the input's own
    # repartition — the signature stage adds none
    wide = docs.repartition(64)
    assert _plan(minhash_signatures(wide)).count("Exchange") == 1
    assert "Exchange" not in _plan(minhash_signatures(docs))
    # round 4: the NULL-drop filter must not re-plan the UDF — a
    # deterministic UDF gets alias-inlined into the filter and extracted
    # into a SECOND ArrowEvalPython (the whole chain evaluated twice,
    # measured ~2x stage wall); exactly one Python stage allowed
    assert _plan(minhash_signatures(docs)).count("ArrowEvalPython") == 1
    assert _plan(minhash_signatures(wide)).count("ArrowEvalPython") == 1


def test_simhash_signatures_plan_has_no_exchange(spark):
    from geotiff_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wide = docs.repartition(64)
    assert _plan(simhash_signatures(wide)).count("Exchange") == 1
    assert _plan(simhash_signatures(docs)).count("Exchange") <= 1
    assert _plan(simhash_signatures(docs)).count("ArrowEvalPython") == 1


def _brute_force_topk(corpus):
    """brute_force_topk over its corpus, with ten of its rows as the
    queries (read up front, so the queries add no scan)."""
    from geotiff_spark.operators.similarity import brute_force_topk

    spark = corpus.sparkSession
    queries = spark.createDataFrame(corpus.limit(10).collect(), corpus.schema)
    return brute_force_topk(corpus, queries)


# The operators that fan out their own input: name -> (the operator over
# one input frame, the sf table it reads).
FAN_OUT = {
    "fingerprint": ("geotiff_spark.operators.textstats", "documents"),
    "chunk_dedup_frame": ("geotiff_spark.queries_textdata", "documents"),
    "chunks_frame": ("geotiff_spark.queries_textdata", "documents"),
    "minhash_lsh_pairs": ("geotiff_spark.operators.dedup", "documents"),
    "simhash_signatures": ("geotiff_spark.operators.dedup", "documents"),
    "token_jaccard_pairs": ("geotiff_spark.operators.dedup", "documents"),
    "repeated_ngram_mine": ("geotiff_spark.operators.dedup", "documents"),
    "exact_substring_dedup": ("geotiff_spark.operators.dedup", "documents"),
    "brute_force_topk": ("geotiff_spark.operators.similarity", "embeddings"),
}
# The registry queries that do their per-row work inline, so fan out the
# table they read themselves.
FAN_OUT_QUERIES = ["decontaminate", "pii_scrub", "trigram_lm_score",
                   "embedding_near_dups_exact"]


def _round_robins(plan: str) -> dict[str, int]:
    """Round-robin exchanges by width, with every read of the input
    counted under "scans" (an operator that reads its input twice shows
    the same fan-out above each read; AQE reuses the exchange)."""
    widths = re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)
    return {**Counter(widths), "scans": plan.count("FileScan parquet")}


@pytest.mark.parametrize("name", sorted(FAN_OUT))
def test_text_operator_fans_out_its_own_input(spark, name):
    """An operator whose per-row work grows with the length of a row's
    text or vector fans out its own input
    (plans.partitioning.ensure_map_parallelism): exactly one round-robin
    exchange over each read of the 1-row-group scan, and none beyond the
    input's own over an input that already has the partitions."""
    module, table = FAN_OUT[name]
    op = (_brute_force_topk if name == "brute_force_topk"
          else getattr(importlib.import_module(module), name))
    docs = spark.read.parquet(f"{SF}/{table}.parquet")
    assert docs.rdd.getNumPartitions() == 1
    n = str(spark.sparkContext.defaultParallelism)
    got = _round_robins(_plan(op(docs)))
    assert got == {n: got["scans"], "scans": got["scans"]} and got[n] >= 1
    got = _round_robins(_plan(op(docs.repartition(64))))
    assert got == {"64": got["scans"], "scans": got["scans"]}


def test_chunk_dedup_frame_fans_out_once(spark):
    """chunk_dedup_frame fans out its docs and chunks them with the
    helper that does not fan out again: asking the partition count of a
    frame that already holds the round-robin exchange makes AQE run that
    shuffle while the frame is being built, so building it runs no job."""
    from geotiff_spark.queries_textdata import chunk_dedup_frame

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1
    sc.setJobGroup("chunk-fan-out", "chunk_dedup_frame build")
    try:
        chunk_dedup_frame(docs)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("chunk-fan-out")) == []


def test_lsh_near_dup_pairs_fans_out_its_own_input(spark):
    """lsh_near_dup_pairs checkpoints its bucketed corpus as it builds
    the frame, so its plan reads no scan: the pin is the checkpoint job,
    whose one-task scan of the 1-row-group embeddings feeds one task per
    core."""
    from geotiff_spark.operators.similarity import lsh_near_dup_pairs

    sc = spark.sparkContext
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert emb.rdd.getNumPartitions() == 1
    sc.setJobGroup("lsh-fan-out", "lsh_near_dup_pairs fan-out")
    try:
        lsh_near_dup_pairs(emb)
    finally:
        sc._jsc.clearJobGroup()
    st = sc.statusTracker()
    jobs = [sorted(st.getStageInfo(s).numTasks
                   for s in st.getJobInfo(j).stageIds)
            for j in sorted(st.getJobIdsForGroup("lsh-fan-out"))]
    assert [1, sc.defaultParallelism] in jobs, jobs


@pytest.mark.parametrize("name", FAN_OUT_QUERIES)
def test_inline_query_fans_out_its_table(spark, name):
    from geotiff_spark.queries import registry

    got = _round_robins(_plan(registry()[name][0](spark, SF)))
    n = str(spark.sparkContext.defaultParallelism)
    assert got == {n: got["scans"], "scans": got["scans"]} and got[n] >= 1


def test_pip_join_broadcasts_polygon_index(spark):
    from geotiff_spark.pipeline import doc_pip_join

    plan = _plan(doc_pip_join(spark, SF))
    # the polygon index rides an sc.broadcast dict into ONE map-side Python
    # stage: no join node, and the big (documents) side is never
    # hash-partitioned
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_filter_project_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") < 10.0).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "LessThan(l_quantity,10.0)" in plan, plan
    # column pruning: the scan must not read all 16 lineitem columns
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema, read_schema


def test_fused_pages_pip_single_python_stage(spark):
    from geotiff_spark.operators.spatial_join import fused_pages_pip
    from geotiff_spark.sources.pages import synth_pages

    pages = synth_pages(spark, 100, partitions=2)
    hits = fused_pages_pip(spark, pages, 7)
    agg = hits.groupBy("poly_id").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(agg)
    # exactly two Python stages total: the pages generator + the fused
    # kernel — decode/extract/geotag/cell/join/refine never split apart
    assert plan.count("MapInPandas") == 2, plan
    # the only exchange is the final tiny per-polygon aggregate
    assert plan.count("Exchange") == 1, plan


def test_focal_stats_single_exchange_on_tile_key(spark):
    """Halo exchange = exactly ONE shuffle, keyed by tile coords — never
    a pixel-level self-join (PLANS.md §6)."""
    from geotiff_spark.operators.tiling import focal_stats, raster_to_tiles
    from geotiff_spark.oracle_raster import FIXTURE_DIR
    from geotiff_spark.sources.rasters import read_rasters

    df = focal_stats(raster_to_tiles(read_rasters(spark, FIXTURE_DIR)))
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(raster_id" in plan, plan
    assert "Join" not in plan, plan


@pytest.fixture(scope="module")
def tiny_raster_dir(tmp_path_factory):
    """One synthetic u16 GeoTIFF, enough to plan the raster operators."""
    import numpy as np
    from tiff_writer import write_tiff

    d = tmp_path_factory.mktemp("plan_rasters")
    arr = np.arange(12 * 10, dtype="uint16").reshape(12, 10)
    (d / "t.tif").write_bytes(write_tiff(
        arr, pixel_scale=[1.0, 1.0, 0.0],
        tie_points=[0.0, 0.0, 0.0, 0.0, 12.0, 0.0],
    ))
    return str(d)


def test_focal_stats_assembles_in_arrow(spark, tiny_raster_dir):
    """The halo assembler is a grouped Arrow call: pyarrow Tables in and
    out, no pandas frame per tile group, behind the one tile-key shuffle."""
    from geotiff_spark.operators.tiling import focal_stats, raster_to_tiles
    from geotiff_spark.sources.rasters import read_rasters

    plan = _plan(focal_stats(
        raster_to_tiles(read_rasters(spark, tiny_raster_dir), 4), tile_size=4
    ))
    assert plan.count("FlatMapGroupsInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(raster_id" in plan, plan


def test_sampling_kernels_are_arrow_udfs(spark, tiny_raster_dir):
    """Copartition sampling hashes the points by raster key, sorts each
    partition by it and runs one iterator Arrow UDF that reads the
    rasters from their paths: no cogroup, no binaryFile scan and no
    raster-side shuffle. The broadcast gather is a scalar Arrow UDF."""
    from pyspark.util import PythonEvalType

    from geotiff_spark.operators.sample import (
        sample_join_copartitioned, sample_udf,
    )

    pts = spark.createDataFrame(
        [(0, "t.tif", 1.5, 1.5)], "pid long, rid string, x double, y double"
    )
    plan = _plan(sample_join_copartitioned(
        pts, [f"{tiny_raster_dir}/t.tif"], F.col("rid")
    ))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Exchange hashpartitioning(__rid") == 1, plan
    assert plan.index("Sort [__rid") < plan.index("Exchange"), plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "CoGroup" not in plan, plan
    assert "binaryfile" not in plan.lower(), plan
    assert sample_udf(spark, {}).evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF


def test_compact_cells_no_cartesian_and_broadcast_anti_join(spark):
    """The single parent anti-join of the closed-form compaction is a
    broadcast join; no cartesian anywhere."""
    import pandas as pd

    from geotiff_spark.operators.compact import compact_cells

    grid = spark.createDataFrame(
        pd.DataFrame({"ix": [0, 1, 2], "iy": [0, 1, 2]})
    )
    plan = _plan(compact_cells(grid, res=4))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_chunk_dedup_first_occurrence_is_partial_aggregatable(spark):
    """Round-5 skew fix (VERDICT r04 'What's wrong' #2): first-occurrence
    -wins must be a partial-aggregatable min over (doc_id, pos, chunk) —
    a `partial_min` combine BEFORE the digest-keyed Exchange — never a
    row_number() window that routes every occurrence of a hot chunk to
    one task's sort."""
    from geotiff_spark.queries_textdata import q_chunk_dedup

    plan = _plan(q_chunk_dedup(spark, SF))
    assert "partial_min(struct(doc_id" in plan, plan
    assert "Window" not in plan and "row_number" not in plan, plan
    # the partial agg must sit below (after in toString order) the
    # digest exchange: find the digest exchange line and check a
    # partial_min appears later (deeper) in the tree string
    lines = plan.splitlines()
    digest_exchanges = [i for i, l in enumerate(lines)
                        if "Exchange hashpartitioning(digest" in l
                        or "Exchange hashpartitioning(_groupingexpression" in l]
    assert digest_exchanges, plan
    assert any("partial_min" in l for l in lines[digest_exchanges[0]:]), plan
    # round-5 decision/data-plane split: the first-occurrence min must
    # aggregate (doc_id, pos) ONLY — chunk text never rides the digest
    # exchange (it moves once, in the final doc_id join)
    for l in lines:
        if "partial_min" in l:
            assert "chunk" not in l, l


def test_embedding_verify_stage_single_python_eval(spark):
    """Round-8 bucket-local verify shape: normal buckets verify inside
    their group (ONE FlatMapGroupsInPandas — vectors cross the Arrow
    boundary once per table, never twice per candidate pair), and the
    big-bucket fallback arm carries exactly ONE ArrowEvalPython
    (cosine_batch_udf stays asNondeterministic so the threshold filter
    + round projection cannot re-plan it twice — VERDICT r04 #5). No
    full-width candidate distinct: dedup happens on survivors only
    (partial_min below the pair-keyed exchange)."""
    from geotiff_spark.operators.similarity import lsh_near_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(lsh_near_dup_pairs(emb, threshold=0.4))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "partial_min" in plan, plan
    # no bucket exceeds the cap on this corpus, so the big-bucket
    # fallback arm must be pruned from the plan entirely
    assert plan.count("ArrowEvalPython") == 0, plan
    # force the fallback arm with a tiny cap: exactly one einsum verify
    forced = _plan(lsh_near_dup_pairs(emb, threshold=0.4,
                                      max_local_bucket=2))
    assert forced.count("ArrowEvalPython") == 1, forced
    assert forced.count("FlatMapGroupsInPandas") == 1, forced


def test_rep_signals_plan_is_pure_scan(spark):
    """Round-5 rewrite: every repetition signal (gram counts, distinct
    fractions, AND the most-frequent-bigram count) is computed inside
    the doc's own row via array expressions — the plan must contain no
    Exchange, no Join and no Generate (the pre-rewrite explode →
    groupBy(doc,gram) → groupBy(doc) → join form cost ~290 s at 2M
    pages once measurement pruning was fixed; the row-local form costs
    ~12 s — BENCH/BASELINE.md round-5 measurement fix)."""
    from geotiff_spark.queries_textdata import rep_signals_frame

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # force every output column observable, as bench.py force_all does —
    # an unforced plan could hide work behind the very pruning the
    # rewrite removed
    out = rep_signals_frame(docs.select("doc_id", "text")).select(
        F.expr("bit_xor(xxhash64(doc_id, dup_2gram_frac, "
               "dup_3gram_frac, top_2gram_frac))")
    )
    plan = _plan(out)
    # the forcing bit_xor adds its own SinglePartition gather; the pin
    # is that no DATA exchange (hash partitioning) exists anywhere
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan


def test_rep_signals_top_gram_run_length_semantics(spark):
    """Hand-checked top-gram counts through the sorted-run-length
    aggregate: 'a b a b a' has bigrams [a b, b a, a b, b a] → top 2;
    a one-token doc has zero bigrams → top frac 0 and dup frac 1.0
    (the registry formula 1 - d/greatest(n,1) with d=n=0 — pinned by
    the DuckDB oracle since round 4); a doc of one
    repeated token is pure duplication → dup fracs 1 - 1/n, top frac
    (n-1)/(n-1) = 1."""
    import pandas as pd

    from geotiff_spark.queries_textdata import rep_signals_frame

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a b a b a", "solo", "x x x x x x"],
    }))
    got = {r["doc_id"]: r for r in rep_signals_frame(docs).collect()}
    assert got[0]["top_2gram_frac"] == 0.5  # 2 of 4 bigrams
    assert got[0]["dup_2gram_frac"] == 0.5  # 2 distinct of 4
    assert got[1]["top_2gram_frac"] == 0.0
    assert got[1]["dup_2gram_frac"] == 1.0
    assert got[2]["top_2gram_frac"] == 1.0  # 'x x' × 5
    assert got[2]["dup_2gram_frac"] == 0.8  # 1 distinct of 5


def test_rep_signals_vertical_tab_splits_like_duckdb(spark):
    """\\x0B is not whitespace to RE2, so DuckDB's
    string_split_regex(t, '\\s+') keeps it inside a token; the engine's
    tokenizer must too, and the signals must equal the oracle's."""
    import duckdb
    import pandas as pd

    from geotiff_spark.queries_textdata import (
        SQL_REP_SIGNALS, rep_signals_frame,
    )

    documents = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a\x0bb a b a\x0bb", "x\x0b y\x0b\x0bz y", "p q\tp q\x0b"],
    })
    con = duckdb.connect()
    con.register("documents", documents)
    toks = con.execute(
        "SELECT list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"
        " FROM documents ORDER BY doc_id").fetchall()
    assert toks[0][0] == ["a\x0bb", "a", "b", "a\x0bb"]
    want = {r[0]: r[1:] for r in con.execute(SQL_REP_SIGNALS).fetchall()}
    got = {
        r["doc_id"]: (r["dup_2gram_frac"], r["dup_3gram_frac"],
                      r["top_2gram_frac"])
        for r in rep_signals_frame(spark.createDataFrame(documents)).collect()
    }
    assert got == want


# every registry query that splits text on whitespace
VT_QUERIES = [
    "token_count", "language_id", "quality_features", "pack_sequences",
    "top_tokens", "tfidf_top_terms", "chunk_dedup", "bloom_chunk_dedup",
    "repeated_ngrams", "decontaminate", "token_jaccard_pairs",
    "dedup_keeper", "dedup_components", "minhash_lsh_pairs",
    "minhash_recall", "simhash_pairs", "simhash_complete",
    "corpus_curation", "bpe_encode", "pack_sequences_bpe", "rep_signals",
]


@pytest.fixture(scope="module")
def vt_sf(tmp_path_factory):
    """The sf0.01 tables, with one space of every 5th document's text
    turned into \\x0B."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(os.path.dirname(SF), "sf0.01")
    dst = tmp_path_factory.mktemp("sf_vt")
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), dst / f)
    docs = pq.read_table(dst / "documents.parquet")
    i = docs.schema.get_field_index("text")
    texts = [
        t.replace(" ", "\x0b", 1) if t is not None and n % 5 == 0 else t
        for n, t in enumerate(docs.column(i).to_pylist())
    ]
    docs = docs.set_column(i, docs.schema.field(i),
                           pa.array(texts, docs.schema.field(i).type))
    pq.write_table(docs, dst / "documents.parquet")
    return str(dst)


@pytest.mark.parametrize("name", VT_QUERIES)
def test_vertical_tab_splits_like_duckdb(spark, vt_sf, name):
    """\\x0B is whitespace to Java regex and Python re but not to RE2,
    so DuckDB's string_split_regex(t, '\\s+') keeps it inside a token;
    every engine tokenizer must too, and each query's output must equal
    its oracle's on a corpus that carries \\x0B."""
    import duckdb
    from oracle_check import TABLES, value_hash

    from geotiff_spark.queries_relational import relational_queries
    from geotiff_spark.queries_textdata import textdata_queries

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{vt_sf}/{t}.parquet'")
    assert con.execute(
        "SELECT count(*) FROM (SELECT unnest(string_split_regex(text, "
        "'\\s+')) AS tok FROM documents) WHERE contains(tok, chr(11))"
    ).fetchone()[0] >= 90
    fn, sql = {**textdata_queries(), **relational_queries()}[name]
    got = value_hash(fn(spark, vt_sf).toPandas())
    assert got == value_hash(con.execute(sql).df())


def test_url_canonical_dedup_single_exchange(spark):
    """Canonicalization is row-local codegen; the only data exchange is
    the canonical-keyed aggregation (partial-aggregatable, so hot
    resources collapse map-side before the wire)."""
    from geotiff_spark.queries_textdata import q_url_canonical_dedup

    plan = _plan(q_url_canonical_dedup(spark, SF))
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "partial_count" in plan or "partial_min" in plan, plan


def test_bpe_encode_plan_is_pure_map(spark):
    """BPE apply is a map: whitespace split JVM-side, one ArrowEvalPython
    for the merge loop, zero Exchange — at 10^12 docs this is a scan."""
    from geotiff_spark.operators.bpe import bpe_encode_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet").repartition(8)
    plan = _plan(bpe_encode_counts(docs))
    assert plan.count("ArrowEvalPython") == 1, plan
    # the only exchange is the input's own repartition
    assert plan.count("Exchange") == 1, plan


def test_repeated_ngrams_partial_agg_and_take_ordered(spark):
    """The gram aggregation must partial-aggregate map-side (digest
    exchange sits above a partial_count — each map task ships one row
    per distinct gram, never one per occurrence) and the top-N must be
    TakeOrdered, not a global sort."""
    from geotiff_spark.operators.dedup import repeated_ngram_mine

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repeated_ngram_mine(docs))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan
    # no Python anywhere: gram extraction is JVM codegen
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_exact_substring_dedup_single_digest_scan(spark):
    """ExactSubstr's fingerprint pass must run ONCE and be map-only
    (r06 VERDICT: the old groupBy+join shape computed and exchanged it
    twice): exhaustive mode is one Generate / zero Exchange, winnowed
    mode one MapInPandas / zero Generate / zero Exchange. Round 8:
    duplicate detection over the once-materialized fingerprints must be
    the partial-aggregatable groupBy(d).count + left-semi join — never
    a count-over-Window, which has no map-side combine and lands every
    copy of a hot digest on one task (r07 VERDICT #1)."""
    from geotiff_spark.operators import dedup

    df = spark.createDataFrame(
        [(0, "a" * 120), (1, "b" * 120)], ["doc_id", "text"])
    for kw, node in (({}, "Generate"), ({"winnow": 5}, "MapInPandas")):
        fpplan = _plan(dedup.substring_fingerprints(df, k=50, **kw))
        assert fpplan.count(node) == 1, f"{kw}\n{fpplan}"
        assert "Exchange" not in fpplan, fpplan
        plan = _plan(dedup.exact_substring_dedup(df, k=50, **kw))
        # fingerprints are localCheckpointed: exactly one scan, and the
        # downstream plan reads the materialized RDD, not a re-explode
        assert "Generate" not in plan and "MapInPandas" not in plan, plan
        assert "Window" not in plan, plan
        assert "partial_count" in plan, plan
        assert "LeftSemi" in plan, plan


def test_exact_substring_dedup_hot_digest_drill(spark):
    """Boilerplate storm (r07 VERDICT #1 drill): one shared k-window
    repeated across MANY docs must still excise correctly — the digest
    count collapses the hot digest map-side (partial_count pinned
    above), and the semi-join back is AQE-skew-splittable. 3000 docs
    all carrying the same 20-char header + unique tails: the header
    span is removed from every doc, tails survive."""
    import pandas as pd

    from geotiff_spark.operators import dedup

    k, w = 20, 5
    header = "HOT-BOILERPLATE-HDR!"  # exactly k chars
    assert len(header) == k
    n = 3000
    docs = pd.DataFrame({
        "doc_id": range(n),
        "text": [header + format(i, "08d") + format(i * 7, "08d")
                 for i in range(n)],
    })
    df = spark.createDataFrame(docs)
    out = {r["doc_id"]: r for r in
           dedup.exact_substring_dedup(df, k=k, winnow=w).collect()}
    assert len(out) == n
    # every doc loses at least the shared header; the unique tail's
    # windows straddle header+tail or tail-only content and are unique
    # to the doc, so removal never reaches the final 8 chars
    for i in (0, 1, n // 2, n - 1):
        assert out[i]["n_removed"] >= k, out[i]
        assert out[i]["cleaned_len"] > 0, out[i]
