"""M3 scale-feature tests: salting equivalence, adaptive partitioning,
lineage metrics, checkpoint resume (kill-and-rerun identical output)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join(spark):
    from geotiff_spark.plans.salting import salted_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = spark.read.parquet(f"{SF}/part.parquet").withColumnRenamed(
        "p_partkey", "l_partkey"
    )
    plain = li.join(p, "l_partkey").select("l_orderkey", "l_linenumber", "p_brand")
    salted = salted_join(
        li, p, "l_partkey", n_salt=5, hot=[1, 5, 7], salt_source="l_orderkey"
    ).select("l_orderkey", "l_linenumber", "p_brand")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_hot_keys_detects_skew(spark):
    from geotiff_spark.plans.salting import hot_keys

    rows = [(1, "hot")] * 1000 + [(i, "cold") for i in range(2, 50)]
    df = spark.createDataFrame(rows, ["k", "v"])
    hk = hot_keys(df, "k")
    assert hk == [1]


def test_adaptive_prefix_balances_hot_cells(spark):
    from geotiff_spark.operators.extract import with_cell_token, with_fused_geo
    from geotiff_spark.plans.partitioning import (
        adaptive_prefix_column, choose_prefix_depth, deep_histogram,
    )
    from geotiff_spark.sources.pages import synth_pages

    cells = with_fused_geo(synth_pages(spark, 4000, partitions=4), 10).filter(
        F.col("cell").isNotNull()
    )
    tok = with_cell_token(cells)
    depth = choose_prefix_depth(deep_histogram(tok, "cell_token"),
                                target_rows=800)
    assert 1 <= depth <= 10
    pref = adaptive_prefix_column(tok, "cell_token", target_rows=200)
    hist = pref.groupBy("cell_prefix").count().collect()
    lens = {len(r["cell_prefix"]) for r in hist}
    assert len(lens) >= 2  # hot prefixes went deeper than cold ones
    # prefix property: every prefix is a prefix of its rows' tokens
    bad = pref.filter(
        ~F.col("cell_token").startswith(F.col("cell_prefix"))
    ).count()
    assert bad == 0


def test_deep_histogram_driver_pull_is_bounded(spark):
    """A dense synthetic grid (every max-depth prefix distinct) must NOT
    reach the driver at full depth: deep_histogram backs off one depth at a
    time until the distinct prefixes fit the budget, so the collected
    histogram is bounded no matter the cell occupancy (VERDICT r05 #3)."""
    from geotiff_spark.plans.partitioning import (
        choose_prefix_depth, deep_histogram,
    )

    # 4^8 = 65536 distinct depth-8 tokens — dense at every depth
    df = spark.range(4 ** 8).select(
        F.lpad(F.conv(F.col("id").cast("string"), 10, 4), 8, "0")
        .alias("cell_token")
    )
    budget = 1000
    hist = deep_histogram(df, "cell_token", driver_budget=budget)
    assert set(hist["prefix"].str.len()) == {4}  # 4^4 = 256 <= 1000 < 4^5
    assert len(hist) <= budget
    assert hist["n"].sum() == 4 ** 8
    # the depth chooser still works on the coarsened histogram
    assert choose_prefix_depth(hist, target_rows=4 ** 5) >= 3


def _skewed_tokens(spark):
    """2000 uniform depth-8 tokens plus 6000 under the one hot prefix 0123."""
    rng = np.random.default_rng(7)
    digits = np.array(list("0123"))
    cold = ["".join(r) for r in digits[rng.integers(0, 4, size=(2000, 8))]]
    hot = ["0123" + "".join(r)
           for r in digits[rng.integers(0, 4, size=(6000, 4))]]
    tokens = pd.Series(cold + hot, name="cell_token")
    return tokens, spark.createDataFrame(tokens.to_frame())


def test_deep_histogram_is_exact(spark):
    """Exact counts, not sketches: the histogram and its driver-side
    roll-up equal pandas value_counts of the prefixes, hot prefix
    included."""
    from geotiff_spark.plans.partitioning import _histogram_at, deep_histogram

    tokens, df = _skewed_tokens(spark)
    hist = deep_histogram(df, "cell_token")
    assert dict(zip(hist["prefix"], hist["n"])) == (
        tokens.value_counts().to_dict())
    assert _histogram_at(hist, 5).to_dict() == (
        tokens.str[:5].value_counts().to_dict())
    rolled = _histogram_at(hist, 4)
    assert rolled.to_dict() == tokens.str[:4].value_counts().to_dict()
    assert rolled["0123"] >= 6000


def test_deep_histogram_that_fits_is_one_action(spark, monkeypatch):
    """A histogram within the driver budget is collected by exactly one
    Spark action — no probe ahead of the groupBy."""
    from geotiff_spark.plans.partitioning import deep_histogram

    _, df = _skewed_tokens(spark)
    actions, active = [], []
    cls = type(df)
    for name in ("toPandas", "collect"):
        def counted(self, *a, _orig=getattr(cls, name), _name=name, **k):
            if not active:  # count outermost calls only
                actions.append(_name)
            active.append(_name)
            try:
                return _orig(self, *a, **k)
            finally:
                active.pop()
        monkeypatch.setattr(cls, name, counted)
    hist = deep_histogram(df, "cell_token")
    assert hist["n"].sum() == 8000
    assert actions == ["toPandas"]


def test_lineage_metrics_row_counts(spark, tmp_path):
    from geotiff_spark.plans.lineage import StageMetrics

    m = StageMetrics(spark)
    df = spark.range(0, 1000, numPartitions=4).toDF("id")
    out = m.instrument(df, "scan")
    assert out.count() == 1000
    snap = m.snapshot()
    assert sum(r["rows"] for r in snap if r["stage"] == "scan") == 1000
    assert len({r["partition_id"] for r in snap}) == 4
    m.flush(str(tmp_path / "metrics"))
    files = os.listdir(tmp_path / "metrics")
    assert any(f.startswith("metrics_") for f in files)


def test_lineage_flush_appends_parquet_side_table(spark, tmp_path):
    """Each flush appends one part file; Spark reads them back as
    (partition_id bigint, rows bigint, stage string)."""
    from geotiff_spark.plans.lineage import StageMetrics

    m = StageMetrics(spark)
    assert m.instrument(spark.range(0, 100, numPartitions=2), "a").count() == 100
    out = str(tmp_path / "metrics")
    m.flush(out)
    m.flush(out)
    parts = [f for f in os.listdir(f"{out}/parquet") if f.endswith(".parquet")]
    assert len(parts) == 2
    side = spark.read.parquet(f"{out}/parquet")
    assert side.dtypes == [
        ("partition_id", "bigint"), ("rows", "bigint"), ("stage", "string"),
    ]
    got = sorted(tuple(r) for r in side.collect())
    assert got == sorted(
        (r["partition_id"], r["rows"], r["stage"]) for r in m.snapshot() * 2
    )


def test_checkpoint_resume_kill_and_rerun(spark, tmp_path):
    """Kill mid-write, rerun, output identical to uninterrupted write and
    completed buckets skipped."""
    from geotiff_spark.plans.checkpoint import (
        completed_buckets, resumable_write,
    )

    df = (
        spark.range(0, 2000)
        .withColumn("bucket", F.pmod(F.col("id"), F.lit(10)).cast("string"))
        .withColumn("payload", F.col("id") * 7)
    )
    out1 = str(tmp_path / "direct")
    df.write.partitionBy("bucket").parquet(out1)

    out2 = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated kill"):
        resumable_write(df, out2, "bucket", batch_size=3, fail_after=2)
    done_after_kill = completed_buckets(out2)
    assert 0 < len(done_after_kill) < 10

    stats = resumable_write(df, out2, "bucket", batch_size=3)
    assert set(stats["skipped"]) == done_after_kill
    assert set(stats["written"]) | done_after_kill == {
        str(i) for i in range(10)
    }

    a = spark.read.parquet(out1).select("id", "payload", "bucket")
    b = spark.read.parquet(out2).select("id", "payload", "bucket")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_knn_large_query_set_stays_distributed(spark):
    """100k+ queries run through the same plan — queries are never
    collected to the driver, settlement is a window flag + anti-join."""
    import numpy as np

    from geotiff_spark.operators.knn import knn_join

    n = 120_000
    pts = (
        spark.range(n)
        .withColumn(
            "lat",
            F.lit(36.0) + ((F.col("id") * 2654435761) % 220000) / F.lit(10000.0),
        )
        .withColumn(
            "lon",
            F.lit(-10.0) + ((F.col("id") * 40503 + 7) % 400000) / F.lit(10000.0),
        )
        .withColumnRenamed("id", "doc_id")
    )
    out = knn_join(spark, pts, pts, res=10)
    got = out.groupBy("qid").agg(F.count(F.lit(1)).alias("n"))
    assert got.filter(F.col("n") != 5).count() == 0
    assert got.count() == n

    # spot-check 5 queries against local brute force
    local = pts.collect()
    ids = np.array([r.doc_id for r in local])
    la = np.array([r.lat for r in local])
    lo = np.array([r.lon for r in local])
    sample = out.filter(F.col("qid").isin([0, 31337, 64001, 99999, 119998]))
    by_q: dict[int, list[int]] = {}
    for r in sorted(sample.collect(), key=lambda r: (r.qid, r.rank)):
        by_q.setdefault(r.qid, []).append(r.nn_id)
    for qid, mine in by_q.items():
        d = np.sqrt((la - la[qid]) ** 2 + (lo - lo[qid]) ** 2)
        mask = ids != qid
        want = [int(i) for _d, i in sorted(zip(d[mask], ids[mask]))[:5]]
        assert mine == want, (qid, mine, want)


def test_load_table_fans_out_documents_and_embeddings_only(spark):
    """documents and embeddings scan as one partition (one row group) and
    feed the heavy per-row stages, so load_table fans them out with one
    round-robin exchange; parallel=False and every other table plan
    none (orders is one row group too)."""
    from geotiff_spark.pipeline import load_table

    sf = os.path.join(os.path.dirname(SF), "sf0.01")

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange"), plan.count("RoundRobinPartitioning")

    assert spark.sparkContext.master == "local[4]"
    assert exchanges(load_table(spark, sf, "documents")) == (1, 1)
    assert exchanges(load_table(spark, sf, "embeddings")) == (1, 1)
    assert exchanges(load_table(spark, sf, "documents", parallel=False)) == (0, 0)
    assert exchanges(load_table(spark, sf, "orders")) == (0, 0)


def test_knn_matches_bruteforce(spark):
    from geotiff_spark.operators.knn import knn_join
    from geotiff_spark.pipeline import geo_documents

    docs = geo_documents(spark, SF)
    queries = docs.filter(F.col("doc_id") < 5)
    got = knn_join(spark, docs, queries).collect()

    pts = docs.select("doc_id", "lat", "lon").collect()
    import numpy as np

    ids = np.array([r.doc_id for r in pts])
    lat = np.array([r.lat for r in pts])
    lon = np.array([r.lon for r in pts])
    for q in [r for r in pts if r.doc_id < 5]:
        d = np.sqrt((lat - q.lat) ** 2 + (lon - q.lon) ** 2)
        mask = ids != q.doc_id
        order = sorted(zip(d[mask], ids[mask]))[:5]
        want = [int(i) for _d, i in order]
        mine = [r.nn_id for r in sorted(got, key=lambda r: r.rank)
                if r.qid == q.doc_id]
        assert mine == want, (q.doc_id, mine, want)
