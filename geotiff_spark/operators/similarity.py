"""Similarity search over embedding columns (array<float>).

- brute_force_topk: exact cosine top-k — the correctness baseline. The
  dot product stays JVM-side (zip_with + aggregate: whole-stage codegen,
  no Python). Queries are broadcast; the corpus is never shuffled.
- lsh_topk: the scale path — random-hyperplane (sign) LSH buckets shrink
  the candidate set; exact re-rank inside buckets. Recall < 1 by design;
  probe multiple hash tables to trade cost for recall.
- ivf_topk: the other canonical scale path — a coarse quantizer (spherical
  k-means trained by distributed Lloyd iterations) partitions the corpus
  into inverted lists; queries probe the N_PROBE nearest centroids and
  re-rank exactly inside them. Centroids are model state (N_CENTROIDS ×
  dim doubles) — the only driver-side materialization, same tier as the
  salting histogram.

Every operator here reads vectors as (vec_id, embedding), and every top-k
keeps TOP_K neighbours per query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.window import Window

from geotiff_spark.plans.partitioning import ensure_map_parallelism

TOP_K = 5
# lsh_topk's hyperplane layout over 64-dim embeddings.
LSH_TOPK_DIM, LSH_TOPK_PLANES, LSH_TOPK_TABLES = 64, 4, 8
# lsh_near_dup_pairs' hash tables.
NEAR_DUP_TABLES = 32
# Inverted lists, lists probed per query, and k-means rounds of the IVF
# operators.
N_CENTROIDS, N_PROBE, IVF_ITERS = 16, 4, 3


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_batch_udf():
    """Vectorized cosine for bulk verification stages: one einsum per
    Arrow batch instead of Catalyst's per-element interpreted fold
    (higher-order functions don't codegen — ~128 interpreted calls per
    pair — so this is ~5-10× faster on millions of candidate pairs).

    Numerics: numpy's blocked summation can differ from the sequential
    fold by a few ulps (~1e-15 absolute on unit-normalized 64-dim dots).
    Downstream consumers round to 6 decimals and threshold at 0.4; the
    test corpora's closest approach to any 1e-6 rounding boundary is
    1.2e-11 and to the threshold 9.9e-6 (measured across all pairs with
    cos >= 0.35 at sf0.001/0.01/0.1), so the fold choice cannot flip an
    output value. Exactness vs the JVM fold is pinned by the
    oracle hash-match and the _exact-baseline pytest.

    (Factory, not a module-level UDF: pandas_udf parses its DDL return
    type against the ACTIVE session, so decorating at import time breaks
    imports that precede SparkSession creation.)"""

    @pandas_udf("double")
    def cosine_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
        n = len(va)
        if n == 0:
            return pd.Series([], dtype=np.float64)
        a = np.vstack(va.to_numpy()).astype(np.float64)
        b = np.vstack(vb.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", a, b)
        na = np.sqrt(np.einsum("ij,ij->i", a, a))
        nb = np.sqrt(np.einsum("ij,ij->i", b, b))
        return pd.Series(dots / (na * nb))

    # deterministic in fact; marked otherwise so verify stages that
    # filter on `cos` and also project round(cos) cannot alias-inline
    # into TWO ArrowEvalPython stages re-scoring every candidate twice
    # (round 4; same pathology as dedup.minhash_signatures)
    return cosine_batch.asNondeterministic()


def brute_force_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact TOP_K neighbors per query vector (cosine, self excluded).

    Broadcast the (small) query side against the corpus — at 100 TB the
    corpus scan is embarrassingly parallel, one shuffle for the per-query
    top-k (and that aggregates only k rows per partition thanks to the
    window's partial TakeOrdered behavior under AQE).
    """
    corpus = ensure_map_parallelism(corpus)
    # norms are per-vector, so compute them once per row BEFORE the pair
    # blow-up (cos = dot/(nq*nc) is the same doubles as cosine(), but the
    # norm aggregates run n times instead of n*q times)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"),
        _norm(F.col("embedding")).alias("qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("nn_id"), F.col("embedding").alias("cvec"),
        _norm(F.col("embedding")).alias("cnorm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("nn_id") != F.col("query_id"))
        .withColumn(
            "cos",
            _dot(F.col("qvec"), F.col("cvec"))
            / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "nn_id", "rank")
    )


def md5_planes(dim: int, n_total: int) -> np.ndarray:
    """(dim, n_total) hyperplane matrix with every weight derived from
    md5 so a SQL oracle reproduces it bit-for-bit:

        w[d, j] = uint64(md5(f"plane:{j}:{d}")[:16 hex]) / 2**64 - 0.5

    DuckDB twin: ('0x' || substr(md5('plane:'||j||':'||d), 1, 16))
    ::UBIGINT::DOUBLE / 18446744073709551616.0 - 0.5 — the uint→double
    cast rounds to nearest and the 2**64 division is an exact exponent
    shift in both engines, so the doubles are identical. Uniform(-.5,.5)
    instead of Gaussian: sign-LSH only needs a symmetric direction
    distribution, and the recall gate (ann_recall) measures the outcome
    either way."""
    import hashlib

    w = np.empty((dim, n_total), dtype=np.float64)
    for j in range(n_total):
        for d in range(dim):
            h = hashlib.md5(f"plane:{j}:{d}".encode()).hexdigest()[:16]
            w[d, j] = int(h, 16) / 2**64 - 0.5
    return w


def _seq_matmul(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """mat @ planes with a LEFT-TO-RIGHT fold over the shared dim —
    bit-identical to DuckDB's list_dot_product (verified sequential) and
    to an explicit SQL addition chain, unlike BLAS matmul whose blocked
    summation reorders the adds. Vectorized over rows and planes, so the
    only Python loop is the (small) embedding dimension."""
    acc = mat[:, 0:1] * planes[0:1, :]
    for d in range(1, mat.shape[1]):
        acc = acc + mat[:, d : d + 1] * planes[d : d + 1, :]
    return acc


def bucket_udf(dim: int, n_planes: int, n_tables: int,
               plane_mode: str = "gaussian"):
    """Sign-LSH buckets for all tables in one Arrow-batched pandas UDF:
    one (dim x n_planes*n_tables) matmul per batch. Deterministic (fixed
    seed), no stored model — returns the per-table bucket array for one
    explode + equi-join.

    plane_mode="gaussian" (default) is the production path (seeded
    Gaussian planes, BLAS matmul). plane_mode="md5" derives the planes
    from md5 and folds the dot products sequentially so a DuckDB oracle
    replays every bucket — and therefore every candidate and output row —
    exactly (see md5_planes); use it for oracle-gated registry queries."""
    if plane_mode == "md5":
        planes = md5_planes(dim, n_planes * n_tables)
    else:
        planes = (
            np.random.default_rng(1337)
            .standard_normal((dim, n_planes * n_tables))
            .astype(np.float64)
        )
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(vec: pd.Series) -> pd.Series:
        mat = np.vstack(vec.to_numpy()).astype(np.float64)
        if plane_mode == "md5":
            dots = _seq_matmul(mat, planes)
        else:
            dots = mat @ planes
        signs = (dots > 0).reshape(len(mat), n_tables, n_planes)
        b = (signs * weights).sum(axis=2)
        # table t gets its own bucket id space
        b = b + (np.arange(n_tables, dtype=np.int64) << n_planes)
        return pd.Series(list(b))

    return buckets


def lsh_topk(
    corpus: DataFrame, queries: DataFrame, plane_mode: str = "gaussian",
) -> DataFrame:
    """Approximate top-k: candidates = union over hash tables of same-bucket
    vectors (one explode + equi-join), exact cosine re-rank on candidates
    only. Recall tunes via (LSH_TOPK_PLANES, LSH_TOPK_TABLES)."""
    bu = bucket_udf(LSH_TOPK_DIM, LSH_TOPK_PLANES, LSH_TOPK_TABLES,
                    plane_mode=plane_mode)
    vec = F.col("embedding")
    q = queries.select(
        F.col("vec_id").alias("query_id"), vec.alias("qvec"),
        _norm(vec).alias("qnorm"), F.explode(bu(vec)).alias("bucket"),
    )
    c = corpus.select(
        F.col("vec_id").alias("nn_id"), vec.alias("cvec"),
        _norm(vec).alias("cnorm"), F.explode(bu(vec)).alias("bucket"),
    )
    cand = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("nn_id") != F.col("query_id"))
        .select("query_id", "qvec", "qnorm", "nn_id", "cvec", "cnorm")
        .distinct()
    )
    scored = cand.withColumn(
        "cos",
        _dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "nn_id", "rank")
    )


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    vec: str = "embedding",
    dim: int = 64,
    n_planes: int = 3,
    max_local_bucket: int = 4096,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via sign-LSH self-bucketing + exact
    verify — the scale form of embedding near-dup detection.

    Shape: one Arrow-batched bucket pass over the corpus (pure map), one
    groupBy per-bucket candidate generation (the only shuffle of vectors'
    ids), exact JVM cosine on candidates only. Output ⊆ the exact pair
    set always (every candidate is re-scored); recall is governed by
    (n_planes, NEAR_DUP_TABLES): a pair at angle θ shares a table's bucket
    with probability (1-θ/π)^n_planes and escapes all tables with
    (1-(1-θ/π)^n_planes)^NEAR_DUP_TABLES — deterministic here because the
    hyperplanes are seeded. At the defaults a cos=0.4 pair (θ≈66°)
    escapes with ~1e-4; the registry pins equality against the exact
    crossJoin oracle on the test corpora.

    Scale honesty: the candidate volume is ~tables/2^n_planes of the
    full cross product per table-bucket population, so at a *permissive*
    threshold like 0.4 (random-vector tail, near-orthogonal pairs) the
    pruning factor is modest — production near-dup thresholds (cos ≥
    0.85, θ ≤ 32°) allow n_planes ≈ 12-16 where the same operator prunes
    by 100-1000× while holding recall. The parameters scale the knob; the
    plan shape (map → bucket shuffle → verify candidates) is invariant
    and never materializes the cross product.

    Round 8 verify shape: candidates are verified INSIDE their bucket
    group (one blocked BLAS cosine per bucket, applyInPandas) instead
    of materializing a pair stream and re-attaching both vectors to
    every pair row — at sf1.0/threshold 0.9 that pair plane was ~33M
    rows carrying 2×512-byte vectors each (~33 GB across the Arrow
    boundary, plus a full-width distinct exchange); bucket-local
    verify exchanges each vector once per table (~0.7 GB) and dedups
    only the SURVIVORS across tables. Buckets above max_local_bucket
    fall back to the streamed pair self-join + per-pair einsum verify
    (never an m×m matrix in one task's memory beyond the cap), and
    both arms merge through the same survivor dedup. Numerics: norms
    are the same einsum as before; the dot moves from a per-pair-row
    einsum to a blocked matmul, which can differ by ulps (~1e-15) —
    six-decimal rounding and the corpora's measured 1e-11 margin to
    any rounding boundary make the output bit-identical (oracle
    hash-pinned at sf0.01, equality-checked vs the pair-stream form
    at sf0.1/sf1.0).
    """
    corpus = ensure_map_parallelism(corpus)
    key_dt = corpus.schema["vec_id"].dataType.simpleString()
    bu = bucket_udf(dim, n_planes, NEAR_DUP_TABLES)
    stacked = corpus.select(
        F.col("vec_id").alias("id"), F.col(vec).alias("v"),
        F.explode(bu(F.col(vec))).alias("bucket"),
    # materialized once: the size census, the group verify and the big-
    # bucket arm all read it (single-host caveat as elsewhere).
    # DISK_ONLY: vectors × tables is the biggest frame this operator
    # holds — keeping it out of the heap stops repeated calls from
    # squeezing every later query's execution memory (see the matching
    # note in exact_substring_dedup).
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    sizes = stacked.groupBy("bucket").agg(F.count(F.lit(1)).alias("m"))
    # bounded driver scalar (the census runs on the checkpointed frame):
    # when no bucket exceeds the cap — the common case — the fallback
    # arm is dropped from the plan entirely instead of scheduling three
    # empty stages across every shuffle partition
    max_m = sizes.agg(F.max("m")).collect()[0][0] or 0
    if max_m > max_local_bucket:
        big_keys = sizes.filter(
            F.col("m") > max_local_bucket
        ).select("bucket")
        small_rows = stacked.join(
            F.broadcast(big_keys), "bucket", "left_anti"
        )
        big_rows = stacked.join(F.broadcast(big_keys), "bucket")
    else:
        small_rows = stacked
        big_rows = None

    # verify groups CONSOLIDATE many buckets (deterministic hash of the
    # bucket id — guide §2.5 forbids rand-derived keys): applyInPandas
    # pays a per-group Arrow round trip, and grouping by raw bucket id
    # meant ~32k tiny groups whose fixed costs dominated small corpora
    # (sf0.1 planted: 11.0 s vs 3.7 s for the old pair stream). ~8
    # groups per core amortizes that while the kernel still verifies
    # strictly WITHIN each bucket.
    n_groups = corpus.sparkSession.sparkContext.defaultParallelism * 8
    grouped = small_rows.withColumn(
        "_vg", F.pmod(F.xxhash64("bucket"), F.lit(n_groups))
    )

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        bkt = pdf["bucket"].to_numpy()
        order = np.argsort(bkt, kind="stable")
        bkt_s = bkt[order]
        ids_all = pdf["id"].to_numpy()[order]
        v_all = pdf["v"].to_numpy()[order]
        bounds = np.nonzero(
            np.r_[True, bkt_s[1:] != bkt_s[:-1], True]
        )[0]
        out_a, out_b, out_c = [], [], []
        for gs, ge in zip(bounds[:-1], bounds[1:]):
            m = ge - gs
            if m < 2:
                continue
            ids = ids_all[gs:ge]
            mat = np.vstack(v_all[gs:ge]).astype(np.float64)
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            # row blocks bound the sims slab to block×m doubles
            block = max(1, (1 << 22) // m)
            for s in range(0, m - 1, block):
                e = min(s + block, m - 1)
                sims = mat[s:e] @ mat.T
                cos = sims / (norms[s:e, None] * norms[None, :])
                bi, bj = np.nonzero(cos >= threshold)
                gi = bi + s
                keep = bj > gi  # upper triangle only: each pair once
                gi, bj = gi[keep], bj[keep]
                out_a.append(ids[gi])
                out_b.append(ids[bj])
                out_c.append(cos[gi - s, bj])
        ia = (np.concatenate(out_a) if out_a else ids_all[:0])
        ib = (np.concatenate(out_b) if out_b else ids_all[:0])
        cc = (np.concatenate(out_c) if out_c
              else np.array([], dtype=np.float64))
        # a key present twice in one bucket would pair with itself
        keep = ia != ib
        ia, ib, cc = ia[keep], ib[keep], cc[keep]
        swap = ia > ib
        return pd.DataFrame({
            "id_a": np.where(swap, ib, ia),
            "id_b": np.where(swap, ia, ib),
            "cos": cc,
        })

    small_pairs = grouped.groupBy("_vg").applyInPandas(
        kern, f"id_a {key_dt}, id_b {key_dt}, cos double"
    )
    all_pairs = small_pairs
    if big_rows is not None:
        ba = big_rows.select(
            "bucket", F.col("id").alias("id_a"), F.col("v").alias("va")
        )
        bb = big_rows.select(
            "bucket", F.col("id").alias("id_b"), F.col("v").alias("vb")
        )
        big_pairs = (
            ba.join(bb, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cos", cosine_batch_udf()(F.col("va"), F.col("vb"))
            )
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        )
        all_pairs = small_pairs.unionByName(big_pairs)
    # survivor dedup across tables/arms: every emission of a pair is the
    # same cosine up to ulps (blocked-matmul blocking varies with bucket
    # membership), min() is deterministic and rounding absorbs the ulps
    return (
        all_pairs
        .groupBy("id_a", "id_b")
        .agg(F.min("cos").alias("cos"))
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    return m / np.clip(np.linalg.norm(m, axis=1, keepdims=True), 1e-12, None)


def _assign_udf(spark, centroids: np.ndarray, n_probe: int = 1):
    """Nearest-centroid id(s) by cosine, one matmul per Arrow batch.
    n_probe=1 → the single inverted-list id; >1 → the probe list."""
    bc = spark.sparkContext.broadcast(centroids)

    @pandas_udf("array<int>")
    def assign(vec: pd.Series) -> pd.Series:
        cents = bc.value  # (n_centroids, dim), L2-normalized
        mat = _normalize_rows(np.vstack(vec.to_numpy()).astype(np.float64))
        sims = mat @ cents.T
        if n_probe == 1:
            top = np.argmax(sims, axis=1).astype(np.int32)[:, None]
        else:
            top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return assign


def train_ivf_centroids(spark, corpus: DataFrame) -> np.ndarray:
    """Spherical k-means by IVF_ITERS distributed Lloyd iterations:
    assignment is an Arrow-batched matmul over the corpus; the update is a
    per-cluster mean (applyInPandas — N_CENTROIDS tiny groups).
    Deterministic: seeded from the N_CENTROIDS lowest-key corpus vectors.
    Only the (N_CENTROIDS, dim) centroid matrix ever reaches the driver."""
    seed_rows = (
        corpus.orderBy("vec_id").limit(N_CENTROIDS).select("embedding")
        .collect()
    )
    cents = _normalize_rows(
        np.vstack([np.asarray(r[0], dtype=np.float64) for r in seed_rows])
    )

    def mean_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.vstack(pdf["v"].to_numpy()).astype(np.float64).mean(axis=0)
        return pd.DataFrame({"cid": [int(pdf["cid"].iloc[0])], "c": [list(m)]})

    for _ in range(IVF_ITERS):
        assign = _assign_udf(spark, cents, 1)
        assigned = corpus.select(
            F.col("embedding").alias("v"),
            assign(F.col("embedding"))[0].alias("cid"),
        )
        rows = (
            assigned.groupBy("cid")
            .applyInPandas(mean_fn, "cid int, c array<double>")
            .collect()
        )
        new = cents.copy()  # empty clusters keep their previous centroid
        for r in rows:
            new[r["cid"]] = np.asarray(r["c"], dtype=np.float64)
        cents = _normalize_rows(new)
    return cents


def md5_anchor_centroids(corpus: DataFrame) -> np.ndarray:
    """Oracle-replayable coarse quantizer: the anchors are the corpus
    vectors with the N_CENTROIDS smallest (md5(key), key) — a legitimate
    IVF variant (random-anchor inverted file, the 0-iteration special
    case of k-means) whose anchor choice a SQL oracle reproduces with
    ORDER BY md5(CAST(key AS VARCHAR)), key LIMIT n. Unlike trained
    k-means, there is no float-mean feedback loop, so cross-engine
    ulp differences cannot cascade into different centroids."""
    rows = (
        corpus.select(
            F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id",
            "embedding",
        )
        .orderBy("h", "vec_id")
        .limit(N_CENTROIDS)
        .collect()
    )
    return np.vstack([np.asarray(r[2], dtype=np.float64) for r in rows])


def _anchor_assign_udf(spark, anchors: np.ndarray, n_probe: int = 1):
    """Nearest-anchor id(s) by cosine with SEQUENTIAL float64 folds for
    the dot and both norms, so the scores are bit-identical to DuckDB's
    list_dot_product / (sqrt(list_dot_product(v,v)) *
    sqrt(list_dot_product(a,a))) and the oracle replays every
    assignment. Ties break toward the smaller anchor id (stable sort /
    first argmax), matching the oracle's ORDER BY cos DESC, aid ASC."""
    bc = spark.sparkContext.broadcast(anchors)

    def seq_sq_norm(m: np.ndarray) -> np.ndarray:
        acc = m[:, 0] * m[:, 0]
        for d in range(1, m.shape[1]):
            acc = acc + m[:, d] * m[:, d]
        return acc

    @pandas_udf("array<int>")
    def assign(vec: pd.Series) -> pd.Series:
        a = bc.value  # (n_anchors, dim) — raw, NOT normalized
        a_norm = np.sqrt(seq_sq_norm(a))
        mat = np.vstack(vec.to_numpy()).astype(np.float64)
        v_norm = np.sqrt(seq_sq_norm(mat))
        sims = _seq_matmul(mat, a.T) / (v_norm[:, None] * a_norm[None, :])
        if n_probe == 1:
            top = np.argmax(sims, axis=1).astype(np.int32)[:, None]
        else:
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            top = top.astype(np.int32)
        return pd.Series(list(top))

    return assign


def _ivf_search(corpus, queries, one, probe) -> DataFrame:
    """The IVF search body shared by both quantizers: `one` assigns each
    corpus row its list, `probe` each query its N_PROBE lists (both
    array<int> UDFs); candidates are re-ranked by exact JVM cosine."""
    vec = F.col("embedding")
    c = corpus.select(
        F.col("vec_id").alias("nn_id"), vec.alias("cvec"),
        one(vec)[0].alias("cid"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), vec.alias("qvec"),
        F.explode(probe(vec)).alias("cid"),
    )
    # corpus row sits in exactly one list and probe cids are distinct per
    # query, so (query, candidate) pairs are already unique — no distinct
    cand = (
        c.join(F.broadcast(q), "cid")
        .filter(F.col("nn_id") != F.col("query_id"))
    )
    scored = cand.withColumn("cos", cosine(F.col("qvec"), F.col("cvec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("nn_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "nn_id", "rank")
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-k via inverted lists: corpus rows live in their
    nearest-centroid list; each query probes its N_PROBE nearest lists and
    re-ranks exactly (JVM cosine) inside them. Candidate volume is
    ~corpus × N_PROBE / N_CENTROIDS instead of corpus × queries."""
    spark = corpus.sparkSession
    cents = train_ivf_centroids(spark, corpus)
    return _ivf_search(corpus, queries, _assign_udf(spark, cents, 1),
                       _assign_udf(spark, cents, N_PROBE))


def ivf_topk_md5(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF top-k with the md5-anchor coarse quantizer — identical search
    shape to :func:`ivf_topk` (one inverted-list assignment per corpus
    row, N_PROBE lists per query, exact JVM-cosine re-rank inside them)
    but with an oracle-replayable quantizer: anchors come from
    md5-ordered ids and assignment scores are sequential-fold cosines,
    so a DuckDB oracle reproduces the whole pipeline bit-for-bit (see
    md5_anchor_centroids / _anchor_assign_udf). The k-means-trained
    variant stays the bench/production path; this is the registry's
    oracle-gated form."""
    spark = corpus.sparkSession
    anchors = md5_anchor_centroids(corpus)
    return _ivf_search(corpus, queries, _anchor_assign_udf(spark, anchors, 1),
                       _anchor_assign_udf(spark, anchors, N_PROBE))
