"""Deduplication operators for web-scale corpora.

Scale design notes:
- exact_dedup: one hash-shuffle on the digest, not on the full text.
- token_jaccard_pairs: exact set-similarity via token self-join — the
  small-scale oracle; quadratic in the worst case, used only as the
  correctness baseline for the LSH path.
- minhash_lsh_pairs: the 100 TB path. Signatures are ZERO-shuffle
  (row-local JVM shingle hashing + one Arrow-batched numpy minwise pass);
  candidates come from one (band, band_hash) groupBy with bucket-local
  pair explosion for normal buckets and a bucket-restricted streamed
  self-join for pathological ones — bounded by collisions, not n² in any
  single row; final exact verify by token jaccard on candidates only.
- simhash_pairs: 64-bit simhash (also zero-shuffle signatures) with
  segment-bucketed Hamming search.
- connected_components: duplicate-cluster assembly by min-label
  propagation over the pair graph.
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.window import Window

from geotiff_spark.operators.textstats import tokens
from geotiff_spark.plans.partitioning import ensure_map_parallelism


# Every operator here reads documents as (doc_id, text).

# Character n-gram width and Jaccard threshold of char_ngram_jaccard_pairs.
CHAR_NGRAM = 5
CHAR_NGRAM_THRESHOLD = 0.8
# MinHash signature length of minhash_lsh_pairs.
NUM_HASHES = 64


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact duplicate groups: md5(text) groupBy; keeper = min doc_id.

    Shuffles 16-byte digests + keys, never the documents themselves.
    """
    return (
        df.select("doc_id", F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def tokens_df(df: DataFrame) -> DataFrame:
    """(doc_id, token) distinct pairs — whitespace tokenization, JVM-side
    (the exploded form of the shared shingle/token array)."""
    return df.select("doc_id", F.explode(_shingle_array(1)).alias("token"))


def char_ngram_df(df: DataFrame) -> DataFrame:
    """(doc_id, token) distinct pairs — CHAR_NGRAM-character shingles, JVM-side
    (sequence → substr → array_distinct → explode). The finer-grained
    sibling of tokens_df for boilerplate-heavy web text, where word-level
    Jaccard under-weights small in-word edits. Docs shorter than n emit
    no grams (mirroring how tokens_df drops tokenless docs) — a truncated
    gram would let two unrelated short docs score jaccard 1.0."""
    n = CHAR_NGRAM
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - F.lit(n - 1)),
            lambda i: F.col("text").substr(i, F.lit(n)),
        )
    )
    return df.filter(F.length("text") >= n).select(
        "doc_id", F.explode(grams).alias("token")
    )


def token_jaccard_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram(word) Jaccard pairs ≥ threshold, id_a < id_b.

    inter via token self-join, union = |A|+|B|−inter. All built-ins.
    The input is fanned out first: tokenizing grows with text length.
    """
    return jaccard_pairs_from_tokens(
        tokens_df(ensure_map_parallelism(df)), threshold)


def char_ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact character-n-gram Jaccard pairs ≥ CHAR_NGRAM_THRESHOLD — the
    n-gram Jaccard dedup baseline. Same inverted-index shape (and the same
    quadratic-worst-case caveat) as token_jaccard_pairs: this is the
    exact small-scale oracle; the 100 TB path is MinHash-LSH over the
    same shingle stream."""
    return jaccard_pairs_from_tokens(char_ngram_df(df), CHAR_NGRAM_THRESHOLD)


def jaccard_pairs_from_tokens(toks: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard ≥ threshold over any (doc_id, token) distinct-pair
    table: inter via token self-join, union = |A|+|B|−inter."""
    toks = toks.cache()
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    a = toks.withColumnRenamed("doc_id", "id_a")
    b = toks.withColumnRenamed("doc_id", "id_b")
    inter = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_tok", "n_a")
    sb = sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_tok", "n_b")
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _shingle_array(n: int):
    """Row-local n-token shingle set as an array<string> Column, JVM-side
    (split → sequence → slice → concat_ws → array_distinct). Docs with
    fewer than n tokens yield NULL (no shingles) — a truncated shingle
    would let unrelated short docs collide at jaccard 1.0, the same
    accidental semantics ADVICE r3 flagged for char n-grams."""
    toks = tokens(F.col("text"))
    if n <= 1:
        return F.array_distinct(toks)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    )
    return F.array_distinct(sh)


def _base_hash_expr(s: Column, hash_mode: str) -> Column:
    """64-bit base hash of a string Column, JVM-side.

    - "xxhash64" (default): the fast production path.
    - "md5": the top 64 bits of md5, parsed as a SIGNED long via
      conv(hex, 16, -10) — bit-identical to DuckDB's
      ('0x' || substr(md5(s), 1, 16))::UBIGINT reinterpreted signed, so
      a SQL oracle can replay every signature (and therefore every LSH
      bucket, candidate pair, and verified output row) bit-for-bit. Same
      trick that made bloom_chunk_dedup oracle-exact (bloom_positions).
      ~2x the hash cost of xxhash64 — keep it for oracle-gated queries,
      not the bench path.
    """
    if hash_mode == "xxhash64":
        return F.xxhash64(s)
    if hash_mode == "md5":
        return F.conv(F.substring(F.md5(s), 1, 16), 16, -10).cast("long")
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def _minhash_params(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multiply-shift hash family: odd multipliers + offsets
    derived from splitmix64 of the hash index."""

    def mix(x: np.ndarray) -> np.ndarray:
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    idx = np.arange(num_hashes, dtype=np.uint64)
    mult = mix(idx) | np.uint64(1)          # odd -> bijective mod 2^64
    add = mix(idx + np.uint64(0x1000))
    return mult, add


def minhash_signatures(
    df: DataFrame, shingle: int = 3, hash_mode: str = "xxhash64",
) -> DataFrame:
    """(doc_id, sigs: array<long>) MinHash signatures with ZERO shuffle.

    The signature is row-local, so no explode/groupBy: the shingle array
    is built JVM-side, one xxhash64 pass produces a base hash per shingle
    (still JVM-side), and all NUM_HASHES minwise values come from one
    Arrow-batched numpy pass — sig_i = min over shingles of
    (mult_i * h + add_i mod 2^64), a bijective multiply-shift re-hash of
    the base hash. At 10^12 docs this stage is a pure map: the only
    shuffle left in LSH dedup is the banded candidate join.
    """
    mult, add = _minhash_params(NUM_HASHES)

    @pandas_udf("array<long>")
    def sigs_udf(hashes: pd.Series) -> pd.Series:
        n = len(hashes)
        if n == 0:
            return pd.Series([], dtype=object)
        # NULL text → NULL shingle array → None here; treat like empty so
        # the doc gets a NULL signature and drops via the isNotNull filter
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
        )
        out: list = [None] * n
        nz = np.nonzero(lens > 0)[0]
        if len(nz):
            flat = np.concatenate(
                [np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz]
            ).view(np.uint64)
            starts = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            sig = np.empty((len(nz), NUM_HASHES), dtype=np.uint64)
            for i in range(NUM_HASHES):
                v = mult[i] * flat + add[i]  # wraps mod 2^64 by design
                sig[:, i] = np.minimum.reduceat(v, starts)
            signed = sig.view(np.int64)
            for j, i in enumerate(nz):
                out[i] = signed[j]
        return pd.Series(out, dtype=object)

    # Docs with an empty shingle set (possible when shingle<=1 and the
    # text has no tokens) are dropped — same semantics as the old
    # explode/groupBy formulation. The drop happens via a NULL signature
    # filtered ABOVE the UDF, not via size(shingles)>0 below it: a
    # pre-UDF filter inlines the whole JVM shingle+hash chain and gets
    # pushed below the parallelism-restoring exchange, evaluating the
    # chain twice (once single-task on a 1-row-group scan — measured 10×
    # the stage cost, round 3). Round 4: a DETERMINISTIC UDF still gets
    # double-evaluated here — Catalyst inlines the `sigs` alias into the
    # filter, and PythonUDF extraction then plans TWO ArrowEvalPython
    # stages (one for the filter, one for the projection), running the
    # whole chain twice (~2× the stage wall, plan-verified). Marking the
    # UDF nondeterministic forbids the alias inlining, so the filter
    # references the materialized column and the plan holds exactly ONE
    # ArrowEvalPython (pinned by test_plan_shapes).
    base = F.transform(
        _shingle_array(shingle),
        lambda s: _base_hash_expr(s, hash_mode),
    )
    return (
        df.select("doc_id", sigs_udf.asNondeterministic()(base).alias("sigs"))
        .filter(F.col("sigs").isNotNull())
    )


def bucket_candidate_pairs(
    stacked: DataFrame,
    key: str,
    bucket_cols: list[str],
    max_inline_bucket: int,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from a bucketed table —
    the shared core of every LSH family here (MinHash bands, sign-LSH
    tables, simhash segments all reduce to "emit same-bucket pairs").

    One groupBy on the bucket key + an in-bucket pair explode is a single
    shuffle and a single pass over `stacked` (a naive self-join would
    evaluate the upstream signature stage twice and shuffle it twice).
    Buckets larger than max_inline_bucket would materialize an O(m²)
    struct array inside ONE row, so those few buckets stream their pairs
    through a bucket-restricted self-join instead — quadratic work spread
    across tasks, never a single giant row. `stacked` is materialized
    once so neither path re-runs the signature stage. (localCheckpoint is
    the single-host materializer; on a real cluster with executor churn
    use reliable checkpoint() / persist-with-replication — the blocks
    have no lineage to recompute from.)
    """
    stacked = stacked.select(key, *bucket_cols).localCheckpoint(eager=True)
    grouped = stacked.groupBy(*bucket_cols).agg(
        F.collect_list(key).alias("ids")
    )
    ids = F.array_sort(F.col("ids"))
    pair_expr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    small = (
        grouped.filter(
            (F.size("ids") >= 2) & (F.size("ids") <= max_inline_bucket)
        )
        .select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
    )
    big_keys = grouped.filter(F.size("ids") > max_inline_bucket).select(
        *bucket_cols
    )
    big_rows = stacked.join(big_keys, bucket_cols)
    ba = big_rows.withColumnRenamed(key, "id_a")
    bb = big_rows.withColumnRenamed(key, "id_b")
    big = (
        ba.join(bb, bucket_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return small.unionByName(big).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    bands: int = 16,
    verify: bool = True,
    shingle: int = 3,
    max_inline_bucket: int = 256,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash over n-token shingles,
    optionally verified with exact token jaccard (verification only
    touches candidates).

    Recall is a deterministic function of (NUM_HASHES, bands) given the
    fixed hash family: a jaccard-j pair collides in a band of r rows with
    probability ~j^r, missing all b bands with (1-j^r)^b — at the default
    64/16 (r=4) a 0.8-jaccard pair escapes with ~2e-4; at 64 hashes in 32
    bands (r=2) with ~6e-15, which is the configuration the exact-match
    registry queries use (verified pair set == the exact jaccard pair set
    on the test corpora). The input is fanned out once here, so the
    signature stage and the verify arm's shingle arrays both read it."""
    df = ensure_map_parallelism(df)
    rows_per_band = NUM_HASHES // bands
    sigs = minhash_signatures(df, shingle, hash_mode)
    # band hash = xxhash64 of the band's signature slice (hashing the
    # array directly — identical sig slices collide, which is the LSH
    # semantics; `sigs` is a materialized column so slices are cheap)
    stacked = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.xxhash64(
                        F.slice(F.col("sigs"), b * rows_per_band + 1, rows_per_band)
                    ).alias("h"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.h")

    cand = bucket_candidate_pairs(
        stacked, "doc_id", ["band_id", "h"], max_inline_bucket
    )
    if not verify:
        return cand
    # exact verify on CANDIDATES ONLY, in the same unit the signatures
    # hash (n-token shingles): join the shingle arrays back and compute
    # jaccard with JVM array ops — cost is O(|candidates|), never the
    # all-pairs self-join
    arrs = df.select("doc_id", _shingle_array(shingle).alias("toks"))
    a = arrs.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = arrs.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    n_inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            n_inter
            / (F.size("toks_a") + F.size("toks_b") - n_inter),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_signatures(df: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document with ZERO shuffle: the signature is
    row-local, so no explode/collect_list round trip — the distinct-token
    array and one xxhash64 per token stay JVM-side, and the bit-vote fold
    runs vectorized over the whole Arrow batch (one reduceat per batch,
    not one Python loop per doc). Docs with no tokens are dropped,
    matching the explode-based formulation this replaces."""

    @pandas_udf("long")
    def fold(hashes: pd.Series) -> pd.Series:
        n = len(hashes)
        if n == 0:
            return pd.Series([], dtype="Int64")
        # NULL text → None hash array: treat like empty (NULL signature)
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
        )
        out = np.zeros(n, dtype=np.int64)
        nz = np.nonzero(lens > 0)[0]
        if len(nz):
            flat = np.concatenate(
                [np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz]
            ).view(np.uint64)
            starts = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            # (total_tokens, 64) bit matrix -> per-doc ones count per bit;
            # vote > 0  <=>  2*ones > len
            bits = (
                (flat[:, None] >> np.arange(64, dtype=np.uint64))
                & np.uint64(1)
            ).astype(np.int64)
            ones = np.add.reduceat(bits, starts, axis=0)
            sig_bits = (2 * ones) > lens[nz][:, None]
            weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
            sigs = (sig_bits.astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            out[nz] = sigs.view(np.int64)
        res = pd.array(out, dtype="Int64")
        res[lens == 0] = pd.NA  # tokenless docs drop via isNotNull above
        return pd.Series(res)

    # Same plan discipline as minhash_signatures: drop tokenless docs via
    # a NULL signature filtered ABOVE the UDF (a size(tokens)>0 filter
    # would inline + duplicate the JVM hash chain below the exchange),
    # and the UDF marked nondeterministic so the alias can't inline into
    # the filter and double-plan the Python stage (see minhash_signatures).
    df = ensure_map_parallelism(df)
    toks = F.array_distinct(tokens(F.col("text")))
    hashes = F.transform(toks, lambda t: _base_hash_expr(t, hash_mode))
    return (
        df.select("doc_id", fold.asNondeterministic()(hashes).alias("simhash"))
        .filter(F.col("simhash").isNotNull())
    )


def simhash_pairs(df: DataFrame) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ 3, found by the pigeonhole
    trick: split 64 bits into 4 segments — any pair within distance
    shares at least one exact segment → equi-join on (segment_id,
    segment_bits), then exact popcount filter. Tokens hash in "md5"
    mode, so an oracle can rebuild every signature."""
    return simhash_pairs_from_sigs(simhash_signatures(df, "md5"), 3)


def simhash_pairs_from_sigs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Pigeonhole Hamming search over a precomputed (doc_id, simhash) table —
    the bucketing core of simhash_pairs, testable with crafted signatures.

    max_hamming must be in [1, 31]: 0 would need a single full-width
    segment whose 2**64-1 mask overflows LongType (use exact_dedup or a
    direct groupBy on the signature for exact-duplicate search), and >31
    leaves segments under 2 bits, at which point the pigeonhole join is
    a cross join in disguise.
    """
    if not 1 <= max_hamming <= 31:
        raise ValueError(
            f"max_hamming must be in [1, 31], got {max_hamming} "
            "(for exact-signature match use exact_dedup / groupBy(simhash))"
        )
    segs = max_hamming + 1
    width = 64 // segs
    # mask, not `%`: Spark's % keeps the dividend's sign, so negative
    # simhashes would bucket differently from positives with identical
    # low bits, silently breaking the pigeonhole exact-recall guarantee.
    # The last segment absorbs the remainder bits so the segments tile
    # all 64 bits (otherwise diffs in uncovered high bits escape the
    # pigeonhole argument when 64 % segs != 0).
    def _seg_width(i: int) -> int:
        return 64 - i * width if i == segs - 1 else width

    seg_cols = [
        (
            F.shiftrightunsigned(F.col("simhash"), i * width)
            .bitwiseAND(F.lit(2 ** _seg_width(i) - 1))
        ).alias(f"seg_{i}")
        for i in range(segs)
    ]
    t = sigs.select("doc_id", "simhash", *seg_cols)
    stacked = t.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("seg_id"), F.col(f"seg_{i}").alias("seg"))
                for i in range(segs)
            ])
        ).alias("s"),
    ).select("doc_id", "simhash", "s.seg_id", "s.seg").localCheckpoint(eager=True)
    # materialized once: both sides of the pigeonhole self-join read the
    # same subtree, and without this the (Python) signature stage
    # upstream would evaluate once PER SIDE (plan-verified, round 4) —
    # same single-host caveat as bucket_candidate_pairs' checkpoint
    a = stacked.select(
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"), "seg_id", "seg"
    )
    b = stacked.select(
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"), "seg_id", "seg"
    )
    return (
        a.join(b, ["seg_id", "seg"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-cluster assembly: connected components over a near-dup
    (id_a, id_b) pair graph by min-label propagation. Returns (doc_id,
    component_id) with component_id = the smallest member id (any
    orderable key type); `nodes` lists every doc_id, and
    nodes absent from any pair keep their own id (singleton components).

    Each iteration is one equi-join + groupBy(min) — O(diameter) rounds,
    which is small for dedup graphs (near-dup clusters are dense, so
    labels traverse them in a couple of hops). Convergence is detected by
    counting changed labels (type-agnostic; one scalar action per round,
    no data to the driver); per-round labels are localCheckpointed so
    lineage stays flat. localCheckpoint stores lineage-free blocks on
    executors — right for this sandbox's single JVM, but on a real
    cluster an executor loss makes them unrecoverable mid-job: deploy
    with spark.sparkContext.setCheckpointDir(...) and swap in reliable
    .checkpoint() (or persist with replicated storage) for the per-round
    frames. Raises if max_iters rounds don't converge —
    silently returning partial labels would corrupt downstream dedup.
    For adversarially long chains swap the propagation step for
    large-star/small-star — the surrounding contract is unchanged.
    """
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # materialize once: every propagation round joins edges, and without
    # this the (possibly expensive) pair-generation job upstream would
    # re-run per round
    ).localCheckpoint(eager=True)
    if nodes is None:
        node_df = edges.select(F.col("src").alias("node")).distinct()
    else:
        node_df = nodes.select(F.col("doc_id").alias("node")).distinct()
    labels = node_df.withColumn("label", F.col("node")).localCheckpoint(
        eager=True
    )
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("dst", "node")
        )
        new_labels = (
            labels.withColumnRenamed("label", "old_label")
            .join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("old_label"),
                F.least(
                    F.col("old_label"),
                    F.coalesce(F.col("nlabel"), F.col("old_label")),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = new_labels.filter(
            F.col("label") != F.col("old_label")
        ).count()
        labels = new_labels.drop("old_label")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter exceeds max_iters); raise max_iters or use a "
            "doubling scheme"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


# repeated_ngram_mine's gram length, minimum occurrences and result size.
NGRAM_N, NGRAM_MIN_COUNT, NGRAM_TOP_N = 13, 2, 50


def repeated_ngram_mine(df: DataFrame) -> DataFrame:
    """Corpus-wide repeated n-token-gram miner — the cross-boundary
    complement to fixed-boundary chunk dedup: a duplicated passage that
    STRADDLES chunk_dedup's 10-token boundaries never produces equal
    chunk digests, but every repeated passage of ≥ n tokens contains a
    repeated n-gram at SOME offset, and the sliding window sees all
    offsets. The classic boilerplate/contamination signal (the
    repeated-13-gram statistic of web-corpus dedup pipelines).

    Returns (gram, n_docs, n_occ, rank): the NGRAM_TOP_N most frequent
    NGRAM_N-grams occurring ≥ NGRAM_MIN_COUNT times, ranked by (n_occ
    DESC, gram ASC).

    Scale shape: gram extraction is row-local JVM codegen (split →
    sequence → slice → concat_ws); the aggregation groups on md5(gram)
    so the exchange key is fixed-width and partial-aggregates map-side —
    each map task ships one (digest, gram, partial count) per distinct
    gram it saw, never one row per occurrence; n_docs adds one
    (digest, doc_id)-distinct pass of integer pairs. The final top N is
    TakeOrdered (per-partition k, no global sort)."""
    df = ensure_map_parallelism(df)
    from pyspark.sql.window import Window

    n = NGRAM_N
    toks = tokens(F.col("text"))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array())
    g = df.select("doc_id", F.explode(grams).alias("gram"))
    agg = (
        g.groupBy(F.md5("gram").alias("digest"))
        .agg(
            F.min("gram").alias("gram"),
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") >= NGRAM_MIN_COUNT)
    )
    top = agg.orderBy(F.desc("n_occ"), F.asc("gram")).limit(NGRAM_TOP_N)
    w = Window.orderBy(F.desc("n_occ"), F.asc("gram"))
    return top.select(
        "gram", "n_docs", "n_occ", F.row_number().over(w).alias("rank")
    )


def substring_fingerprints(
    df: DataFrame, k: int = 50, winnow: int | None = None,
) -> DataFrame:
    """(doc_id, i, d) fingerprint rows for :func:`exact_substring_dedup`:
    one row per selected k-char window start (1-based i), with d = the
    first 16 md5 hex chars of the window reinterpreted as a SIGNED
    64-bit int (conv(hex, 16, -10) semantics) — bijective with the hex
    string the oracle hashes, so digest equality is unchanged while the
    exchange carries 8-byte longs instead of 16-char strings.

    Exhaustive mode (winnow=None) emits every position via JVM codegen
    (substr → md5 → posexplode). Winnowed mode emits the leftmost-
    argmin position per sliding window of `winnow` consecutive digests,
    computed with numpy inside ONE Arrow batch pass: fixed-width
    lowercase hex sorts identically to its unsigned-64 numeric value,
    and np.argmin takes the first (leftmost) minimum — the exact
    selection the former JVM slice/array_min/array_position chain made
    (pinned bit-for-bit by tests/test_bloom_pack_lm.py's pure-python
    reference), at ~1/10 the per-position cost."""
    from pyspark.sql.types import (
        IntegerType, LongType, StructField, StructType,
    )

    base_docs = df.filter(F.col("text").isNotNull())
    if winnow is None:
        dig = F.when(
            F.length("text") >= k,
            F.transform(
                F.sequence(F.lit(1), F.length("text") - F.lit(k - 1)),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.col("text").substr(i, F.lit(k))), 1, 16
                    ),
                    16, -10,
                ).cast("long"),
            ),
        ).otherwise(F.array().cast("array<long>"))
        return base_docs.select(
            "doc_id", F.posexplode(dig).alias("i0", "d")
        ).select("doc_id", (F.col("i0") + 1).alias("i"), "d")
    w = int(winnow)
    if w < 1:
        raise ValueError("winnow window must be >= 1")
    import hashlib

    from numpy.lib.stride_tricks import sliding_window_view

    schema = StructType([
        base_docs.schema["doc_id"],
        StructField("i", IntegerType()),
        StructField("d", LongType()),
    ])

    def fp(batches):
        for pdf in batches:
            keys: list = []
            i_parts: list = []
            d_parts: list = []
            for kv, t in zip(pdf["doc_id"], pdf["text"]):
                n_pos = len(t) - (k - 1)
                if n_pos <= 0:
                    continue
                raw = b"".join(
                    hashlib.md5(t[i:i + k].encode("utf-8")).digest()[:8]
                    for i in range(n_pos)
                )
                dig = np.frombuffer(raw, dtype=">u8").astype(np.uint64)
                if n_pos >= w:
                    wins = sliding_window_view(dig, w)
                    # np.argmin returns the FIRST (leftmost) minimum —
                    # the same tie-break as array_position(array_min)
                    sel = np.unique(
                        np.arange(n_pos - w + 1) + wins.argmin(axis=1)
                    )
                else:
                    # short doc: a single clamped window over all digests
                    sel = np.array([int(dig.argmin())])
                keys.extend([kv] * len(sel))
                i_parts.append(sel + 1)
                d_parts.append(dig[sel])
            if keys:
                yield pd.DataFrame({
                    "doc_id": keys,
                    "i": np.concatenate(i_parts).astype(np.int32),
                    "d": np.concatenate(d_parts).view(np.int64),
                })

    return base_docs.select("doc_id", "text").mapInPandas(fp, schema)


def exact_substring_dedup(
    df: DataFrame, k: int = 50, winnow: int | None = None,
) -> DataFrame:
    """Exact substring deduplication (the Lee et al. 2022 "Deduplicating
    Training Data" ExactSubstr operation, Spark-shaped): any k-char
    window occurring ≥2 times corpus-wide marks its span; every marked
    character is removed. Unlike chunk/n-gram dedup this is
    position-exact — a duplicated passage is excised wherever it sits,
    with no boundary or tokenization blind spots.

    `winnow=w` turns on winnowing sampling (Schleimer et al. 2003,
    MOSS): per sliding window of w consecutive k-gram positions, only
    the position of the (leftmost) minimal digest is kept, cutting the
    shuffled fingerprint volume to ~2/(w+1) of exhaustive. Selection
    depends only on digest CONTENT, so two copies of any duplicated
    span of length ≥ k + w - 1 select the same relative fingerprint —
    every such span is still caught (pytest pins the guarantee and
    that sampled marks ⊆ exhaustive marks). This is the 100-TB knob:
    exhaustive mode's exchange carries one fingerprint per corpus
    character, winnowed mode one per ~(w+1)/2 characters.

    Returns (doc_id, n_chars, n_removed, cleaned_len, cleaned_md5) — the
    decision/verification plane; producing the cleaned corpus itself is
    the same plan minus the md5 projection.

    Scale shape (round 8): the fingerprint digest is the SIGNED-LONG
    reinterpretation of the first 16 md5 hex chars — bijective with the
    hex string the DuckDB oracle hashes, so equality (and therefore the
    duplicate set) is unchanged while the digest exchange carries 8-byte
    longs instead of 16-char strings. Exhaustive mode stays row-local
    JVM codegen (substr → md5 → posexplode); winnowed mode computes
    digests AND the leftmost-argmin selection in one Arrow batch pass
    (numpy sliding windows — the per-position JVM slice/array_min HOF
    chain was ~13 s of the 25 s wall at 2M pages). Duplicate-window
    detection is a partial-aggregatable groupBy(d).count over the once-
    materialized fingerprint frame plus a left-semi join back (r07
    VERDICT #1: the count-over-Window form put every copy of a hot
    digest on ONE task — the groupBy collapses hot digests map-side
    before the exchange and the join is AQE-skew-splittable; the
    localCheckpoint keeps the single fingerprint scan r06 demanded).
    Marked start-positions then aggregate per doc, and span removal is
    one row-local Arrow batch pass (numpy code-point mask, not the old
    per-character generator). The text crosses the wire exactly once
    (the final doc join), like chunk_dedup's data plane. The input is
    fanned out first, so the fingerprint pass and the doc join read it."""
    df = ensure_map_parallelism(df)
    win = substring_fingerprints(df, k, winnow)
    # materialize the fingerprints ONCE: both the digest count and the
    # semi-join probe read this frame (without it the fingerprint stage
    # would run per consumer — the r06 double-compute). Single-host
    # caveat as elsewhere: on a real cluster use reliable checkpoint().
    # DISK_ONLY: this frame is 10^7 rows per 2M-page call — deserialized
    # on-heap blocks from repeated calls pressured every later query in
    # the suite (measured: bloom/chunk/pages-steady all degraded ~1.5×
    # after the substring entries ran), and serialized disk blocks read
    # back at local-SSD speed for the two immediate consumers.
    from pyspark import StorageLevel

    win = win.localCheckpoint(eager=True,
                              storageLevel=StorageLevel.DISK_ONLY)
    dup_d = (
        win.groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("d")
    )
    dup_win = win.join(dup_d, "d", "leftsemi")
    marks = dup_win.groupBy("doc_id").agg(
        F.collect_list(F.col("i")).alias("starts")
    )

    @pandas_udf("string")
    def cleaned_udf(texts: pd.Series, starts: pd.Series) -> pd.Series:
        out = []
        for t, st in zip(texts, starts):
            if t is None:
                out.append(None)
                continue
            if st is None or len(st) == 0:
                out.append(t)
                continue
            # code-point array round trip (utf-32 is exact for any str)
            codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4")
            mask = np.zeros(len(codes), dtype=bool)
            for s in st:
                mask[int(s) - 1: int(s) - 1 + k] = True
            out.append(codes[~mask].tobytes().decode("utf-32-le"))
        return pd.Series(out, dtype=object)

    base = df.filter(F.col("text").isNotNull()).join(marks, "doc_id", "left")
    cleaned = cleaned_udf.asNondeterministic()(
        F.col("text"), F.col("starts")
    ).alias("cleaned")
    return base.select("doc_id", "text", cleaned).select(
        "doc_id",
        F.length("text").alias("n_chars"),
        (F.length("text") - F.length("cleaned")).alias("n_removed"),
        F.length("cleaned").alias("cleaned_len"),
        F.md5("cleaned").alias("cleaned_md5"),
    )


# ---- Bloom-filter incremental dedup -----------------------------------------
#
# Dedup a new batch against the whole history without joining against
# it. The history collapses to a partitioned Bloom filter, one m-bit
# array per hash seed, packed into uint64 words and built in one
# bounded aggregation (bloom_pack). The batch tests membership in one
# vectorized Arrow pass over JVM-computed positions against the
# broadcast bitmaps (bloom_membership), so it never shuffles to be
# filtered. False positives (over-dropping) are the Bloom trade; false
# negatives are impossible. Positions use md5 (available verbatim in
# DuckDB), so the oracle replays the identical filter bit-for-bit.

# The filtered column (chunks of queries_textdata.chunks_frame) and the
# hash seeds per value; m, the bits per seed, is the caller's.
BLOOM_COL = "chunk"
BLOOM_K = 4


def bloom_positions(col: Column | str, seed: int, m: int) -> Column:
    """Bit position of `col` under hash-seed `seed`: the top 32 bits of
    md5(value || '#seed'), mod m. Non-negative, so `%` agrees with SQL."""
    c = F.col(col) if isinstance(col, str) else col
    hex8 = F.substring(F.md5(F.concat(c, F.lit(f"#{seed}"))), 1, 8)
    return (F.conv(hex8, 16, 10).cast("long") % m).alias(f"pos_{seed}")


class PackedBloom(dict):
    """bloom_pack's return type: a dict of seed -> packed uint64 bitmap
    that is additionally weakref-able, so the broadcast cache below can
    auto-release a retired filter's broadcasts the moment the filter
    object dies (ADVICE r06: the strong-ref cache leaked up to
    ~128 MB/seed per build-probe cycle and defeated ContextCleaner).

    Lifetime contract: the broadcasts live exactly as long as this
    object, so a probe plan built from it must not outlive it —
    bloom_membership pins the filter on the DataFrame wrapper it
    returns (`_bloom_packed_owner`), and any caller that re-wraps that
    frame (groupBy etc.) must carry the pin over to the frame it hands
    out, as bloom_incremental_frame does."""


def bloom_pack(df: DataFrame, m: int) -> PackedBloom:
    """Build the filter over the non-NULL values of df[BLOOM_COL]:
    BLOOM_K packed uint64 bitmaps of m bits (seed -> m/64 + 1 words).
    The BLOOM_K positions of each value are ORed into their words by one
    word-keyed bit_or, which partial-aggregates map-side, so the
    exchange and the driver collect carry at most BLOOM_K * m/64 rows
    whatever the history size. bit_or is idempotent, so duplicate
    values need no distinct."""
    pos = F.array(*[
        F.struct(F.lit(s).alias("seed"),
                 bloom_positions(BLOOM_COL, s, m).alias("pos"))
        for s in range(1, BLOOM_K + 1)
    ])
    words = (
        df.filter(F.col(BLOOM_COL).isNotNull())
        .select(F.explode(pos).alias("b"))
        .select("b.seed", "b.pos")
        .groupBy("seed", (F.col("pos") / 64).cast("long").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), "
                "CAST(pos % 64 AS INT)))"
            ).alias("mask")
        )
        .toPandas()
    )
    packed = PackedBloom(
        (s, np.zeros(m // 64 + 1, dtype=np.uint64))
        for s in range(1, BLOOM_K + 1)
    )
    for s, w, mask in words.itertuples(index=False, name=None):
        # mask arrives as a signed BIGINT; bit 63 set → negative. Take
        # the two's-complement bits explicitly (np.uint64(neg) is a
        # deprecated wraparound).
        packed[int(s)][int(w)] = np.uint64(int(mask) & 0xFFFFFFFFFFFFFFFF)
    return packed


# One broadcast per seed per packed filter, not per probe call: the
# intended build-once/probe-every-batch loop would otherwise accumulate
# a fresh (up to ~128 MB/seed) broadcast on driver and executors per
# batch (ADVICE r05). The entry is guarded by a weakref to the filter,
# and a weakref.finalize pops it and destroys the broadcasts when the
# filter is garbage-collected, so a retired filter releases driver and
# executor memory with no manual call (ADVICE r06).
_PACKED_BCASTS: dict[int, tuple[weakref.ref, list]] = {}


def _destroy_cached_bcasts(cache_key: int) -> None:
    entry = _PACKED_BCASTS.pop(cache_key, None)
    if entry is None:
        return
    for b in entry[1]:
        try:
            b.destroy()
        except Exception:
            pass  # SparkContext already stopped / shutdown race


def _packed_broadcasts(sc, packed: PackedBloom) -> list:
    """The filter's broadcasts, one per seed in seed order."""
    cache_key = id(packed)
    entry = _PACKED_BCASTS.get(cache_key)
    if entry is not None and entry[0]() is packed:
        return entry[1]
    bcasts = [sc.broadcast(packed[s]) for s in sorted(packed)]
    weakref.finalize(packed, _destroy_cached_bcasts, cache_key)
    _PACKED_BCASTS[cache_key] = (weakref.ref(packed), bcasts)
    return bcasts


def bloom_membership(df: DataFrame, packed: PackedBloom, m: int) -> DataFrame:
    """Adds `bloom_hit` (1 = possibly-seen, 0 = definitely-new; a NULL
    value is 0) to df by testing the BLOOM_K positions of its BLOOM_COL
    against the filter from :func:`bloom_pack` with the same m. Positions
    are JVM-computed (md5 codegen); the bit test is one vectorized Arrow
    pass against the broadcast bitmaps, with no shuffle anywhere."""
    bcasts = _packed_broadcasts(df.sparkSession.sparkContext, packed)

    @pandas_udf("long")
    def _hit(*pos_series: pd.Series) -> pd.Series:
        out = np.ones(len(pos_series[0]), dtype=bool)
        for b, ps in zip(bcasts, pos_series):
            # a NULL value has NULL positions: no hit, and fill before
            # the int64 cast (NaN would become an out-of-range index)
            out &= ps.notna().to_numpy()
            p = ps.fillna(0).to_numpy(dtype=np.int64)
            bit = p.astype(np.uint64) & np.uint64(63)
            out &= (b.value[p >> 6] >> bit) & np.uint64(1) == 1
        return pd.Series(out.astype("int64"))

    pos_cols = [bloom_positions(BLOOM_COL, s, m)
                for s in range(1, BLOOM_K + 1)]
    out = df.withColumn("bloom_hit", _hit(*pos_cols))
    # pin the filter to the plan the caller holds: a PackedBloom's
    # broadcasts are destroyed when the filter is GC'd, so the probe
    # frame must keep it reachable until it has run
    out._bloom_packed_owner = packed
    return out
