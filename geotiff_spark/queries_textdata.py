"""Training-data pipeline queries over documents/embeddings — dedup,
similarity search, text analysis — each with a DuckDB oracle where the
semantics are SQL-expressible (exact variants), rows-only otherwise
(probabilistic LSH/simhash variants, which pytest verifies against the
exact baselines instead)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from geotiff_spark.operators import (
    bpe, dedup, packing, similarity, textstats,
)
from geotiff_spark.pipeline import load_table as _t
from geotiff_spark.plans.partitioning import ensure_map_parallelism


# ---- dedup -------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


SQL_EXACT_DEDUP = """
SELECT md5(text) AS digest, MIN(doc_id) AS keeper_id, COUNT(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_token_jaccard_pairs(spark, sf_dir):
    return dedup.token_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8
    )


# Each concept that several DuckDB oracles share is one SQL fragment,
# defined beside its first user and interpolated into every oracle that
# needs it. Every oracle string stays self-contained (no macros or
# views), because it runs on a fresh connection.

# `toks(doc_id, tk)`: each document's whitespace token list.
_TOKS = f"""toks AS (
  SELECT doc_id, {textstats.sql_tokens('text')} AS tk
  FROM documents
)"""


def _token_set(src: str) -> str:
    """CTE `tok(doc_id, tok)`: the distinct whitespace tokens of each
    document of relation `src`."""
    return f"""tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({textstats.sql_tokens('text')}) AS tok
        FROM {src})
)"""


def _jaccard_pairs(threshold: float) -> str:
    """CTEs over the element sets in `tok(doc_id, tok)`: `sizes` holds the
    set sizes, `inter` the intersection size of every document pair
    sharing an element, and `pairs(id_a, id_b, jaccard)` the pairs whose
    Jaccard similarity reaches `threshold`."""
    return f"""sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b, n_inter / (sa.n_tok + sb.n_tok - n_inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_inter / (sa.n_tok + sb.n_tok - n_inter) >= {threshold}
)"""


def _components(nodes: str) -> str:
    """CTEs for the connected components of the `pairs` graph (needs WITH
    RECURSIVE): `comp(doc_id, component_id)` labels every document of
    relation `nodes` with the least id it reaches, singletons their own."""
    return f"""edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
),
comp AS (
  SELECT n.doc_id,
         LEAST(n.doc_id, COALESCE(MIN(r.b), n.doc_id)) AS component_id
  FROM {nodes} n LEFT JOIN reach r ON r.a = n.doc_id
  GROUP BY n.doc_id
)"""


SQL_TOKEN_JACCARD_PAIRS = f"""
WITH {_token_set('documents')},
{_jaccard_pairs(0.8)}
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM pairs
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact character-5-gram Jaccard near-dup pairs — the n-gram Jaccard
    dedup baseline (finer-grained than word tokens for boilerplate-heavy
    web text). Quadratic-worst-case exact form, so the registry query
    bounds the corpus to doc_id < 200; the 100 TB path is MinHash-LSH
    over the same shingle stream (minhash_lsh_pairs)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.char_ngram_jaccard_pairs(docs)


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_distinct([
           substr(text, CAST(i AS INTEGER), {dedup.CHAR_NGRAM})
           for i in range(1, length(text) - {dedup.CHAR_NGRAM - 1} + 1)
         ])) AS tok
  FROM documents
  WHERE doc_id < 200 AND length(text) >= {dedup.CHAR_NGRAM}
),
{_jaccard_pairs(dedup.CHAR_NGRAM_THRESHOLD)}
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM pairs
"""


def q_dedup_components(spark, sf_dir):
    """Duplicate-cluster assembly, production wiring: connected
    components (min-label propagation) over the MinHash-LSH candidate
    graph with exact token-jaccard verification on candidates only — no
    all-pairs stage anywhere. At 32 bands of 2 rows a 0.8-jaccard pair
    escapes every band with ~6e-15, so the verified pair set equals the
    exact jaccard-0.8 pair set (pinned by the recursive-CTE transitive
    closure oracle and by pytest against token_jaccard_pairs); singletons
    keep their own id."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.8, shingle=1, bands=32
    )
    return dedup.connected_components(pairs, nodes=docs)


def q_dedup_components_exact(spark, sf_dir):
    """Small-scale exact baseline for q_dedup_components: the same
    component assembly fed by the exact (quadratic) token self-join pair
    generator. Registry tail entry — the oracle is shared with the LSH
    primary, which is the 100 TB form."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.token_jaccard_pairs(docs, threshold=0.8)
    return dedup.connected_components(pairs, nodes=docs)


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_token_set('documents')},
{_jaccard_pairs(0.8)},
{_components('documents')}
SELECT doc_id, component_id FROM comp
"""


def q_train_split(spark, sf_dir):
    """Deterministic train/val/test assignment by key hash (xxhash64 mod
    100 -> 90/5/5): reproducible across runs, partitionings and engines —
    the sampling primitive a training pipeline needs instead of
    nondeterministic sample(). Oracle: DuckDB hash() differs from
    xxhash64, so the split column is derived from doc_id arithmetic that
    both engines compute exactly — with the key pre-reduced mod 1e9+7 so
    the multiply stays far inside int64 for any non-negative doc_id
    (Spark wraps on overflow, DuckDB raises; neither is acceptable at
    10^12-row key ranges)."""
    docs = _t(spark, sf_dir, "documents")
    # reduce mod 1e9+7 BEFORE the Knuth multiply: the product then peaks
    # at ~2.7e18 < int64 max on BOTH engines (Spark silently wraps int64,
    # DuckDB raises on BIGINT overflow — either way the raw multiply
    # breaks above doc_id ~3.5e9, i.e. exactly at the target scale)
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1_000_000_007)) * F.lit(2654435761)
        + F.lit(17),
        F.lit(100),
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split).groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


SQL_TRAIN_SPLIT = """
WITH b AS (
  SELECT doc_id, lang, text,
         ((doc_id % 1000000007) * 2654435761 + 17) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs,
       CAST(SUM(len(text)) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2
"""


def q_mixture_sample(spark, sf_dir):
    """Deterministic MIXTURE SAMPLING — the Dolma/Pile-style data-mixing
    primitive: each language carries a target rate (en 1.5, de 1.0,
    fr 0.7, es 0.4, zh 2.25, other 0.5); every doc independently keeps
    floor(rate) full copies plus one more iff its hash bucket falls
    under frac(rate), so the expected per-language volume is exactly
    rate × input and the decision is reproducible across runs,
    partitionings and engines (same pre-reduced Knuth-multiply hash as
    train_split, different additive constant to decorrelate the two
    samplers; rates as integer ×10000 so every comparison is exact
    int64 arithmetic). Replicated epochs materialize via a row-local
    explode — the shape a training pipeline feeds to its shuffler.
    Scale: the sampling decision and replication are zero-shuffle
    row-local codegen; the only exchanges are the two (source, lang)
    aggregations over a bounded group domain. Output per (source,
    lang): input docs, emitted rows (with upsampled epochs), distinct
    surviving docs, emitted chars."""
    docs = _t(spark, sf_dir, "documents")
    rate10k = (
        F.when(F.col("lang") == "en", F.lit(15000))
        .when(F.col("lang") == "de", F.lit(10000))
        .when(F.col("lang") == "fr", F.lit(7000))
        .when(F.col("lang") == "es", F.lit(4000))
        .when(F.col("lang") == "zh", F.lit(22500))
        .otherwise(F.lit(5000))
    )
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(1_000_000_007)) * F.lit(2654435761)
        + F.lit(23),
        F.lit(10_000),
    )
    n_copies = (
        F.floor(rate10k / F.lit(10_000)).cast("long")
        + F.when(bucket < F.pmod(rate10k, F.lit(10_000)), F.lit(1))
        .otherwise(F.lit(0))
    )
    exploded = (
        docs.withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)  # sequence(1,0) would count DOWN
        .select(
            "source", "lang", "doc_id", "n_chars",
            F.explode(
                F.sequence(F.lit(1), F.col("n_copies"))
            ).alias("epoch"),
        )
    )
    out_agg = exploded.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs_out"),
        F.countDistinct("doc_id").alias("n_unique_kept"),
        F.sum("n_chars").alias("chars_out"),
    )
    in_agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs_in")
    )
    return in_agg.join(out_agg, ["source", "lang"], "left").select(
        "source", "lang", "n_docs_in",
        F.coalesce("n_docs_out", F.lit(0)).alias("n_docs_out"),
        F.coalesce("n_unique_kept", F.lit(0)).alias("n_unique_kept"),
        F.coalesce("chars_out", F.lit(0)).alias("chars_out"),
    )


SQL_MIXTURE_SAMPLE = """
WITH rated AS (
  SELECT source, lang, doc_id, n_chars,
         CASE lang WHEN 'en' THEN 15000 WHEN 'de' THEN 10000
                   WHEN 'fr' THEN 7000 WHEN 'es' THEN 4000
                   WHEN 'zh' THEN 22500 ELSE 5000 END AS rate10k,
         ((doc_id % 1000000007) * 2654435761 + 23) % 10000 AS bucket
  FROM documents
),
copies AS (
  SELECT source, lang, doc_id, n_chars,
         rate10k // 10000
           + CASE WHEN bucket < rate10k % 10000 THEN 1 ELSE 0 END
           AS n_copies
  FROM rated
),
exploded AS (
  SELECT c.source, c.lang, c.doc_id, c.n_chars
  FROM copies c, UNNEST(range(1, c.n_copies + 1)) AS e(epoch)
  WHERE c.n_copies > 0
),
outs AS (
  SELECT source, lang,
         COUNT(*) AS n_docs_out,
         COUNT(DISTINCT doc_id) AS n_unique_kept,
         CAST(SUM(n_chars) AS BIGINT) AS chars_out
  FROM exploded GROUP BY source, lang
),
ins AS (
  SELECT source, lang, COUNT(*) AS n_docs_in
  FROM documents GROUP BY source, lang
)
SELECT i.source, i.lang, i.n_docs_in,
       COALESCE(o.n_docs_out, 0) AS n_docs_out,
       COALESCE(o.n_unique_kept, 0) AS n_unique_kept,
       COALESCE(o.chars_out, 0) AS chars_out
FROM ins i
LEFT JOIN outs o ON o.source = i.source AND o.lang = i.lang
"""


def _corpus_curation(spark, sf_dir, exact_pairs: bool):
    """Shared curation pipeline: quality gate (length + token count) ->
    exact dedup (md5 keeper) -> near-dup collapse (connected components
    over the jaccard-0.8 graph of survivors, component representative
    kept) -> per-language corpus stats."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(textstats.tokens(F.col("text")))
    kept = docs.withColumn("n_tokens", n_tokens).filter(
        (F.length("text") >= 20) & (F.col("n_tokens") >= 3)
    )
    exact_keep = kept.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    # survivors feed four consumers (pair signatures, verify sides a/b,
    # component nodes, final stats join) — materialize the quality-gate +
    # exact-dedup prefix once instead of re-running it per consumer.
    # (single-host materializer; swap for reliable checkpoint()/persist
    # on a real cluster, as in connected_components)
    survivors = kept.join(exact_keep.select("doc_id"), "doc_id").localCheckpoint(
        eager=True
    )
    if exact_pairs:
        pairs = dedup.token_jaccard_pairs(survivors, threshold=0.8)
    else:
        pairs = dedup.minhash_lsh_pairs(
            survivors, threshold=0.8, shingle=1, bands=32
        )
    comps = dedup.connected_components(pairs, nodes=survivors)
    final = survivors.join(comps, "doc_id").filter(
        F.col("doc_id") == F.col("component_id")
    )
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
    )


def q_corpus_curation(spark, sf_dir):
    """End-to-end training-data curation, the webtext flagship — the
    production wiring: the near-dup graph comes from MinHash-LSH
    candidates verified by exact token jaccard (candidates only, no
    all-pairs stage). At 32 bands of 2 rows the verified pair set equals
    the exact jaccard-0.8 pair set (escape prob ~6e-15 per pair; pytest
    pins equality on the test corpora), so the whole pipeline sits under
    the same exact SQL oracle as the quadratic baseline."""
    return _corpus_curation(spark, sf_dir, exact_pairs=False)


def q_corpus_curation_exact(spark, sf_dir):
    """Small-scale exact baseline of q_corpus_curation (quadratic token
    self-join pair generation); shares the oracle with the LSH primary.
    Registry tail entry."""
    return _corpus_curation(spark, sf_dir, exact_pairs=True)


SQL_CORPUS_CURATION = f"""
WITH RECURSIVE kept AS (
  SELECT doc_id, text, lang, len({textstats.sql_tokens('text')}) AS n_tokens
  FROM documents
  WHERE len(text) >= 20
),
kept2 AS (SELECT * FROM kept WHERE n_tokens >= 3),
exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM kept2 GROUP BY md5(text)
),
survivors AS (
  SELECT k.* FROM kept2 k JOIN exact_keep e ON e.doc_id = k.doc_id
),
{_token_set('survivors')},
{_jaccard_pairs(0.8)},
{_components('survivors')},
final AS (
  SELECT s.* FROM survivors s
  JOIN comp c ON c.doc_id = s.doc_id AND s.doc_id = c.component_id
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(len(text)), 6) AS avg_chars
FROM final GROUP BY lang
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """Banded-MinHash near-dup pairs in md5 hash mode: the base shingle
    hash is md5-derived (dedup._base_hash_expr), so the DuckDB oracle
    replays the signatures, the banding, the candidate join AND the
    exact-jaccard verify bit-for-bit — an LSH recall miss shows up
    identically on both sides instead of as an unverifiable "it's
    probabilistic" shrug. The xxhash64 fast path stays the bench/
    production default (minhash_recall still gates it)."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8, hash_mode="md5"
    )


def _sql_minhash_lsh_pairs() -> str:
    """DuckDB twin of q_minhash_lsh_pairs: identical 3-token shingles,
    identical md5-derived 64-bit base hash, the SAME multiply-shift
    constants (imported from dedup._minhash_params — single source of
    truth) with mod-2^64 wraparound done in UHUGEINT, band keys as the
    signature-slice tuple (Spark's xxhash64 band key is injective on
    slices up to 2^-64 collisions), then exact jaccard on candidates
    only — the same verify the engine runs."""
    mult, add = dedup._minhash_params(dedup.NUM_HASHES)
    rows = ",\n    ".join(
        f"({i}, {int(mult[i])}::UBIGINT, {int(add[i])}::UBIGINT)"
        for i in range(dedup.NUM_HASHES)
    )
    return f"""
WITH {_TOKS},
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(tk[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS shingle
  FROM toks, unnest(range(1, len(tk) - 1)) AS t(i)
),
hv AS (
  SELECT doc_id, shingle,
         ('0x' || substr(md5(shingle), 1, 16))::UBIGINT AS h
  FROM sh
),
params(i, mul, addc) AS (VALUES
    {rows}
),
sigs AS (
  SELECT doc_id, i,
         MIN((mul::UHUGEINT * h::UHUGEINT + addc::UHUGEINT)
             % 18446744073709551616::UHUGEINT)::UBIGINT AS sig
  FROM hv, params GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // 4 AS band_id,
         string_agg(sig::VARCHAR, ',' ORDER BY i) AS bkey
  FROM sigs GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.id_a
  JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       ROUND(i.n_inter / (sa.n + sb.n - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.id_a
JOIN sz sb ON sb.doc_id = i.id_b
WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= 0.8
"""


SQL_MINHASH_LSH_PAIRS = _sql_minhash_lsh_pairs()


def q_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-≤3 pairs in md5 hash mode: the per-token hash is
    md5-derived, so the DuckDB oracle rebuilds every 64-bit signature
    bit-for-bit and pins the full pair set (via brute-force Hamming —
    the pigeonhole bucketing is exact, so bucketed == brute force; the
    simhash_complete gate pins that equivalence on the engine side)."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"))


SQL_SIMHASH_PAIRS = f"""
WITH {_token_set('documents')},
hv AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tok
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM hv GROUP BY doc_id),
votes AS (
  SELECT doc_id, b, COUNT(*) FILTER (WHERE ((h >> b) & 1) = 1) AS ones
  FROM hv, range(0, 64) t(b) GROUP BY doc_id, b
),
sig AS (
  -- bit_or, not SUM: DuckDB's SUM over 64-bit-wide values goes through
  -- a float accumulator and silently drops low bits; the set positions
  -- are distinct powers of two, so bit_or IS the exact sum
  SELECT v.doc_id,
         bit_or(CASE WHEN 2 * v.ones > c.n
                     THEN (1::UBIGINT << b)
                     ELSE 0::UBIGINT END) AS sh
  FROM votes v JOIN cnt c USING (doc_id) GROUP BY v.doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


# ---- similarity ---------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-5 for the first 10 vectors as queries."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries)


# Top-k re-rank of the ANN oracles over `scored(query_id, nn_id, cos)`,
# ties broken by the smaller nn_id. Each oracle keeps its own cosine:
# list_cosine_similarity and the sequential list_dot_product fold pin
# different engine numerics.
_TOPK = f"""SELECT query_id, nn_id, rank FROM (
  SELECT query_id, nn_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, nn_id ASC) AS rank
  FROM scored
) WHERE rank <= {similarity.TOP_K}"""


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS nn_id,
         list_cosine_similarity(CAST(q.qvec AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS cos
  FROM q, embeddings c
  WHERE c.vec_id <> q.query_id
)
{_TOPK}
"""


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos >= 0.4, id_a < id_b) —
    the embedding-space analog of text near-dup detection, in its scale
    form: sign-LSH self-bucketing generates candidates (one bucket
    shuffle, never a cross product) and exact JVM cosine re-scores
    candidates only. Output ⊆ the exact pair set by construction; the
    seeded hyperplanes make recall deterministic, and at (3 planes × 32
    tables) it is 1.0 on the test corpora — pinned by the exact crossJoin
    SQL oracle and by pytest against the _exact baseline."""
    return similarity.lsh_near_dup_pairs(_t(spark, sf_dir, "embeddings"))


def q_embedding_near_dups_exact(spark, sf_dir):
    """Exact crossJoin baseline for q_embedding_near_dups (quadratic by
    design — the sf-scale oracle form, not the 100 TB form). Registry
    tail entry; shares the oracle with the LSH primary."""
    from geotiff_spark.operators.similarity import cosine

    emb = ensure_map_parallelism(_t(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= 0.4)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


SQL_EMBEDDING_NEAR_DUPS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.4
"""


def planted_embedding_corpus(spark, sf_dir):
    """Derived corpus with planted near-duplicates: every vector gets a
    perturbed copy v' = v + α·w (w = the embedding of (id*7+13) % 500,
    α = 0.15 + 0.10·(id % 7)), id' = id + 1,000,000. The α spread places
    planted pairs across cos ≈ 0.73–0.99, so a 0.9 threshold genuinely
    discriminates (at sf0.01: 287 of 500 planted pairs pass; no
    original-original pair does). Pure double arithmetic on existing
    vectors — bit-identical in Spark (zip_with) and DuckDB
    (list_transform(list_zip)), so the exact crossJoin oracle applies to
    the derived corpus too."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    w = emb.select(F.col("vec_id").alias("w_id"), F.col("v").alias("wv"))
    alpha = (F.lit(0.15) + F.lit(0.10) * (F.col("vec_id") % 7)).alias("alpha")
    pert = (
        emb.withColumn("w_id", (F.col("vec_id") * 7 + 13) % 500)
        .join(F.broadcast(w), "w_id")
        .withColumn("alpha", alpha)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.zip_with(
                "v", "wv", lambda x, y: x + F.col("alpha") * y
            ).alias("v"),
        )
    )
    return emb.unionByName(pert)


def q_embedding_near_dups_planted(spark, sf_dir):
    """Near-dup detection in the PRODUCTION regime: threshold 0.9 on a
    corpus with planted near-dups — the setting where sign-LSH actually
    prunes (measured at sf0.01: candidates = 4.1% of all pairs, ~24×
    pruning, recall 1.0 with every passing pair co-bucketed in ≥3 of the
    32 tables). Complements q_embedding_near_dups (threshold 0.4, the
    random-tail regime where no bucketing scheme can prune — see
    lsh_near_dup_pairs docstring). Same exact SQL oracle family: the
    planted corpus is SQL-derivable, so DuckDB crossJoins it exactly."""
    corpus = planted_embedding_corpus(spark, sf_dir)
    return similarity.lsh_near_dup_pairs(
        corpus, threshold=0.9, vec="v", n_planes=10,
    )


SQL_EMBEDDING_NEAR_DUPS_PLANTED = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
pert AS (
  SELECT b.vec_id + 1000000 AS vec_id,
         list_transform(
           list_zip(b.v, w.v),
           x -> x[1] + (0.15 + 0.10 * (b.vec_id % 7)) * x[2]
         ) AS v
  FROM base b JOIN base w ON w.vec_id = (b.vec_id * 7 + 13) % 500
),
corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM pert
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM corpus a, corpus b
WHERE a.vec_id < b.vec_id
  AND list_cosine_similarity(a.v, b.v) >= 0.9
"""


def q_dedup_keeper(spark, sf_dir):
    """Near-dup clustering lite: every doc's keeper = min(doc_id) among
    itself and its >=0.8-jaccard neighbors (one agg over the exact pairs).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    pairs = dedup.token_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.8
    )
    neigh = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("n_id")
    ).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("n_id"))
    )
    return (
        docs.join(neigh, "doc_id", "left")
        .groupBy("doc_id")
        .agg(F.min("n_id").alias("min_neighbor"))
        .select(
            "doc_id",
            F.least(
                F.col("doc_id"), F.coalesce(F.col("min_neighbor"), F.col("doc_id"))
            ).alias("keeper_id"),
        )
    )


SQL_DEDUP_KEEPER = f"""
WITH {_token_set('documents')},
{_jaccard_pairs(0.8)},
neigh AS (
  SELECT id_a AS doc_id, id_b AS n_id FROM pairs
  UNION ALL
  SELECT id_b AS doc_id, id_a AS n_id FROM pairs
)
SELECT d.doc_id AS doc_id,
       LEAST(d.doc_id, COALESCE(MIN(n.n_id), d.doc_id)) AS keeper_id
FROM documents d LEFT JOIN neigh n ON d.doc_id = n.doc_id
GROUP BY d.doc_id
"""


def q_chunk_dedup(spark, sf_dir):
    """Corpus-wide CHUNK-level exact dedup (CCNet-style paragraph dedup
    with a deterministic 10-token chunker standing in for paragraph
    boundaries — the test corpus is single-line): every 10-token chunk
    keeps only its FIRST occurrence corpus-wide (ordered by doc_id, then
    chunk position), and documents are reassembled from surviving
    chunks. Scale shape: chunking + hashing are row-local JVM
    expressions; the only shuffle is a first-occurrence-wins
    `groupBy(digest).agg(min(struct(doc_id, pos, chunk)))` — a
    PARTIAL-aggregatable min, so a boilerplate chunk repeated 10^9
    times corpus-wide collapses to one candidate per map task via the
    map-side combine BEFORE the exchange (the round-4 `row_number()`
    window over the same key would have routed all 10^9 occurrences to
    one task's sort — the skewed-key hazard VERDICT r04 flagged). At
    10^12 docs the exchange carries one (digest, winner) record per
    distinct chunk per task, never the corpus. Exact oracle: the
    first-occurrence window + ordered string_agg in DuckDB — identical
    winners, since min over (doc_id, pos) picks the same row as
    row_number()==1 under the same ordering and the digest determines
    the chunk bytes."""
    return chunk_dedup_frame(_t(spark, sf_dir, "documents"))


def chunks_frame(docs):
    """(doc_id, pos, chunk): the deterministic 10-token chunker that
    bloom_chunk_dedup and bloom_incremental_frame probe — row-local JVM
    expressions over the fanned-out docs, no other shuffle."""
    return _chunk_rows(ensure_map_parallelism(docs))


def _chunk_rows(docs):
    """The chunker's row-local expressions over `docs` as given; the
    caller owns the fan-out."""
    toks = textstats.tokens(F.col("text"))
    n_chunks = F.ceil(F.size(toks) / F.lit(10)).cast("int")
    # guard: sequence(0, -1) would COUNT DOWN in Spark, not be empty
    chunk_arr = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
        ),
    ).otherwise(F.array())
    return docs.select(
        "doc_id", F.posexplode(chunk_arr).alias("pos", "chunk")
    )


def chunk_dedup_frame(docs):
    """Chunk-level exact dedup over any (doc_id, text) frame — the
    engine core of :func:`q_chunk_dedup`, also benched directly over
    the 2M-row synthetic pages corpus (bench.py).

    Decision-plane / data-plane split (round-5 rewrite): the dedup
    DECISION shuffles only fixed-width values — (digest, doc_id, pos)
    triples through the partial-aggregatable first-occurrence min and
    one per-doc aggregation of the surviving positions — and the TEXT
    moves exactly once, in the
    final doc_id join that re-chunks each winning doc row-locally and
    keeps the marked positions. The previous form shipped full chunk
    text through BOTH the digest exchange and the reassembly exchange
    (~2.2× the corpus bytes on the wire vs ~1× plus narrow triples
    now); on one box that made the operator memory-bus-bound (N→4N
    efficiency 0.70 pre-rewrite — BENCH/BASELINE.md text-op scaling).
    Chunking and md5 cost grow with text length, so `docs` is fanned out
    first, and both the chunk stream and the final join read it."""
    docs = ensure_map_parallelism(docs)
    trip = _chunk_rows(docs).select(
        F.md5("chunk").alias("digest"), "doc_id", "pos"
    )
    # the per-digest winners ARE the kept set — collect each doc's
    # surviving positions straight off the first-occurrence min, no
    # join back against the chunk stream needed
    keep = (
        trip.groupBy("digest")
        .agg(F.min(F.struct("doc_id", "pos")).alias("w"))
        .groupBy(F.col("w.doc_id").alias("doc_id"))
        .agg(F.sort_array(F.collect_list("w.pos")).alias("keep_pos"))
    )
    toks = textstats.tokens(F.col("text"))
    # n_chunks is row-local (ceil(tokens/10)) — no second chunk scan;
    # zero-chunk docs are excluded, matching the oracle's totals CTE
    return (
        docs.withColumn(
            "n_chunks", F.ceil(F.size(toks) / F.lit(10)).cast("long")
        )
        .filter(F.col("n_chunks") > 0)
        .join(keep, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.size("keep_pos"), F.lit(0)).alias("n_kept"),
            F.when(
                F.col("keep_pos").isNull(), F.lit("")
            ).otherwise(
                F.concat_ws(
                    " ",
                    F.transform(
                        "keep_pos",
                        lambda p: F.concat_ws(
                            " ", F.slice(toks, p * 10 + 1, 10)
                        ),
                    ),
                )
            ).alias("new_text"),
        )
    )


# `chunks(doc_id, pos, chunk)`: the 10-token chunker of chunks_frame.
_CHUNKS = f"""{_TOKS},
chunks AS (
  SELECT doc_id, i AS pos,
         array_to_string(tk[i * 10 + 1 : i * 10 + 10], ' ') AS chunk
  FROM toks, UNNEST(range(CAST(CEIL(len(tk) / 10.0) AS BIGINT))) AS u(i)
)"""


SQL_CHUNK_DEDUP = f"""
WITH {_CHUNKS},
kept AS (
  SELECT doc_id, pos, chunk,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, pos) AS rn
  FROM chunks
),
reasm AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY pos) AS new_text
  FROM kept WHERE rn = 1 GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id)
SELECT t.doc_id, t.n_chunks,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.new_text, '') AS new_text
FROM totals t LEFT JOIN reasm r ON r.doc_id = t.doc_id
"""


# Bits per seed of q_bloom_chunk_dedup's filter (its oracle reads it too).
BLOOM_CHUNK_M = 4096


def q_bloom_chunk_dedup(spark, sf_dir):
    """Bloom-filter INCREMENTAL chunk dedup — dedup a new crawl batch
    against the whole historical corpus without joining against it.
    Historical docs (doc_id % 5 != 0) populate a partitioned Bloom
    filter over their 10-token chunks (k=4 md5-derived positions into
    m=4096-bit arrays); the new batch (doc_id % 5 == 0) probes it and
    reports, per doc, how many of its chunks were probably-seen. Scale
    shape: the history collapses to k packed m-bit arrays no matter how
    large it is (built once, reused every batch), the probe is one
    vectorized pass against their broadcast with zero exchange on the
    batch side, and the only batch shuffle is the per-doc count
    aggregation. The `n_seen_exact` column is gate instrumentation
    pinning the false-positive semantics (4096-bit arrays on ~1.9k historical chunks run
    at ~31% per-seed fill, so a few deterministic false positives are
    EXPECTED and the oracle reproduces them bit-for-bit); the
    production path returns the Bloom counts alone — broadcasting the
    exact historical digest set is precisely what the filter replaces.
    Bloom trade: over-drop (false positive) possible, under-drop
    impossible."""
    docs = _t(spark, sf_dir, "documents")
    packed = dedup.bloom_pack(
        chunks_frame(docs.filter(F.col("doc_id") % 5 != 0)), BLOOM_CHUNK_M)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    probed = dedup.bloom_membership(
        chunks_frame(new_docs), packed, BLOOM_CHUNK_M)
    hist_digests = (
        chunks_frame(docs.filter(F.col("doc_id") % 5 != 0))
        .select(F.md5("chunk").alias("digest")).distinct()
        .withColumn("_seen", F.lit(1))
    )
    per_doc = (
        probed.withColumn("digest", F.md5("chunk"))
        .join(F.broadcast(hist_digests), "digest", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("bloom_hit").alias("n_maybe_seen"),
            F.sum(
                F.when(F.col("_seen").isNotNull(), 1).otherwise(0)
            ).alias("n_seen_exact"),
        )
    )
    out = new_docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        F.coalesce("n_maybe_seen", F.lit(0)).alias("n_maybe_seen"),
        F.coalesce("n_seen_exact", F.lit(0)).alias("n_seen_exact"),
    )
    # keep the filter (and so its broadcasts) alive with the plan
    out._bloom_packed_owner = packed
    return out


SQL_BLOOM_CHUNK_DEDUP = f"""
WITH {_CHUNKS},
seeds AS (SELECT UNNEST(range(1, {dedup.BLOOM_K + 1})) AS seed),
hist_bits AS (
  SELECT DISTINCT seed,
         ('0x' || substring(md5(chunk || '#' || seed), 1, 8))::BIGINT
           % {BLOOM_CHUNK_M} AS pos
  FROM chunks CROSS JOIN seeds WHERE doc_id % 5 <> 0
),
hist_digests AS (
  SELECT DISTINCT md5(chunk) AS digest FROM chunks WHERE doc_id % 5 <> 0
),
new_probe AS (
  SELECT c.doc_id, c.pos AS cpos, c.chunk, s.seed,
         ('0x' || substring(md5(c.chunk || '#' || s.seed), 1, 8))::BIGINT
           % {BLOOM_CHUNK_M} AS bpos
  FROM chunks c CROSS JOIN seeds s WHERE c.doc_id % 5 = 0
),
per_chunk AS (
  SELECT n.doc_id, n.cpos,
         MAX(n.chunk) AS chunk,
         CASE WHEN COUNT(h.pos) = {dedup.BLOOM_K} THEN 1 ELSE 0 END AS bloom_hit
  FROM new_probe n
  LEFT JOIN hist_bits h ON h.seed = n.seed AND h.pos = n.bpos
  GROUP BY n.doc_id, n.cpos
),
per_doc AS (
  SELECT p.doc_id,
         COUNT(*) AS n_chunks,
         CAST(SUM(p.bloom_hit) AS BIGINT) AS n_maybe_seen,
         CAST(SUM(CASE WHEN d.digest IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_seen_exact
  FROM per_chunk p
  LEFT JOIN hist_digests d ON d.digest = md5(p.chunk)
  GROUP BY p.doc_id
)
SELECT doc.doc_id,
       COALESCE(pd.n_chunks, 0) AS n_chunks,
       COALESCE(pd.n_maybe_seen, 0) AS n_maybe_seen,
       COALESCE(pd.n_seen_exact, 0) AS n_seen_exact
FROM documents doc LEFT JOIN per_doc pd ON pd.doc_id = doc.doc_id
WHERE doc.doc_id % 5 = 0
"""


def bloom_incremental_frame(docs):
    """Production-shaped incremental chunk dedup over any (doc_id,
    text) frame — the engine core of :func:`q_bloom_chunk_dedup` at
    LARGE m, benched over the 2M-row synthetic pages corpus
    (bench.py). History docs (doc_id % 5 != 0) build the filter
    once: k=4 packed uint64 bitmaps of m=2^22 bits (driver collect
    bounded by k*m/64 words — 2 MB total), broadcast to a single
    vectorized Arrow probe over the new batch's chunks, so the batch
    side never shuffles to be filtered and the history is never joined
    against. Returns per new doc: (doc_id, n_chunks, n_maybe_seen)."""
    m = 1 << 22
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    packed = dedup.bloom_pack(chunks_frame(hist), m)
    probed = dedup.bloom_membership(chunks_frame(new_docs), packed, m)
    out = (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("bloom_hit").alias("n_maybe_seen"),
        )
    )
    # carry the filter pin onto the frame the caller holds: once the
    # caller drops it, the PackedBloom dies and its broadcasts are
    # auto-destroyed (the r06 leak fix) — no manual retire needed in
    # the build-once/probe-once shape
    out._bloom_packed_owner = packed
    return out


def q_trigram_lm_score(spark, sf_dir):
    """Char-trigram language-model scoring (the CCNet/KenLM-style
    perplexity quality filter, self-trained on the corpus): per doc,
    the total add-one-smoothed log-probability of its character
    trigrams under corpus-wide trigram/bigram counts. Cross-engine
    float determinism BY CONSTRUCTION: all aggregations are exact
    integers; the only float ops are one division, one ln and two
    multiplies per (doc, trigram-type) row — identical libm doubles in
    Spark and DuckDB (the proven tfidf pattern) — and each term is
    quantized to integer MICRO-nats BEFORE the per-doc sum, so the sum
    is order-independent and exact. Scale shape: trigram extraction is
    row-local JVM codegen; the count tables live on a BOUNDED domain
    (≤ charset³ ≈ low millions at web scale — broadcastable), so both
    groupBys partial-aggregate map-side and both joins broadcast; the
    per-doc aggregation is the only data-sized shuffle and carries
    (doc_id, two longs)."""
    docs = ensure_map_parallelism(_t(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull())
    tri = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.length("text") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - F.lit(2)),
                    lambda i: F.col("text").substr(i, F.lit(3)),
                ),
            ).otherwise(F.array())
        ).alias("g"),
    )
    tri_counts = tri.groupBy("g").agg(F.count(F.lit(1)).alias("c3"))
    big_counts = tri_counts.groupBy(
        F.substring("g", 1, 2).alias("p")
    ).agg(F.sum("c3").alias("c2"))
    doc_tri = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("n_g"))
    scored = (
        doc_tri.join(F.broadcast(tri_counts), "g")
        .withColumn("p", F.substring("g", 1, 2))
        .join(F.broadcast(big_counts), "p")
        .withColumn(
            "term_micro",
            F.round(
                F.col("n_g")
                * F.log((F.col("c3") + F.lit(1.0)) / (F.col("c2") + F.lit(96.0)))
                * F.lit(1000000.0)
            ).cast("long"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("n_g").alias("n_trigrams"),
        F.sum("term_micro").alias("logprob_micro"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        F.coalesce("logprob_micro", F.lit(0)).alias("logprob_micro"),
    )


SQL_TRIGRAM_LM_SCORE = """
WITH tri AS (
  SELECT doc_id, substring(text, CAST(i AS INTEGER), 3) AS g
  FROM documents, UNNEST(range(1, length(text) - 1)) AS u(i)
  WHERE text IS NOT NULL AND length(text) >= 3
),
tric AS (SELECT g, COUNT(*) AS c3 FROM tri GROUP BY 1),
bigc AS (
  SELECT substring(g, 1, 2) AS p, CAST(SUM(c3) AS BIGINT) AS c2
  FROM tric GROUP BY 1
),
doc_tri AS (SELECT doc_id, g, COUNT(*) AS n_g FROM tri GROUP BY 1, 2),
scored AS (
  SELECT d.doc_id, d.n_g,
         CAST(ROUND(d.n_g * LN((t.c3 + 1.0) / (b.c2 + 96.0)) * 1000000.0)
              AS BIGINT) AS term_micro
  FROM doc_tri d
  JOIN tric t USING (g)
  JOIN bigc b ON b.p = substring(d.g, 1, 2)
),
per_doc AS (
  SELECT doc_id, CAST(SUM(n_g) AS BIGINT) AS n_trigrams,
         CAST(SUM(term_micro) AS BIGINT) AS logprob_micro
  FROM scored GROUP BY 1
)
SELECT doc.doc_id,
       COALESCE(p.n_trigrams, 0) AS n_trigrams,
       COALESCE(p.logprob_micro, 0) AS logprob_micro
FROM documents doc LEFT JOIN per_doc p ON p.doc_id = doc.doc_id
WHERE doc.text IS NOT NULL
"""


def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing into 512-token context windows across 32
    hash buckets (see operators/packing.py for the scale design). The
    oracle reproduces the next-fit recurrence with a recursive CTE —
    exact, because packing is a pure integer function of (doc_id,
    n_tokens)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    with_tokens = docs.select(
        "doc_id", textstats.token_count(F.col("text")).alias("n_tokens")
    )
    return packing.pack_sequences(with_tokens)


def _next_fit_pack(counts: str) -> str:
    """The trailing CTEs and SELECT of a pack_sequences oracle (needs WITH
    RECURSIVE): next-fit packing of relation `counts(doc_id, n_tokens)`
    into packing.CAPACITY-token bins within packing.BUCKETS doc_id
    buckets, in doc_id order."""
    cap, buckets = packing.CAPACITY, packing.BUCKETS
    return f"""docs_t AS (
  SELECT doc_id, doc_id % {buckets} AS bucket, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % {buckets}
                            ORDER BY doc_id) AS rn
  FROM {counts}
),
pack AS (
  SELECT bucket, rn, doc_id, n_tokens,
         CAST(0 AS BIGINT) AS bin_id, n_tokens AS fill
  FROM docs_t WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN p.fill + d.n_tokens <= {cap}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + d.n_tokens <= {cap}
              THEN p.fill + d.n_tokens ELSE d.n_tokens END
  FROM pack p
  JOIN docs_t d ON d.bucket = p.bucket AND d.rn = p.rn + 1
)
SELECT doc_id, n_tokens, bucket, bin_id FROM pack"""


SQL_PACK_SEQUENCES = f"""
WITH RECURSIVE counts AS (
  SELECT doc_id, CAST(len({textstats.sql_tokens('lower(text)')}) AS BIGINT)
           AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
{_next_fit_pack('counts')}
"""


def q_rep_signals(spark, sf_dir):
    """Gopher-style repetition quality signals per document: duplicate
    2-gram and 3-gram fractions (1 − distinct/total) and the share of
    tokens covered by the single most frequent 2-gram. All token/n-gram
    work is row-local JVM; the top-gram count is one (doc_id, gram)
    aggregation + a per-doc max — at 10^12 docs the shuffle carries
    integer counts keyed by doc, never text. Fractions are single IEEE
    divisions of exact ints, so DuckDB reproduces them bit-for-bit."""
    return rep_signals_frame(_t(spark, sf_dir, "documents"))


def rep_signals_frame(docs):
    """Repetition signals over any (doc_id, text) frame — the engine
    core of :func:`q_rep_signals`, also benched over the 2M-row
    synthetic pages corpus (bench.py).

    Round 8: the five integer counts come from ONE Arrow batch pass
    (guide §4.2). The previous all-JVM form re-derived the token array
    five times per row and folded the top-bigram run through an
    interpreted higher-order aggregate (~24 s at 2M pages); one Python
    dict-count per doc over the same tokens is ~5× cheaper and still
    row-local — zero shuffle either way. The token split is
    textstats.WS, the class that textstats.tokens and the DuckDB
    oracle's textstats.sql_tokens are built from, so all three tokenize
    alike; every count is an exact integer, and the fraction arithmetic
    (division + round) stays in the SAME JVM expressions as before, so
    the output doubles are bit-identical to the previous form and to
    the oracle (equality pinned by tests/test_plan_shapes.py semantics
    test and the rep_signals oracle gate)."""
    import re

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("struct<n2:long,d2:long,n3:long,d3:long,top:long>")
    def counts_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        ws = re.compile(textstats.WS)
        for texts in it:
            n2 = []
            d2 = []
            n3 = []
            d3 = []
            top = []
            for t in texts:
                toks = [w for w in ws.split(t) if w] if t is not None else []
                n = len(toks)
                if n >= 2:
                    cnt: dict = {}
                    for p in zip(toks, toks[1:]):
                        cnt[p] = cnt.get(p, 0) + 1
                    n2.append(n - 1)
                    d2.append(len(cnt))
                    top.append(max(cnt.values()))
                else:
                    n2.append(0)
                    d2.append(0)
                    top.append(0)
                if n >= 3:
                    n3.append(n - 2)
                    d3.append(len(set(zip(toks, toks[1:], toks[2:]))))
                else:
                    n3.append(0)
                    d3.append(0)
            yield pd.DataFrame(
                {"n2": n2, "d2": d2, "n3": n3, "d3": d3, "top": top}
            )

    # nondeterministic: forbids alias-inlining the UDF into each field
    # extraction, which would re-plan the batch pass once per projected
    # column (same pathology as dedup.minhash_signatures, round 4)
    base = docs.select(
        "doc_id", counts_udf.asNondeterministic()(F.col("text")).alias("c")
    ).select(
        "doc_id",
        F.col("c.n2").alias("n_2g"),
        F.col("c.d2").alias("d_2g"),
        F.col("c.n3").alias("n_3g"),
        F.col("c.d3").alias("d_3g"),
        F.col("c.top").alias("top_c"),
    )
    return base.select(
        "doc_id",
        F.round(
            F.lit(1.0) - F.col("d_2g") / F.greatest("n_2g", F.lit(1)), 6
        ).alias("dup_2gram_frac"),
        F.round(
            F.lit(1.0) - F.col("d_3g") / F.greatest("n_3g", F.lit(1)), 6
        ).alias("dup_3gram_frac"),
        F.round(
            F.col("top_c") / F.greatest("n_2g", F.lit(1)), 6
        ).alias("top_2gram_frac"),
    )


SQL_REP_SIGNALS = f"""
WITH {_TOKS},
g AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 2 THEN
           [array_to_string(tk[i : i + 1], ' ')
            for i in range(1, len(tk))]
         ELSE [] END AS g2,
         CASE WHEN len(tk) >= 3 THEN
           [array_to_string(tk[i : i + 2], ' ')
            for i in range(1, len(tk) - 1)]
         ELSE [] END AS g3
  FROM toks
),
base AS (
  SELECT doc_id, len(g2) AS n_2g, len(list_distinct(g2)) AS d_2g,
         len(g3) AS n_3g, len(list_distinct(g3)) AS d_3g, g2
  FROM g
),
top AS (
  SELECT doc_id, MAX(c) AS top_c FROM (
    SELECT doc_id, gram, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(g2) AS gram FROM base)
    GROUP BY doc_id, gram
  ) GROUP BY doc_id
)
SELECT b.doc_id,
       ROUND(1.0 - d_2g / GREATEST(n_2g, 1), 6) AS dup_2gram_frac,
       ROUND(1.0 - d_3g / GREATEST(n_3g, 1), 6) AS dup_3gram_frac,
       ROUND(COALESCE(t.top_c, 0) / GREATEST(n_2g, 1), 6) AS top_2gram_frac
FROM base b LEFT JOIN top t ON t.doc_id = b.doc_id
"""


def q_url_domain_stats(spark, sf_dir):
    """Web-corpus shape: per-source doc stats (regexp'd key + agg)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_URL_DOMAIN_STATS = """
SELECT source, lang, COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 4) AS avg_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY source, lang
"""


def q_url_canonical_dedup(spark, sf_dir):
    """Canonical-URL dedup — the crawl-frontier primitive: URLs that
    differ only by scheme, host case, a `www.` prefix, a trailing
    slash, a fragment, or tracking query params (`utm_*`) are the same
    resource; canonicalize and keep the first crawl (min doc_id). The
    test tables carry no URL column, so six deterministic variants are
    constructed per doc from (source, doc_id) — exercising every
    canonicalization rule — and the oracle mirrors the construction.
    Canonicalization is a row-local JVM regexp chain (host extracted
    and lowercased separately so PATH case is preserved — lower() on
    the whole URL would be wrong); patterns are dialect-portable
    (Java regex vs RE2, the pii_scrub precedent; DuckDB side uses the
    'g' flag to match Spark's replace-all). Scale: zero-shuffle
    canonicalization + one canonical-keyed partial-aggregatable
    groupBy; at 10^12 URLs the exchange carries one (canonical,
    min-keeper, count) record per distinct resource per map task."""
    docs = _t(spark, sf_dir, "documents")
    v = F.pmod(F.col("doc_id"), F.lit(6))
    page = F.concat(
        F.lit("/page-"),
        F.pmod(F.col("doc_id"), F.lit(40)).cast("string"),
    )
    host_lc = F.concat(F.col("source"), F.lit(".example.com"))
    host_uc = F.upper(host_lc)
    url = (
        F.when(v == 0, F.concat(F.lit("https://www."), host_lc, page))
        .when(v == 1, F.concat(F.lit("http://"), host_lc, page))
        .when(v == 2, F.concat(F.lit("https://"), host_uc, page,
                               F.lit("/")))
        .when(v == 3, F.concat(F.lit("https://www."), host_lc, page,
                               F.lit("?utm_source=feed")))
        .when(v == 4, F.concat(F.lit("https://"), host_lc, page,
                               F.lit("#section-2")))
        .otherwise(F.concat(F.lit("https://www."), host_lc, page,
                            F.lit("?id=7")))
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url, r"^[a-zA-Z]+://([^/?#]*)", 1)),
        r"^www\.", "",
    )
    pq = F.regexp_extract(url, r"^[a-zA-Z]+://[^/?#]*([^#]*)", 1)
    pq = F.regexp_replace(pq, r"utm_[a-z_]+=[^&#]*&?", "")
    pq = F.regexp_replace(pq, r"[?&]$", "")
    pq = F.regexp_replace(pq, r"/$", "")
    canon = F.concat(host, pq)
    return (
        docs.select(F.col("doc_id"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("keeper_doc"),
        )
    )


SQL_URL_CANONICAL_DEDUP = r"""
WITH urls AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'https://www.' || source || '.example.com/page-'
                       || (doc_id % 40)
           WHEN 1 THEN 'http://' || source || '.example.com/page-'
                       || (doc_id % 40)
           WHEN 2 THEN 'https://' || UPPER(source || '.example.com')
                       || '/page-' || (doc_id % 40) || '/'
           WHEN 3 THEN 'https://www.' || source || '.example.com/page-'
                       || (doc_id % 40) || '?utm_source=feed'
           WHEN 4 THEN 'https://' || source || '.example.com/page-'
                       || (doc_id % 40) || '#section-2'
           ELSE 'https://www.' || source || '.example.com/page-'
                || (doc_id % 40) || '?id=7'
         END AS url
  FROM documents
),
canon AS (
  SELECT doc_id,
         regexp_replace(
           LOWER(regexp_extract(url, '^[a-zA-Z]+://([^/?#]*)', 1)),
           '^www\.', '')
         || regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_extract(url, '^[a-zA-Z]+://[^/?#]*([^#]*)', 1),
                  'utm_[a-z_]+=[^&#]*&?', '', 'g'),
                '[?&]$', '', 'g'),
              '/$', '', 'g') AS canonical_url
  FROM urls
)
SELECT canonical_url, COUNT(*) AS n_variants,
       MIN(doc_id) AS keeper_doc
FROM canon GROUP BY canonical_url
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-language top-10 terms by corpus TF-IDF — the term-weighting
    primitive of corpus analysis / quality filtering. Cross-engine float
    determinism by construction: per-term total TF and global DF are
    exact integers, so the only float ops are one division, one ln and
    one multiply (identical libm doubles in Spark and DuckDB); ranking
    orders by the unrounded score with a term tiebreak. Scale shape: two
    token-keyed aggregations + a broadcast of the 1-row corpus count;
    never a per-doc×per-term matrix."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang",
        F.explode(textstats.tokens(F.lower("text"))).alias("token"),
    )
    tf = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf_sum"))
    dfreq = (
        tok.select("doc_id", "token").distinct()
        .groupBy("token").agg(F.count(F.lit(1)).alias("df_cnt"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "raw", F.log(F.col("n_docs") / F.col("df_cnt")) * F.col("tf_sum")
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("raw"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("lang", "token", F.round("raw", 6).alias("score"), "rank")
    )


SQL_TFIDF_TOP_TERMS = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({textstats.sql_tokens('lower(text)')}) AS token
  FROM documents
),
tf AS (SELECT lang, token, COUNT(*) AS tf_sum FROM tok GROUP BY 1, 2),
dfreq AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df_cnt FROM tok GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.lang, tf.token, LN(n.n_docs / dfreq.df_cnt) * tf.tf_sum AS raw
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
SELECT lang, token, ROUND(raw, 6) AS score, rank FROM (
  SELECT lang, token, raw,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY raw DESC, token ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH approximate top-k in md5 plane mode: hyperplanes are
    md5-derived uniforms and the sign dots fold sequentially, so the
    DuckDB oracle rebuilds every bucket, candidate set, and the final
    ranking bit-for-bit (similarity.md5_planes). The seeded-Gaussian
    BLAS path stays the production default (ann_recall still gates it)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries, plane_mode="md5")


def _dot_cos(a: str, b: str) -> str:
    """Cosine of the DOUBLE[] expressions `a` and `b` through
    list_dot_product, which equals the engine's sequential float64 fold
    (the md5 ANN paths) bit for bit."""
    return (f"list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b})))")


# `emb(vec_id, e)` and, after the oracle's `cand(query_id, nn_id)`, the
# exact re-rank of the md5 ANN oracles.
_EMB = "emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"
_RERANK = f"""scored AS (
  SELECT cand.query_id, cand.nn_id, {_dot_cos('qe.e', 'ce.e')} AS cos
  FROM cand
  JOIN emb qe ON qe.vec_id = cand.query_id
  JOIN emb ce ON ce.vec_id = cand.nn_id
)
{_TOPK}"""


# DuckDB twin of q_ann_lsh_topk (similarity's LSH_TOPK_* layout, TOP_K):
# identical md5-derived planes, list_dot_product == the engine's
# sequential float64 fold (verified bit-exact), identical bucket ids
# (sum of sign bits + table offset), then exact cosine re-rank on the
# candidate union with the same (cos DESC, nn_id ASC) tie-break.
_LSH_P = similarity.LSH_TOPK_PLANES
_LSH_PLANES_TOTAL = _LSH_P * similarity.LSH_TOPK_TABLES
SQL_ANN_LSH_TOPK = f"""
WITH planes AS (
  SELECT j, d,
         ('0x' || substr(md5('plane:' || j || ':' || d), 1, 16))
           ::UBIGINT::DOUBLE / 18446744073709551616.0 - 0.5 AS w
  FROM range(0, {_LSH_PLANES_TOTAL}) t1(j), range(0, {similarity.LSH_TOPK_DIM}) t2(d)
),
pv AS (SELECT j, list(w ORDER BY d) AS p FROM planes GROUP BY j),
{_EMB},
sv AS (
  SELECT emb.vec_id, pv.j,
         CASE WHEN list_dot_product(emb.e, pv.p) > 0 THEN 1 ELSE 0 END AS s
  FROM emb, pv
),
buckets AS (
  SELECT vec_id,
         CAST(SUM(s * (1 << (j % {_LSH_P}))) + (j // {_LSH_P}) * {1 << _LSH_P} AS BIGINT) AS bucket
  FROM sv GROUP BY vec_id, j // {_LSH_P}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nn_id
  FROM buckets q JOIN buckets c USING (bucket)
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
),
{_RERANK}
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF top-k with the md5-anchor coarse quantizer (oracle-exact; see
    similarity.ivf_topk_md5). The spherical-k-means-trained variant
    stays exercised by ann_recall / ann_ivf_gate — this registry entry
    pins the inverted-list SEARCH machinery (assignment, probing,
    candidate join, re-rank) against a bit-for-bit DuckDB replay."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk_md5(emb, queries)


SQL_ANN_IVF_TOPK = f"""
WITH {_EMB},
anch AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS aid,
         e AS a
  FROM emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {similarity.N_CENTROIDS}
),
cosines AS (
  SELECT emb.vec_id, anch.aid, {_dot_cos('emb.e', 'anch.a')} AS cos
  FROM emb, anch
),
assigned AS (
  SELECT vec_id AS nn_id, aid AS cid FROM (
    SELECT vec_id, aid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, aid ASC) AS r
    FROM cosines) WHERE r = 1
),
probes AS (
  SELECT vec_id AS query_id, aid AS cid FROM (
    SELECT vec_id, aid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, aid ASC) AS r
    FROM cosines WHERE vec_id < 10) WHERE r <= {similarity.N_PROBE}
),
cand AS (
  SELECT p.query_id, a.nn_id
  FROM probes p JOIN assigned a USING (cid)
  WHERE a.nn_id <> p.query_id
),
{_RERANK}
"""


# ---- text analysis -------------------------------------------------------------

def q_minhash_recall(spark, sf_dir):
    """Driver-gate recall check for the probabilistic LSH path: verified
    LSH pairs must be a subset of the exact jaccard pairs (soundness) and
    recover >= 90% of them (recall). The emitted row is fully
    deterministic given those properties hold, so the DuckDB oracle can
    pin it: n_exact from SQL, both flags TRUE. A red row here means the
    LSH quality regressed, not just that it is 'probabilistic'."""
    docs = _t(spark, sf_dir, "documents")
    # each frame feeds two actions (count + anti-join) — materialize once
    exact = (
        dedup.token_jaccard_pairs(docs, threshold=0.7)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    lsh = (
        dedup.minhash_lsh_pairs(docs, threshold=0.7, shingle=1)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_exact = exact.count()
    n_lsh = lsh.count()
    n_outside = lsh.join(exact, ["id_a", "id_b"], "left_anti").count()
    return spark.createDataFrame(
        [(n_exact, n_outside == 0, n_lsh >= 0.9 * n_exact)],
        "n_exact long, subset_ok boolean, recall_ok boolean",
    )


SQL_MINHASH_RECALL = f"""
WITH {_token_set('documents')},
{_jaccard_pairs(0.7)}
SELECT COUNT(*) AS n_exact, TRUE AS subset_ok, TRUE AS recall_ok FROM pairs
"""


def q_simhash_complete(spark, sf_dir):
    """The pigeonhole Hamming search is EXACT, so its output must equal
    the brute-force all-pairs hamming filter over the same signatures -
    both directions (complete and sound). Signature values are
    engine-specific, but the equality flags and the signature row count
    are deterministic, so the oracle pins them."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(docs).localCheckpoint(eager=True)
    bucketed = dedup.simhash_pairs_from_sigs(sigs, 3).select(
        "id_a", "id_b", "hamming"
    )
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
    )
    missing = brute.exceptAll(bucketed).count()
    extra = bucketed.exceptAll(brute).count()
    return spark.createDataFrame(
        [(sigs.count(), missing == 0, extra == 0)],
        "n_docs long, complete_ok boolean, sound_ok boolean",
    )


SQL_SIMHASH_COMPLETE = f"""
SELECT COUNT(*) AS n_docs, TRUE AS complete_ok, TRUE AS sound_ok
FROM documents
WHERE len({textstats.sql_tokens('text')}) > 0
"""


def _exact_top5(emb, queries):
    """Exact brute-force top-5 (query_id, nn_id) that the ANN gates
    score against, materialized once: each gate reads it more than once
    (a count plus one join per approximate variant)."""
    return (
        similarity.brute_force_topk(emb, queries)
        .select("query_id", "nn_id")
        .localCheckpoint(eager=True)
    )


def q_ann_recall(spark, sf_dir):
    """Recall gate for both ANN variants vs exact brute force (k=5,
    10 queries): flags pinned TRUE by the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _exact_top5(emb, queries)
    n_exact = exact.count()

    def recall(approx):
        hits = approx.select("query_id", "nn_id").join(
            exact, ["query_id", "nn_id"]
        ).count()
        return hits / n_exact

    r_lsh = recall(similarity.lsh_topk(emb, queries))
    r_ivf = recall(similarity.ivf_topk(emb, queries))
    return spark.createDataFrame(
        [(n_exact, r_lsh >= 0.5, r_ivf >= 0.5)],
        "n_exact long, lsh_recall_ok boolean, ivf_recall_ok boolean",
    )


SQL_ANN_RECALL = f"""
SELECT CAST({similarity.TOP_K} * COUNT(DISTINCT vec_id) AS BIGINT) AS n_exact,
       TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok
FROM embeddings WHERE vec_id < 10
"""


def q_ann_ivf_gate(spark, sf_dir):
    """IVF-specific driver gate (its own named companion, separate from
    the shared ann_recall row): (a) recall vs exact brute force >= 0.5 at
    similarity.N_PROBE lists, and (b) *soundness of the probe structure* — every
    returned neighbor must live in an inverted list the query probed.
    Training is deterministic (centroids seeded from the lowest-key
    vectors, fixed Lloyd iterations), so re-deriving the assignment
    reproduces ivf_topk's internal state exactly and the flags are
    deterministic; the oracle pins them TRUE and pins n_exact."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _exact_top5(emb, queries)
    n_exact = exact.count()
    res = similarity.ivf_topk(emb, queries).localCheckpoint(eager=True)
    hits = res.select("query_id", "nn_id").join(
        exact, ["query_id", "nn_id"]
    ).count()
    # independent re-derivation of the probe structure
    cents = similarity.train_ivf_centroids(spark, emb)
    one = similarity._assign_udf(spark, cents, 1)
    probe = similarity._assign_udf(spark, cents, similarity.N_PROBE)
    c_assign = emb.select(
        F.col("vec_id").alias("nn_id"), one(F.col("embedding"))[0].alias("cid")
    )
    q_probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(probe(F.col("embedding"))).alias("cid"),
    )
    n_unsound = (
        res.join(c_assign, "nn_id")
        .join(q_probes, ["query_id", "cid"], "left_anti")
        .count()
    )
    return spark.createDataFrame(
        [(n_exact, hits >= 0.5 * n_exact, n_unsound == 0)],
        "n_exact long, ivf_recall_ok boolean, probes_sound_ok boolean",
    )


SQL_ANN_IVF_GATE = f"""
SELECT CAST({similarity.TOP_K} * COUNT(DISTINCT vec_id) AS BIGINT) AS n_exact,
       TRUE AS ivf_recall_ok, TRUE AS probes_sound_ok
FROM embeddings WHERE vec_id < 10
"""


def q_token_count(spark, sf_dir):
    """Both token-count variants the pipeline reports: whitespace tokens
    and the BPE-ish pre-tokenizer count (subword-cost estimator). The
    regex is lookaround-free so Java regex (Spark) and RE2 (DuckDB)
    match identically — pinned by the shared-pattern oracle."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("n_tokens"),
        textstats.bpe_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       len({textstats.sql_tokens('lower(text)')}) AS n_tokens,
       len(regexp_extract_all(text, {textstats.sql_regex(textstats.BPE_REGEX)}))
         AS n_bpe_tokens
FROM documents
"""


def q_language_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return textstats.language_scores(docs).select(
        "doc_id", "score_en", "score_de", "score_fr", "score_es", "pred_lang"
    )


def _sql_stopword_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang])
    toks = textstats.sql_tokens("lower(text)")
    return f"len(list_intersect(list_distinct({toks}), [{words}]))"


SQL_LANGUAGE_ID = f"""
WITH scored AS (
  SELECT doc_id,
         {_sql_stopword_hits('en')} AS score_en,
         {_sql_stopword_hits('de')} AS score_de,
         {_sql_stopword_hits('fr')} AS score_fr,
         {_sql_stopword_hits('es')} AS score_es
  FROM documents
),
long AS (
  SELECT doc_id, 'en' AS l, score_en AS s FROM scored
  UNION ALL SELECT doc_id, 'de', score_de FROM scored
  UNION ALL SELECT doc_id, 'fr', score_fr FROM scored
  UNION ALL SELECT doc_id, 'es', score_es FROM scored
),
best AS (
  SELECT doc_id, l AS pred_lang FROM (
    SELECT doc_id, l,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, l DESC) AS rn
    FROM long
  ) WHERE rn = 1
)
SELECT s.doc_id AS doc_id, score_en, score_de, score_fr, score_es, pred_lang
FROM scored s JOIN best USING (doc_id)
"""


def q_quality_features(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return textstats.quality_features(docs).select(
        "doc_id", "n_chars_m", "n_tokens", "mean_tok_len",
        "digit_ratio", "stopword_ratio",
    )


SQL_QUALITY_FEATURES = f"""
WITH base AS (
  SELECT doc_id, text,
         len(text) AS n_chars_m,
         len({textstats.sql_tokens('lower(text)')}) AS n_tokens
  FROM documents
)
SELECT doc_id, n_chars_m, n_tokens,
       ROUND(len(regexp_replace(text, {textstats.sql_regex(textstats.WS)}, '', 'g')) / GREATEST(n_tokens, 1), 6) AS mean_tok_len,
       ROUND(len(regexp_replace(text, '[^0-9]', '', 'g')) / GREATEST(n_chars_m, 1), 6) AS digit_ratio,
       ROUND({_sql_stopword_hits('en')} / GREATEST(n_tokens, 1), 6) AS stopword_ratio
FROM base
"""


def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_t(spark, sf_dir, "documents"))


SQL_FINGERPRINT = f"""
SELECT doc_id, md5(text) AS digest,
       MIN(md5(substr(text, i, {textstats.FINGERPRINT_SHINGLE}))) AS min_shingle_hash
FROM (
  SELECT doc_id, text,
         unnest(range(1, GREATEST(len(text) - {textstats.FINGERPRINT_SHINGLE - 1}, 1) + 1)) AS i
  FROM documents
)
GROUP BY doc_id, text
"""


def q_decontaminate(spark, sf_dir):
    """Train-set decontamination (standard LLM training-data hygiene:
    Gopher / GPT-3 style): flag every training document sharing any
    8-token shingle with the held-out evaluation set (docs with
    doc_id % 50 == 0 stand in for the benchmark suite). Scale shape:
    eval shingles hash to 64-bit and BROADCAST (the eval set is tiny
    next to the corpus — benchmark suites are ~10^5 docs against 10^12
    training docs), so the train side is one row-local shingle pass +
    a broadcast LEFT SEMI membership probe per shingle and ONE
    aggregation keyed by doc — no train-side text ever shuffles. Exact
    oracle: the same shingle sets in DuckDB via a plain anti/semi
    join."""
    docs = ensure_map_parallelism(_t(spark, sf_dir, "documents"))
    toks = textstats.tokens(F.col("text"))
    grams = F.when(
        F.size(toks) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(7)),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, 8))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))

    eval_grams = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    train = docs.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.explode_outer(grams).alias("g")
    )
    hits = (
        train.join(F.broadcast(eval_grams), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_grams", F.lit(0)).alias(
                "n_contaminated_grams"),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias(
                "contaminated"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH {_TOKS},
grams AS (
  SELECT doc_id,
         array_to_string(tk[i : i + 7], ' ') AS gram
  FROM toks, UNNEST(range(1, len(tk) - 6)) AS u(i)
  WHERE len(tk) >= 8
),
eval_grams AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0
),
hits AS (
  SELECT g.doc_id, COUNT(*) AS n_contaminated_grams
  FROM grams g JOIN eval_grams e ON g.gram = e.gram
  WHERE g.doc_id % 50 <> 0
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_contaminated_grams, 0) AS n_contaminated_grams,
       COALESCE(h.n_contaminated_grams, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


# dialect-portable redaction patterns (identical under Java regex and
# DuckDB RE2: no lookaround, no backreferences)
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_DIGITS = r"[0-9]{9,}"


def q_substring_dedup(spark, sf_dir):
    """Exact substring dedup (Lee et al. 2022 ExactSubstr): remove every
    character covered by a 50-char window that occurs ≥2 times
    corpus-wide. Position-exact — no chunk-boundary or tokenization
    blind spots (dedup.exact_substring_dedup)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_substring_dedup(docs)


def _substring_dedup(fps: str, select: str = "") -> str:
    """ExactSubstr oracle: `win(doc_id, i, d)` holds the digest of every
    50-char window, `select` adds CTEs that pick the fingerprints
    `fps(doc_id, i, d)` out of it, and every character covered by a
    fingerprint whose digest occurs twice or more is removed."""
    return f"""
WITH docs_t AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
),
win AS (
  SELECT doc_id, i, substr(md5(substr(text, CAST(i AS INT), 50)), 1, 16) AS d
  FROM docs_t, unnest(range(1, len(text) - 48)) t(i)
),{select}
dup AS (SELECT d FROM {fps} GROUP BY d HAVING COUNT(*) >= 2),
cover AS (
  SELECT DISTINCT f.doc_id, f.i + o AS p
  FROM {fps} f JOIN dup USING (d), range(0, 50) t(o)
),
chars AS (
  SELECT doc_id, p, substr(text, CAST(p AS INT), 1) AS ch
  FROM docs_t, unnest(range(1, len(text) + 1)) t(p)
),
cleaned AS (
  SELECT c.doc_id,
         COALESCE(
           string_agg(CASE WHEN v.p IS NULL THEN c.ch END, ''
                      ORDER BY c.p),
           '') AS cleaned
  FROM chars c LEFT JOIN cover v ON v.doc_id = c.doc_id AND v.p = c.p
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       CAST(len(d.text) AS INT) AS n_chars,
       CAST(len(d.text) - len(COALESCE(cl.cleaned, d.text)) AS INT)
         AS n_removed,
       CAST(len(COALESCE(cl.cleaned, d.text)) AS INT) AS cleaned_len,
       md5(COALESCE(cl.cleaned, d.text)) AS cleaned_md5
FROM docs_t d LEFT JOIN cleaned cl USING (doc_id)
"""


SQL_SUBSTRING_DEDUP = _substring_dedup("win")


def q_substring_dedup_sampled(spark, sf_dir):
    """Winnowed ExactSubstr (Schleimer et al. 2003 selection over Lee
    et al. 2022 spans): only the leftmost-minimal digest per sliding
    window of 8 fingerprint positions is shuffled (~2/9 of exhaustive
    volume); any duplicated span of length ≥ 57 (= k + w - 1) is still
    caught deterministically. The 100-TB fingerprint-volume knob."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_substring_dedup(docs, winnow=8)


SQL_SUBSTRING_DEDUP_SAMPLED = _substring_dedup("selected", """
npos AS (
  SELECT doc_id, len(text) - 49 AS n_pos FROM docs_t WHERE len(text) >= 50
),
mins AS (
  SELECT doc_id, i AS j,
         min(d) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wd
  FROM win
),
valid AS (
  SELECT m.doc_id, m.j, m.wd
  FROM mins m JOIN npos USING (doc_id)
  WHERE m.j <= greatest(1, n_pos - 7)
),
sel AS (
  SELECT DISTINCT doc_id, i FROM (
    SELECT v.doc_id, v.j, min(w2.i) AS i
    FROM valid v JOIN win w2 ON w2.doc_id = v.doc_id
         AND w2.i BETWEEN v.j AND v.j + 7 AND w2.d = v.wd
    GROUP BY v.doc_id, v.j)
),
selected AS (
  SELECT s.doc_id, s.i, w.d
  FROM sel s JOIN win w ON w.doc_id = s.doc_id AND w.i = s.i
),""")


def q_bpe_encode(spark, sf_dir):
    """Real merges-table BPE apply (operators/bpe.py): per-doc word and
    BPE-token counts under the fixed DEFAULT_MERGES vocabulary. The
    DuckDB oracle replays the greedy merge loop exactly with a
    recursive CTE over separator-joined token states (first-occurrence
    string surgery == bpe_apply's leftmost-lowest-rank step)."""
    return bpe.bpe_encode_counts(_t(spark, sf_dir, "documents"))


# CTEs of the BPE oracles (need WITH RECURSIVE), replaying bpe_apply's
# greedy merge loop over DEFAULT_MERGES: `docw(doc_id, w)` holds every
# word occurrence, split on bpe._WORD_SEP, and `final(word, n_tok)` the
# BPE token count of each distinct word. A state is the word's tokens
# joined and framed by chr(31); each step rewrites the first occurrence
# of the lowest-rank pair present (== bpe_apply's leftmost-lowest-rank
# step).
_BPE_MERGES = ",\n  ".join(
    f"({i}, '{l}', '{r}')" for i, (l, r) in enumerate(bpe.DEFAULT_MERGES)
)
_BPE_WORDS = f"""merges(rank, l, r) AS (VALUES
  {_BPE_MERGES}
),
docw AS (
  SELECT doc_id, unnest({textstats.sql_tokens('text', sep=bpe._WORD_SEP)}) AS w
  FROM documents WHERE text IS NOT NULL
),
words(word) AS (SELECT DISTINCT w FROM docw),
enc AS (
  SELECT word,
         chr(31) || array_to_string(
           list_transform(range(1, len(word) + 1), i -> word[i:i]),
           chr(31)) || chr(31) AS state
  FROM words
  UNION ALL
  SELECT word,
         substr(state, 1,
                strpos(state, chr(31)||m.l||chr(31)||m.r||chr(31)) - 1)
           || chr(31) || m.l || m.r || chr(31)
           || substr(state,
                     strpos(state, chr(31)||m.l||chr(31)||m.r||chr(31))
                     + len(chr(31)||m.l||chr(31)||m.r||chr(31)))
  FROM (
    SELECT e.word, e.state,
           (SELECT m2.rank FROM merges m2
            WHERE contains(e.state, chr(31)||m2.l||chr(31)||m2.r||chr(31))
            ORDER BY m2.rank LIMIT 1) AS best
    FROM enc e
  ) e JOIN merges m ON m.rank = e.best
),
final AS (
  SELECT word,
         len(list_filter(string_split(state, chr(31)), t -> t <> ''))
           AS n_tok
  FROM enc e
  WHERE NOT EXISTS (
    SELECT 1 FROM merges m
    WHERE contains(e.state, chr(31)||m.l||chr(31)||m.r||chr(31)))
)"""


SQL_BPE_ENCODE = f"""
WITH RECURSIVE {_BPE_WORDS},
per_doc AS (
  SELECT d.doc_id, COUNT(*) AS n_words, SUM(f.n_tok) AS n_bpe_tokens
  FROM docw d JOIN final f ON f.word = d.w
  GROUP BY d.doc_id
)
SELECT doc.doc_id,
       CAST(COALESCE(p.n_words, 0) AS INT) AS n_words,
       CAST(COALESCE(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) doc
LEFT JOIN per_doc p USING (doc_id)
"""


def q_pack_sequences_bpe(spark, sf_dir):
    """Sequence packing keyed on REAL BPE token counts (the production
    pairing: context windows are budgeted in model tokens, not
    whitespace words): bpe_encode_counts feeds pack_sequences. Same
    next-fit recurrence, same 512/32 shape as pack_sequences."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    counts = bpe.bpe_encode_counts(docs).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    return packing.pack_sequences(counts)


# The BPE merge replay composed with the next-fit pack recursion: two
# recursive CTEs in one WITH RECURSIVE.
SQL_PACK_SEQUENCES_BPE = f"""
WITH RECURSIVE {_BPE_WORDS},
per_doc AS (
  SELECT doc.doc_id, CAST(COALESCE(SUM(f.n_tok), 0) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) doc
  LEFT JOIN docw d ON d.doc_id = doc.doc_id
  LEFT JOIN final f ON f.word = d.w
  GROUP BY doc.doc_id
),
{_next_fit_pack('per_doc')}
"""


def q_repeated_ngrams(spark, sf_dir):
    """Cross-boundary repeated-substring mining: the top-50 repeated
    13-token grams corpus-wide (dedup.repeated_ngram_mine) — catches
    duplicated passages that straddle chunk_dedup's fixed 10-token
    boundaries (VERDICT r05 'What's missing' #6)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return dedup.repeated_ngram_mine(docs)


SQL_REPEATED_NGRAMS = f"""
WITH toks AS (
  SELECT doc_id, {textstats.sql_tokens('text')} AS tk
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id,
         array_to_string(tk[CAST(i AS INT):CAST(i + {dedup.NGRAM_N - 1} AS INT)], ' ') AS gram
  FROM toks, unnest(range(1, len(tk) - {dedup.NGRAM_N - 2})) t(i)
),
agg AS (
  SELECT MIN(gram) AS gram, COUNT(*) AS n_occ,
         COUNT(DISTINCT doc_id) AS n_docs
  FROM g GROUP BY md5(gram)
  HAVING COUNT(*) >= {dedup.NGRAM_MIN_COUNT}
)
SELECT gram, n_docs, n_occ, rank FROM (
  SELECT gram, n_docs, n_occ,
         ROW_NUMBER() OVER (ORDER BY n_occ DESC, gram ASC) AS rank
  FROM agg
) WHERE rank <= {dedup.NGRAM_TOP_N}
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing pass (training-data hygiene): redact email
    addresses and ≥9-digit numeric runs (phone/ID shapes), counting
    redactions per document. Pure row-local JVM regexp work — at 10^12
    docs this is a map with zero shuffle (the driver-gate projection
    keeps doc_id + counts + a scrubbed-text hash rather than shipping
    scrubbed text to the comparator). Patterns are dialect-portable
    (no lookaround/backrefs) so DuckDB's RE2 reproduces Java's regex
    byte-for-byte on them."""
    docs = ensure_map_parallelism(_t(spark, sf_dir, "documents"))
    n_email = F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0))
    scrub1 = F.regexp_replace("text", _PII_EMAIL, "<EMAIL>")
    n_digits = F.size(
        F.regexp_extract_all(scrub1, F.lit(_PII_DIGITS), 0)
    )
    scrubbed = F.regexp_replace(scrub1, _PII_DIGITS, "<NUMBER>")
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        n_digits.alias("n_long_digit_runs"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


SQL_PII_SCRUB = (
    "SELECT doc_id, "
    f"len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails, "
    f"len(regexp_extract_all(regexp_replace(text, '{_PII_EMAIL}', "
    f"'<EMAIL>', 'g'), '{_PII_DIGITS}')) AS n_long_digit_runs, "
    f"md5(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', "
    f"'g'), '{_PII_DIGITS}', '<NUMBER>', 'g')) AS scrubbed_md5, "
    f"length(regexp_replace(regexp_replace(text, '{_PII_EMAIL}', "
    f"'<EMAIL>', 'g'), '{_PII_DIGITS}', '<NUMBER>', 'g')) AS scrubbed_len "
    "FROM documents"
)


def textdata_queries():
    return {
        "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
        "token_jaccard_pairs": (q_token_jaccard_pairs, SQL_TOKEN_JACCARD_PAIRS),
        "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, SQL_NGRAM_JACCARD_PAIRS),
        "dedup_components": (q_dedup_components, SQL_DEDUP_COMPONENTS),
        "corpus_curation": (q_corpus_curation, SQL_CORPUS_CURATION),
        "train_split": (q_train_split, SQL_TRAIN_SPLIT),
        "mixture_sample": (q_mixture_sample, SQL_MIXTURE_SAMPLE),
        "url_canonical_dedup": (q_url_canonical_dedup, SQL_URL_CANONICAL_DEDUP),
        "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
        "simhash_pairs": (q_simhash_pairs, SQL_SIMHASH_PAIRS),
        "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
        "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
        "ann_ivf_topk": (q_ann_ivf_topk, SQL_ANN_IVF_TOPK),
        "minhash_recall": (q_minhash_recall, SQL_MINHASH_RECALL),
        "simhash_complete": (q_simhash_complete, SQL_SIMHASH_COMPLETE),
        "ann_recall": (q_ann_recall, SQL_ANN_RECALL),
        "ann_ivf_gate": (q_ann_ivf_gate, SQL_ANN_IVF_GATE),
        "embedding_near_dups": (q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS),
        "embedding_near_dups_planted": (
            q_embedding_near_dups_planted, SQL_EMBEDDING_NEAR_DUPS_PLANTED),
        "dedup_keeper": (q_dedup_keeper, SQL_DEDUP_KEEPER),
        "chunk_dedup": (q_chunk_dedup, SQL_CHUNK_DEDUP),
        "bloom_chunk_dedup": (q_bloom_chunk_dedup, SQL_BLOOM_CHUNK_DEDUP),
        "trigram_lm_score": (q_trigram_lm_score, SQL_TRIGRAM_LM_SCORE),
        "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
        "rep_signals": (q_rep_signals, SQL_REP_SIGNALS),
        "repeated_ngrams": (q_repeated_ngrams, SQL_REPEATED_NGRAMS),
        "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
        "pack_sequences_bpe": (q_pack_sequences_bpe, SQL_PACK_SEQUENCES_BPE),
        "substring_dedup": (q_substring_dedup, SQL_SUBSTRING_DEDUP),
        "substring_dedup_sampled": (
            q_substring_dedup_sampled, SQL_SUBSTRING_DEDUP_SAMPLED),
        "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
        "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
        "url_domain_stats": (q_url_domain_stats, SQL_URL_DOMAIN_STATS),
        "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
        "token_count": (q_token_count, SQL_TOKEN_COUNT),
        "language_id": (q_language_id, SQL_LANGUAGE_ID),
        "quality_features": (q_quality_features, SQL_QUALITY_FEATURES),
        "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
        # exact quadratic baselines of the LSH-primary queries above —
        # same oracles, registry TAIL entries (outside the driver's
        # checked window by design; the primaries prove the oracle)
        "dedup_components_exact": (q_dedup_components_exact, SQL_DEDUP_COMPONENTS),
        "corpus_curation_exact": (q_corpus_curation_exact, SQL_CORPUS_CURATION),
        "embedding_near_dups_exact": (
            q_embedding_near_dups_exact, SQL_EMBEDDING_NEAR_DUPS),
    }
