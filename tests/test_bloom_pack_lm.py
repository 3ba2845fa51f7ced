"""Crafted-semantics tests for the round-5 pipeline operators:
Bloom-filter incremental dedup, greedy sequence packing, and the
char-trigram LM scorer. The sf0.01 driver oracle pins the full-corpus
behavior; these pin the edge cases a 500-doc corpus may not hit."""

import hashlib
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotiff_spark.operators import dedup, packing


def _bloom_pos_py(value: str, seed: int, m: int) -> int:
    """Reference positions: must equal the JVM expression exactly."""
    h = hashlib.md5(f"{value}#{seed}".encode()).hexdigest()
    return int(h[:8], 16) % m


def test_bloom_positions_match_python_md5(spark):
    df = spark.createDataFrame(
        [("hello world",), ("",), ("ünïcode",)], ["text"]
    )
    out = df.select(
        "text", *[dedup.bloom_positions("text", s, 4096) for s in (1, 2, 3)]
    ).collect()
    for row in out:
        for s in (1, 2, 3):
            assert row[f"pos_{s}"] == _bloom_pos_py(row["text"], s, 4096)


def test_bloom_no_false_negatives_and_fp_is_possible(spark):
    """Every historical value must hit (no false negatives — the Bloom
    guarantee); with a deliberately tiny m, at least one unseen value
    must false-positive, proving the filter actually compresses."""
    hist_vals = [f"doc-{i}" for i in range(64)]
    new_vals = hist_vals[:8] + [f"unseen-{i}" for i in range(256)]
    hist = spark.createDataFrame([(v,) for v in hist_vals], ["chunk"])
    new = spark.createDataFrame([(v,) for v in new_vals], ["chunk"])
    m = 64  # tiny on purpose: ~63% per-seed fill
    packed = dedup.bloom_pack(hist, m)
    out = {
        r["chunk"]: r["bloom_hit"]
        for r in dedup.bloom_membership(new, packed, m).collect()
    }
    assert all(out[v] == 1 for v in hist_vals[:8]), "false negative!"
    unseen_hits = sum(out[f"unseen-{i}"] for i in range(256))
    assert 0 < unseen_hits < 256, (
        f"expected some (not all) false positives at m={m}, "
        f"got {unseen_hits}/256"
    )


def test_bloom_bit_set_is_bounded_and_null_safe(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), (None,)], ["chunk"]
    )
    m, k = 16, dedup.BLOOM_K
    packed = dedup.bloom_pack(df, m)
    assert sorted(packed) == list(range(1, k + 1))
    bits = [
        (s, w * 64 + b)
        for s, words in packed.items()
        for w, word in enumerate(words.tolist())
        for b in range(64) if word >> b & 1
    ]
    # distinct values × seeds, minus collisions; every bit inside m
    assert len(bits) <= 2 * k
    assert all(pos < m for _, pos in bits)
    nulls = spark.createDataFrame([(None,), (None,)], "chunk string")
    assert not any(
        words.any() for words in dedup.bloom_pack(nulls, m).values()
    )


def test_pack_sequences_greedy_semantics(spark):
    """Next-fit greedy within one bucket: bins break exactly where the
    running fill would exceed capacity; an oversized doc gets a bin of
    its own without erroring."""
    rows = [  # all doc_ids ≡ 0 (mod 32) → one bucket, ordered packing
        (0, 300), (32, 200),         # 300+200=500 ≤ 512 → bin 0
        (64, 100),                   # 500+100 > 512 → bin 1
        (96, 9000),                  # oversized → bin 2 alone
        (128, 512),                  # 9000+512 > 512 → bin 3 (exact fit)
        (160, 1),                    # 512+1 > 512 → bin 4
    ]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = packing.pack_sequences(df).orderBy("doc_id").collect()
    assert [r["bin_id"] for r in out] == [0, 0, 1, 2, 3, 4]
    assert all(r["bucket"] == 0 for r in out)


def test_pack_sequences_buckets_are_independent(spark):
    rows = [(i, 256) for i in range(64)]  # 2 docs in each of 32 buckets
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = packing.pack_sequences(df).collect()
    # 256+256 = 512 fits → every bucket packs its two docs into bin 0
    assert all(r["bin_id"] == 0 for r in out)
    assert sorted(set(r["bucket"] for r in out)) == list(range(32))


def test_trigram_lm_score_matches_hand_computation(spark, tmp_path):
    """Two tiny docs; trigram/bigram counts and the smoothed score are
    small enough to compute by hand in Python floats (same libm)."""
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["ababa", "abab", "xy"],  # doc 2: too short → 0 trigrams
        "lang": ["en"] * 3, "source": ["t"] * 3,
        "n_chars": [5, 4, 2],
    })
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    from geotiff_spark.queries_textdata import q_trigram_lm_score
    out = {
        r["doc_id"]: (r["n_trigrams"], r["logprob_micro"])
        for r in q_trigram_lm_score(spark, sf).collect()
    }
    # corpus trigrams: aba×2, bab×1 (doc0) + aba×1, bab×1 (doc1)
    c3 = {"aba": 3, "bab": 2}
    c2 = {"ab": 3, "ba": 2}
    def term(g, n_g):
        return round(n_g * math.log((c3[g] + 1.0) / (c2[g[:2]] + 96.0))
                     * 1e6)
    assert out[0] == (3, term("aba", 2) + term("bab", 1))
    assert out[1] == (2, term("aba", 1) + term("bab", 1))
    assert out[2] == (0, 0)


def test_mixture_sample_rates_and_determinism(spark, tmp_path):
    """Mixture sampling semantics: de (rate 1.0) keeps exactly one copy
    of every doc; zh (rate 2.25) keeps 2 or 3 copies per doc; es
    (rate 0.4) keeps 0 or 1; emitted rows per doc equal the closed-form
    hash decision recomputed in Python; and the whole thing is
    reproducible across two runs."""
    docs = pd.DataFrame({
        "doc_id": list(range(200)),
        "text": ["w " * 5] * 200,
        "lang": (["de", "zh", "es", "en"] * 50),
        "source": ["s"] * 200,
        "n_chars": [10] * 200,
    })
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    from geotiff_spark.queries_textdata import q_mixture_sample

    def expected_copies(doc_id, lang):
        rate = {"de": 10000, "zh": 22500, "es": 4000, "en": 15000}[lang]
        bucket = ((doc_id % 1_000_000_007) * 2654435761 + 23) % 10_000
        return rate // 10_000 + (1 if bucket < rate % 10_000 else 0)

    exp = {}
    for _, r in docs.iterrows():
        key = (r["source"], r["lang"])
        c = expected_copies(r["doc_id"], r["lang"])
        e = exp.setdefault(key, [0, 0, 0, 0])  # in, out, unique, chars
        e[0] += 1
        e[1] += c
        e[2] += 1 if c > 0 else 0
        e[3] += c * r["n_chars"]

    got1 = {(r["source"], r["lang"]):
            [r["n_docs_in"], r["n_docs_out"], r["n_unique_kept"],
             r["chars_out"]]
            for r in q_mixture_sample(spark, sf).collect()}
    got2 = {(r["source"], r["lang"]):
            [r["n_docs_in"], r["n_docs_out"], r["n_unique_kept"],
             r["chars_out"]]
            for r in q_mixture_sample(spark, sf).collect()}
    assert got1 == {k: list(v) for k, v in exp.items()}
    assert got1 == got2  # deterministic
    # rate-1.0 language is a pass-through: out == in, all unique
    de = got1[("s", "de")]
    assert de[0] == de[1] == de[2] == 50
    # rate-2.25: every doc at least twice
    zh = got1[("s", "zh")]
    assert zh[2] == 50 and 100 <= zh[1] <= 150


def test_url_canonical_dedup_rules(spark, tmp_path):
    """Every canonicalization rule collapses its variant: doc_ids
    {0,40,80,120,160,200} share page bucket 0 (doc_id % 40) across
    variants {https+www, fragment, uppercase-host+trailing-slash}
    (doc_id % 6 in {0,4,2}) → ONE canonical with 6 variants, keeper 0;
    {3,43} pair utm-tracking with bare-http → one canonical, keeper 3;
    doc_id 5 carries a REAL query param (?id=7) that must survive as
    its own resource."""
    docs = pd.DataFrame({
        "doc_id": [0, 40, 80, 120, 160, 200, 3, 43, 5],
        "text": ["t"] * 9, "lang": ["en"] * 9, "source": ["s"] * 9,
        "n_chars": [1] * 9,
    })
    sf = str(tmp_path)
    spark.createDataFrame(docs).write.parquet(f"{sf}/documents.parquet")
    from geotiff_spark.queries_textdata import q_url_canonical_dedup
    got = {r["canonical_url"]: (r["n_variants"], r["keeper_doc"])
           for r in q_url_canonical_dedup(spark, sf).collect()}
    assert got["s.example.com/page-0"] == (6, 0)
    assert got["s.example.com/page-3"] == (2, 3)
    assert got["s.example.com/page-5?id=7"] == (1, 5)
    assert len(got) == 3


def test_bloom_probe_equals_python_filter(spark):
    """bloom_membership must agree on every value with a filter built in
    pure Python from the reference positions — including the false
    positives, which depend on every set bit landing in the right
    word/offset of the packed array."""
    hist_vals = [f"doc-{i}" for i in range(64)]
    new_vals = [f"doc-{i}" for i in range(16)] + \
        [f"unseen-{i}" for i in range(256)]
    hist = spark.createDataFrame([(v,) for v in hist_vals], ["chunk"])
    new = spark.createDataFrame([(v,) for v in new_vals], ["chunk"])
    m, k = 128, dedup.BLOOM_K  # tiny m: false positives exercise the bit test
    bits = {(s, _bloom_pos_py(v, s, m))
            for v in hist_vals for s in range(1, k + 1)}
    expected = {
        v: int(all((s, _bloom_pos_py(v, s, m)) in bits
                   for s in range(1, k + 1)))
        for v in new_vals
    }
    packed = dedup.bloom_pack(hist, m)
    got = {
        r["chunk"]: r["bloom_hit"]
        for r in dedup.bloom_membership(new, packed, m).collect()
    }
    assert got == expected
    assert sum(got[v] for v in hist_vals[:16]) == 16  # no false negs
    assert 0 < sum(got[f"unseen-{i}"] for i in range(256)) < 256


def test_bloom_null_values_never_hit(spark):
    """NULL rows set no bit in the history and probe as bloom_hit = 0
    (their positions are NULL; the probe must not index with them)."""
    m = 4096
    hist = spark.createDataFrame([("a",), (None,)], "chunk string")
    new = spark.createDataFrame([("a",), ("zz",), (None,)], "chunk string")
    assert not all(_bloom_pos_py("zz", s, m) == _bloom_pos_py("a", s, m)
                   for s in range(1, dedup.BLOOM_K + 1))
    packed = dedup.bloom_pack(hist, m)
    got = {
        r["chunk"]: r["bloom_hit"]
        for r in dedup.bloom_membership(new, packed, m).collect()
    }
    assert got == {"a": 1, "zz": 0, None: 0}


def test_bloom_packed_broadcasts_auto_release(spark):
    """The broadcast cache must not pin retired filters (ADVICE r06):
    dropping every reference to a PackedBloom and its probe frames
    must pop the cache entry and destroy the broadcasts; while a probe
    frame is still held, the filter (and so the broadcasts) must stay
    alive even if the caller dropped its own reference."""
    import gc

    hist = spark.createDataFrame([(f"h{i}",) for i in range(32)], ["chunk"])
    new = spark.createDataFrame([(f"h{i}",) for i in range(8)], ["chunk"])
    packed = dedup.bloom_pack(hist, 256)
    assert isinstance(packed, dedup.PackedBloom)
    key = id(packed)
    probe = dedup.bloom_membership(new, packed, 256)
    assert key in dedup._PACKED_BCASTS
    bcast = dedup._PACKED_BCASTS[key][1][0]
    # the probe frame pins the filter: dropping the caller's own ref
    # must NOT kill the broadcasts while the plan can still run
    del packed
    gc.collect()
    assert key in dedup._PACKED_BCASTS
    assert probe.count() == 8  # still executable
    del probe
    gc.collect()
    assert key not in dedup._PACKED_BCASTS
    try:
        _ = bcast.value
        destroyed = False
    except Exception:
        destroyed = True
    assert destroyed, "broadcast survived filter retirement"


def test_bloom_packed_probe_plan_has_no_shuffle(spark):
    """The packed probe is one ArrowEvalPython over JVM-computed
    positions — no Exchange of any kind may appear in its plan."""
    hist = spark.range(50).select(
        F.concat(F.lit("h"), F.col("id")).alias("chunk"))
    new = spark.range(50).select(
        F.concat(F.lit("n"), F.col("id")).alias("chunk"))
    packed = dedup.bloom_pack(hist, 256)
    out = dedup.bloom_membership(new, packed, 256)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def test_repeated_ngram_mine_catches_straddling_duplicates(spark):
    """A passage duplicated across docs at an offset that STRADDLES the
    10-token chunk boundary must escape chunk-level dedup (no equal
    chunk digests) yet be found by the sliding repeated-n-gram miner —
    the exact gap the miner exists to close."""
    from geotiff_spark.queries_textdata import chunks_frame

    passage = " ".join(f"dup{i}" for i in range(13))  # 13 shared tokens
    docs = [
        # passage starts at token 5 of doc 0 -> spans chunks 0 and 1
        (0, " ".join(f"a{i}" for i in range(5)) + " " + passage + " tail0"),
        # and at token 8 of doc 1 -> different split points entirely
        (1, " ".join(f"b{i}" for i in range(8)) + " " + passage + " tail1"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    # chunk dedup is blind to it: no chunk digest repeats across docs
    ch = chunks_frame(df).select(
        "doc_id", F.md5("chunk").alias("digest")).collect()
    seen = {}
    for r in ch:
        seen.setdefault(r["digest"], set()).add(r["doc_id"])
    assert all(len(v) == 1 for v in seen.values()), (
        "chunk boundaries unexpectedly aligned; fixture is broken"
    )

    # the miner sees it: the shared 13-gram is the top repeated gram
    top = dedup.repeated_ngram_mine(df).collect()
    assert top, "no repeated gram found"
    assert top[0]["gram"] == passage
    assert top[0]["n_docs"] == 2 and top[0]["n_occ"] == 2
    assert top[0]["rank"] == 1


def _ref_winnowed_clean(docs, k, w):
    """Pure-python reference of winnowed ExactSubstr: per window of w
    digest positions keep the leftmost argmin; duplicate detection among
    selected fingerprints only; mark k-char spans."""
    import hashlib
    from collections import Counter

    def digs(t):
        return [hashlib.md5(t[i:i + k].encode()).hexdigest()[:16]
                for i in range(len(t) - k + 1)]

    sel: dict[int, list[int]] = {}
    for d_id, t in docs:
        ds = digs(t)
        if not ds:
            sel[d_id] = []
            continue
        chosen = set()
        for j in range(0, max(1, len(ds) - w + 1)):
            window = ds[j:j + w]
            chosen.add(j + window.index(min(window)))
        sel[d_id] = sorted(chosen)
    cnt: Counter = Counter()
    for d_id, t in docs:
        ds = digs(t)
        for i in sel[d_id]:
            cnt[ds[i]] += 1
    out = {}
    for d_id, t in docs:
        ds = digs(t)
        mask = [False] * len(t)
        for i in sel[d_id]:
            if cnt[ds[i]] >= 2:
                for p in range(i, i + k):
                    mask[p] = True
        out[d_id] = "".join(c for c, m in zip(t, mask) if not m)
    return out


def test_exact_substring_dedup_winnowed(spark):
    """Winnowed mode (winnow=w): (a) bit-exact vs the pure-python
    winnowing reference — including digest-tie docs ('aaaa...') where
    the leftmost tie-break decides; (b) the Schleimer guarantee: every
    duplicated span of length >= k + w - 1 is caught in BOTH copies
    even at different offsets; (c) sampled removal is a SUBSET of
    exhaustive removal per doc."""
    k, w = 20, 5
    span = "THE=PLANTED=SPAN=" + "".join(chr(97 + i % 26) for i in range(20))
    assert len(span) >= k + w - 1
    uniq1 = "".join(format(i, "03d") for i in range(40))
    uniq2 = "".join(format(999 - i, "03d") for i in range(40))
    docs = [
        (0, uniq1[:33] + span + uniq1[40:80]),
        (1, uniq2[:7] + span + uniq2[40:97]),
        (2, uniq1[:60]),           # unique-ish content vs doc 3
        (3, "a" * 64),             # all-tie digests: tie-break path
        (4, "a" * 64),             # its twin
        (5, uniq2[:15]),           # shorter than k: no windows
    ]
    ref = _ref_winnowed_clean(docs, k, w)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           dedup.exact_substring_dedup(df, k=k, winnow=w).collect()}
    import hashlib
    for d_id, t in docs:
        assert got[d_id]["cleaned_md5"] == hashlib.md5(
            ref[d_id].encode()).hexdigest(), (d_id, ref[d_id])
        assert got[d_id]["cleaned_len"] == len(ref[d_id])
    # (b) the guarantee: both copies of the planted span lost chars,
    # and only span chars went (flanks are unique content)
    for d_id in (0, 1):
        assert got[d_id]["n_removed"] >= k, got[d_id]
        assert span not in ref[d_id]
    assert got[5]["n_removed"] == 0
    # (c) subset: sampled can never remove more than exhaustive
    exh = {r["doc_id"]: r for r in
           dedup.exact_substring_dedup(df, k=k).collect()}
    for d_id, _ in docs:
        assert got[d_id]["n_removed"] <= exh[d_id]["n_removed"]


def test_exact_substring_dedup_planted_spans(spark):
    """Planted 60-char passage duplicated across two docs at DIFFERENT
    offsets must be excised from both, exactly the covered span; a
    fully-duplicated doc cleans to empty; a unique doc is untouched;
    sub-k docs have no windows at all."""
    passage = ("x" * 25 + "THE-DUPLICATED-PASSAGE-" + "y" * 12)  # 60 chars
    assert len(passage) == 60
    # aperiodic by construction (positions encoded) — a modular-stride
    # sequence like chr(97 + 7i % 26) has period 26, so ALL its windows
    # would be corpus-duplicates of each other
    uniq = "".join(format(i, "02d") for i in range(60))  # 120 chars
    docs = [
        (0, "A" * 30 + passage + "B" * 30),
        (1, "C" * 11 + passage + "D" * 49),
        (2, uniq),            # no duplicate windows
        (3, uniq[:40]),       # shorter than k -> no windows
        (4, passage),         # exactly the passage, duplicated elsewhere
        (5, passage),         # its twin -> both clean to empty
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup.exact_substring_dedup(df, k=50).collect()}
    # docs 0/1: every window containing any passage char that also
    # occurs in the other doc marks it; the 60-char passage occurs
    # twice, so all its windows are duplicated -> the full passage goes,
    # plus any flanking chars caught inside duplicated windows. The
    # flanks ("A"*30 vs "C"*11) differ between docs, so windows
    # STRADDLING flank+passage are unique - removal is exactly the span.
    assert out[0]["n_removed"] == 60
    assert out[1]["n_removed"] == 60
    assert out[2]["n_removed"] == 0
    assert out[3]["n_removed"] == 0 and out[3]["cleaned_len"] == 40
    assert out[4]["cleaned_len"] == 0 and out[5]["cleaned_len"] == 0
    import hashlib
    assert out[0]["cleaned_md5"] == hashlib.md5(
        ("A" * 30 + "B" * 30).encode()).hexdigest()
