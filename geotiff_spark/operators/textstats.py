"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting. All JVM built-ins (codegen hot path) so each has a
reproducible ANSI-SQL oracle."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword inventories for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "dans", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "en", "por"],
}


# Whitespace run for every tokenizer, engine and oracle: RE2's \s spelled
# out as literal characters. Java regex and Python re would also match
# U+000B under \s, RE2 does not; a literal class means the same thing to
# all three, so a vertical tab stays inside a token everywhere. The
# DuckDB oracles' class is generated from WS_CHARS too (sql_tokens).
WS_CHARS = " \t\n\f\r"
WS = f"[{WS_CHARS}]+"


def tokens(text: Column, sep: str = WS) -> Column:
    """The `sep`-separated (default: whitespace) tokens of `text`, empty
    strings dropped."""
    return F.filter(F.split(text, sep), lambda t: t != "")


def sql_regex(pattern: str) -> str:
    """`pattern` as a DuckDB string literal that RE2 reads as the same
    regex: control characters become \\xHH escapes, quotes are doubled."""
    body = "".join(
        c if c.isprintable() else f"\\x{ord(c):02x}" for c in pattern
    )
    return "'" + body.replace("'", "''") + "'"


def sql_tokens(expr: str, sep: str = WS) -> str:
    """DuckDB twin of `tokens`: the list of `sep`-separated tokens of the
    SQL expression `expr`, empty strings dropped."""
    split = f"string_split_regex({expr}, {sql_regex(sep)})"
    return f"list_filter({split}, t -> t <> '')"


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(F.lower(text)))


# GPT-2-style pre-tokenizer, simplified to the lookaround-free core so the
# SAME pattern runs identically under Java regex (Spark) and RE2 (DuckDB):
# contractions, space-prefixed letter runs, digit runs, punctuation runs.
# Both engines use leftmost-first alternation, so matches agree exactly.
# Punctuation excludes WS_CHARS, not \s, so U+000B is punctuation on both.
BPE_REGEX = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+"
    f"| ?[^a-zA-Z0-9{WS_CHARS}]+"
)


def bpe_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer count — the training-cost estimator a corpus
    pipeline reports next to the whitespace count (subword tokenizers
    split punctuation and digit runs that whitespace counting misses)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_REGEX), F.lit(0)))


def stopword_hits(text: Column, lang: str) -> Column:
    """Number of distinct language-stopwords present (set semantics)."""
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(F.lower(text))),
            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
        )
    )


def language_scores(df: DataFrame) -> DataFrame:
    """Stopword-hit score per language of the `text` column + argmax
    prediction (deterministic lexicographic tiebreak)."""
    out = df
    for lang in STOPWORDS:
        out = out.withColumn(f"score_{lang}", stopword_hits(F.col("text"), lang))
    # argmax with lang-name tiebreak: pack (score, neglang) and take max
    pairs = F.array(*[
        F.struct(
            F.col(f"score_{lang}").alias("s"),
            F.lit(lang).alias("l"),
        )
        for lang in sorted(STOPWORDS, reverse=True)
    ])
    best = F.array_max(pairs)
    return out.withColumn("pred_lang", best["l"])


def quality_features(df: DataFrame) -> DataFrame:
    """Quality heuristics of the `text` column: length, token count, mean
    token length, uppercase ratio, digit ratio, stopword ratio (en)."""
    t = F.col("text")
    n_tok = token_count(t)
    return (
        df.withColumn("n_chars_m", F.length(t))
        .withColumn("n_tokens", n_tok)
        .withColumn(
            "mean_tok_len",
            F.round(
                (F.length(F.regexp_replace(t, WS, "")))
                / F.greatest(n_tok, F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "digit_ratio",
            F.round(
                F.length(F.regexp_replace(t, r"[^0-9]", ""))
                / F.greatest(F.length(t), F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "stopword_ratio",
            F.round(
                stopword_hits(t, "en") / F.greatest(n_tok, F.lit(1)), 6
            ),
        )
    )


# fingerprint's window width in characters.
FINGERPRINT_SHINGLE = 20


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprint of (doc_id, text): md5 of the full text (exact
    identity) + the minimum md5 over all FINGERPRINT_SHINGLE-char windows
    (shift-robust near-dup fingerprint, winnowing-style). Both JVM-side:
    sequence → transform → array_min."""
    shingle = FINGERPRINT_SHINGLE
    t = F.col("text")
    n_windows = F.greatest(F.length(t) - F.lit(shingle - 1), F.lit(1))
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.md5(t.substr(i, F.lit(shingle))),
    )
    return df.select(
        "doc_id",
        F.md5(t).alias("digest"),
        F.array_min(shingle_hashes).alias("min_shingle_hash"),
    )
