"""DuckDB-only pins of the text and relational oracles, and the tokenizer
parity they are built on.

Every distinct oracle string of textdata_queries() + relational_queries()
runs in DuckDB over the sf0.01 tables, without Spark, and must give the
row count and value hash that the latest committed full self-run
(BENCH/ORACLE_SELF_r*.txt) recorded for that query, where Spark and DuckDB
agreed. So a rewrite of an oracle's SQL that changes its output fails
here, not only in the full sweep.
"""

import glob
import os
import re

import duckdb
import pytest
from oracle_check import TABLES, value_hash

from geotiff_spark.operators import bpe, textstats
from geotiff_spark.queries_relational import relational_queries
from geotiff_spark.queries_textdata import textdata_queries

SF = "/root/testdata/sf0.01"
SELF_RUNS = sorted(glob.glob(os.path.join(
    os.path.dirname(__file__), "..", "BENCH", "ORACLE_SELF_r*.txt")))


def _distinct_oracles() -> dict[str, str]:
    """Query name -> oracle SQL, one name per distinct string (an
    `_exact` entry shares its primary's string)."""
    out: dict[str, str] = {}
    for name, (_, sql) in {**textdata_queries(),
                           **relational_queries()}.items():
        if sql is not None and sql not in out.values():
            out[name] = sql
    return out


ORACLES = _distinct_oracles()


@pytest.fixture(scope="module")
def recorded() -> dict[str, tuple[int, str]]:
    """(rows, value hash) of every hash-matched query of the latest
    committed self-run."""
    ok = re.compile(r"ok\s+(\S+): rows=(\d+) hash match ([0-9a-f]+) ")
    with open(SELF_RUNS[-1]) as fh:
        return {m[1]: (int(m[2]), m[3]) for m in ok.finditer(fh.read())}


@pytest.mark.parametrize("name", list(ORACLES))
def test_oracle_matches_latest_self_run(recorded, name):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    df = con.execute(ORACLES[name]).df()
    assert (len(df), value_hash(df)) == recorded[name], SELF_RUNS[-1]


# each whitespace char alone, the chars the class deliberately leaves out
# (U+000B, U+001F, U+00A0), leading/trailing runs, whitespace only, empty
ADVERSARIAL = [
    *(f"a{c}b" for c in textstats.WS_CHARS),
    "a\x0bb", "a\x1fb", "a\xa0b", "a\x0b \x1fb\x1f",
    "  lead and trail\t\n", "\r\n\f \t", "",
]


@pytest.mark.parametrize("sep", [textstats.WS, bpe._WORD_SEP],
                         ids=["WS", "WORD_SEP"])
def test_tokenizers_agree(spark, sep):
    """textstats.tokens (Spark, Java regex), re.split on the same class
    (the Python UDF paths) and textstats.sql_tokens (DuckDB, RE2) give
    the same tokens on every adversarial string."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(enumerate(ADVERSARIAL)), "i int, s string")
    rows = df.select("i", textstats.tokens(F.col("s"), sep=sep).alias("t"))
    got_spark = [r.t for r in sorted(rows.collect())]
    got_re = [[w for w in re.split(sep, s) if w] for s in ADVERSARIAL]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {textstats.sql_tokens('?', sep=sep)}",
                    [s]).fetchone()[0]
        for s in ADVERSARIAL
    ]
    assert got_spark == got_re == got_duck
    # U+000B, U+00A0 (and, for WS, U+001F) stay inside a token
    assert got_re[ADVERSARIAL.index("a\x0bb")] == ["a\x0bb"]
    assert got_re[ADVERSARIAL.index("a\xa0b")] == ["a\xa0b"]
    assert got_re[ADVERSARIAL.index("\r\n\f \t")] == []
