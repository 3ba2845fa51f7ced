"""The multimodal registry queries against their expected tables
(oracle_media.feature_sql): every gate hash-matches in DuckDB, the tables
follow the corpus content, and an empty audio payload reads as SQL
aggregates over an empty set in the engine and in the oracle alike."""

import duckdb
import numpy as np
import pytest

from geotiff_spark import oracle_media, oracle_raster
from geotiff_spark.operators import multimodal as mm

SF = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", list(oracle_media.ORACLES))
def test_media_queries_match_duckdb_oracle(spark, name):
    """Each multimodal registry entry hash-matches its oracle SQL."""
    from oracle_check import value_hash

    from geotiff_spark.queries import multimodal_queries

    fn, build_sql = multimodal_queries()[name]
    want = duckdb.connect().execute(build_sql()).df()
    got = fn(spark, SF).toPandas()
    assert len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)


def test_feature_sql_follows_corpus_payloads(tmp_path, monkeypatch):
    """A changed payload gets a new expected table with the new rows."""
    monkeypatch.setattr(oracle_raster, "ORACLE_DIR", str(tmp_path))

    def wav_corpus(scale):
        def row(mid):
            samples = np.full((4 + mid, 1), scale * (mid + 1))
            return {"media_id": mid, "kind": "audio", "meta": None,
                    "payload": mm.encode_wav(samples, 8000)}
        return row

    def peaks(row_fn):
        monkeypatch.setitem(mm.CORPORA, "wav", (row_fn, 3))
        sql = oracle_media.feature_sql("wav_audio_features")
        got = duckdb.connect().execute(f"{sql} ORDER BY media_id").df()
        return sql, got["peak"].round(3).tolist()

    sql_a, peaks_a = peaks(wav_corpus(0.1))
    sql_b, peaks_b = peaks(wav_corpus(0.2))
    assert peaks_a == [0.1, 0.2, 0.3]
    assert peaks_b == [0.2, 0.4, 0.6]
    assert sql_a != sql_b


def test_audio_features_zero_sample_wav(spark):
    """A WAV with no samples: zero counts and duration, NULL rms and
    peak (it failed the whole job on an empty max)."""
    payload = mm.encode_wav(np.zeros((0, 1)), 8000)
    media = spark.createDataFrame(
        [(0, "audio", payload, None)], mm.MEDIA_SCHEMA)
    (r,) = mm.audio_features(media).collect()
    assert (r.sample_rate, r.n_samples, r.duration_sec, r.zero_crossings) \
        == (8000, 0, 0.0, 0)
    assert r.rms is None and r.peak is None
    assert oracle_media._audio({"payload": payload}) \
        == (8000, 0, 0.0, None, 0, None)
