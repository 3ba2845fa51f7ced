"""Page-level extraction operators.

Two tiers (see PLANS.md §1 for the measurements that drove this):

- Composable JVM expressions (extract_text_from_html, with_geotag) plus a
  vectorized cell-encode pandas UDF — byte-identical text per url
  (north-rule invariant), whole-stage codegen, ideal when each column is
  consumed once.
- with_fused_geo: ONE mapInPandas pass html → (text, lat, lon, cell) —
  the hot-path form. Catalyst inlines duplicated expression chains into
  every consumer (the html decode ran ~10× per row in the composed form),
  and pandas_udf row queues buffer fat columns; the fused stage decodes
  each page exactly once and streams. Extraction is byte-identical to the
  JVM form (tested).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from geotiff_spark.functions import cells as cellmod

GEO_PATTERN = r"geo:\s*(-?\d+\.\d+),(-?\d+\.\d+)"
_GEO_RE = re.compile(GEO_PATTERN)


def extract_batch(html: pd.Series) -> tuple[list[str], np.ndarray, np.ndarray]:
    """html→(text, lat, lon) for one Arrow batch — the shared kernel of
    both fused hot paths. Semantics are byte-identical to the JVM form
    substring_index(substring_index(s,'<article>',-1),'</article>',1):
    text after the LAST '<article>' and before the first '</article>'
    that follows; the whole string when a marker is absent. Non-geotagged
    rows get NaN lat/lon.

    Deliberately a tight Python loop, not pandas .str chains: measured on
    20k real pages the .str pipeline (decode → rsplit → split → extract)
    runs 2-3× SLOWER than this loop — each .str op walks the object array
    and allocates an intermediate Series, while the loop touches each
    string once with C-implemented str methods.
    """
    n = len(html)
    texts: list[str] = []
    lats = np.full(n, np.nan)
    lons = np.full(n, np.nan)
    for i, h in enumerate(html):
        s = bytes(h).decode("utf-8")
        start = s.rfind("<article>")
        start = start + 9 if start >= 0 else 0
        end = s.find("</article>", start)
        t = s[start:end] if end >= 0 else s[start:]
        texts.append(t)
        m = _GEO_RE.search(t)
        if m:
            lats[i] = float(m.group(1))
            lons[i] = float(m.group(2))
    return texts, lats, lons


def extract_text_from_html(html_col: Column) -> Column:
    """Recover text from the crawl html container byte-identically.

    The container format puts the article body between '<article>' and
    '</article>' (sources/pages.py template). substring_index is a JVM
    built-in — predicate pushdown and codegen both survive.
    """
    s = F.decode(html_col, "UTF-8")
    return F.substring_index(F.substring_index(s, "<article>", -1), "</article>", 1)


def with_geotag(df: DataFrame) -> DataFrame:
    """Add lat/lon columns from `text` (NULL when the page carries no
    geotag)."""
    lat = F.regexp_extract(F.col("text"), GEO_PATTERN, 1)
    lon = F.regexp_extract(F.col("text"), GEO_PATTERN, 2)
    return df.withColumn(
        "lat", F.when(lat != "", lat.cast("double"))
    ).withColumn(
        "lon", F.when(lon != "", lon.cast("double"))
    )


def cell_udf(res: int):
    @pandas_udf("long")
    def encode(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
        lo = lon.to_numpy(dtype=np.float64, na_value=np.nan)
        ok = ~(np.isnan(la) | np.isnan(lo))
        out = np.full(la.shape, -1, dtype=np.int64)
        if ok.any():
            out[ok] = cellmod.latlon_to_cell(la[ok], lo[ok], res)
        # nullable Int64, NOT .where(): where() coerces a mixed batch to
        # float64, silently quantizing 2^60-scale cell ids (cells only
        # agree to ~2^8). The old double-eval plan masked this by
        # filtering NULLs before the projection's eval saw the batch.
        res_arr = pd.array(out, dtype="Int64")
        res_arr[~ok] = pd.NA
        return pd.Series(res_arr)

    # deterministic in fact, but marked otherwise so Catalyst cannot
    # inline the `cell` alias into downstream filters (e.g. the inferred
    # isnotnull(cell) of knn's equi-join on cell, or a filter over
    # cell_assign's output) and re-plan a SECOND ArrowEvalPython — the
    # whole encode chain then runs twice (plan-verified, round 4; same
    # pathology as dedup.minhash_signatures)
    return encode.asNondeterministic()


def with_cell(df: DataFrame, res: int) -> DataFrame:
    """Encode lat/lon into the `cell` id at resolution `res` (NULL-safe)."""
    return df.withColumn("cell", cell_udf(res)(F.col("lat"), F.col("lon")))


def with_fused_geo(df: DataFrame, res: int) -> DataFrame:
    """Attach extracted_text/lat/lon/cell from `html` in one fused
    mapInPandas pass, keeping the `url` column.

    mapInPandas, NOT a pandas_udf: EvalPythonExec buffers every input row
    in a HybridRowQueue (spilling to disk) while Python computes — with a
    multi-KB html column that queue dominates runtime (measured ~20× the
    kernel cost at sf0.1). mapInPandas streams batches through with no
    row queue; pass-through columns are declared explicitly.
    """
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    out_schema = StructType(
        [df.schema["url"]]
        + [
            StructField("extracted_text", StringType()),
            StructField("lat", DoubleType()),
            StructField("lon", DoubleType()),
            StructField("cell", LongType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            n = len(pdf)
            texts, lats, lons = extract_batch(pdf["html"])
            ok = ~np.isnan(lats)
            # Int64 (masked): cell ids exceed 2^53 — no float intermediate
            cell = pd.array(np.zeros(n, dtype=np.int64), dtype="Int64")
            cell[~ok] = pd.NA
            if ok.any():
                cell[ok] = cellmod.latlon_to_cell(lats[ok], lons[ok], res)
            out = pdf[["url"]].copy()
            out["extracted_text"] = texts
            out["lat"] = pd.Series(lats).where(pd.Series(ok))
            out["lon"] = pd.Series(lons).where(pd.Series(ok))
            out["cell"] = cell
            yield out

    return df.select("url", "html").mapInPandas(run, schema=out_schema)


def with_cell_token(df: DataFrame) -> DataFrame:
    """Adds `cell_token`, the base-4 token of the `cell` id: the
    prefix-prunable partition key.
    The cell column must hold no NULLs: Arrow hands pandas a batch with
    NULLs as float64, which would quantize 2^60-scale cell ids."""

    @pandas_udf("string")
    def encode(cell_s: pd.Series) -> pd.Series:
        return pd.Series(cellmod.cell_to_token(cell_s.to_numpy(dtype="int64")))

    return df.withColumn("cell_token", encode(F.col("cell")))
