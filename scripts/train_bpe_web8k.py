"""Train the committed web8k byte-level BPE merges table.

One-time artifact build (VERDICT r06 next-round #4): trains ≥8192
merges with bpe_train_frame(byte_level=True) over the full
2M-page synthetic bench corpus (the same deterministic table bench.py
uses), then writes geotiff_spark/data/bpe_merges_web8k.json. The
artifact is committed so the bench and tests load a fixed table — the
production shape: tokenizers ship with the model; training happens
once on an aggregated word-frequency table.

Usage: python scripts/train_bpe_web8k.py [n_merges] [max_vocab]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = 2_000_000


def main() -> int:
    n_merges = int(sys.argv[1]) if len(sys.argv) > 1 else 8192
    max_vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000

    from geotiff_spark.operators.bpe import bpe_train_frame
    from geotiff_spark.session import get_spark
    from geotiff_spark.sources.pages import synth_pages

    spark = get_spark("bpe-train")
    spark.sparkContext.setLogLevel("ERROR")

    path = f"/tmp/geotiff_spark_bench/pages_bign{N_PAGES}"
    if os.path.exists(f"{path}/_SUCCESS"):
        docs = spark.read.parquet(path)
    else:
        docs = synth_pages(spark, N_PAGES)

    t0 = time.time()
    merges = bpe_train_frame(
        docs, n_merges=n_merges, max_vocab=max_vocab, byte_level=True,
    )
    dt = time.time() - t0
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "geotiff_spark", "data",
    )
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "bpe_merges_web8k.json")
    with open(out, "w") as fh:
        json.dump([list(p) for p in merges], fh)
    print(f"trained {len(merges)} merges over {N_PAGES} pages "
          f"(max_vocab={max_vocab}) in {dt:.1f}s -> {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
