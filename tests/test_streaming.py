"""Structured Streaming: the registry's stream builders (queries.py)
driven over events written as several parquet files, so each file is one
micro-batch and state has to cross batches and restarts."""

from __future__ import annotations

import os
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geotiff_spark.queries import (
    EVENTS_SCHEMA, click_purchase_join, events_stream, running_counts,
    window_counts,
)

COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
BASE = pd.Timestamp("2024-01-01 00:00:00")


def _write_events(path, rows) -> pd.DataFrame:
    """One parquet FILE of events rows: the file-stream source does not
    recurse into the directories spark's own .write.parquet produces."""
    pdf = pd.DataFrame(rows, columns=COLUMNS).astype({"ts": "datetime64[us]"})
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(path))
    return pdf


def _random_events(seed: int, n: int, first_id: int) -> list[tuple]:
    """n events over 40 users and 6 hours."""
    rng = np.random.default_rng(seed)
    mins = rng.integers(0, 6 * 60, n)
    users = rng.integers(0, 40, n)
    kinds = rng.choice(["view", "click", "purchase"], n)
    return [(first_id + i, BASE + pd.Timedelta(minutes=int(m)), int(u), str(k),
             1.0, "{}") for i, (m, u, k) in enumerate(zip(mins, users, kinds))]


def test_running_counts_carry_state_across_batches(spark, tmp_path):
    """running_counts over four files (four micro-batches): each user's
    final running total equals its batch COUNT(*), and some user is
    updated in more than one batch, so a total that ignored the prior
    state would fall short."""
    src = tmp_path / "events"
    src.mkdir()
    users: Counter = Counter()
    for k in range(4):
        pdf = _write_events(src / f"part{k}.parquet",
                            _random_events(k, 150, 1000 * k))
        users.update(pdf["user_id"].tolist())

    q = (
        running_counts(events_stream(spark, str(src)))
        .writeStream.format("memory").queryName("running_counts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("running_counts").collect()
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 4

    finals: dict[int, int] = {}
    updates: Counter = Counter()
    for r in rows:
        finals[r.user_id] = max(finals.get(r.user_id, 0), r.running_total)
        updates[r.user_id] += 1
    assert finals == dict(users)
    assert max(updates.values()) > 1


def test_window_counts_checkpoint_resume(spark, tmp_path):
    """Kill-and-restart drill for window_counts: a query restarted from
    its checkpointLocation must pick up only the NEW files and end with
    exactly the batch answer — no reprocessing, no gaps."""
    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    for k in range(3):
        _write_events(src / f"first{k}.parquet",
                      _random_events(k, 200, 1000 * k))

    def start(name):
        q = (
            window_counts(events_stream(spark, str(src)))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return q

    start("window_resume_a")
    assert spark.table("window_resume_a").count() > 0

    # new arrivals while the query is down
    for k in range(3, 5):
        _write_events(src / f"late{k}.parquet",
                      _random_events(k, 200, 1000 * k))
    q2 = start("window_resume_b")
    assert sum(p["numInputRows"] for p in q2.recentProgress) == 400
    got = {(r.w, r.event_type): r.n_events
           for r in spark.table("window_resume_b").collect()}

    batch = (
        spark.read.schema(EVENTS_SCHEMA).parquet(str(src))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {(r.w, r.event_type): r.n_events for r in batch.collect()}
    assert got == want


def _matches(pdf: pd.DataFrame) -> set[tuple[int, int, int]]:
    """(user, click, purchase) with the purchase 0-30 min after the click."""
    clicks = pdf[pdf.event_type == "click"]
    buys = pdf[pdf.event_type == "purchase"]
    m = clicks.merge(buys, on="user_id", suffixes=("_c", "_p"))
    m = m[(m.ts_p >= m.ts_c) & (m.ts_p <= m.ts_c + pd.Timedelta(minutes=30))]
    return set(zip(m.user_id, m.event_id_c, m.event_id_p))


def test_stream_stream_join_checkpoint_resume(spark, tmp_path):
    """Kill-and-restart drill for click_purchase_join: clicks ingested
    BEFORE the restart must still match purchases arriving AFTER it (the
    join state lives in the checkpoint), and the union of both runs'
    appended output must equal the batch join exactly."""
    # crafted timeline: user u clicks at base+u min, purchases 10 min
    # later; the split at +45 min strands several click→purchase pairs
    # across the restart. Watermark delay (1h) > join window (30 min),
    # so pre-split clicks are still in state when their purchase lands.
    rows = []
    for u in range(30):
        c = BASE + pd.Timedelta(minutes=u * 3)
        rows.append((1000 + u, c, u, "click", 1.0, "{}"))
        rows.append((2000 + u, c + pd.Timedelta(minutes=10), u,
                     "purchase", 2.0, "{}"))
    pdf = pd.DataFrame(rows, columns=COLUMNS)
    split = BASE + pd.Timedelta(minutes=45)
    src = tmp_path / "events"
    src.mkdir()
    _write_events(src / "half1.parquet", pdf[pdf.ts < split])
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "joined_out")

    def start():
        # memory sink cannot recover a checkpoint in append mode — the
        # restart drill needs a real (file) sink, as production would
        q = (
            click_purchase_join(events_stream(spark, str(src)))
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r.user_id, r.click_id, r.purchase_id)
                for r in spark.read.parquet(out).collect()}

    # stream-stream joins keep 4 state stores per shuffle partition;
    # at this state size 4 partitions beat the batch default of 8
    # (queries._drain_stream)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        got_a = start()

        _write_events(src / "half2.parquet", pdf[pdf.ts >= split])
        got_all = start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    got_b = got_all - got_a

    want = _matches(pdf)
    assert got_all == want
    # pairs whose click predates the restart and purchase follows it:
    # only reachable through checkpointed join state
    ts = pdf.set_index("event_id").ts
    straddling = {(u, c, p) for (u, c, p) in want
                  if ts[c] < split and ts[p] >= split}
    assert straddling and straddling <= got_b


def test_stream_stream_join_state_is_bounded(spark, tmp_path):
    """The watermarked click_purchase_join must EVICT state, not only
    survive restarts. 12 one-hour blocks arrive as 12 micro-batches
    (mtime-ordered); with its 1-hour watermark delay and 30-min join
    window, rows older than the watermark horizon are droppable, so the
    state-store row count must plateau at ~a horizon's worth of rows
    instead of growing linearly with total input. Late rows beyond the
    watermark ride along in the last block and must not resurrect
    state."""
    src = tmp_path / "events"
    src.mkdir()
    n_blocks, per_block = 12, 30
    for blk in range(n_blocks):
        rows = []
        for i in range(per_block):
            t = BASE + pd.Timedelta(hours=blk, minutes=i * 2)
            u = blk * per_block + i
            rows.append((10_000 + u, t, u, "click", 1.0, "{}"))
            rows.append((20_000 + u, t + pd.Timedelta(minutes=5), u,
                         "purchase", 2.0, "{}"))
        if blk == n_blocks - 1:
            # late data far beyond the watermark: must be dropped, not
            # re-grow state
            rows.append((99_999, BASE, 7, "click", 1.0, "{}"))
        path = src / f"blk{blk:02d}.parquet"
        _write_events(path, rows)
        ts = time.time() - (n_blocks - blk) * 10
        os.utime(path, (ts, ts))

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        q = (
            click_purchase_join(events_stream(spark, str(src)))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        progress = [p for p in q.recentProgress if p.get("stateOperators")]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    state_rows = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
    assert len(state_rows) >= n_blocks
    total_rows = n_blocks * per_block * 2
    # bounded: the plateau stays well under the cumulative input...
    assert max(state_rows[3:]) < total_rows * 0.5, state_rows
    # ...and does not trend upward once the horizon is saturated
    mid, end = state_rows[len(state_rows) // 2], state_rows[-1]
    assert end <= mid * 1.5 + 10, state_rows
    # eviction actually removed rows at some point
    removed = sum(
        p["stateOperators"][0].get("numRowsRemoved", 0) for p in progress
    )
    assert removed > 0, "watermark never evicted state"
    # correctness alongside boundedness: every in-window pair found,
    # the beyond-watermark straggler produced nothing new
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == n_blocks * per_block
