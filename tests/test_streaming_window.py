"""Watermarked event-time windows in Structured Streaming (SURVEY §2.6):
late-within-watermark rows merge, late-beyond-watermark rows drop, and
windows finalize exactly once in append mode — all state-store-side.

The scenario is deterministic: one file per micro-batch (FileStreamSource
orders by mtime/path; ascending names, distinct mtimes), availableNow
trigger, memory sink.

Measured Spark 4.1 watermark mechanics (pinned empirically before writing
this test): the EVICTION watermark for batch N is derived from the max
event time through batch N−1, but the LATE-EVENTS filter lags one more
batch — batch N drops rows against the watermark that was in effect
DURING batch N−1 (SPARK-40925's watermarkForLateEvents). Dropping is
best-effort per the Structured Streaming guarantees (a too-late row may
still aggregate); only the two-batch-lagged arrival makes the drop
deterministic, hence the layout:

  batch0: 10:15, 10:45, 11:10      → all on time; eviction WM → 10:40
  batch1: 10:50 (late, window [10:00,11:00) still open at WM 10:40
          → guaranteed MERGED), 13:00 (on time) → eviction WM → 12:30
  batch2: 09:15 — late filter now uses batch1's WM 10:40; its window
          [09:00,10:00) ended at 10:00 < 10:40 → DROPPED
          (numRowsDroppedByWatermark = 1); 15:00 → eviction WM → 14:30
  batch3: 15:10 (flush batch)      → [13:00,14:00) finalizes

Final appended rows must be exactly {10:00 → 3, 11:00 → 1, 13:00 → 1}:
no [09:00) window (its only row was dropped), no [15:00) window (still
open when the availableNow query ends).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from random_cut_forest_by_aws_spark.streaming.window_stream import (
    streaming_windowed_agg,
)

BASE = pd.Timestamp("2026-01-01 00:00:00")


def _ts(hhmm: str) -> pd.Timestamp:
    h, m = hhmm.split(":")
    return BASE + pd.Timedelta(hours=int(h), minutes=int(m))


def _epoch_ms(hhmm: str) -> int:
    return int(_ts(hhmm).value // 1_000_000)


def _write_batches(src_dir: str, batches: list[list[str]]) -> None:
    """One parquet file per micro-batch, with explicitly increasing mtimes
    so FileStreamSource's (mtime, path) ordering is deterministic even when
    all files are written within one ms."""
    base_mtime = 1_700_000_000
    for i, stamps in enumerate(batches):
        pdf = pd.DataFrame(
            {"ts": pd.Series([_ts(s) for s in stamps]).astype("datetime64[us]"),
             "event_type": "a",
             "value": [1.0] * len(stamps)}
        )
        path = os.path.join(src_dir, f"part-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        os.utime(path, (base_mtime + i * 10, base_mtime + i * 10))


def test_streaming_tumbling_watermark_late_rules(spark, tmp_path, finish_stream):
    src_dir = str(tmp_path / "win_src")
    ckpt = str(tmp_path / "win_ckpt")
    os.makedirs(src_dir, exist_ok=True)
    batches = [
        ["10:15", "10:45", "11:10"],
        ["10:50", "13:00"],
        ["09:15", "15:00"],
        ["15:10"],
    ]
    _write_batches(src_dir, batches)

    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    out = streaming_windowed_agg(
        stream, ts_col="ts", keys=("event_type",),
        window="1 hour", watermark="30 minutes",
    )
    q = (
        out.writeStream.format("memory").queryName("win_stream_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finish_stream(q)
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped == 1  # exactly the 09:15 row
    res = spark.sql("SELECT * FROM win_stream_out").toPandas()
    got = dict(zip(res["ws"].astype(int), res["n_events"].astype(int)))
    assert got == {
        _epoch_ms("10:00"): 3,  # 10:15 + 10:45 + late-but-in-watermark 10:50
        _epoch_ms("11:00"): 1,
        _epoch_ms("13:00"): 1,
    }
    # the beyond-watermark row (09:15) was dropped: its window never emits
    assert _epoch_ms("09:00") not in got
    # the final window is still open when the stream ends: append mode
    # emits nothing for it
    assert _epoch_ms("15:00") not in got
    assert (res["event_type"] == "a").all()


def test_streaming_hopping_watermark(spark, tmp_path, finish_stream):
    """Hopping windows (1h / slide 30m) under the same watermark machinery:
    every finalized on-time event contributes to exactly 2 windows."""
    src_dir = str(tmp_path / "hop_src")
    ckpt = str(tmp_path / "hop_ckpt")
    os.makedirs(src_dir, exist_ok=True)
    batches = [["10:15", "10:45"], ["13:00"], ["15:00"]]
    _write_batches(src_dir, batches)
    schema = "ts timestamp, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(src_dir)
    )
    out = streaming_windowed_agg(
        stream, ts_col="ts", keys=("event_type",),
        window="1 hour", slide="30 minutes", watermark="30 minutes",
        value_col=None,
    )
    q = (
        out.writeStream.format("memory").queryName("hop_stream_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    finish_stream(q)
    res = spark.sql("SELECT * FROM hop_stream_out").toPandas()
    got = dict(zip(res["ws"].astype(int), res["n_events"].astype(int)))
    # 10:15 → windows starting 09:30, 10:00; 10:45 → 10:00, 10:30.
    # All four finalize once the watermark passes 12:30 (after 13:00 row).
    assert got[_epoch_ms("09:30")] == 1
    assert got[_epoch_ms("10:00")] == 2
    assert got[_epoch_ms("10:30")] == 1
    # 13:00's windows (12:30, 13:00) finalize after the 15:00 row
    assert got[_epoch_ms("12:30")] == 1
    assert got[_epoch_ms("13:00")] == 1
    # 15:00's windows are still open at stream end
    assert _epoch_ms("15:00") not in got
