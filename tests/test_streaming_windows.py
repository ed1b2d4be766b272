"""Watermark semantics of the built-in windowed aggregation
(streaming/windows.py): a window emits exactly once when the watermark
passes its end — including across a stop/restart — and an event arriving
after its window was finalized is DROPPED, keeping window state bounded.
(Equality of the drained output with the batch `events_hourly` oracle is
the driver-gated `events_hourly_streamed` query.)"""

from __future__ import annotations

import pyspark.sql.functions as F

from pdxbldgimport_spark.streaming import windows as SW

SCHEMA = "ts timestamp_ntz, event_type string, value double"


def _write(spark, path, rows):
    from datetime import datetime

    spark.createDataFrame(
        [(datetime.fromisoformat(t), et, v) for t, et, v in rows], SCHEMA
    ).coalesce(1).write.parquet(path)


def test_window_emits_once_and_drops_late(spark, tmp_path):
    src, ckpt, out = str(tmp_path / "src"), str(tmp_path / "ck"), str(tmp_path / "out")
    D = "2024-01-01 "
    schema = spark.createDataFrame([], SCHEMA).schema

    # run 1: three on-time events in hour 00, then a 05:00 file whose
    # arrival advances the watermark to 04:00 and finalizes hour 00
    _write(spark, f"{src}/f1", [
        (D + "00:10:00", "view", 1.00),
        (D + "00:20:00", "view", 2.00),
        (D + "00:40:00", "click", 3.00),
    ])
    _write(spark, f"{src}/f2", [(D + "05:00:00", "view", 4.00)])
    SW.stream_hourly_counts(spark, f"{src}/*", schema, ckpt, out)
    got = {
        (str(r["hour_start"]), r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        (D + "00:00:00", "view"): (2, 300),
        (D + "00:00:00", "click"): (1, 300),
    }

    # run 2 (resume from checkpoint): a LATE hour-00 event (watermark is
    # already 04:00), a fresh 11:30 event, and two watermark-advancing
    # sentinels so the 11:00 window finalizes inside this run
    _write(spark, f"{src}/f3", [
        (D + "00:45:00", "view", 9.00),   # late: window already emitted
        (D + "11:30:00", "click", 5.00),
    ])
    _write(spark, f"{src}/f4", [(D + "16:00:00", "view", 0.0)])
    _write(spark, f"{src}/f5", [(D + "17:00:00", "view", 0.0)])
    SW.stream_hourly_counts(spark, f"{src}/*", schema, ckpt, out)
    rows = spark.read.parquet(out).collect()
    got2 = {}
    for r in rows:
        key = (str(r["hour_start"]), r["event_type"])
        assert key not in got2, f"window emitted twice: {key}"
        got2[key] = (r["n_events"], r["value_cents"])
    # hour 00 unchanged (late event dropped, not re-emitted), 11:00
    # emitted once; the 05:00 window finalized by the sentinels too
    assert got2[(D + "00:00:00", "view")] == (2, 300)
    assert got2[(D + "00:00:00", "click")] == (1, 300)
    assert got2[(D + "11:00:00", "click")] == (1, 500)
    assert got2[(D + "05:00:00", "view")] == (1, 400)
    # nothing from the still-open sentinel windows
    assert all(not k[0].startswith(D + "16") and not k[0].startswith(D + "17")
               for k in got2)


def test_state_is_bounded_by_open_windows(spark, tmp_path):
    """After a drain, the only rows NOT emitted are windows the
    watermark hasn't passed — state is O(open windows)."""
    src, ckpt, out = str(tmp_path / "s"), str(tmp_path / "c"), str(tmp_path / "o")
    D = "2024-01-01 "
    schema = spark.createDataFrame([], SCHEMA).schema
    _write(spark, f"{src}/f1", [(D + f"0{h}:15:00", "view", 1.0) for h in range(5)])
    _write(spark, f"{src}/f2", [(D + "09:00:00", "view", 1.0)])
    progress = SW.stream_hourly_counts(spark, f"{src}/*", schema, ckpt, out)
    emitted = {str(r["hour_start"]) for r in spark.read.parquet(out).collect()}
    # after the drain the watermark is 08:00 (09:00 - 1h; Spark's final
    # no-data batch flushes everything under it): hours 00-04 emitted,
    # the 09:00 window alone stays in state
    assert emitted == {D + f"0{h}:00:00" for h in range(5)}
    assert progress is not None
