"""Watermarked windowed aggregation — the canonical Structured-Streaming
late-data pattern (watermark + tumbling event-time window, append mode).

The sessionizer (sessions.py) covers CUSTOM stateful logic; this module
covers the built-in path: `withWatermark` + `groupBy(window(...))`, where
Spark itself owns the window state, emits a window exactly once when the
watermark passes its end, and silently DROPS events arriving later than
the watermark allows — the semantics a continuously-ingesting 100-TB
pipeline needs to keep window state bounded (state size is O(open
windows), independent of history length).

Exactly-once story: the shared drain's append-mode file sink
(drain.py) — a finalized window row is appended once; a killed run
resumes from the checkpoint without re-emitting. Late-data story:
tests/test_streaming_windows.py replays a dump sequence where an
already-finalized window's event arrives late and asserts it is
dropped, and the oracle gate (`events_hourly_streamed`) hash-checks the
drained output against the batch `events_hourly` oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .drain import drain

WATERMARK = "1 hour"


def _hourly(ev: DataFrame) -> DataFrame:
    # group on the full window struct — extracting .start inside the
    # groupBy severs the watermark-to-aggregation link the streaming
    # analyzer needs for append mode
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def stream_hourly_counts(
    spark: SparkSession,
    src_glob: str,
    schema,
    ckpt_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = 1,
) -> dict | None:
    """Drain available event dumps through a watermarked 1-hour tumbling
    window per event_type; finalized windows append to ``out_dir``.
    ``max_files_per_trigger=None`` → one data batch (order-insensitive:
    within a batch the watermark filter uses the PREVIOUS batch's
    watermark, so nothing is late on a cold single-batch drain)."""
    return drain(
        spark, src_glob, schema, ckpt_dir, out_dir,
        _hourly, WATERMARK, max_files_per_trigger,
    )
