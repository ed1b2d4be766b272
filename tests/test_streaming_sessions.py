"""Stateful streaming sessionization (applyInPandasWithState): the
streamed, checkpoint-resumed session set must equal the batch window
query's — including sessions split ACROSS micro-batches and across a
stream restart."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdxbldgimport_spark.queries import views
from pdxbldgimport_spark.queries_events import q_events_sessions
from pdxbldgimport_spark.streaming import sessions as SS

SF = "/root/testdata/sf0.001"


def test_stream_sessions_match_batch(spark, tmp_path):
    views(spark, SF)
    ev = spark.table("events").select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"), "user_id"
    )
    mid = ev.agg(F.expr("percentile(unix_micros(cast(ts as timestamp)), 0.5e0)")).collect()[0][0]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)

    # time-ordered dumps (continuous arrival), one file each
    ev.where(F.unix_micros(F.col("ts").cast("timestamp")) <= mid).coalesce(1).write.parquet(f"{src}/d1")
    ev.where(F.unix_micros(F.col("ts").cast("timestamp")) > mid).coalesce(1).write.parquet(f"{src}/d2")
    SS.stream_sessions(spark, f"{src}/*", ev.schema, ckpt, out)

    # sentinel dump: one far-future event for a fake user advances the
    # event-time watermark past every real user's last+gap, closing all
    # real sessions; arrives in a LATER run → also exercises state resume
    far = (
        ev.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp")))).collect()[0][0]
        + 10 * SS.SESSION_GAP_S * 1_000_000
    )
    spark.createDataFrame(
        [(10**9, -1)], "event_id long, user_id long"
    ).select(
        "event_id", F.timestamp_micros(F.lit(far)).cast("timestamp_ntz").alias("ts"), "user_id"
    ).coalesce(1).write.parquet(f"{src}/d3")
    SS.stream_sessions(spark, f"{src}/*", ev.schema, ckpt, out)

    got = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.read.parquet(out).collect()
        if r["user_id"] >= 0
    }
    want = {
        (
            r["user_id"],
            r["start_us"],
            r["end_us"],
            r["n_events"],
        )
        for r in q_events_sessions(spark, SF)
        .select(
            "user_id",
            F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
            F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
            "n_events",
        )
        .collect()
    }
    assert got == want
