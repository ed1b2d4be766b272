"""The one Structured-Streaming drain every streaming operator runs.

The reference is pure batch (SURVEY.md §2.9); the streaming operators
(windows.py, tiles.py, urldedup.py, sessions.py) are the engine's
extension for continuously-arriving dumps. They share this skeleton and
differ only in their transform and watermark:

- file source: new parquet files under ``src_glob`` are read exactly
  once (file-source offsets + checkpoint), ``max_files_per_trigger``
  files per micro-batch (``None`` = everything in one data batch);
- ``ts`` is cast to TIMESTAMP (parquet gives NTZ; the window, watermark
  and timeout machinery wants TIMESTAMP — the session tz is pinned UTC,
  so the cast is a no-op re-label) and watermarked;
- append-mode parquet file sink + checkpoint, ``availableNow`` trigger
  (drain everything, then stop), so tests and cron-style incremental
  runs share one code path. The file sink's own batch log makes a
  replayed micro-batch (crash between sink write and offset commit) a
  no-op: a finalized row is appended exactly once across restarts.

Output is read back with ``spark.read.parquet(out_dir)``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def drain(
    spark: SparkSession,
    src_glob: str,
    schema,
    ckpt_dir: str,
    out_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    watermark: str,
    max_files_per_trigger: int | None,
) -> dict | None:
    """Drain the available dumps through ``transform`` (the watermarked
    stream → the rows to append); returns the final progress dict
    (batch and state-store metrics)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = (
        reader.parquet(src_glob)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    q = (
        transform(src)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.lastProgress
