"""GATE-ONLY plumbing (not a production path) for the four streamed
oracle-gated queries (`events_sessions_streamed`,
`events_hourly_streamed`, `url_dedup_streamed`, `tile_counts_streamed`).

A streamed gate needs its batch table on disk as parquet "arrival"
files for readStream: ``sentinel_dump`` writes one per (table, columns,
session, sf_dir), PARTITIONED (parallel tasks, no coalesce(1)), and
shares it between gates and with bench.py's streaming drain. A single
far-future sentinel row rides in its own file: its arrival advances the
event-time watermark past every real window's end (and every real
session's last + gap), so availableNow's final no-data batch flushes all
real output while the sentinel's own group stays open or is filtered
out. In production the sources are the real dumps and no sentinel is
needed — the watermark advances with ordinary arrivals.

``gate`` drains a dump in ONE data batch (order-insensitive) plus the
watermark-flush batch into a scratch directory, drops the sentinel's
rows, and materializes the result before the directory is removed.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..queries import cut
from ..session import session_cache, session_token

# dropped with their directory once another session is live
_DUMP_CACHE = session_cache(
    2, lambda src: shutil.rmtree(src.removesuffix("/*"), ignore_errors=True)
)


def sentinel_dump(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    ts_col: str,
    sentinel: dict,
    margin_s: int,
) -> str:
    """Dump ``table`` as (ts, *sentinel keys) — ``ts_col`` cast to
    TIMESTAMP_NTZ — plus one row holding the ``sentinel`` values at
    ``margin_s`` past the latest ts, in its own file. Returns the src
    glob; the dump is removed at process exit."""
    key = (table, tuple(sentinel), session_token(spark), sf_dir)
    hit = _DUMP_CACHE.get(key)
    if hit is not None:
        return hit
    df = spark.table(table).select(
        F.col(ts_col).cast("timestamp_ntz").alias("ts"), *sentinel
    )
    far = df.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp")))).first()[0]
    root = tempfile.mkdtemp(prefix="stream_gate_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    df.write.parquet(f"{root}/data")
    sentinel_us = int(far) + margin_s * 1_000_000
    spark.range(1, numPartitions=1).select(
        F.timestamp_micros(F.lit(sentinel_us)).cast("timestamp_ntz").alias("ts"),
        *(
            F.lit(v).cast(df.schema[c].dataType).alias(c)
            for c, v in sentinel.items()
        ),
    ).write.parquet(f"{root}/sentinel")
    _DUMP_CACHE[key] = f"{root}/*"
    return _DUMP_CACHE[key]


def gate(
    spark: SparkSession, stream_fn, src_glob: str, schema, keep: Column
) -> DataFrame:
    """Drain ``src_glob`` through the streaming operator ``stream_fn``
    in one data batch; returns the drained rows passing ``keep`` (the
    sentinel filter), materialized (``cut``) before the drain's
    directory is removed."""
    root = tempfile.mkdtemp(prefix="stream_gate_run_")
    try:
        stream_fn(
            spark, src_glob, schema, f"{root}/ckpt", f"{root}/out",
            max_files_per_trigger=None,
        )
        return cut(spark.read.parquet(f"{root}/out").where(keep))
    finally:
        shutil.rmtree(root, ignore_errors=True)
