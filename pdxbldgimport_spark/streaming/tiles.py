"""Streaming tile assignment — the north_star's tiler as a continuous
ingest: geocoded pages arrive as WARC-batch files, each page is assigned
its RES_TILE grid cell map-side (the same tile_expr arithmetic as the
batch path — no Python, no state), and per-(window, tile) counts
finalize exactly once when the watermark passes the window end.

This is the built-in-operator streaming path (like streaming/windows.py)
applied to the SPATIAL core: state is O(open windows × occupied tiles) —
bounded by the grid, independent of history length — which is what lets
the 100-TB tiler run as one continuous job instead of daily batches.
Exactly-once: the shared drain's append-mode file sink + checkpoint
(drain.py); a killed run — even one killed between the sink write and
the offset commit — resumes without re-emitting finalized (window,
tile) rows (tests/test_streaming_tiles.py).

Sentinel convention (gate-only, see streaming/gate.py): the oracle gate
appends one far-future marker row (page_id = -1) so the cold drain's
watermark passes the data window; the marker's own group is filtered by
its negative min(page_id). Production runs have no sentinel — the
watermark advances with ordinary arrivals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo import cells as C
from ..operators.pip_join import tile_expr
from .drain import drain

WATERMARK = "1 hour"
WINDOW = "24 hours"


def _tile_counts(pg: DataFrame) -> DataFrame:
    return (
        pg.groupBy(
            F.window("ts", WINDOW),
            tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("tile_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("page_count"),
            F.min("page_id").alias("min_page_id"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "tile_id",
            "page_count",
            "min_page_id",
        )
    )


def stream_tile_counts(
    spark: SparkSession,
    src_glob: str,
    schema,
    ckpt_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = 1,
) -> dict | None:
    """Drain available page dumps through a watermarked tumbling window
    per tile; finalized (window, tile) rows append to ``out_dir`` with
    the window start, the count, and min(page_id) (the sentinel marker
    filter; also the resumable-run audit anchor)."""
    return drain(
        spark, src_glob, schema, ckpt_dir, out_dir,
        _tile_counts, WATERMARK, max_files_per_trigger,
    )
