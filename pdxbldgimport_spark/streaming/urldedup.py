"""Watermarked streaming ingest dedup by canonical URL.

The third streaming shape a continuously-ingesting crawl pipeline needs
(next to the stateful sessionizer and the built-in windowed rollup):
arriving pages are canonicalized MAP-SIDE (stateless string rewriting,
no state), then aggregated per (event-time window, canonical URL) with
a watermark — Spark owns the per-key state, finalizes a key's group
exactly once when the watermark passes the window end, and drops
later-than-watermark stragglers, keeping state O(open windows × keys in
them) instead of O(all URLs ever seen).

Deterministic first-seen-wins: the surviving page per canonical group is
MIN(page_id) — unlike streaming ``dropDuplicates`` (whose survivor
depends on partition arrival order), the aggregated min is
order-independent, so the drained output hash-matches the batch oracle.

Exactly-once story: the shared drain's append-mode file sink +
checkpoint (drain.py), same as windows.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .drain import drain

WATERMARK = "1 hour"
WINDOW = "24 hours"


def _url_groups(pg: DataFrame) -> DataFrame:
    from ..queries_web import canonical_url_expr

    # group on the full window struct (see windows.py: extracting .start
    # inside the groupBy severs the watermark link)
    return (
        pg.groupBy(
            F.window("ts", WINDOW),
            canonical_url_expr("url").alias("canonical_url"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("page_id").alias("first_page_id"),
        )
        .select("canonical_url", "n_pages", "first_page_id")
    )


def stream_url_dedup(
    spark: SparkSession,
    src_glob: str,
    schema,
    ckpt_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = 1,
) -> dict | None:
    """Drain available page dumps; finalized (window, canonical_url)
    groups append to ``out_dir`` with n_pages + min page_id."""
    return drain(
        spark, src_glob, schema, ckpt_dir, out_dir,
        _url_groups, WATERMARK, max_files_per_trigger,
    )
