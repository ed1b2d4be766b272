"""Streaming URL ingest dedup (streaming/urldedup.py): multi-batch
drains, checkpoint resume with already-finalized groups, late-arrival
drop, and determinism of the min-page survivor — the semantics the
driver's `url_dedup_streamed` gate relies on (the gate itself only
exercises the single-batch happy path)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import types as T

from pdxbldgimport_spark.streaming import urldedup as SU

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("page_id", T.LongType()),
        T.StructField("url", T.StringType()),
    ]
)


def _write(spark, path, rows):
    spark.createDataFrame(
        [(datetime.fromisoformat(t), p, u) for t, p, u in rows], SCHEMA
    ).coalesce(1).write.parquet(path)


def test_url_dedup_groups_canonical_variants_and_resumes(spark, tmp_path):
    src, ckpt, out = str(tmp_path / "s"), str(tmp_path / "c"), str(tmp_path / "o")
    D = "2024-01-01 "
    schema = SCHEMA

    # run 1: three spellings of one page + one distinct page, then a
    # next-day file that advances the watermark past the day-0 window
    _write(spark, f"{src}/f1", [
        (D + "01:00:00", 7, "https://a.example.com/p/1"),
        (D + "02:00:00", 9, "HTTPS://A.EXAMPLE.COM:443/p/1?utm_x=1#f"),
        (D + "03:00:00", 5, "https://a.example.com/p/1/"),
        (D + "04:00:00", 8, "https://b.example.com/q?id=2"),
    ])
    _write(spark, f"{src}/f2", [
        ("2024-01-02 02:00:00", 100, "https://c.example.com/next-day")
    ])
    SU.stream_url_dedup(spark, f"{src}/*", schema, ckpt, out)
    got = {
        r["canonical_url"]: (r["n_pages"], r["first_page_id"])
        for r in spark.read.parquet(out).collect()
    }
    # day-0 window finalized: variants collapse, min page_id survives
    assert got == {
        "https://a.example.com/p/1": (3, 5),
        "https://b.example.com/q?id=2": (1, 8),
    }

    # run 2 (resume from checkpoint): a LATE day-0 arrival for the
    # already-emitted group is dropped; the day-1 window finalizes once
    # the watermark passes its end
    _write(spark, f"{src}/f3", [
        (D + "06:00:00", 1, "https://a.example.com/p/1"),  # late, dropped
        ("2024-01-02 03:00:00", 101, "https://c.example.com/next-day"),
    ])
    _write(spark, f"{src}/f4", [
        ("2024-01-03 02:00:00", 999, "https://zz.example.com/wm")
    ])
    SU.stream_url_dedup(spark, f"{src}/*", schema, ckpt, out)
    got2 = {
        r["canonical_url"]: (r["n_pages"], r["first_page_id"])
        for r in spark.read.parquet(out).collect()
    }
    assert got2["https://a.example.com/p/1"] == (3, 5)  # NOT re-emitted/grown
    assert got2["https://c.example.com/next-day"] == (2, 100)
