"""Streaming tile counts (streaming/tiles.py): a (window, tile) group
emits exactly once when the watermark passes the window end — including
across a stop/restart from checkpoint and a replay after a crash between
the sink write and the offset commit — and late pages for a finalized
window are DROPPED. (Equality of the drained output with the batch
page_tile_counts oracle is the driver-gated `tile_counts_streamed`.)"""

from __future__ import annotations

import os

from pdxbldgimport_spark.geo import cells as C
from pdxbldgimport_spark.streaming import tiles as ST

SCHEMA = "ts timestamp_ntz, page_id bigint, lon double, lat double"

# two points in different RES_TILE cells
P0 = (C.LON_W + 0.01, C.LAT_S + 0.01)          # tile (0, 0)
P1 = (C.LON_W + 0.5, C.LAT_S + 0.5)            # interior tile
N = 1 << C.RES_TILE
T0 = 0
T1 = (int(0.5 / C.SPAN_Y * N)) * N + int(0.5 / C.SPAN_X * N)


def _write(spark, path, rows):
    from datetime import datetime

    spark.createDataFrame(
        [(datetime.fromisoformat(t), pid, lon, lat) for t, pid, lon, lat in rows],
        SCHEMA,
    ).coalesce(1).write.parquet(path)


def test_tile_window_emits_once_and_drops_late(spark, tmp_path):
    src, ckpt, out = str(tmp_path / "s"), str(tmp_path / "c"), str(tmp_path / "o")
    schema = spark.createDataFrame([], SCHEMA).schema

    # run 1: day-1 pages, then a day-3 file that finalizes day 1
    _write(spark, f"{src}/f1", [
        ("2024-01-01 08:00:00", 1, *P0),
        ("2024-01-01 09:00:00", 2, *P0),
        ("2024-01-01 10:00:00", 3, *P1),
    ])
    _write(spark, f"{src}/f2", [("2024-01-03 12:00:00", 4, *P1)])
    ST.stream_tile_counts(spark, f"{src}/*", schema, ckpt, out)
    got = {
        (str(r["window_start"]), r["tile_id"]): r["page_count"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", T0): 2,
        ("2024-01-01 00:00:00", T1): 1,
    }

    # run 2 (resume): a LATE day-1 page (dropped — its window emitted),
    # plus a day-5 sentinel finalizing day 3
    _write(spark, f"{src}/f3", [
        ("2024-01-01 11:00:00", 5, *P0),  # late
        ("2024-01-05 00:30:00", 6, *P0),
    ])
    ST.stream_tile_counts(spark, f"{src}/*", schema, ckpt, out)
    got2 = {}
    for r in spark.read.parquet(out).collect():
        k = (str(r["window_start"]), r["tile_id"])
        assert k not in got2, f"duplicate emission {k}"
        got2[k] = r["page_count"]
    # day-1 rows unchanged (no re-emission, late page dropped); day-3
    # row finalized exactly once
    assert got2[("2024-01-01 00:00:00", T0)] == 2
    assert got2[("2024-01-01 00:00:00", T1)] == 1
    assert got2[("2024-01-03 00:00:00", T1)] == 1


def test_tile_counts_survive_sink_commit_crash(spark, tmp_path):
    """A crash AFTER the sink write but BEFORE the checkpoint commit
    replays the batch on resume. Simulate that window by deleting the
    newest ckpt/commits entry (the sink output stays on disk), then
    resume: the file sink's batch log must make the replay a no-op — no
    (window_start, tile_id) row twice, counts unchanged."""
    src, ckpt, out = str(tmp_path / "s"), str(tmp_path / "c"), str(tmp_path / "o")
    schema = spark.createDataFrame([], SCHEMA).schema
    _write(spark, f"{src}/f1", [
        ("2024-01-01 08:00:00", 1, *P0),
        ("2024-01-01 09:00:00", 2, *P0),
        ("2024-01-01 10:00:00", 3, *P1),
    ])
    _write(spark, f"{src}/f2", [("2024-01-03 12:00:00", 4, *P1)])
    ST.stream_tile_counts(spark, f"{src}/*", schema, ckpt, out)
    want = {
        ("2024-01-01 00:00:00", T0): 2,
        ("2024-01-01 00:00:00", T1): 1,
    }

    commits = os.path.join(ckpt, "commits")
    newest = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(newest)))  # crash window
    crc = os.path.join(commits, f".{newest}.crc")
    if os.path.exists(crc):  # hadoop checksum shadow of the commit file
        os.remove(crc)

    ST.stream_tile_counts(spark, f"{src}/*", schema, ckpt, out)  # replay
    got = {}
    for r in spark.read.parquet(out).collect():
        k = (str(r["window_start"]), r["tile_id"])
        assert k not in got, f"duplicate emission {k}"
        got[k] = r["page_count"]
    assert got == want
