"""Property tests for the distributed PIP join (slot-cover broadcast
path) against the brute-force numpy kernel — random star polygons, both
convex and concave, plus a donut (hole) case. SURVEY.md §5
property-based strategy: planner-path equivalence on random geometry."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from pdxbldgimport_spark.geo import cells as C
from pdxbldgimport_spark.geo.core import RingSet, points_in_polygons_pairs
from pdxbldgimport_spark.operators.pip_join import _slot_cover, pip_join

POLY_SCHEMA = T.StructType(
    [
        T.StructField("poly", T.LongType()),
        T.StructField("rings", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ]
)


def _star(rng, n):
    cx = C.LON_W + (0.05 + 0.9 * rng.random()) * C.SPAN_X
    cy = C.LAT_S + (0.05 + 0.9 * rng.random()) * C.SPAN_Y
    ang = np.sort(rng.random(n) * 2 * np.pi)
    rad = 0.002 + rng.random(n) * 0.02
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang)
    ring = np.empty(2 * (n + 1))
    ring[0 : 2 * n : 2] = xs
    ring[1 : 2 * n : 2] = ys
    ring[-2], ring[-1] = xs[0], ys[0]
    return ring.tolist()


def _bruteforce(polys, px, py):
    rs = RingSet.from_arrow_lists([p[1] for p in polys])
    exp = set()
    npts = len(px)
    for j in range(len(polys)):
        ins = points_in_polygons_pairs(
            px, py, rs, np.arange(npts, dtype=np.int64), np.full(npts, j, np.int64)
        )
        exp.update((int(t), polys[j][0]) for t in np.flatnonzero(ins))
    return exp


def test_pip_join_slot_cover_vs_bruteforce(spark):
    rng = np.random.default_rng(42)
    polys = [(i, [_star(rng, int(rng.integers(3, 9)))]) for i in range(40)]
    # one donut: square with a hole (even-odd parity through slots/base)
    d = 0.01
    cx, cy = C.LON_W + 0.5 * C.SPAN_X, C.LAT_S + 0.5 * C.SPAN_Y
    outer = [cx - d, cy - d, cx + d, cy - d, cx + d, cy + d, cx - d, cy + d, cx - d, cy - d]
    inner = [cx - d / 2, cy - d / 2, cx + d / 2, cy - d / 2, cx + d / 2, cy + d / 2,
             cx - d / 2, cy + d / 2, cx - d / 2, cy - d / 2]
    polys.append((40, [outer, inner]))

    npts = 50_000
    px = C.LON_W + rng.random(npts) * C.SPAN_X
    py = C.LAT_S + rng.random(npts) * C.SPAN_Y
    pts = spark.createDataFrame(pd.DataFrame({"pt": np.arange(npts), "lon": px, "lat": py}))
    pdf_polys = spark.createDataFrame(polys, POLY_SCHEMA)

    got = {(r["pt"], r["poly"]) for r in pip_join(pts, pdf_polys, "pt", "poly").collect()}
    assert got == _bruteforce(polys, px, py)


def _stars_and_points(spark):
    rng = np.random.default_rng(7)
    polys = [(i, [_star(rng, int(rng.integers(3, 7)))]) for i in range(25)]
    npts = 20_000
    px = C.LON_W + rng.random(npts) * C.SPAN_X
    py = C.LAT_S + rng.random(npts) * C.SPAN_Y
    pts = spark.createDataFrame(pd.DataFrame({"pt": np.arange(npts), "lon": px, "lat": py}))
    return pts, spark.createDataFrame(polys, POLY_SCHEMA)


def test_pip_join_shuffle_path_matches_broadcast(spark):
    """Planner-choice invariance: forcing the shuffle+salt path yields the
    same pairs as the broadcast slot-cover path."""
    pts, pdf_polys = _stars_and_points(spark)
    bc = {(r["pt"], r["poly"]) for r in pip_join(pts, pdf_polys, "pt", "poly").collect()}
    sh = {
        (r["pt"], r["poly"])
        for r in pip_join(
            pts, pdf_polys, "pt", "poly", broadcast_max_polys=0, hot_cell_points=100
        ).collect()
    }
    assert bc == sh


def test_cover_row_cap_falls_back_to_shuffle(spark, monkeypatch):
    """A slot cover over BROADCAST_MAX_ROWS is not broadcast:
    build_broadcast_cover returns None and pip_join (no prebuilt cover)
    falls through to the shuffle path with the broadcast path's pairs."""
    import pdxbldgimport_spark.operators.pip_join as PJ

    pts, pdf_polys = _stars_and_points(spark)
    bc = {(r["pt"], r["poly"]) for r in pip_join(pts, pdf_polys, "pt", "poly").collect()}
    assert bc
    monkeypatch.setattr(PJ, "BROADCAST_MAX_ROWS", 0)
    assert PJ.build_broadcast_cover(pdf_polys, "poly", "rings") is None
    sh = {(r["pt"], r["poly"]) for r in pip_join(pts, pdf_polys, "pt", "poly").collect()}
    assert sh == bc


def test_pip_join_manifest_fed_hot_cells(spark, tmp_path):
    """Shuffle path planned from ingest-manifest skew stats: the stage
    manifest records hot cells at ingest (StageRunner hot_col), pip_join
    consumes them via hot_cells=... — same pairs as the broadcast path,
    with NO planning scan of the point side at join time."""
    from pdxbldgimport_spark.operators.pip_join import cell_expr
    from pdxbldgimport_spark.plans.manifest import StageRunner
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    polys = [(i, [_star(rng, int(rng.integers(3, 7)))]) for i in range(20)]
    cx, cy = C.LON_W + 0.41 * C.SPAN_X, C.LAT_S + 0.59 * C.SPAN_Y
    npts = 20_000
    # half the points piled into one tiny neighborhood → hot cells
    px = np.concatenate([
        C.LON_W + rng.random(npts // 2) * C.SPAN_X,
        cx + (rng.random(npts // 2) - 0.5) * 0.002,
    ])
    py = np.concatenate([
        C.LAT_S + rng.random(npts // 2) * C.SPAN_Y,
        cy + (rng.random(npts // 2) - 0.5) * 0.002,
    ])
    raw = spark.createDataFrame(pd.DataFrame({"pt": np.arange(npts), "lon": px, "lat": py}))
    pdf_polys = spark.createDataFrame(polys, POLY_SCHEMA)

    r = StageRunner(spark, str(tmp_path / "ckpt"), inputs_token="t")
    pts = r.stage(
        "pts_ingest", [],
        lambda: raw.withColumn("cell", cell_expr(F.col("lon"), F.col("lat"), C.RES_JOIN)),
        hot_col="cell", hot_threshold=500,
    )
    hot = r.hot_cells("pts_ingest")
    assert hot  # the pile-up produced at least one hot cell

    bc = {(r2["pt"], r2["poly"]) for r2 in pip_join(raw, pdf_polys, "pt", "poly").collect()}
    sh = {
        (r2["pt"], r2["poly"])
        for r2 in pip_join(
            pts, pdf_polys, "pt", "poly",
            broadcast_max_polys=0, hot_cells=hot,
        ).collect()
    }
    assert bc == sh


def test_pip_join_exact_fallback_many_edges(spark):
    """A polygon with dozens of vertices inside one cell overflows the
    slot budget → the exact numpy/HOF fallback branch must carry it, on
    both planner paths."""
    rng = np.random.default_rng(3)
    polys = [(i, [_star(rng, int(rng.integers(3, 6)))]) for i in range(5)]
    # 40-vertex star with radius ~ a quarter cell: every edge shares the
    # same handful of cells → nslot >> K
    cx, cy = C.LON_W + 0.37 * C.SPAN_X, C.LAT_S + 0.53 * C.SPAN_Y
    n = 40
    ang = np.sort(rng.random(n) * 2 * np.pi)
    rad = 0.0004 + rng.random(n) * 0.0006
    xs, ys = cx + rad * np.cos(ang), cy + rad * np.sin(ang)
    ring = np.empty(2 * (n + 1))
    ring[0 : 2 * n : 2], ring[1 : 2 * n : 2] = xs, ys
    ring[-2], ring[-1] = xs[0], ys[0]
    polys.append((99, [ring.tolist()]))

    npts = 30_000
    # half the points clustered around the many-edge polygon
    px = np.concatenate([
        C.LON_W + rng.random(npts // 2) * C.SPAN_X,
        cx + (rng.random(npts // 2) - 0.5) * 0.004,
    ])
    py = np.concatenate([
        C.LAT_S + rng.random(npts // 2) * C.SPAN_Y,
        cy + (rng.random(npts // 2) - 0.5) * 0.004,
    ])
    pts = spark.createDataFrame(
        pd.DataFrame({"pt": np.arange(npts), "lon": px, "lat": py})
    )
    pdf_polys = spark.createDataFrame(polys, POLY_SCHEMA)
    exp = _bruteforce(polys, px, py)
    assert any(p == 99 for _, p in exp)  # the fallback polygon has hits
    bc = {(r["pt"], r["poly"]) for r in pip_join(pts, pdf_polys, "pt", "poly").collect()}
    sh = {
        (r["pt"], r["poly"])
        for r in pip_join(
            pts, pdf_polys, "pt", "poly", broadcast_max_polys=0, hot_cell_points=5000
        ).collect()
    }
    assert bc == exp and sh == exp


def test_slot_cover_interior_and_outside_cells():
    """Interior cells come out base=1/nslot=0; provably-outside cells are
    dropped; slot counts stay tiny for rectangles."""
    x0 = C.LON_W + 0.3 * C.SPAN_X
    y0 = C.LAT_S + 0.3 * C.SPAN_Y
    # big rect spanning many res-9 cells
    x1, y1 = x0 + 40 * C.SPAN_X / 512, y0 + 40 * C.SPAN_Y / 512
    ring = [x0, y0, x1, y0, x1, y1, x0, y1, x0, y0]
    rs = RingSet.from_arrow_lists([[ring]])
    pdf, K, any_exact = _slot_cover(np.array([7], np.int64), rs, "poly", C.RES_JOIN)
    assert not any_exact and K <= 4
    interior = pdf[(pdf["base"] == 1) & (pdf["nslot"] == 0)]
    assert len(interior) > 0.5 * len(pdf)  # big rect → mostly interior cells
    assert (pdf["nslot"] <= 3).all()
