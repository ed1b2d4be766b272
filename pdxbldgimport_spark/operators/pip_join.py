"""Cell-bucketed point-in-polygon join — the engine's core spatial operator.

Re-expresses every ``ST_Intersects(polygon, point)`` join in the reference
(J4 in SURVEY.md §2.3: tasks/pdx_multi_addrs.rake:41,
tasks/pdx_bldgs.rake:139-144, tasks/metro_output.rake:41,
tasks/metro_quarter_secs.rake:19-27, tasks/clark_shapes.rake:16-163) as:

1. **index**: points get a cell id at RES (pure JVM column arithmetic —
   the petabyte side of the join never crosses into Python here);
   polygons explode to their conservative cover cells (numpy kernel,
   one Arrow batch pass over the — much smaller — polygon side).
2. **bucket join**: equi-join on cell. Planner picks:
   - *broadcast* when the exploded polygon side is small (collect to the
     executors, zero shuffle of the point side — the common case when
     footprint tables are ≪ page tables), else
   - *shuffle* with **hot-cell salting**: cells whose point count exceeds
     a threshold get the point side split across ``n_salt`` sub-keys and
     the polygon side replicated, bounding any single task's input (the
     north_rule's explicit skew handling; AQE skew-join still applies on
     top for residual imbalance).
3. **refine**: exact vectorized ray-cast PIP per candidate pair
   (Arrow pandas UDF over the joined batch; polygon rings are factorized
   per batch so each polygon's geometry is parsed once per batch).

A point lies in exactly one cell, so candidate pairs are unique — no
post-join dedup is needed (unlike generic polygon×polygon cell joins).

At 100 TB: the point side is scanned once, filtered/projected at the
parquet reader (only id+lon+lat+cell survive the scan), and either
(a) never shuffled (broadcast path) or (b) shuffled once on a salted,
bounded-skew key. Polygon cover rows scale with polygon count ×
cells-per-polygon, which the resolution picker keeps bounded.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..geo import cells as C
from ..geo.core import RingSet, points_in_polygons_pairs


# Exploded slot-cover row count above which build_broadcast_cover
# refuses to broadcast (returns None → caller routes to the shuffle
# path). Second gate after broadcast_max_polys: a few big polygons can
# explode to a huge cover even when the polygon COUNT is small.
BROADCAST_MAX_ROWS = 2_000_000
# Points per (cell) above which the shuffle path salts that cell.
HOT_CELL_POINTS = 200_000
N_SALT = 16


def cell_expr(lon: Column, lat: Column, res: int) -> Column:
    """Point cell id as a pure JVM column expression (bit-identical to
    geo.cells.cell_of: same IEEE op order)."""
    n = 1 << res
    ix = F.floor((lon - F.lit(C.LON_W)) / F.lit(C.SPAN_X) * F.lit(float(n)))
    iy = F.floor((lat - F.lit(C.LAT_S)) / F.lit(C.SPAN_Y) * F.lit(float(n)))
    ix = F.greatest(F.lit(0), F.least(F.lit(n - 1), ix)).cast("long")
    iy = F.greatest(F.lit(0), F.least(F.lit(n - 1), iy)).cast("long")
    return (
        F.lit(res).cast("long") * F.lit(1 << 56)
        + F.shiftleft(iy, 28)
        + ix
    )


def tile_expr(lon: Column, lat: Column, res: int = C.RES_TILE) -> Column:
    """Flat tile key iy*2^res+ix (the quarter-section analog,
    tasks/metro_quarter_secs.rake:2-4). Oracle-SQL-expressible."""
    n = 1 << res
    ix = F.floor((lon - F.lit(C.LON_W)) / F.lit(C.SPAN_X) * F.lit(float(n)))
    iy = F.floor((lat - F.lit(C.LAT_S)) / F.lit(C.SPAN_Y) * F.lit(float(n)))
    ix = F.greatest(F.lit(0), F.least(F.lit(n - 1), ix)).cast("long")
    iy = F.greatest(F.lit(0), F.least(F.lit(n - 1), iy)).cast("long")
    return iy * F.lit(n) + ix


def polygon_cover_cells(
    polys: DataFrame,
    poly_id: str,
    rings_col: str = "rings",
    res: int = C.RES_JOIN,
    include_rings: bool = True,
) -> DataFrame:
    """Explode polygons to (poly_id, cell[, rings]): conservative bbox
    cover, exact refine must follow on every candidate. One Arrow pass
    over the polygon side. ``include_rings=False`` emits ids+cells only —
    a polygon covering k cells would otherwise ship its rings k times
    through both the Arrow channel and the downstream shuffle (the
    polygon×polygon join re-attaches geometry AFTER pair dedup instead).
    The broadcast PIP path uses the driver-built slot cover
    (see ``_slot_cover``) instead."""
    fields = [
        T.StructField(poly_id, T.LongType()),
        T.StructField("cell", T.LongType()),
    ]
    if include_rings:
        fields.append(
            T.StructField(rings_col, T.ArrayType(T.ArrayType(T.DoubleType())))
        )
    out_schema = T.StructType(fields)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rs = RingSet.from_arrow_lists(pdf[rings_col])
            from ..geo.core import poly_bbox

            x0, y0, x1, y1 = poly_bbox(rs)
            row, cell = C.cover_cells_bbox(x0, y0, x1, y1, res)
            out = {
                poly_id: pdf[poly_id].to_numpy()[row],
                "cell": cell,
            }
            if include_rings:
                out[rings_col] = pdf[rings_col].to_numpy()[row]
            yield pd.DataFrame(out)

    return polys.select(F.col(poly_id), F.col(rings_col)).mapInPandas(gen, out_schema)



def pip_predicate(rings_col: str, lon_col: str, lat_col: str) -> Column:
    """Even-odd ray-cast point-in-polygon as a pure JVM expression
    (higher-order ``aggregate`` over the rings array — no Python worker,
    no Arrow transfer). Bit-identical op order to the numpy kernel
    ``geo.core.points_in_polygons_pairs``: a ring edge (x1,y1)->(x2,y2)
    crosses iff (y1>qy) != (y2>qy) and qx < x1 + (x2-x1)*(qy-y1)/(y2-y1);
    parity over ALL rings (holes subtract via even-odd). The division is
    guarded by the span test (nested CASE — ANSI-safe).

    This keeps the petabyte point side entirely inside whole-stage
    codegen'd JVM execution; measured ~10× the Arrow/pandas refine on
    the same candidates."""
    ring_crossings = (
        "aggregate(sequence(0, int(size(r) / 2) - 2), 0, (c, i) -> c + "
        f"(CASE WHEN (r[2*i+1] > {lat_col}) != (r[2*i+3] > {lat_col}) THEN "
        f"(CASE WHEN {lon_col} < r[2*i] + (r[2*i+2] - r[2*i]) * "
        f"({lat_col} - r[2*i+1]) / (r[2*i+3] - r[2*i+1]) THEN 1 ELSE 0 END) "
        "ELSE 0 END))"
    )
    # size guard: sequence(0, -1) DESCENDS in Spark — a degenerate ring
    # (< 3 edges) must contribute 0, not index r[-1].
    safe = f"(CASE WHEN size(r) >= 8 THEN {ring_crossings} ELSE 0 END)"
    total = f"aggregate({rings_col}, 0, (acc, r) -> acc + {safe})"
    return F.expr(f"({total}) % 2 = 1")




def _slot_cover_arrays(rs: RingSet, res: int, k_max: int, alloc_k: int | None = None):
    """Numpy core of the slot-cover build (shared by the driver-side
    broadcast builder and the distributed mapInPandas builder).

    For every (polygon, cover cell) pair, the ray-cast crossing count of
    ANY point p in the cell decomposes exactly as:

      base   — edges strictly right of the cell whose y-span contains the
               cell's full y-range: they cross the rightward ray of every
               p in the cell (constant parity contribution);
      slots  — the few edges that may or may not cross depending on p
               (bbox overlapping the cell's ray shadow): per-point test
               needed;
      excluded — edges strictly left of the cell, or with no y-overlap:
               provably never cross for any p in the cell.

    Returns (row, cell, base, nslot, exact, slot_mats, keep): ``row``
    indexes rs's polygons, ``slot_mats`` is {x1,y1,x2,y2} → [n, k_max]
    NaN-padded matrices, ``exact`` flags rows with more than ``k_max``
    slot edges (caller must refine those with the full kernel), ``keep``
    drops provably-outside cells (interior cells come out base=1,
    nslot=0 for free)."""
    from ..geo.core import _poly_edge_ranges, poly_bbox

    x0, y0, x1, y1 = poly_bbox(rs)
    row, cell = C.cover_cells_bbox(x0, y0, x1, y1, res)
    cx0, cy0, cx1, cy1 = C.cell_bounds(cell)
    ex1, ey1, ex2, ey2, epoly = rs.edges()
    starts, counts = _poly_edge_ranges(epoly, rs.n_polys)
    ecnt = counts[row]
    tot = int(ecnt.sum())
    rep = np.repeat(np.arange(len(row), dtype=np.int64), ecnt)
    first = np.concatenate(([0], np.cumsum(ecnt)[:-1]))
    eidx = starts[row][rep] + (np.arange(tot, dtype=np.int64) - first[rep])
    ax1, ay1, ax2, ay2 = ex1[eidx], ey1[eidx], ex2[eidx], ey2[eidx]
    miny, maxy = np.minimum(ay1, ay2), np.maximum(ay1, ay2)
    minx, maxx = np.minimum(ax1, ax2), np.maximum(ax1, ax2)
    # kernel semantics: edge crosses p's ray iff min_y <= py < max_y and
    # px < xint. For p in cell: py in [cy0, cy1), px in [cx0, cx1).
    # eps guard: cell assignment (floor of a float product) can put a
    # point a few ulps outside its cell's recomputed bounds, so the
    # base/excluded shortcuts — which assume p strictly inside — are
    # padded by eps: the exclusion window widens, the base window
    # shrinks, and every borderline edge lands in the exactly-tested
    # slot set instead (slots are correct for ANY p; only base/excluded
    # rely on the bounds).
    eps = 1e-9 + 1e-12 * np.maximum(np.abs(cy0[rep]), np.abs(cy1[rep]))
    y_possible = (miny < cy1[rep] + eps) & (maxy > cy0[rep] - eps)
    not_left = maxx >= cx0[rep] - eps
    relevant = y_possible & not_left
    is_base = (
        relevant
        & (minx > cx1[rep] + eps)
        & (miny <= cy0[rep] - eps)
        & (maxy >= cy1[rep] + eps)
    )
    is_slot = relevant & ~is_base
    base = (
        np.bincount(rep, weights=is_base.astype(np.float64), minlength=len(row))
        .astype(np.int64) % 2
    ).astype(np.int32)
    nslot = np.bincount(
        rep, weights=is_slot.astype(np.float64), minlength=len(row)
    ).astype(np.int64)
    keep = (nslot > 0) | (base == 1)  # drop provably-outside cells

    sel = np.flatnonzero(is_slot)
    srep = rep[sel]  # nondecreasing by construction
    srow_starts = np.concatenate(([0], np.cumsum(nslot)[:-1]))
    pos = np.arange(len(sel), dtype=np.int64) - srow_starts[srep]
    ok = pos < k_max
    # allocate only the columns that will exist (first-touch of fresh
    # pages is the dominant cost of this build on some hosts — NaN-pad
    # matrices sized to the observed max, not the budget)
    if alloc_k is None:
        alloc_k = min(int(nslot.max()) if len(nslot) else 0, k_max)
    slot_mats = {}
    for name, arr in (("x1", ax1), ("y1", ay1), ("x2", ax2), ("y2", ay2)):
        m = np.full((len(row), max(alloc_k, 1)), np.nan)
        m[srep[ok & (pos < alloc_k)], pos[ok & (pos < alloc_k)]] = arr[sel][ok & (pos < alloc_k)]
        slot_mats[name] = m
    return row, cell, base, nslot, nslot > k_max, slot_mats, keep


def _slot_cover(ids: np.ndarray, rs: RingSet, poly_id: str, res: int, k_max: int = 12):
    """Driver-built slot cover for the broadcast PIP path (polys are
    small by contract — they were collectable anyway).

    The per-point refine over this structure is
    ``(base + Σ_k crossing_k) % 2 = 1`` — plain arithmetic that stays
    inside whole-stage codegen. Ray-cast HOFs are CodegenFallback (whole
    stage drops to interpreted, ~25×) and ANY per-candidate mapInPandas
    hits the Arrow channel's ~2-3M rows/s ceiling regardless of cores
    (measured: 60M-row passthrough = 19-30 s at 2/8/32 cores) — the slot
    structure avoids both. Returns (pandas_df, K, any_exact)."""
    row, cell, base, nslot, exact, slot_mats, keep = _slot_cover_arrays(
        rs, res, k_max
    )
    max_nslot = int(nslot.max()) if len(nslot) else 0
    K = min(max_nslot, k_max)  # slot_mats were allocated with K columns
    data = {
        poly_id: ids[row],
        "cell": cell,
        "base": base,
        "nslot": np.minimum(nslot, k_max + 1).astype(np.int32),
        "exact": exact,
    }
    for k in range(K):
        for name in ("x1", "y1", "x2", "y2"):
            data[f"s{k}{name}"] = slot_mats[name][:, k]
    pdf = pd.DataFrame({c: v[keep] for c, v in data.items()})
    return pdf, K, bool(exact.any())


# Fixed slot budget for the distributed (shuffle-path) cover build — the
# output schema must be static across Arrow batches.
K_SHUFFLE = 8


def polygon_cover_slots(
    polys: DataFrame,
    poly_id: str,
    rings_col: str = "rings",
    res: int = C.RES_JOIN,
    k_max: int = K_SHUFFLE,
) -> DataFrame:
    """Distributed slot-cover build for huge polygon sides (the shuffle
    path's spatial index): same structure as the driver-side builder,
    one Arrow pass over the polygon side, fixed ``k_max`` slot columns.
    Rows flagged ``exact`` keep their rings for the HOF fallback; all
    others ship only flat scalars through the shuffle."""
    fields = [
        T.StructField(poly_id, T.LongType()),
        T.StructField("cell", T.LongType()),
        T.StructField("base", T.IntegerType()),
        T.StructField("nslot", T.IntegerType()),
        T.StructField("exact", T.BooleanType()),
    ]
    for k in range(k_max):
        for name in ("x1", "y1", "x2", "y2"):
            fields.append(T.StructField(f"s{k}{name}", T.DoubleType()))
    fields.append(T.StructField(rings_col, T.ArrayType(T.ArrayType(T.DoubleType()))))
    out_schema = T.StructType(fields)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            rs = RingSet.from_arrow_lists(pdf[rings_col])
            row, cell, base, nslot, exact, slot_mats, keep = _slot_cover_arrays(
                rs, res, k_max, alloc_k=k_max  # fixed schema across batches
            )
            data = {
                poly_id: pdf[poly_id].to_numpy()[row],
                "cell": cell,
                "base": base,
                "nslot": np.minimum(nslot, k_max + 1).astype(np.int32),
                "exact": exact,
            }
            for k in range(k_max):
                for name in ("x1", "y1", "x2", "y2"):
                    data[f"s{k}{name}"] = slot_mats[name][:, k]
            rings_out = pdf[rings_col].to_numpy()[row].copy()
            rings_out[~exact] = None  # geometry only rides exact rows
            data[rings_col] = rings_out
            yield pd.DataFrame({c: v[keep] for c, v in data.items()})

    return polys.select(F.col(poly_id), F.col(rings_col)).mapInPandas(gen, out_schema)



def _slot_predicate(K: int, lon_col: str = "lon", lat_col: str = "lat") -> Column:
    """Codegen-able exact PIP predicate over the slot-cover columns."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    total: Column = F.col("base")
    for k in range(K):
        x1, y1 = F.col(f"s{k}x1"), F.col(f"s{k}y1")
        x2, y2 = F.col(f"s{k}x2"), F.col(f"s{k}y2")
        span = (y1 > lat) != (y2 > lat)
        xint = x1 + (x2 - x1) * (lat - y1) / (y2 - y1)
        # CASE nesting keeps the division unevaluated unless span holds
        # (ANSI-safe) and NaN pads unread (slot valid only when k < nslot).
        term = (
            F.when(
                F.lit(k) < F.col("nslot"),
                F.when(span, F.when(lon < xint, 1).otherwise(0)).otherwise(0),
            )
            .otherwise(0)
        )
        total = total + term
    return total % 2 == 1


def _refine_pip_kernel(
    joined: DataFrame,
    b_geom,
    point_id: str,
    poly_id: str,
    carry: list[tuple[str, T.DataType]] | None = None,
) -> DataFrame:
    """numpy ray-cast refine fallback (rows whose cell-local edge list
    exceeded the slot budget). Candidate rows carry only flat columns;
    rings come from the (sorted_ids, RingSet) broadcast."""
    carry = carry or []
    schema = T.StructType(
        [
            T.StructField(point_id, T.LongType()),
            T.StructField(poly_id, T.LongType()),
            *(T.StructField(c, t) for c, t in carry),
        ]
    )

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, rs = b_geom.value  # ids sorted ascending
        for pdf in it:
            if pdf.empty:
                continue
            pair_poly = np.searchsorted(ids, pdf[poly_id].to_numpy()).astype(np.int64)
            inside = points_in_polygons_pairs(
                pdf["lon"].to_numpy(),
                pdf["lat"].to_numpy(),
                rs,
                np.arange(len(pdf), dtype=np.int64),
                pair_poly,
            )
            out = {
                point_id: pdf[point_id].to_numpy()[inside],
                poly_id: pdf[poly_id].to_numpy()[inside],
            }
            for c, _ in carry:
                out[c] = pdf[c].to_numpy()[inside]
            yield pd.DataFrame(out)

    return joined.mapInPandas(refine, schema)



class BroadcastCover:
    """Prebuilt broadcast-side spatial index: the slot-cover DataFrame
    (driver-materialized), its slot-column count, the exact-fallback
    geometry broadcast, and the indexed id column. Built once at ingest —
    the reference builds its GiST indexes at table-build time
    (add_spatial_index, tasks/pdx_bldgs.rake:120-121) for the same
    reason: every spatial query reuses the index instead of re-deriving
    it."""

    __slots__ = ("cover", "K", "any_exact", "b_geom", "poly_id", "res")

    def __init__(self, cover, K, any_exact, b_geom, poly_id, res):
        self.cover = cover
        self.K = K
        self.any_exact = any_exact
        self.b_geom = b_geom
        self.poly_id = poly_id
        self.res = res


def build_broadcast_cover(
    polys: DataFrame,
    poly_id: str,
    rings_col: str = "rings",
    res: int | None = None,
    k_max: int = 12,
    max_polys: int | None = None,
    polys_count: int | None = None,
) -> BroadcastCover | None:
    """Collect the (small) polygon side and build its slot cover +
    out-of-band geometry broadcast. Returns None for an empty side, a
    side over ``max_polys`` rows, or a cover over BROADCAST_MAX_ROWS
    exploded rows — callers MUST treat None as "route this join through
    the shuffle path" (at 100× footprints an ungated collect here dies
    at the driver with no fallback; the gate is a cheap JVM count that
    never materializes geometry driver-side when it fails).
    ``polys_count`` may be passed (e.g. from a stage manifest) to skip
    the planning count.

    ``res=None`` auto-picks the cover resolution from the mean polygon
    bbox (geo.cells.res_for_polygons). Measured at 1.31B points,
    local[32], 2k footprints: res 9 → 180k cover rows, 19.5 s; res 7
    (the picker's choice) → 21k rows, 15.2 s — the probe-side hash
    relation drops from ~30 MB to cache-resident, and the join is
    memory-latency-bound at full parallelism; res 6 over-coarsens
    (28 s: too many candidates per point). Exactness is res-invariant
    (the slot refine is the full ray-cast at any resolution)."""
    if max_polys is not None:
        if polys_count is None:
            polys_count = polys.count()  # JVM count — no geometry moves
        if polys_count > max_polys:
            return None
    geom = polys.select(poly_id, rings_col).collect()
    if not geom:
        return None
    spark = polys.sparkSession
    order = np.argsort(np.array([r[0] for r in geom], dtype=np.int64))
    ids = np.array([geom[i][0] for i in order], dtype=np.int64)
    rs = RingSet.from_arrow_lists([geom[i][1] for i in order])
    if res is None:
        from ..geo.core import poly_bbox

        x0, y0, x1, y1 = poly_bbox(rs)
        res = C.res_for_polygons(float(np.mean(x1 - x0)), float(np.mean(y1 - y0)))
    cover_pdf, K, any_exact = _slot_cover(ids, rs, poly_id, res, k_max)
    if len(cover_pdf) > BROADCAST_MAX_ROWS:
        return None  # cover too wide to broadcast → shuffle path
    cover = spark.createDataFrame(cover_pdf)
    b_geom = (
        spark.sparkContext.broadcast((ids, rs)) if any_exact else None
    )
    return BroadcastCover(cover, K, any_exact, b_geom, poly_id, res)


def pip_join_with_cover(
    points: DataFrame,
    bc: BroadcastCover,
    point_id: str,
    carry: list[tuple[str, T.DataType]] | None = None,
) -> DataFrame:
    """The broadcast PIP join against a prebuilt cover — one whole-stage
    codegen pipeline over the point side."""
    carry = carry or []
    poly_id = bc.poly_id
    pts = points.select(point_id, "lon", "lat", *(c for c, _ in carry)).withColumn(
        "cell", cell_expr(F.col("lon"), F.col("lat"), bc.res)
    )
    out_cols = [point_id, poly_id, *(c for c, _ in carry)]
    fast = (
        pts.join(F.broadcast(bc.cover.where(~F.col("exact")).drop("exact")), "cell")
        .where(_slot_predicate(bc.K))
        .select(*out_cols)
    )
    if not bc.any_exact:
        return fast
    slow_cand = pts.join(
        F.broadcast(bc.cover.where(F.col("exact")).select(poly_id, "cell")), "cell"
    )
    slow = _refine_pip_kernel(slow_cand, bc.b_geom, point_id, poly_id, carry)
    return fast.unionByName(slow)


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    point_id: str,
    poly_id: str,
    rings_col: str = "rings",
    res: int | None = None,
    broadcast_max_polys: int = 100_000,
    hot_cell_points: int = HOT_CELL_POINTS,
    n_salt: int = N_SALT,
    polys_count: int | None = None,
    carry: list[tuple[str, T.DataType]] | None = None,
    prebuilt: BroadcastCover | None = None,
    hot_cells: list[int] | None = None,
) -> DataFrame:
    """Spatial inner join: (point_id, poly_id) for each point inside a
    polygon. ``points`` needs (point_id, lon, lat); ``polys`` needs
    (poly_id, rings). ``polys_count`` may be passed to skip the planning
    count (e.g. from a stage manifest). ``carry`` = extra point-side
    columns emitted alongside the pair — map-side, no join-back shuffle.
    ``prebuilt`` = an ingest-time ``build_broadcast_cover`` index; when
    given, ``polys`` is not touched at all. ``hot_cells`` = precomputed
    skew stats for the shuffle path (cell ids needing salting), normally
    read from the ingest stage manifest (StageRunner records them) — when
    given, the shuffle path plans with ZERO extra scans of the point
    side; when None it falls back to a planning pass (documented cost: a
    full extra scan + driver collect, fine at test scale only).

    Broadcast path = ONE whole-stage-codegen pipeline over the point
    side: scan → cell id → broadcast hash join on cell → slot-cover
    arithmetic refine (see ``_slot_cover`` for why neither HOFs nor
    pandas UDFs appear on the big side). Shuffle path (huge polygon
    side) salts hot cells explicitly and refines via the ray-cast HOF.
    """
    carry = carry or []
    if prebuilt is not None:
        return pip_join_with_cover(points, prebuilt, point_id, carry)
    if polys_count is None:
        polys_count = polys.count()  # JVM-only count on the small side
    out_cols = [point_id, poly_id, *(c for c, _ in carry)]

    if polys_count == 0:
        schema = T.StructType(
            [
                T.StructField(point_id, T.LongType()),
                T.StructField(poly_id, T.LongType()),
                *(T.StructField(c, t) for c, t in carry),
            ]
        )
        return points.sparkSession.createDataFrame([], schema)
    if polys_count <= broadcast_max_polys:
        bc = build_broadcast_cover(polys, poly_id, rings_col, res)  # res None → auto
        if bc is not None:
            return pip_join_with_cover(points, bc, point_id, carry)
        # cover exceeded BROADCAST_MAX_ROWS → fall through to shuffle

    if res is None:
        res = C.RES_JOIN  # shuffle path: no driver-side stats to auto-pick from
    pts = points.select(point_id, "lon", "lat", *(c for c, _ in carry)).withColumn(
        "cell", cell_expr(F.col("lon"), F.col("lat"), res)
    )
    # Shuffle path (huge polygon side) with explicit hot-cell salting.
    # The spatial index — the distributed slot cover — is materialized
    # once (this is the GiST-build analog; at scale it would be an
    # Iceberg index table reused across joins). Non-exact candidate rows
    # carry only flat scalars through the shuffle and refine with the
    # codegen slot predicate; rare >K-slot rows keep rings and refine via
    # the ray-cast HOF on their own (small) branch.
    from ..queries import cut  # queries imports this module

    cover = cut(polygon_cover_slots(polys, poly_id, rings_col, res))
    has_exact = cover.where(F.col("exact")).limit(1).count() > 0

    def salted(cov: DataFrame, pts_in: DataFrame):
        if hot_cells is not None:
            # manifest-fed skew stats: no planning scan of the point side
            hot_set = set(hot_cells)
        else:
            hot = (
                pts_in.groupBy("cell")
                .count()
                .filter(F.col("count") > hot_cell_points)
                .select("cell")
            )
            hot_set = {r["cell"] for r in hot.collect()}
        if not hot_set:
            return pts_in.join(cov, "cell")
        hot_lit = F.col("cell").isin(list(hot_set))
        pts_s = pts_in.withColumn(
            "salt",
            F.when(
                hot_lit, F.pmod(F.xxhash64(F.col(point_id)), F.lit(n_salt))
            ).otherwise(F.lit(0)),
        )
        cov_s = cov.withColumn(
            "salt",
            F.explode(
                F.when(hot_lit, F.sequence(F.lit(0), F.lit(n_salt - 1))).otherwise(
                    F.array(F.lit(0))
                )
            ),
        )
        return pts_s.join(cov_s, ["cell", "salt"])

    fast = (
        salted(cover.where(~F.col("exact")).drop("exact", rings_col), pts)
        .where(_slot_predicate(K_SHUFFLE))
        .select(*out_cols)
    )
    if not has_exact:
        return fast
    slow = (
        pts.join(cover.where(F.col("exact")).select(poly_id, "cell", rings_col), "cell")
        .where(pip_predicate(rings_col, "lon", "lat"))
        .select(*out_cols)
    )
    return fast.unionByName(slow)
