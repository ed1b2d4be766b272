"""Spatial-analytics family: within-distance join, spatial
autocorrelation, R-tree bulk packing, and curriculum ordering.

These extend the conflation core (queries.py) with the analysis passes a
production geo-webtext pipeline runs AFTER assignment: ``dwithin_join``
is the PostGIS ``ST_DWithin`` analog of the reference's
distance-ordered candidate scan (tasks/metro_quarter_secs.rake:80-86 —
the kNN resolver's "all candidates within radius" sibling);
``tile_moran`` quantifies the hot-cell clustering the north_rule's
salting path exists for (global Moran's I over the RES_TILE density
raster); ``str_pack`` is Sort-Tile-Recursive R-tree bulk loading (the
batch analog of the reference's GiST ``add_spatial_index`` sites, e.g.
tasks/pdx_bldgs.rake:120-121) built on an exact distributed rank;
``curriculum_order`` applies the same rank machinery to the corpus
itself — a total training-curriculum order and shard assignment with no
global sort.

Cross-engine determinism: distances and centroids flow through
identical IEEE-754 expression trees in both engines (same discipline as
knn_unassigned); every aggregate/output is exact int64; sqrt/ceil are
IEEE-correctly-rounded so the STR slice parameters agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import synth
from .geo import cells as C
from .operators.knn import (
    BROADCAST_MAX_RING_ROWS,
    RES_KNN,
    dwithin_pairs,
    ring_cells,
)
from .operators.pip_join import tile_expr
from .operators.ranking import global_rank
from .queries import (
    _ix_sql,
    _iy_sql,
    cut,
    prepared_footprints,
    register,
    stage,
    views,
)
from .queries_text import _h60_sql
from .session import session_token
from .streaming.gate import gate, sentinel_dump

# ----------------------------------------------------------------------
# dwithin_join: every (page, footprint-centroid) pair within DWITHIN_DEG
# planar degrees — ST_DWithin re-expressed as the kNN kernel's cell-ring
# equi-join with an exact distance refine.
#
# Completeness guarantee: DWITHIN_DEG (0.03°) is strictly less than the
# RES_KNN cell edge in BOTH axes (edge_x = 0.05°, edge_y = 0.0375°), so
# any candidate within the radius differs by at most one cell index per
# axis — a 1-ring (9 cells) on the SMALL side provably covers every
# qualifying pair (property-tested vs brute force in tests/
# test_spatial.py). Scale shape: the page side gets one arithmetic cell
# projection and never explodes; the ring explode is 9 × |footprints|;
# broadcast under the same gate as knn_join, shuffle-equi-join above it.
# The oracle is the algorithm-independent direct distance join (DuckDB
# plans it as an IEJoin on the bbox bounds).

DWITHIN_DEG = 0.03

_D2_SQL = (
    "((p.lon - f.cx) * (p.lon - f.cx) + (p.lat - f.cy) * (p.lat - f.cy))"
)


def _centroid_cte() -> str:
    """Valid-footprint centroids reproducing geo.core.poly_centroid's
    IEEE op order exactly (same discipline as queries._area_ft2_sql):
    the engine's centroid is the area-weighted shoelace centroid over
    the ring [x0y0, x1y0, x1y1, x0y1, x0y0], its four edge terms summed
    left-to-right (np.bincount accumulates sequentially in edge order),
    then divided by 3.0·(2A). A midpoint formulation ((x0+x1)/2) is
    analytically equal but rounds differently — low-bit d2 drift flips
    the boundary membership this query's exact gate hashes."""
    c = ["(x0 * y0 - x1 * y0)", "(x1 * y1 - x1 * y0)",
         "(x1 * y1 - x0 * y1)", "(x0 * y0 - x0 * y1)"]
    wx = ["(x0 + x1)", "(x1 + x1)", "(x1 + x0)", "(x0 + x0)"]
    wy = ["(y0 + y0)", "(y0 + y1)", "(y1 + y1)", "(y1 + y0)"]
    cxs = f"((({wx[0]} * {c[0]} + {wx[1]} * {c[1]}) + {wx[2]} * {c[2]}) + {wx[3]} * {c[3]})"
    cys = f"((({wy[0]} * {c[0]} + {wy[1]} * {c[1]}) + {wy[2]} * {c[2]}) + {wy[3]} * {c[3]})"
    a2 = f"((({c[0]} + {c[1]}) + {c[2]}) + {c[3]})"
    return f"""
, fc AS (
  SELECT fp_id,
         {cxs} / (3e0 * {a2}) AS cx,
         {cys} / (3e0 * {a2}) AS cy
  FROM footprints_base WHERE fp_id % 97 <> 5
)"""


_DWITHIN_ORACLE = (
    synth.oracle_with("pages", "footprints_base")
    + _centroid_cte()
    + f"""
SELECT p.page_id, f.fp_id,
       CAST(FLOOR({_D2_SQL} * 1000000000000e0) AS BIGINT) AS d2_e12
FROM pages p
JOIN fc f
  ON p.lon >= f.cx - {DWITHIN_DEG!r}e0 AND p.lon <= f.cx + {DWITHIN_DEG!r}e0
 AND p.lat >= f.cy - {DWITHIN_DEG!r}e0 AND p.lat <= f.cy + {DWITHIN_DEG!r}e0
 AND {_D2_SQL} <= {DWITHIN_DEG!r}e0 * {DWITHIN_DEG!r}e0
"""
)


@register("dwithin_join", _DWITHIN_ORACLE)
def q_dwithin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    pages = spark.table("pages")
    cents = prepared_footprints(spark, sf_dir).select(
        "fp_id", "centroid_lon", "centroid_lat"
    )
    pairs = dwithin_pairs(pages, cents, DWITHIN_DEG, res=RES_KNN)
    return pairs.select(
        "page_id",
        "fp_id",
        F.floor(F.col("d2") * F.lit(1e12)).cast("long").alias("d2_e12"),
    )


# ----------------------------------------------------------------------
# tile_moran: global Moran's I components over the RES_TILE page-density
# raster with rook (4-neighbor) contiguity — the spatial-autocorrelation
# statistic that certifies the hot-cell skew the north_rule's salting
# path handles (a clustered-hot-parcel world must score I >> 0).
#
# Everything is exact int64: with n observed tiles and S total pages,
# the per-tile deviation is dev_i = n·x_i − S (the mean-centered value
# scaled by n, an integer), so
#     I = (n · sum_cross) / (w_sum · sum_sq)
# from the emitted components; no floats cross the engine boundary.
# Scale shape: the corpus contributes ONE staged partial/final tile agg
# (shared with tile_pyramid/tile_focal_stats); every later step operates
# on the ≤(2^res)² tile table — a 4-way explode, a broadcast self-join,
# and three single-row aggregates. Corpus-size-independent beyond the
# shared base agg.


def _moran_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, base AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)} AS t,
         COUNT(*) AS c
  FROM pages GROUP BY 1
)
, tot AS (SELECT COUNT(*) AS nt, CAST(SUM(c) AS BIGINT) AS s FROM base)
, dev AS (SELECT b.t, t2.nt * b.c - t2.s AS d FROM base b CROSS JOIN tot t2)
, nb AS (
  SELECT ((b.t // {n}) + o.dy) * {n} + (b.t % {n}) + o.dx AS t, b.d AS dn
  FROM dev b
  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
  WHERE (b.t % {n}) + o.dx BETWEEN 0 AND {n - 1}
    AND (b.t // {n}) + o.dy BETWEEN 0 AND {n - 1}
)
, pairs AS (SELECT a.d, nb.dn FROM dev a JOIN nb ON nb.t = a.t)
SELECT t2.nt AS n_tiles, t2.s AS total_pages, p.w_sum, p.sum_cross, q.sum_sq
FROM tot t2
CROSS JOIN (
  SELECT COUNT(*) AS w_sum, CAST(SUM(d * dn) AS BIGINT) AS sum_cross
  FROM pairs
) p
CROSS JOIN (SELECT CAST(SUM(d * d) AS BIGINT) AS sum_sq FROM dev) q
"""
    )


@register("tile_moran", _moran_oracle())
def q_tile_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << C.RES_TILE
    base = stage(
        spark,
        (session_token(spark), sf_dir, "tile_pyramid_base"),
        lambda: spark.table("pages")
        .select(tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c")),
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("nt"), F.sum("c").cast("long").alias("s")
    )
    dev = (
        base.crossJoin(F.broadcast(tot))
        .select("t", (F.col("nt") * F.col("c") - F.col("s")).alias("d"))
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        ]
    )
    nb = (
        dev.select("t", "d", F.explode(offsets).alias("o"))
        .where(
            ((F.col("t") % n) + F.col("o.dx")).between(0, n - 1)
            & (F.expr(f"t div {n}") + F.col("o.dy")).between(0, n - 1)
        )
        .select(
            (
                (F.expr(f"t div {n}") + F.col("o.dy")) * n
                + (F.col("t") % n)
                + F.col("o.dx")
            ).alias("t"),
            F.col("d").alias("dn"),
        )
    )
    cross = dev.join(F.broadcast(nb), "t").agg(
        F.count(F.lit(1)).alias("w_sum"),
        F.sum(F.col("d") * F.col("dn")).alias("sum_cross"),
    )
    sq = dev.agg(F.sum(F.col("d") * F.col("d")).alias("sum_sq"))
    return (
        tot.crossJoin(cross)
        .crossJoin(sq)
        .select(
            F.col("nt").alias("n_tiles"),
            F.col("s").alias("total_pages"),
            "w_sum",
            "sum_cross",
            "sum_sq",
        )
    )


# ----------------------------------------------------------------------
# str_pack: Sort-Tile-Recursive R-tree bulk loading (Leutenegger et al.,
# ICDE'97) of the footprint centroids into leaf nodes of capacity B —
# the batch index build behind every spatial query, re-expressed so the
# two total orders it needs (global by cx, per-slice by cy) come from
# operators.ranking.global_rank instead of single-task windows. Slice
# count S = ceil(sqrt(N/B)) and slice size P = ceil(N/S) are computed
# IN-PLAN from a one-row count (no driver-side collect); sqrt and ceil
# are IEEE-correctly-rounded in both engines so the parameters agree
# exactly. The oracle is the algorithm-independent direct formulation
# (two plain ROW_NUMBER windows).

STR_LEAF_B = 64
_STR_BUCKET_RES = 7  # 128 rank buckets per axis for the two-phase rank


def _str_oracle() -> str:
    b = STR_LEAF_B
    return (
        synth.oracle_with("footprints_base")
        + _centroid_cte()  # ORDER BY must see the engine's exact
        # shoelace centroids: a midpoint formulation collapses each grid
        # column to one tied cx, but the shoelace rounding separates
        # them by ~1e-10 — a different total order, different slices.
        + f"""
, prm AS (
  SELECT n, s, (n + s - 1) // s AS p, ((n + s - 1) // s + {b - 1}) // {b} AS nps
  FROM (
    SELECT n, CAST(CEIL(SQRT(n / {float(b)!r})) AS BIGINT) AS s
    FROM (SELECT COUNT(*) AS n FROM fc)
  )
)
, ranked AS (
  SELECT fp_id, cy,
         ROW_NUMBER() OVER (ORDER BY cx, fp_id) - 1 AS r
  FROM fc
)
, sliced AS (
  SELECT r1.fp_id, r1.cy, r1.r // p2.p AS slice, p2.nps
  FROM ranked r1 CROSS JOIN prm p2
)
, yr AS (
  SELECT fp_id, slice, nps,
         ROW_NUMBER() OVER (PARTITION BY slice ORDER BY cy, fp_id) - 1 AS ry
  FROM sliced
)
SELECT fp_id, slice, slice * nps + ry // {b} AS node_id FROM yr
"""
    )


def _ix_col(c: Column, res: int, lo: float, span: float) -> Column:
    n = 1 << res
    v = F.floor((c - F.lit(lo)) / F.lit(span) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), v)).cast("long")


@register("str_pack", _str_oracle())
def q_str_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = STR_LEAF_B
    fc = prepared_footprints(spark, sf_dir).select(
        "fp_id",
        F.col("centroid_lon").alias("cx"),
        F.col("centroid_lat").alias("cy"),
    )
    prm = (
        fc.agg(F.count(F.lit(1)).alias("n"))
        .select(
            "n",
            F.ceil(F.sqrt(F.col("n") / F.lit(float(b)))).cast("long").alias("s"),
        )
        .select("n", "s", F.expr("(n + s - 1) div s").alias("p"))
        .select("n", "s", "p", F.expr(f"(p + {b - 1}) div {b}").alias("nps"))
    )
    work = fc.crossJoin(F.broadcast(prm))
    ranked = global_rank(
        work,
        bucket=_ix_col(F.col("cx"), _STR_BUCKET_RES, C.LON_W, C.SPAN_X),
        order_cols=[F.col("cx"), F.col("fp_id")],
        rank_col="r",
    )
    sliced = ranked.withColumn("slice", F.expr("r div p"))
    yr = global_rank(
        sliced,
        bucket=_ix_col(F.col("cy"), _STR_BUCKET_RES, C.LAT_S, C.SPAN_Y),
        order_cols=[F.col("cy"), F.col("fp_id")],
        rank_col="ry",
        partition_cols=["slice"],
    )
    return yr.select(
        "fp_id",
        "slice",
        F.expr(f"slice * nps + ry div {b}").alias("node_id"),
    )


# ----------------------------------------------------------------------
# curriculum_order: exact global training-curriculum position + shard
# assignment for every page — ordered by (quality bucket asc, 60-bit
# content hash, page_id), i.e. curriculum-graded with deterministic
# within-grade shuffling — WITHOUT a global sort: the corpus-scale rank
# comes from global_rank's bucket-offset decomposition (bucket =
# qb · 256 + top-8-bits(hash), order-consistent by construction), so the
# widest window any task executes is one (qb, hash-prefix) bucket.
# Shards are balanced by construction: shard = pos·NSHARDS div N.

CURR_NSHARDS = 16


def _curriculum_oracle() -> str:
    h = _h60_sql("md5(url)", "strpos")
    return (
        synth.oracle_with("pages")
        + f"""
, scored AS (
  SELECT page_id,
         LEAST(9, CAST(length(text) AS BIGINT) // 256) AS qb,
         {h} AS h
  FROM pages
)
, nn AS (SELECT COUNT(*) AS n FROM scored)
, ranked AS (
  SELECT page_id, qb,
         ROW_NUMBER() OVER (ORDER BY qb, h, page_id) - 1 AS pos
  FROM scored
)
SELECT r.page_id, r.qb, r.pos, (r.pos * {CURR_NSHARDS}) // nn.n AS shard
FROM ranked r CROSS JOIN nn
"""
    )


@register("curriculum_order", _curriculum_oracle())
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    scored = spark.table("pages").select(
        "page_id",
        F.least(
            F.lit(9).cast("long"),
            F.expr("CAST(length(text) AS BIGINT) div 256"),
        ).alias("qb"),
        F.expr(_h60_sql("md5(cast(url as binary))", "instr")).alias("h"),
    )
    nn = scored.agg(F.count(F.lit(1)).alias("n"))
    bucket = F.col("qb") * F.lit(256) + F.expr(f"h div {1 << 52}")
    ranked = global_rank(
        scored,
        bucket=bucket,
        order_cols=[F.col("qb"), F.col("h"), F.col("page_id")],
        rank_col="pos",
    )
    return ranked.crossJoin(F.broadcast(nn)).select(
        "page_id",
        "qb",
        "pos",
        F.expr(f"(pos * {CURR_NSHARDS}) div n").alias("shard"),
    )


# ----------------------------------------------------------------------
# host_tile_affinity: pointwise mutual information between HOST and
# TILE over the geocoded pages — "which hosts are geographically
# concentrated, and where" — the geo×web affinity surface a localized
# crawl/serving pipeline publishes (the hot host h0 must light up the
# hot parcel's tiles). Same integer PMI surrogate as colloc_pmi_topk:
# score = floor(SCALE · c_ht · N / (c_h · c_t)) on DECIMAL(38)/HUGEINT
# operands — exact int64 cross-engine, rank-equivalent to PMI (log is
# monotone). Scale shape: ONE partial/final (host, tile) agg over the
# corpus; host and tile marginals are aggs of that table (never a
# second corpus pass), attached by broadcast (hosts and the tile grid
# are both bounded); N rides a one-row crossJoin. Pairs below
# HT_MIN_COUNT are cut before the joins.

HT_SCALE = 1_000_000
HT_MIN_COUNT = 5


def _affinity_oracle() -> str:
    from .queries_web import RAW_HOST_RE

    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, pt AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)} AS tile
  FROM pages
)
, cht AS (
  SELECT host, tile, COUNT(*) AS c_ht FROM pt GROUP BY 1, 2
  HAVING COUNT(*) >= {HT_MIN_COUNT}
)
, ch AS (SELECT host, COUNT(*) AS c_h FROM pt GROUP BY 1)
, ct AS (SELECT tile, COUNT(*) AS c_t FROM pt GROUP BY 1)
, tot AS (SELECT COUNT(*) AS n FROM pt)
SELECT b.host, b.tile, b.c_ht,
       CAST((CAST({HT_SCALE} AS HUGEINT) * b.c_ht * t.n)
            // (CAST(h.c_h AS HUGEINT) * c.c_t) AS BIGINT) AS pmi_scaled
FROM cht b
JOIN ch h ON h.host = b.host
JOIN ct c ON c.tile = b.tile
CROSS JOIN tot t
"""
    )


@register("host_tile_affinity", _affinity_oracle())
def q_host_tile_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_web import RAW_HOST_RE

    views(spark, sf_dir)
    pt = spark.table("pages").select(
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"),
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("tile"),
    )
    cht = (
        pt.groupBy("host", "tile")
        .agg(F.count(F.lit(1)).alias("c_ht"))
        .where(F.col("c_ht") >= HT_MIN_COUNT)
    )
    # marginals from the (host, tile) table — bounded, never the corpus
    full = pt.groupBy("host", "tile").agg(F.count(F.lit(1)).alias("c"))
    ch = full.groupBy("host").agg(F.sum("c").alias("c_h"))
    ct = full.groupBy("tile").agg(F.sum("c").alias("c_t"))
    tot = full.agg(F.sum("c").alias("n"))
    return (
        cht.join(F.broadcast(ch), "host")
        .join(F.broadcast(ct), "tile")
        .crossJoin(F.broadcast(tot))
        .select(
            "host",
            "tile",
            "c_ht",
            F.expr(
                f"CAST((CAST({HT_SCALE} AS DECIMAL(38,0)) * c_ht * n)"
                " DIV (CAST(c_h AS DECIMAL(38,0)) * c_t) AS BIGINT)"
            ).alias("pmi_scaled"),
        )
    )


# ----------------------------------------------------------------------
# tile_counts_streamed: the batch page_tile_counts twin under Structured
# Streaming (streaming/tiles.py) — continuous tile assignment with a
# watermarked tumbling window, the §2.9 streaming story applied to the
# SPATIAL core. Gate plumbing (streaming/gate.py): the pages table is
# dumped once per (session, sf_dir) as partitioned parquet plus one
# far-future sentinel file so the cold availableNow drain's watermark
# passes the single 24h data window; the sentinel's group is filtered by
# its negative marker. The operator under test (stream_tile_counts) is
# the production path: map-side tile arithmetic, bounded window state,
# append-mode exactly-once file sink. Output hash-matches the BATCH
# page_tile_counts oracle.

_TILE_SENTINEL_MARGIN_S = 48 * 3600  # > window (24h) + watermark (1h)


def _tile_counts_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
         AS tile_id,
       COUNT(*) AS page_count
FROM pages
GROUP BY 1
"""
    )


@register("tile_counts_streamed", _tile_counts_oracle())
def q_tile_counts_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import tiles as ST

    views(spark, sf_dir)
    src = sentinel_dump(
        spark, sf_dir, "pages", "warc_ts",
        {"page_id": -1, "lon": C.LON_W, "lat": C.LAT_S},
        _TILE_SENTINEL_MARGIN_S,
    )
    return gate(
        spark, ST.stream_tile_counts, src,
        "ts timestamp_ntz, page_id long, lon double, lat double",
        F.col("min_page_id") >= 0,
    ).select("tile_id", "page_count")


# ----------------------------------------------------------------------
# fp_knn_graph: the k-nearest-neighbor GRAPH over footprint centroids
# (k = 4, ring-bounded) — the spatial index artifact behind clustering,
# outlier detection, and mesh simplification (and the geometry-space
# twin of the embedding ANN family in queries_text). Built on the same
# knn_join kernel as the north-star resolver with top_k = 5: self is
# always rank 1 at d2 = 0 (centroids are pairwise distinct in the synth
# world), dropped and re-based so ranks are 1..4. Semantics stay
# ring-bounded exactly like knn_unassigned: a footprint with fewer than
# 4 ring neighbors emits fewer rows; the oracle expresses the identical
# ring bound.

FP_KNN_K = 4


def _fp_knn_oracle() -> str:
    from .operators.knn import K_RING, RES_KNN

    return (
        synth.oracle_with("footprints_base")
        + _centroid_cte()
        + f"""
, fcc AS (
  SELECT fp_id, cx, cy,
         {_ix_sql('cx', RES_KNN)} AS ix, {_iy_sql('cy', RES_KNN)} AS iy
  FROM fc
)
, ranked AS (
  SELECT a.fp_id AS src_fp, b.fp_id AS nbr_fp,
         ROW_NUMBER() OVER (
           PARTITION BY a.fp_id
           ORDER BY (a.cx - b.cx) * (a.cx - b.cx)
                  + (a.cy - b.cy) * (a.cy - b.cy),
                  b.fp_id
         ) AS rnk
  FROM fcc a
  JOIN fcc b
    ON abs(a.ix - b.ix) <= {K_RING}
   AND abs(a.iy - b.iy) <= {K_RING}
   AND a.fp_id <> b.fp_id
)
SELECT src_fp, nbr_fp, rnk FROM ranked WHERE rnk <= {FP_KNN_K}
"""
    )


@register("fp_knn_graph", _fp_knn_oracle())
def q_fp_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.knn import knn_join

    fps = prepared_footprints(spark, sf_dir)
    pts = fps.select(
        F.col("fp_id").alias("src_fp"),
        F.col("centroid_lon").alias("lon"),
        F.col("centroid_lat").alias("lat"),
    )
    cents = fps.select("fp_id", "centroid_lon", "centroid_lat")
    nn = knn_join(pts, cents, "src_fp", "fp_id", top_k=FP_KNN_K + 1)
    return (
        nn.where(F.col("src_fp") != F.col("fp_id"))
        .select(
            "src_fp",
            F.col("fp_id").alias("nbr_fp"),
            (F.col("rn") - F.lit(1)).cast("long").alias("rnk"),
        )
    )


# ----------------------------------------------------------------------
# zonal_stats: GIS zonal statistics — per polygon zone (footprint), the
# count / sum / max of a page metric (text length) over the pages it
# contains. The raster-analysis companion to tile_focal_stats with
# VECTOR zones, and the reference's per-building rollup shape
# (tasks/pdx_shapes.rake:162-175 counts; here with metric aggregates).
# Scale shape: the zone assignment IS the flagship PIP join (broadcast
# cover / salted shuffle, carry threads the metric column through so
# the corpus is scanned once), followed by ONE partial/final agg keyed
# by zone. Nothing new shuffles — this is the pattern every "stats per
# polygon" report reuses.


def _zonal_oracle() -> str:
    return (
        synth.oracle_with("pages", "footprints_base")
        + """
SELECT f.fp_id, COUNT(*) AS n_pages,
       CAST(SUM(length(p.text)) AS BIGINT) AS sum_len,
       CAST(MAX(length(p.text)) AS BIGINT) AS max_len
FROM pages p
JOIN footprints_base f
  ON p.pid = f.pid
 AND f.fp_id % 97 <> 5
 AND p.lon >= f.x0 AND p.lon < f.x1
 AND p.lat >= f.y0 AND p.lat < f.y1
GROUP BY 1
"""
    )


@register("zonal_stats", _zonal_oracle())
def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from .queries import pip_fp_join

    views(spark, sf_dir)
    pts = spark.table("pages").select(
        "page_id", "lon", "lat",
        F.length("text").cast("long").alias("len_c"),
    )
    assigned = pip_fp_join(
        spark, sf_dir, pts, "page_id", carry=[("len_c", T.LongType())]
    )
    return assigned.groupBy("fp_id").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("len_c").alias("sum_len"),
        F.max("len_c").alias("max_len"),
    )


# ----------------------------------------------------------------------
# tile_quota_sample: spatially stratified sampling — keep at most Q
# pages per RES_TILE tile, chosen by deterministic hash order (the
# balanced spatial training mix a geo-aware corpus builder emits, and
# the spatial twin of lang_quota_sample). EXACT per-tile quotas need a
# rank within tile; the hot tile makes an unbucketed per-tile window a
# skew hazard at 10^12 pages, so this is global_rank's third consumer:
# partition_cols = [tile], bucket = top-8-bits(h60) — the widest window
# any task executes is one (tile, hash-prefix) bucket, ~1/256 of even
# the hottest tile.

TILE_QUOTA = 50


def _tile_quota_oracle() -> str:
    h = _h60_sql("md5(url)", "strpos")
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, pt AS (
  SELECT page_id,
         {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS tile_id,
         {h} AS h
  FROM pages
)
, ranked AS (
  SELECT page_id, tile_id,
         ROW_NUMBER() OVER (PARTITION BY tile_id ORDER BY h, page_id) - 1
           AS rnk
  FROM pt
)
SELECT tile_id, page_id, rnk FROM ranked WHERE rnk < {TILE_QUOTA}
"""
    )


@register("tile_quota_sample", _tile_quota_oracle())
def q_tile_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    pt = spark.table("pages").select(
        "page_id",
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("tile_id"),
        F.expr(_h60_sql("md5(cast(url as binary))", "instr")).alias("h"),
    )
    ranked = global_rank(
        pt,
        bucket=F.expr(f"h div {1 << 52}"),
        order_cols=[F.col("h"), F.col("page_id")],
        rank_col="rnk",
        partition_cols=["tile_id"],
        # only rnk < TILE_QUOTA survives: prune non-head buckets
        # map-side + WindowGroupLimit instead of ranking the corpus (r6)
        max_rank=TILE_QUOTA,
    )
    return ranked.where(F.col("rnk") < TILE_QUOTA).select(
        "tile_id", "page_id", "rnk"
    )


# ----------------------------------------------------------------------
# tile_embedding_centroid: the geo-semantic map — per RES_TILE tile, the
# per-dimension SUM of the (quantized) document embeddings of the pages
# it contains, plus the page count; centroid = qsum / n_pages on the
# consumer side. This is the rollup behind "what is this area about"
# layers and geo-stratified semantic sampling.
#
# Scale shape: the corpus contributes ONE (tile, doc) partial/final agg
# (a ×REP contraction of the page stream); the quantized per-dim
# embedding rows join onto that contraction — broadcast under a row
# gate at test scale, an ordinary doc-keyed hash join at 10^12 (both
# sides are then doc-partitioned; no corpus re-shuffle) — and the final
# agg is grid × dims bounded. Embeddings quantize to integer
# milli-units (operators/vectors.quantize_expr) so the sums are exact
# int64 cross-engine: |qsum| ≤ 1000 · pages_per_tile · 1 — no overflow
# this side of 9e15 pages per tile.

EMB_BROADCAST_MAX_ROWS = 100_000


def _tile_emb_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, pt AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS tile_id,
         doc_id, COUNT(*) AS c
  FROM pages GROUP BY 1, 2
)
, qd AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(UNNEST(embedding) * 1000e0) AS BIGINT) AS qv
  FROM embeddings
)
SELECT p.tile_id, q.dim,
       CAST(SUM(p.c * q.qv) AS BIGINT) AS qsum,
       CAST(SUM(p.c) AS BIGINT) AS n_pages
FROM pt p JOIN qd q ON q.vec_id = p.doc_id
GROUP BY 1, 2
"""
    )


@register("tile_embedding_centroid", _tile_emb_oracle())
def q_tile_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import vectors as V

    views(spark, sf_dir)
    pt = (
        spark.table("pages")
        .select(
            tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("tile_id"),
            "doc_id",
        )
        .groupBy("tile_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    emb = spark.table("embeddings")
    qd = emb.select(
        "vec_id",
        F.posexplode(V.quantize_expr("embedding")).alias("dim", "qv"),
    )
    n_emb = emb.count()  # JVM-only count of the embedding side
    qd_side = F.broadcast(qd) if n_emb <= EMB_BROADCAST_MAX_ROWS else qd
    return (
        pt.join(qd_side, pt.doc_id == qd.vec_id)
        .groupBy("tile_id", "dim")
        .agg(
            F.sum(F.col("c") * F.col("qv")).alias("qsum"),
            F.sum("c").alias("n_pages"),
        )
    )


# ----------------------------------------------------------------------
# tile_rollup: OLAP subtotal hierarchy over the tile grid — page counts
# at (ix, iy), per-column (ix, ALL), and grand-total levels in ONE
# result (GROUP BY ROLLUP), the materialization behind drill-down tile
# dashboards. Rolled-up key columns surface as -1 sentinels plus the
# standard grouping_id bit vector (0 detail / 1 iy-rolled / 3 total),
# identical bit order in Spark's grouping_id() and DuckDB's GROUPING().
#
# Scale shape: the corpus contributes ONE partial/final hash agg (the
# grid-bounded detail contraction — ≤ 2^(2·RES_TILE) rows); the ROLLUP's
# Expand (×3 row multiplication) runs on that bounded table, never on
# the 10^12-page stream. Putting rollup() directly on pages would
# triple-scan the corpus through Expand — the detail-first agg-of-agg
# chain is the shape that survives the scale-up (same discipline as
# tile_pyramid's zoom chain).


def _tile_rollup_oracle() -> str:
    return (
        synth.oracle_with("pages")
        + f"""
, d AS (
  SELECT {_ix_sql('lon', C.RES_TILE)} AS ix,
         {_iy_sql('lat', C.RES_TILE)} AS iy,
         COUNT(*) AS n
  FROM pages GROUP BY 1, 2
)
SELECT COALESCE(ix, -1) AS ix, COALESCE(iy, -1) AS iy,
       CAST(GROUPING(ix, iy) AS BIGINT) AS gid,
       CAST(SUM(n) AS BIGINT) AS n_pages
FROM d GROUP BY ROLLUP(ix, iy)
"""
    )


@register("tile_rollup", _tile_rollup_oracle())
def q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    detail = (
        spark.table("pages")
        .groupBy(
            F.expr(_ix_sql("lon", C.RES_TILE)).alias("ix"),
            F.expr(_iy_sql("lat", C.RES_TILE)).alias("iy"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        detail.rollup("ix", "iy")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("n").alias("n_pages"),
        )
        .select(
            F.coalesce("ix", F.lit(-1)).alias("ix"),
            F.coalesce("iy", F.lit(-1)).alias("iy"),
            "gid",
            "n_pages",
        )
    )


# ----------------------------------------------------------------------
# zorder_layout: Morton (Z-order) data-layout planning — the OPTIMIZE
# ZORDER BY (lon, lat) pass a lakehouse table format runs so that
# spatially-close pages land in the same data file and a bbox query
# prunes to O(query area) files. Every page gets its 16-bit interleaved
# Morton key at RES_Z bits per axis and an exact target file id
# (position in the global z-order, binned at ZORDER_ROWS_PER_FILE rows
# per file — balanced by construction, no greedy bin packing).
#
# Scale shape: the z-key is pure integer codegen (16 shift/mask terms);
# the exact global position comes from global_rank's bucket-offset
# decomposition (bucket = top 8 z-key bits — a monotone coarsening, so
# order-consistency holds) — ONE corpus agg + a 256-row offset window +
# a broadcast back; no global sort, no unpartitioned corpus window. The
# real write would then be write.partitionBy(file_id) with rows already
# hash-local to their file — the layout cost is one exchange total.

RES_Z = 8
ZORDER_ROWS_PER_FILE = 4096


def _morton_sql(ix: str, iy: str, bits: int, divop: str) -> str:
    """Interleaved-bit Morton key as a flat integer expression; the
    only dialect split is the floor-division operator (Spark ``div``,
    DuckDB ``//``) — everything else is shared arithmetic text."""
    terms = []
    for b in range(bits):
        terms.append(f"(({ix} {divop} {1 << b}) % 2) * {1 << (2 * b + 1)}")
        terms.append(f"(({iy} {divop} {1 << b}) % 2) * {1 << (2 * b)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _zorder_oracle() -> str:
    ix = _ix_sql("lon", RES_Z)
    iy = _iy_sql("lat", RES_Z)
    z = _morton_sql("ix", "iy", RES_Z, "//")
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (SELECT page_id, {ix} AS ix, {iy} AS iy FROM pages)
, z AS (SELECT page_id, {z} AS zkey FROM g)
SELECT page_id, zkey,
       (ROW_NUMBER() OVER (ORDER BY zkey, page_id) - 1)
         // {ZORDER_ROWS_PER_FILE} AS file_id
FROM z
"""
    )


@register("zorder_layout", _zorder_oracle())
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = spark.table("pages").select(
        "page_id",
        F.expr(_ix_sql("lon", RES_Z)).alias("ix"),
        F.expr(_iy_sql("lat", RES_Z)).alias("iy"),
    )
    # r6: global_rank consumes its input twice (bucket counts + the
    # rank join) — cut() so the 30-term Morton interleave runs over the
    # corpus once per invocation instead of twice.
    z = cut(
        g.select(
            "page_id",
            F.expr(_morton_sql("ix", "iy", RES_Z, "div")).alias("zkey"),
        )
    )
    ranked = global_rank(
        z,
        bucket=F.expr("zkey div 256"),
        order_cols=[F.col("zkey"), F.col("page_id")],
        rank_col="pos",
    )
    return ranked.select(
        "page_id",
        "zkey",
        F.expr(f"pos div {ZORDER_ROWS_PER_FILE}").alias("file_id"),
    )


# ----------------------------------------------------------------------
# geohash_encode: standard base32 geohash (6 characters = 30 bits,
# lon-first bit interleave over the global ±180/±90 ranges) for every
# page — the interoperable sibling of the engine's internal tile_expr
# grid: geohash prefixes are what external systems (Elasticsearch,
# Redis GEO, BigQuery ST_GEOHASH) expect for cell joins, and a prefix
# of length k is exactly a 5k-bit Morton cell, so all the engine's
# cell-bucketed join machinery applies to geohash keys unchanged.
#
# Scale shape: pure per-row integer codegen (two quantizations, a
# 30-term interleave, six substring lookups) — no shuffle, no Python,
# no window; the encode rides whatever scan already touches the page.
# Property-tested against the textbook bit-by-bit interval-halving
# encoder (an independent formulation) in tests/test_analytics.py.

GH_BITS = 15  # per axis; 30 bits = 6 base32 chars
_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _gh_axis_sql(v: str, lo: float, span: float) -> str:
    n = 1 << GH_BITS
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({v} - ({lo!r})) / {span!r} * {n}e0),"
        f" 0), {n - 1}) AS BIGINT)"
    )


def _gh_sql(divop: str) -> str:
    """geohash6 from lon/lat columns: lon bits occupy the even bit
    positions counted from the MSB (the geohash convention), which in
    LSB-weighted arithmetic is the ×2 slot of each interleave pair —
    the same layout _morton_sql gives its first argument."""
    ix = _gh_axis_sql("lon", -180.0, 360.0)
    iy = _gh_axis_sql("lat", -90.0, 180.0)
    z = _morton_sql("gx", "gy", GH_BITS, divop)
    chars = " || ".join(
        f"substring('{_GH_ALPHABET}', "
        f"CAST((z {divop} {1 << (5 * (5 - k))}) % 32 AS INT) + 1, 1)"
        for k in range(6)
    )
    return ix, iy, z, chars


@register(
    "geohash_encode",
    synth.oracle_with("pages")
    + """
, g AS (SELECT page_id, {ix} AS gx, {iy} AS gy FROM pages)
, zz AS (SELECT page_id, {z} AS z FROM g)
SELECT page_id, {chars} AS geohash6 FROM zz
""".format(
        ix=_gh_sql("//")[0],
        iy=_gh_sql("//")[1],
        z=_gh_sql("//")[2],
        chars=_gh_sql("//")[3],
    ),
)
def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ix, iy, z, chars = _gh_sql("div")
    return (
        spark.table("pages")
        .select(
            "page_id",
            F.expr(ix).alias("gx"),
            F.expr(iy).alias("gy"),
        )
        .select("page_id", F.expr(z).alias("z"))
        .select("page_id", F.expr(chars).alias("geohash6"))
    )


# ----------------------------------------------------------------------
# manifest_prune: Iceberg-style file-level min/max pruning simulator —
# the quantitative answer to "does the tile-clustered write layout
# actually pay off at query time?". Pages are assigned to files under
# two write layouts: `ingest` (page_id order, 256 rows/file — the naive
# append) and `tile` (one file per RES_TILE cell — the clustered
# write). For each layout the engine builds the manifest (per-file
# lon/lat min/max + row count — exactly what an Iceberg manifest
# carries) and evaluates three probe bboxes against it, reporting files
# hit / rows scanned / prune ppm. On this grid the tile layout prunes
# ~97-99.8% of files for small probes while ingest prunes ~0% (every
# ingest file spans the whole extent) — the measured justification for
# the engine's cell-keyed write path (cell_compact / zorder_layout).
#
# Scale shape: ONE unpivoted partial/final agg builds both manifests
# (the shuffle carries |files| rows, never pages); probes are a
# 3-row literal broadcast; the join output is ≤ |files|×3 manifest
# rows pre-aggregated again to 6 result rows. At 10^12 rows the
# manifest relation IS the metadata table — this query never rescans
# data to answer a pruning question.
_PRUNE_PROBES = [
    # (probe_id, lon0, lon1, lat0, lat1) — fractions of the grid extent
    (0, 10 / 32, 12 / 32, 7 / 32, 9 / 32),   # 2×2-tile urban window
    (1, 0.0, 0.5, 0.0, 0.5),                 # SW quadrant
    (2, 0.0, 1.0, 15 / 32, 16 / 32),         # thin full-width band
]
_PRUNE_ROWS_PER_FILE = 256


def _prune_probe_bounds() -> list:
    out = []
    for pid, fx0, fx1, fy0, fy1 in _PRUNE_PROBES:
        out.append(
            (
                pid,
                C.LON_W + fx0 * C.SPAN_X,
                C.LON_W + fx1 * C.SPAN_X,
                C.LAT_S + fy0 * C.SPAN_Y,
                C.LAT_S + fy1 * C.SPAN_Y,
            )
        )
    return out


def _manifest_prune_oracle() -> str:
    tile_sql = (
        f"{_iy_sql('lat', C.RES_TILE)} * {1 << C.RES_TILE} + "
        f"{_ix_sql('lon', C.RES_TILE)}"
    )
    probes = "\nUNION ALL\n".join(
        f"SELECT {pid} AS probe_id, {x0!r} AS px0, {x1!r} AS px1,"
        f" {y0!r} AS py0, {y1!r} AS py1"
        for pid, x0, x1, y0, y1 in _prune_probe_bounds()
    )
    return (
        synth.oracle_with("pages")
        + f"""
, man AS (
  SELECT layout, file_id, MIN(lon) AS x0, MAX(lon) AS x1,
         MIN(lat) AS y0, MAX(lat) AS y1, COUNT(*) AS n_rows
  FROM (
    SELECT 'ingest' AS layout,
           page_id // {_PRUNE_ROWS_PER_FILE} AS file_id, lon, lat
    FROM pages
    UNION ALL
    SELECT 'tile' AS layout, {tile_sql} AS file_id, lon, lat FROM pages
  ) GROUP BY 1, 2
), probes AS ({probes})
, totals AS (
  SELECT layout, COUNT(*) AS files_total, SUM(n_rows) AS rows_total
  FROM man GROUP BY 1
), hits AS (
  SELECT m.layout, p.probe_id,
         COUNT(*) AS files_hit, SUM(m.n_rows) AS rows_hit
  FROM man m JOIN probes p
    ON m.x0 <= p.px1 AND m.x1 >= p.px0
   AND m.y0 <= p.py1 AND m.y1 >= p.py0
  GROUP BY 1, 2
)
SELECT t.layout, p.probe_id,
       t.files_total, CAST(t.rows_total AS BIGINT) AS rows_total,
       COALESCE(h.files_hit, 0) AS files_hit,
       CAST(COALESCE(h.rows_hit, 0) AS BIGINT) AS rows_hit,
       (t.files_total - COALESCE(h.files_hit, 0)) * 1000000
         // t.files_total AS prune_ppm
FROM totals t CROSS JOIN (SELECT DISTINCT probe_id FROM probes) p
LEFT JOIN hits h ON h.layout = t.layout AND h.probe_id = p.probe_id
"""
    )


@register("manifest_prune", _manifest_prune_oracle())
def q_manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    pg = spark.table("pages").select("page_id", "lon", "lat")
    man = (
        pg.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("ingest").alias("layout"),
                        F.expr(
                            f"page_id div {_PRUNE_ROWS_PER_FILE}"
                        ).alias("file_id"),
                    ),
                    F.struct(
                        F.lit("tile").alias("layout"),
                        tile_expr(
                            F.col("lon"), F.col("lat"), C.RES_TILE
                        ).alias("file_id"),
                    ),
                )
            ).alias("a"),
            "lon",
            "lat",
        )
        .select("a.layout", "a.file_id", "lon", "lat")
        .groupBy("layout", "file_id")
        .agg(
            F.min("lon").alias("x0"),
            F.max("lon").alias("x1"),
            F.min("lat").alias("y0"),
            F.max("lat").alias("y1"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    probes = spark.createDataFrame(
        _prune_probe_bounds(), "probe_id long, px0 double, px1 double,"
        " py0 double, py1 double"
    )
    totals = man.groupBy("layout").agg(
        F.count(F.lit(1)).alias("files_total"),
        F.sum("n_rows").alias("rows_total"),
    )
    hits = (
        man.join(
            F.broadcast(probes),
            (F.col("x0") <= F.col("px1"))
            & (F.col("x1") >= F.col("px0"))
            & (F.col("y0") <= F.col("py1"))
            & (F.col("y1") >= F.col("py0")),
        )
        .groupBy("layout", "probe_id")
        .agg(
            F.count(F.lit(1)).alias("files_hit"),
            F.sum("n_rows").alias("rows_hit"),
        )
    )
    grid = totals.crossJoin(F.broadcast(probes.select("probe_id")))
    return (
        grid.join(hits, ["layout", "probe_id"], "left")
        .select(
            "layout",
            "probe_id",
            "files_total",
            "rows_total",
            F.coalesce("files_hit", F.lit(0)).alias("files_hit"),
            F.coalesce("rows_hit", F.lit(0)).alias("rows_hit"),
            F.expr(
                "(files_total - coalesce(files_hit, 0)) * 1000000L"
                " div files_total"
            ).alias("prune_ppm"),
        )
    )


# ----------------------------------------------------------------------
# idw_interpolate: inverse-distance-weighted interpolation of the
# footprint-density surface into the EMPTY tiles of the RES_TILE grid —
# the raster gap-fill every density/coverage product runs after
# rasterization (the GIS "IDW to raster" tool, here over the same grid
# tile_focal_stats smooths). Each footprint-occupied tile radiates its
# count to every grid cell within Chebyshev radius IDW_R; a cell with NO
# footprints receives est = Σ c·w / Σ w with w = 1/d² — kept exact
# cross-engine by integer weights w = IDW_SCALE div d² (d² ∈ {1,2,4,5,8}
# at R=2; both engines floor-divide non-negative ints identically) and
# by emitting the numerator/denominator sums as int64 alongside the
# floored estimate.
#
# Scale shape: the corpus-sized work is the SAME shared footprint-tile
# stage the other raster queries reuse (one partial/final agg); every
# IDW step after it operates on the ≤(2^res)² tile table — a bounded
# 24-way offset explode, one grid-keyed agg, and a broadcast anti-join
# against the occupied set. Corpus-size-independent beyond the base agg,
# like tile_moran / tile_focal_stats.

IDW_R = 2
IDW_SCALE = 720720  # lcm(1..8)-divisible: exact integer weights per d²


def _idw_oracle() -> str:
    n = 1 << C.RES_TILE
    cx = "(x0 + x1) / 2e0"
    cy = "(y0 + y1) / 2e0"
    return (
        synth.oracle_with("footprints_base")
        + f"""
, base AS (
  SELECT {_iy_sql(cy, C.RES_TILE)} * {n} + {_ix_sql(cx, C.RES_TILE)} AS t,
         COUNT(*) AS c
  FROM footprints_base
  WHERE fp_id % 97 <> 5
  GROUP BY 1
)
, contrib AS (
  SELECT ((b.t // {n}) + o.dy) * {n} + (b.t % {n}) + o.dx AS t,
         b.c * ({IDW_SCALE} // (o.dx * o.dx + o.dy * o.dy)) AS num,
         {IDW_SCALE} // (o.dx * o.dx + o.dy * o.dy) AS den
  FROM base b
  CROSS JOIN (
    SELECT CAST(dxs.range AS BIGINT) - {IDW_R} AS dx,
           CAST(dys.range AS BIGINT) - {IDW_R} AS dy
    FROM range({2 * IDW_R + 1}) dxs CROSS JOIN range({2 * IDW_R + 1}) dys
    WHERE NOT (dxs.range = {IDW_R} AND dys.range = {IDW_R})
  ) o
  WHERE (b.t % {n}) + o.dx BETWEEN 0 AND {n - 1}
    AND (b.t // {n}) + o.dy BETWEEN 0 AND {n - 1}
)
SELECT c.t AS tile_id,
       COUNT(*) AS n_sources,
       CAST(SUM(c.num) AS BIGINT) AS num,
       CAST(SUM(c.den) AS BIGINT) AS den,
       CAST(SUM(c.num) // SUM(c.den) AS BIGINT) AS est_c
FROM contrib c
LEFT JOIN base b ON b.t = c.t
WHERE b.t IS NULL
GROUP BY 1
"""
    )


@register("idw_interpolate", _idw_oracle())
def q_idw_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << C.RES_TILE
    fps = prepared_footprints(spark, sf_dir)
    base = stage(
        spark,
        (session_token(spark), sf_dir, "idw_fp_tile_base"),
        lambda: fps.select(
            tile_expr(
                F.col("centroid_lon"), F.col("centroid_lat"), C.RES_TILE
            ).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c")),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-IDW_R, IDW_R + 1)
            for dy in range(-IDW_R, IDW_R + 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    w = F.expr(f"{IDW_SCALE} div (o.dx * o.dx + o.dy * o.dy)")
    contrib = (
        base.select("t", "c", F.explode(offsets).alias("o"))
        .where(
            ((F.col("t") % n) + F.col("o.dx")).between(0, n - 1)
            & (F.expr(f"t div {n}") + F.col("o.dy")).between(0, n - 1)
        )
        .select(
            (
                (F.expr(f"t div {n}") + F.col("o.dy")) * n
                + (F.col("t") % n)
                + F.col("o.dx")
            ).alias("t"),
            (F.col("c") * w).alias("num"),
            w.alias("den"),
        )
    )
    return (
        contrib.join(F.broadcast(base.select("t")), "t", "left_anti")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("num").alias("num"),
            F.sum("den").alias("den"),
        )
        .select(
            F.col("t").alias("tile_id"),
            "n_sources",
            "num",
            "den",
            F.expr("num div den").alias("est_c"),
        )
    )


# ----------------------------------------------------------------------
# areal_weight_grid: areal interpolation weights — for every RES_TILE
# grid cell, the number of (valid) footprints whose bbox overlaps it
# and the SUM of exact rectangle-clip overlap areas (the area-weighted
# reaggregation kernel behind "apportion polygon attributes to a
# raster": dasymetric mapping, population-gridding, coverage weights).
# Axis-aligned boxes make the clip EXACT: ow = min(x1,tx1) −
# max(x0,tx0) — identical IEEE expression trees in both engines —
# and each overlap is floored to integer µdeg² (1e12 units) BEFORE
# summation, so the aggregate is an order-free int64.
#
# Scale shape: each footprint explodes to exactly its covered tile
# range (bounded by bbox span / tile size — urban footprints touch 1-4
# cells), the clip is map-side arithmetic, and ONE grid-keyed
# partial/final agg contracts to ≤(2^res)² rows. No join at all in the
# engine (plan-guarded) — the oracle is the genuinely different
# grid × footprints range-predicate join (DuckDB plans an IEJoin).

def _areal_oracle() -> str:
    n = 1 << C.RES_TILE
    tx0 = f"({C.LON_W!r} + ix * {C.SPAN_X!r} / {n})"
    tx1 = f"({C.LON_W!r} + (ix + 1) * {C.SPAN_X!r} / {n})"
    ty0 = f"({C.LAT_S!r} + iy * {C.SPAN_Y!r} / {n})"
    ty1 = f"({C.LAT_S!r} + (iy + 1) * {C.SPAN_Y!r} / {n})"
    return (
        synth.oracle_with("footprints_base")
        + f"""
, g AS (
  SELECT CAST(dxs.range AS BIGINT) AS ix, CAST(dys.range AS BIGINT) AS iy
  FROM range({n}) dxs CROSS JOIN range({n}) dys
)
, clip AS (
  SELECT g.iy * {n} + g.ix AS tile_id,
         LEAST(f.x1, {tx1}) - GREATEST(f.x0, {tx0}) AS ow,
         LEAST(f.y1, {ty1}) - GREATEST(f.y0, {ty0}) AS oh
  FROM footprints_base f
  JOIN g ON f.x1 > {tx0} AND f.x0 < {tx1}
        AND f.y1 > {ty0} AND f.y0 < {ty1}
  WHERE f.fp_id % 97 <> 5
)
SELECT tile_id,
       COUNT(*) AS n_fps,
       CAST(SUM(CAST(FLOOR(ow * oh * 1e12) AS BIGINT)) AS BIGINT)
         AS area_u_sum
FROM clip
WHERE ow > 0 AND oh > 0
GROUP BY 1
"""
    )


@register("areal_weight_grid", _areal_oracle())
def q_areal_weight_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << C.RES_TILE
    f = spark.table("footprints").where(F.expr("fp_id % 97 <> 5"))
    # covered index ranges, clamped to the grid (identical floor math to
    # _ix_sql; a bbox ending exactly on a tile edge yields a zero-width
    # clip there and is dropped by the ow/oh > 0 filter in both engines)
    def _ix(col: str) -> F.Column:
        return F.least(
            F.greatest(
                F.floor((F.col(col) - C.LON_W) / C.SPAN_X * n).cast("long"),
                F.lit(0),
            ),
            F.lit(n - 1),
        )

    def _iy(col: str) -> F.Column:
        return F.least(
            F.greatest(
                F.floor((F.col(col) - C.LAT_S) / C.SPAN_Y * n).cast("long"),
                F.lit(0),
            ),
            F.lit(n - 1),
        )

    exploded = (
        f.select(
            "x0", "x1", "y0", "y1",
            _ix("x0").alias("ix0"), _ix("x1").alias("ix1"),
            _iy("y0").alias("iy0"), _iy("y1").alias("iy1"),
        )
        .select(
            "x0", "x1", "y0", "y1",
            F.explode(F.sequence("ix0", "ix1")).alias("ix"),
            "iy0", "iy1",
        )
        .select(
            "x0", "x1", "y0", "y1", "ix",
            F.explode(F.sequence("iy0", "iy1")).alias("iy"),
        )
    )
    tx0 = F.lit(C.LON_W) + F.col("ix") * F.lit(C.SPAN_X) / F.lit(n)
    tx1 = F.lit(C.LON_W) + (F.col("ix") + 1) * F.lit(C.SPAN_X) / F.lit(n)
    ty0 = F.lit(C.LAT_S) + F.col("iy") * F.lit(C.SPAN_Y) / F.lit(n)
    ty1 = F.lit(C.LAT_S) + (F.col("iy") + 1) * F.lit(C.SPAN_Y) / F.lit(n)
    clip = exploded.select(
        (F.col("iy") * n + F.col("ix")).alias("tile_id"),
        (F.least(F.col("x1"), tx1) - F.greatest(F.col("x0"), tx0)).alias("ow"),
        (F.least(F.col("y1"), ty1) - F.greatest(F.col("y0"), ty0)).alias("oh"),
    )
    return (
        clip.where((F.col("ow") > 0) & (F.col("oh") > 0))
        .groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(
                F.floor(F.col("ow") * F.col("oh") * F.lit(1e12)).cast("long")
            ).alias("area_u_sum"),
        )
    )


# ----------------------------------------------------------------------
# snap_to_segment: snap every page point to its nearest street segment
# within SNAP_DEG planar degrees — the line-snapping half of the
# reference's conflation toolkit (its address points snap to the street
# network the same way its footprints match parcels; the PostGIS analog
# is ST_ClosestPoint/ST_Snap with a tolerance). Segments are the synth
# ways' bbox diagonals ((wx0,wy0)→(wx1,wy1)); distance is exact planar
# point-to-segment (clamped projection), top-1 per page with a pinned
# (d2, way_id) tie-break.
#
# Completeness guarantee: a page within SNAP_DEG of any point on a
# segment lies within half the segment extent + SNAP_DEG of its
# midpoint — per-axis at most (0.0038°, 0.0432°), both under the
# 2-ring guarantee radius 2·min_edge = 0.075° at RES_KNN — so the
# midpoint 2-ring join provably covers every qualifying pair
# (property-tested vs brute force in tests/test_spatial.py).
#
# 100-TB shape: the page side gets ONE arithmetic cell projection and
# never explodes; the segment side explodes to ≤25 cells each and is
# broadcast under the same ring-rows gate as knn_join (above it, both
# sides shuffle once on cell); the top-1 is a map-side-combinable
# min(struct(d2, way_id)) — no window, no per-pair shuffle. The refine
# is generated from ONE SQL template shared verbatim by both engines
# (identical parse → identical IEEE-754 op order), and the emitted
# distance is int64 (floor(d2·1e12)); the oracle formulation is the
# algorithm-independent bbox-prefiltered direct join (DuckDB IEJoin)
# + ROW_NUMBER.

SNAP_DEG = 0.03
_SNAP_R2 = SNAP_DEG * SNAP_DEG

# projection parameter onto A=(ax,ay) → Q=(qx,qy), clamped to [0,1]
_SNAP_TR_SQL = (
    "(((lon - ax) * (qx - ax) + (lat - ay) * (qy - ay))"
    " / ((qx - ax) * (qx - ax) + (qy - ay) * (qy - ay)))"
)
_SNAP_D2_SQL = (
    "((lon - (ax + t * (qx - ax))) * (lon - (ax + t * (qx - ax)))"
    " + (lat - (ay + t * (qy - ay))) * (lat - (ay + t * (qy - ay))))"
)


def _snap_oracle() -> str:
    return (
        synth.oracle_with("pages", "osm_ways_base")
        + f"""
, seg AS (
  SELECT way_id, wx0 AS ax, wy0 AS ay, wx1 AS qx, wy1 AS qy
  FROM osm_ways_base
)
, cand AS (
  SELECT p.page_id, s.way_id, p.lon, p.lat, s.ax, s.ay, s.qx, s.qy
  FROM pages p
  JOIN seg s
    ON p.lon >= s.ax - {SNAP_DEG!r}e0 AND p.lon <= s.qx + {SNAP_DEG!r}e0
   AND p.lat >= s.ay - {SNAP_DEG!r}e0 AND p.lat <= s.qy + {SNAP_DEG!r}e0
)
, ref AS (
  SELECT page_id, way_id, {_SNAP_D2_SQL} AS d2
  FROM (
    SELECT *, LEAST(GREATEST({_SNAP_TR_SQL}, 0e0), 1e0) AS t FROM cand
  )
)
SELECT page_id, way_id,
       CAST(FLOOR(d2 * 1000000000000e0) AS BIGINT) AS d2_e12
FROM (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY page_id
                            ORDER BY d2, way_id) AS rn
  FROM ref WHERE d2 <= {_SNAP_R2!r}e0
) WHERE rn = 1
"""
    )


# r6: the segment cover is the cells overlapped by each segment's
# SNAP_DEG-expanded bbox at SNAP_RES (finer than the r5 midpoint
# 2-ring at RES_KNN). Completeness is now immediate: a page within
# SNAP_DEG (Euclidean) of any segment point is within SNAP_DEG per
# axis of it, hence inside the expanded bbox, hence its (clipped) cell
# index lies in the covered floor-range — no midpoint/extent lemma
# needed. Measured sf1.0: candidate pairs 1.74B → 378M (the r5 ring
# put every page against ~540 segments; the bbox cover ~120), with a
# bbox prefilter cutting the t/d2 refine to the 177M true-radius
# candidates; 12.2 s → 9.6 s warm (the residual floor is the exact
# min(struct) agg, which plans as SortAggregate — struct buffers are
# not hash-aggregable — and must stay exact: segments sharing an
# endpoint produce bit-equal d2 ties that need the way_id tie-break,
# so min_by/quantized packings are not equivalent).
SNAP_RES = 6
SNAP_COVER_CELLS_MAX = 48  # bbox ≤ (0.068° × 0.086°) → ≤ 5×7 cells + slack


@register("snap_to_segment", _snap_oracle())
def q_snap_to_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << SNAP_RES

    def gidx(col: F.Column, lo: float, span: float) -> F.Column:
        return (
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(n - 1),
                    F.floor((col - F.lit(lo)) / F.lit(span) * F.lit(float(n))),
                ),
            ).cast("long")
        )

    segs = spark.table("osm_ways_base").select(
        "way_id",
        F.col("wx0").alias("ax"),
        F.col("wy0").alias("ay"),
        F.col("wx1").alias("qx"),
        F.col("wy1").alias("qy"),
    )
    cover = (
        segs
        .withColumn("__x0", gidx(F.col("ax") - SNAP_DEG, C.LON_W, C.SPAN_X))
        .withColumn("__x1", gidx(F.col("qx") + SNAP_DEG, C.LON_W, C.SPAN_X))
        .withColumn("__y0", gidx(F.col("ay") - SNAP_DEG, C.LAT_S, C.SPAN_Y))
        .withColumn("__y1", gidx(F.col("qy") + SNAP_DEG, C.LAT_S, C.SPAN_Y))
        .withColumn("__ix", F.explode(F.sequence("__x0", "__x1")))
        .withColumn("__iy", F.explode(F.sequence("__y0", "__y1")))
        .withColumn("cell", F.col("__iy") * n + F.col("__ix"))
        .select("cell", "way_id", "ax", "ay", "qx", "qy")
    )
    n_segs = segs.count()  # JVM-only count of the SMALL side
    cover_side = (
        F.broadcast(cover)
        if n_segs * SNAP_COVER_CELLS_MAX <= BROADCAST_MAX_RING_ROWS
        else cover
    )
    pts = spark.table("pages").select(
        "page_id",
        "lon",
        "lat",
        tile_expr(F.col("lon"), F.col("lat"), SNAP_RES).alias("cell"),
    )
    ref = (
        pts.join(cover_side, "cell")
        # cheap 4-compare bbox prune before the projection math (the
        # oracle's own candidate predicate) — drops ~40% of pairs
        .where(
            (F.col("lon") >= F.col("ax") - SNAP_DEG)
            & (F.col("lon") <= F.col("qx") + SNAP_DEG)
            & (F.col("lat") >= F.col("ay") - SNAP_DEG)
            & (F.col("lat") <= F.col("qy") + SNAP_DEG)
        )
        .withColumn(
            "t",
            F.expr(f"LEAST(GREATEST({_SNAP_TR_SQL}, 0e0), 1e0)"),
        )
        .withColumn("d2", F.expr(_SNAP_D2_SQL))
        .where(F.col("d2") <= F.lit(_SNAP_R2))
    )
    best = ref.groupBy("page_id").agg(
        F.min(F.struct("d2", "way_id")).alias("b")
    )
    return best.select(
        "page_id",
        F.col("b.way_id").alias("way_id"),
        F.floor(F.col("b.d2") * F.lit(1e12)).cast("long").alias("d2_e12"),
    )


# ----------------------------------------------------------------------
# parcel_scan_path: per-parcel crawl trajectory length — the GPS-track /
# scan-path aggregation shape (order points within a key by sequence,
# accumulate step distances). Distances are Manhattan in integer
# micro-degrees (FLOOR(deg * 1e6)): the step |Δlon|+|Δlat| and its sum
# are exact int64, so the per-parcel SUM is order-independent and
# hash-stable cross-engine (a Euclidean float path length would depend
# on summation order). lon/lat flow through the same IEEE expression
# trees in both engines (the dwithin_join discipline), so the FLOOR
# quantization agrees bit-for-bit.
#
# Scale shape: ONE parcel-keyed exchange; the lag() window and the
# partial/final agg reuse the same partitioning (Catalyst plans a
# single Exchange); no join, no Python. The hot parcel (synth.HOT_*)
# concentrates ~1/7 of pages into one window partition — at real scale
# that key would route through the salting path like pip_assign; at
# gate scale the single partition is bounded and exact.

_SCAN_PATH_ORACLE = (
    synth.oracle_with("pages")
    + """
, q AS (
  SELECT pid, page_id,
         CAST(FLOOR(lon * 1000000e0) AS BIGINT) AS ilon,
         CAST(FLOOR(lat * 1000000e0) AS BIGINT) AS ilat
  FROM pages
)
, s AS (
  SELECT pid,
         ABS(ilon - LAG(ilon) OVER w) + ABS(ilat - LAG(ilat) OVER w) AS step
  FROM q
  WINDOW w AS (PARTITION BY pid ORDER BY page_id)
)
SELECT pid,
       CAST(COALESCE(SUM(step), 0) AS BIGINT) AS path_udeg,
       CAST(COALESCE(MAX(step), 0) AS BIGINT) AS max_step_udeg,
       COUNT(*) AS n_pages
FROM s GROUP BY pid
"""
)


@register("parcel_scan_path", _SCAN_PATH_ORACLE)
def q_parcel_scan_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as Wnd

    views(spark, sf_dir)
    q = spark.table("pages").select(
        "pid",
        "page_id",
        F.floor(F.col("lon") * 1_000_000.0).cast("long").alias("ilon"),
        F.floor(F.col("lat") * 1_000_000.0).cast("long").alias("ilat"),
    )
    w = Wnd.partitionBy("pid").orderBy("page_id")
    step = (
        F.abs(F.col("ilon") - F.lag("ilon").over(w))
        + F.abs(F.col("ilat") - F.lag("ilat").over(w))
    )
    return (
        q.withColumn("step", step)
        .groupBy("pid")
        .agg(
            F.coalesce(F.sum("step"), F.lit(0)).cast("long").alias("path_udeg"),
            F.coalesce(F.max("step"), F.lit(0)).cast("long").alias("max_step_udeg"),
            F.count(F.lit(1)).alias("n_pages"),
        )
    )


# ----------------------------------------------------------------------
# tile_pca_moments: per-tile second-moment sufficient statistics of the
# page point cloud — the exact int64 ingredients of each tile's
# covariance/orientation ellipse (n, Σdx, Σdy, Σdx², Σdy², Σdx·dy in
# µdeg about the tile's own minimum corner). The float PCA rotation is
# a driver-side 2×2 eigen solve; keeping it out of the gate keeps the
# hash exact (same discipline as host_assortativity / events_twa).
#
# Why centered two-phase: raw global-µdeg squares overflow int64 once a
# tile holds ~50 points ((360e6)²·n); offsets about the per-tile
# minimum are bounded by the tile width (~10⁴ µdeg), so dx²·n stays
# int64-safe past 10¹⁰ points/tile. Scale shape: pass 1 contracts the
# corpus to per-tile minima (partial/final agg); the minima join back
# as a BROADCAST (tile-dim-sized); pass 2 is one partial/final agg of
# codegen arithmetic — two corpus passes, zero corpus shuffles beyond
# the two tile-keyed agg exchanges.


def _pca_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, q AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)} AS t,
         CAST(FLOOR(lon * 1000000e0) AS BIGINT) AS ix,
         CAST(FLOOR(lat * 1000000e0) AS BIGINT) AS iy
  FROM pages
)
, mins AS (
  SELECT t, MIN(ix) AS mx, MIN(iy) AS my FROM q GROUP BY 1
)
SELECT q.t,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(m.mx) AS BIGINT) AS min_ix,
       CAST(MIN(m.my) AS BIGINT) AS min_iy,
       CAST(SUM(q.ix - m.mx) AS BIGINT) AS sx,
       CAST(SUM(q.iy - m.my) AS BIGINT) AS sy,
       CAST(SUM((q.ix - m.mx) * (q.ix - m.mx)) AS BIGINT) AS sxx,
       CAST(SUM((q.iy - m.my) * (q.iy - m.my)) AS BIGINT) AS syy,
       CAST(SUM((q.ix - m.mx) * (q.iy - m.my)) AS BIGINT) AS sxy
FROM q JOIN mins m ON m.t = q.t
GROUP BY 1
"""
    )


@register("tile_pca_moments", _pca_oracle())
def q_tile_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    q = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t"),
        F.floor(F.col("lon") * F.lit(1e6)).cast("long").alias("ix"),
        F.floor(F.col("lat") * F.lit(1e6)).cast("long").alias("iy"),
    )
    mins = q.groupBy("t").agg(
        F.min("ix").alias("mx"), F.min("iy").alias("my")
    )
    dx = F.col("ix") - F.col("mx")
    dy = F.col("iy") - F.col("my")
    return (
        q.join(F.broadcast(mins), "t")
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("mx").cast("long").alias("min_ix"),
            F.min("my").cast("long").alias("min_iy"),
            F.sum(dx).cast("long").alias("sx"),
            F.sum(dy).cast("long").alias("sy"),
            F.sum(dx * dx).cast("long").alias("sxx"),
            F.sum(dy * dy).cast("long").alias("syy"),
            F.sum(dx * dy).cast("long").alias("sxy"),
        )
    )


# ----------------------------------------------------------------------
# hilbert_layout: Hilbert-curve data-layout planning — the sibling of
# zorder_layout for table formats that support OPTIMIZE ... HILBERT
# (Iceberg's hilbert() transform): unlike Morton order, the Hilbert
# curve has no "seam jumps", so a bbox query touches strictly fewer
# files at the same rows-per-file.
#
# The two sides deliberately use DIFFERENT formulations of the same
# textbook xy2d walk (top-down quadrant extraction + rotate/flip;
# Wikipedia "Hilbert curve" C code), so the gate is algorithm-
# independent: the ORACLE unrolls the walk into RES_H nested pure-
# arithmetic SQL levels (bijectivity + curve adjacency of that
# generated SQL are property-tested against a third, scalar-Python,
# walk in tests/test_hilbert.py); the ENGINE precomputes the full
# 2^RES_H × 2^RES_H cell→key table with a VECTORIZED numpy walk at
# the driver (65k rows, ~ms) and broadcast-joins pages on their grid
# cell. A per-level expression unroll inside Catalyst is NOT viable —
# each level references x/y three times, and optimizer inlining makes
# the expression tree 3^RES_H nodes (measured: analysis alone ran
# minutes at 8 levels) — and this lookup shape is exactly how
# production cell indexes do it anyway: S2's cell-id encode walks
# 4-bit lookup tables carrying an orientation state; deeper
# resolutions chain per-byte lookups (key = hi-table[state0, hi byte]
# ++ lo-table[state1, lo byte]) without ever growing the broadcast.
#
# Scale shape: one 65k-row broadcast hash join (the lookup), then as
# zorder_layout — the exact global position from global_rank's
# bucket-offset decomposition (bucket = top 8 key bits, a monotone
# coarsening): ONE corpus agg + a 256-row offset window + a broadcast
# back; no global sort, no Python in the per-row path.

RES_H = 8  # bits per axis → 256×256 grid, keys 0..65535
HILBERT_ROWS_PER_FILE = 4096


def _hilbert_sql(src: str, ix: str, iy: str, bits: int, divop: str) -> str:
    """Nested-select unroll of xy2d over ``src`` (must expose page_id):
    per level s = 2^(bits-1)..1, extract the quadrant bits (rx, ry),
    accumulate d += s²·((3·rx) XOR ry) — spelled arithmetically as
    CASE rx=1 → 3-ry ELSE ry (rx, ry ∈ {0,1}) so no dialect-specific
    XOR — then rotate/flip about the FULL grid (n-1 variant)."""
    n = 1 << bits
    sql = (f"SELECT page_id, {ix} AS x, {iy} AS y, "
           f"CAST(0 AS BIGINT) AS d FROM {src}")
    s = n // 2
    while s > 0:
        rxry = (f"SELECT page_id, x, y, d, "
                f"(x {divop} {s}) % 2 AS rx, (y {divop} {s}) % 2 AS ry "
                f"FROM ({sql})")
        sql = (
            "SELECT page_id, "
            f"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {n - 1} - y "
            "ELSE y END ELSE x END AS x, "
            f"CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN {n - 1} - x "
            "ELSE x END ELSE y END AS y, "
            f"d + {s * s} * (CASE WHEN rx = 1 THEN 3 - ry ELSE ry END) AS d "
            f"FROM ({rxry})"
        )
        s //= 2
    return f"SELECT page_id, d AS hkey FROM ({sql})"


def _hilbert_oracle() -> str:
    ix = _ix_sql("lon", RES_H)
    iy = _iy_sql("lat", RES_H)
    body = _hilbert_sql("pages", ix, iy, RES_H, "//")
    return (
        synth.oracle_with("pages")
        + f"""
, h AS ({body})
SELECT page_id, hkey,
       (ROW_NUMBER() OVER (ORDER BY hkey, page_id) - 1)
         // {HILBERT_ROWS_PER_FILE} AS file_id
FROM h
"""
    )


def _hilbert_lookup_pdf():
    """Full-grid cell→key mapping via a vectorized numpy xy2d walk."""
    import numpy as np
    import pandas as pd

    n = 1 << RES_H
    gx, gy = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    ix, iy = gx.ravel(), gy.ravel()
    x, y = ix.copy(), iy.copy()
    d = np.zeros(n * n, dtype=np.int64)
    s = n // 2
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        rot = ry == 0
        flip = rot & (rx == 1)
        xf = np.where(flip, n - 1 - x, x)
        yf = np.where(flip, n - 1 - y, y)
        x = np.where(rot, yf, xf)
        y = np.where(rot, xf, yf)
        s //= 2
    return pd.DataFrame(
        {"ix": ix.astype("int64"), "iy": iy.astype("int64"), "hkey": d}
    )


@register("hilbert_layout", _hilbert_oracle())
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    lut = F.broadcast(spark.createDataFrame(_hilbert_lookup_pdf()))
    g = spark.table("pages").select(
        "page_id",
        F.expr(_ix_sql("lon", RES_H)).alias("ix"),
        F.expr(_iy_sql("lat", RES_H)).alias("iy"),
    )
    # r6: same double-consumption cut as zorder_layout — one LUT join
    # pass per invocation instead of two.
    h = cut(g.join(lut, ["ix", "iy"]).select("page_id", "hkey"))
    ranked = global_rank(
        h,
        bucket=F.expr("hkey div 256"),
        order_cols=[F.col("hkey"), F.col("page_id")],
        rank_col="pos",
    )
    return ranked.select(
        "page_id",
        "hkey",
        F.expr(f"pos div {HILBERT_ROWS_PER_FILE}").alias("file_id"),
    )


# ----------------------------------------------------------------------
# quadkey_encode: Bing-Maps quadkey (one base-4 digit per zoom level,
# digit = x_bit + 2·y_bit from the MSB down) for every page at level
# RES_Z — the third interoperable cell key next to geohash_encode and
# the internal Morton tile id: quadkeys are what XYZ tile servers and
# Bing/Azure Maps APIs address tiles by, and a quadkey PREFIX of
# length k is exactly the level-k ancestor tile, so prefix joins give
# pyramid rollups with plain string ops.
#
# Scale shape: pure per-row integer/string codegen (two
# quantizations, 8 digit extractions, one concat) — no shuffle, no
# Python, no window; one generated expression text shared by both
# dialects (splits: floor-division spelling and the string cast
# type).

def _quadkey_sql(ix: str, iy: str, bits: int, divop: str,
                 strtype: str) -> str:
    digits = []
    for level in range(1, bits + 1):
        shift = 1 << (bits - level)
        digit = (f"(({ix} {divop} {shift}) % 2 + "
                 f"2 * (({iy} {divop} {shift}) % 2))")
        digits.append(f"CAST({digit} AS {strtype})")
    return "CONCAT(" + ", ".join(digits) + ")"


def _quadkey_oracle() -> str:
    ix = _ix_sql("lon", RES_Z)
    iy = _iy_sql("lat", RES_Z)
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (SELECT page_id, {ix} AS ix, {iy} AS iy FROM pages)
SELECT page_id, {_quadkey_sql('ix', 'iy', RES_Z, '//', 'VARCHAR')}
         AS quadkey
FROM g
"""
    )


@register("quadkey_encode", _quadkey_oracle())
def q_quadkey_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = spark.table("pages").select(
        "page_id",
        F.expr(_ix_sql("lon", RES_Z)).alias("ix"),
        F.expr(_iy_sql("lat", RES_Z)).alias("iy"),
    )
    return g.select(
        "page_id",
        F.expr(_quadkey_sql("ix", "iy", RES_Z, "div", "STRING"))
        .alias("quadkey"),
    )


# ----------------------------------------------------------------------
# zrange_bbox_count: bbox query answered THROUGH the z-order index —
# the quadtree decomposition of a rectangle into maximal z-aligned
# squares, capped at ZR_DEPTH levels so the cover stays a handful of
# contiguous key ranges (26 here, ~1.18× cell overcover), plus the
# exact residual bbox refine. This is precisely how a lakehouse scan
# prunes a z-ordered table (Delta/Iceberg file skipping turns the
# predicate into SFC key ranges; the engine re-checks the residual),
# and the pattern that makes zorder_layout/hilbert_layout worth their
# exchange: the range predicate prunes at the SCAN (min/max key stats
# skip files wholesale), the refine runs in the same codegen stage,
# and nothing shuffles — the whole query is scan → filter → one
# partial/final count.
#
# The ranges are compile-time constants (driver-side recursion over a
# 2^ZR_DEPTH-square grid, microseconds), so the filter is a literal
# OR-chain the optimizer can reason about. The oracle is the
# algorithm-independent direct quantized-bbox count; equality holds
# because the capped cover is a SUPERSET of the bbox cells (proven by
# construction, asserted live in tests/test_zrange.py) and the refine
# is exact. Pruning liveness (range-only count > refined count >
# 0) is pytest-asserted so neither leg of the AND can silently go
# dead.

ZR_X0, ZR_X1, ZR_Y0, ZR_Y1 = 37, 201, 55, 170  # cell coords at RES_Z
ZR_DEPTH = 4


def _morton_int(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= (((x >> b) & 1) << (2 * b + 1)) | (((y >> b) & 1) << (2 * b))
    return z


def _zranges(x0: int, x1: int, y0: int, y1: int, bits: int,
             maxdepth: int) -> list:
    """Quadtree cover of the cell-aligned rect as merged (lo, hi)
    Morton-key ranges; squares still partial at maxdepth are emitted
    whole (superset cover — the caller must refine)."""
    out = []

    def rec(level: int, cx: int, cy: int) -> None:
        size = 1 << (bits - level)
        lox, loy = cx * size, cy * size
        hix, hiy = lox + size - 1, loy + size - 1
        if lox > x1 or hix < x0 or loy > y1 or hiy < y0:
            return
        full = lox >= x0 and hix <= x1 and loy >= y0 and hiy <= y1
        if full or level >= maxdepth:
            base = _morton_int(lox, loy, bits)
            out.append((base, base + size * size - 1))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                rec(level + 1, cx * 2 + dx, cy * 2 + dy)

    rec(0, 0, 0)
    out.sort()
    merged: list = []
    for lo, hi in out:
        if merged and lo == merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], hi)
        else:
            merged.append((lo, hi))
    return merged


ZR_RANGES = _zranges(ZR_X0, ZR_X1, ZR_Y0, ZR_Y1, RES_Z, ZR_DEPTH)


def _zsquares(x0: int, x1: int, y0: int, y1: int, bits: int,
              maxdepth: int) -> dict:
    """The same capped quadtree cover as _zranges but WITHOUT merging:
    {level: [zkey-prefix, ...]} where a level-L square is exactly the
    set of keys sharing prefix = base // 4^(bits-L). This spelling
    lets the runtime predicate reference the Morton expression once
    per LEVEL (an IN-list on one division) instead of once per range —
    26 BETWEENs each inlining the 16-term interleave blew whole-stage
    codegen into interpreted fallback (measured 7.6 s vs sub-second
    at sf0.1)."""
    sq: dict = {}

    def rec(level: int, cx: int, cy: int) -> None:
        size = 1 << (bits - level)
        lox, loy = cx * size, cy * size
        hix, hiy = lox + size - 1, loy + size - 1
        if lox > x1 or hix < x0 or loy > y1 or hiy < y0:
            return
        full = lox >= x0 and hix <= x1 and loy >= y0 and hiy <= y1
        if full or level >= maxdepth:
            base = _morton_int(lox, loy, bits)
            sq.setdefault(level, []).append(base // (4 ** (bits - level)))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                rec(level + 1, cx * 2 + dx, cy * 2 + dy)

    rec(0, 0, 0)
    return sq


ZR_SQUARES = _zsquares(ZR_X0, ZR_X1, ZR_Y0, ZR_Y1, RES_Z, ZR_DEPTH)


def _zr_oracle() -> str:
    ix = _ix_sql("lon", RES_Z)
    iy = _iy_sql("lat", RES_Z)
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (SELECT {ix} AS ix, {iy} AS iy FROM pages)
SELECT COUNT(*) AS n_pages FROM g
WHERE ix BETWEEN {ZR_X0} AND {ZR_X1} AND iy BETWEEN {ZR_Y0} AND {ZR_Y1}
"""
    )


@register("zrange_bbox_count", _zr_oracle())
def q_zrange_bbox_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = spark.table("pages").select(
        F.expr(_ix_sql("lon", RES_Z)).alias("ix"),
        F.expr(_iy_sql("lat", RES_Z)).alias("iy"),
    )
    # r6 conjunct ordering (§2.5): the exact bbox test is 4 integer
    # compares referencing ix/iy once each, so it fuses into the scan;
    # running it FIRST shrinks the lineage cut + 16-term Morton + IN-list
    # machinery to the bbox survivors (~25% of pages here). Measured
    # 2.69 s → 0.56 s at sf1.0 volume, identical count
    # (OPTIMIZATION_r06.md). On a real zkey-laid-out table the order
    # inverts back for free: the z-ranges become pushed scan filters on
    # the layout column (what zorder_layout emits) and prune row groups
    # before any exact test runs — this per-row spelling is only the
    # layoutless-synth stand-in.
    g = g.where(
        F.col("ix").between(ZR_X0, ZR_X1)
        & F.col("iy").between(ZR_Y0, ZR_Y1)
    )
    # lineage cut: the synth pages VIEW derives lon/lat from doc_id, and
    # CollapseProject would inline that derivation into every one of the
    # 16 Morton terms × every predicate reference — measured to push the
    # filter out of whole-stage codegen (7.6 s vs sub-second at sf0.1).
    # On a real Iceberg table lon/lat (or the stored zkey layout column
    # zorder_layout emits) are physical columns and this cut is a no-op.
    g = g.localCheckpoint(eager=False)
    z = g.select(
        "ix", "iy",
        F.expr(_morton_sql("ix", "iy", RES_Z, "div")).alias("zkey"),
    )
    range_pred = " OR ".join(
        f"(zkey div {4 ** (RES_Z - lvl)}) IN ({', '.join(map(str, pre))})"
        for lvl, pre in sorted(ZR_SQUARES.items())
    )
    refined = z.where(F.expr(range_pred))
    return refined.agg(F.count(F.lit(1)).cast("long").alias("n_pages"))


# ----------------------------------------------------------------------
# tile_dbscan: grid-DBSCAN hotspot clustering — core cells (tile count
# strictly above the occupied-cell mean, the distribution-relative
# density threshold that stays live at every SF on the uniform synth)
# clustered by 8-connectivity into density-connected components; the
# standard accelerated DBSCAN formulation where the grid IS the
# ε-neighborhood index. Labels are the component's min tile id, so
# "one row per hotspot" selection is t = cluster_id.
#
# Scale shape: the corpus contracts ONCE to per-tile counts
# (partial/final agg); the mean threshold is a 1-row broadcast; the
# adjacency self-join and the alternating large-star/small-star
# contraction (operators/components.py — O(log n) rounds of two
# bounded shuffles) run entirely on the CELL-bounded relation. The
# oracle is the algorithm-independent recursive transitive closure
# over the same adjacency.

def _dbscan_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        "WITH RECURSIVE pages AS ("
        + synth.render("pages", "duckdb")
        + f""")
, g AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS t
  FROM pages
)
, c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
, s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS ncl FROM c)
, core AS (
  SELECT c.t, c.cnt, c.t % {n} AS ix, c.t // {n} AS iy
  FROM c, s WHERE c.cnt * s.ncl > s.tot
)
, e AS (
  SELECT a.t AS u, b.t AS v
  FROM core a JOIN core b
    ON abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1 AND a.t <> b.t
)
, reach(a, b) AS (
  SELECT t, t FROM core
  UNION
  SELECT r.a, e.v FROM reach r JOIN e ON e.u = r.b
)
SELECT r.a AS t, MIN(r.b) AS cluster_id, MIN(core.cnt) AS n_pages
FROM reach r JOIN core ON core.t = r.a
GROUP BY 1
"""
    )


@register("tile_dbscan", _dbscan_oracle())
def q_tile_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    from .operators.components import connected_components

    n = 1 << C.RES_TILE
    g = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t")
    )
    counts = g.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("tot"), F.count(F.lit(1)).alias("ncl")
    )
    core = (
        counts.crossJoin(F.broadcast(stats))
        .where(F.col("cnt") * F.col("ncl") > F.col("tot"))
        .select(
            "t", "cnt",
            (F.col("t") % n).alias("ix"),
            F.expr(f"t div {n}").alias("iy"),
        )
    )
    core = core.localCheckpoint(eager=False)  # adjacency reads it twice
    a, b = core.alias("a"), core.alias("b")
    edges = a.join(
        b,
        (F.abs(F.col("a.ix") - F.col("b.ix")) <= 1)
        & (F.abs(F.col("a.iy") - F.col("b.iy")) <= 1)
        & (F.col("a.t") != F.col("b.t")),
    ).select(F.col("a.t").alias("u"), F.col("b.t").alias("v"))
    comp = connected_components(
        core.select("t"), edges, id_col="t"
    ).withColumnRenamed("component_id", "cluster_id")
    return comp.join(core.select("t", "cnt"), "t").select(
        "t", "cluster_id", F.col("cnt").alias("n_pages")
    )


# ----------------------------------------------------------------------
# tile_contour_cases: marching-squares case extraction over the tile
# count raster — the raster→vector isoline pass (the contour segments
# a tile server draws around density hotspots). Every interior 2×2
# block of the DENSE grid gets its 4-bit case id (one bit per corner's
# above-mean test, the same relative threshold as tile_dbscan), and
# the result is the 16-bin case histogram — the complete description
# of the contour's segment population. Empty cells COUNT (as 0): the
# dense zero-filled grid is load-bearing, exactly like the events
# series families; a sparse grid would erase every boundary against
# empty space.
#
# Scale shape: corpus → per-tile counts once; the dense grid is a
# bounded explode left-joined to the counts (broadcast); the three
# corner shifts are equi-joins on the GRID-bounded relation keyed by
# tile id (+1 / +n arithmetic, no window); final agg over ≤16 groups.

def _contour_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS t
  FROM pages
)
, c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
, s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c)
, dense AS (
  SELECT ix, iy, iy * {n} + ix AS t
  FROM (SELECT UNNEST(range(0, {n})) AS ix)
  CROSS JOIN (SELECT UNNEST(range(0, {n})) AS iy)
)
, f AS (
  SELECT d.ix, d.iy,
         CASE WHEN COALESCE(c.cnt, 0) * {n * n} > s.tot
              THEN 1 ELSE 0 END AS inside
  FROM dense d LEFT JOIN c ON c.t = d.t, s
)
, blocks AS (
  SELECT f00.inside + 2 * f10.inside + 4 * f11.inside + 8 * f01.inside
           AS case_id
  FROM f f00
  JOIN f f10 ON f10.ix = f00.ix + 1 AND f10.iy = f00.iy
  JOIN f f01 ON f01.ix = f00.ix AND f01.iy = f00.iy + 1
  JOIN f f11 ON f11.ix = f00.ix + 1 AND f11.iy = f00.iy + 1
)
SELECT CAST(case_id AS BIGINT) AS case_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks
FROM blocks GROUP BY 1
"""
    )


@register("tile_contour_cases", _contour_oracle())
def q_tile_contour_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << C.RES_TILE
    g = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t")
    )
    counts = g.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("tot"))
    dense = (
        spark.range(n).select(F.col("id").alias("ix"))
        .crossJoin(spark.range(n).select(F.col("id").alias("iy")))
        .select("ix", "iy", (F.col("iy") * n + F.col("ix")).alias("t"))
    )
    f = (
        dense.join(F.broadcast(counts), "t", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "ix", "iy",
            F.when(
                F.coalesce("cnt", F.lit(0)) * (n * n) > F.col("tot"), 1
            ).otherwise(0).alias("inside"),
        )
    )
    f = f.localCheckpoint(eager=False)  # four corner reads
    f00, f10, f01, f11 = f.alias("f00"), f.alias("f10"), f.alias("f01"), f.alias("f11")
    blocks = (
        f00.join(
            f10,
            (F.col("f10.ix") == F.col("f00.ix") + 1)
            & (F.col("f10.iy") == F.col("f00.iy")),
        )
        .join(
            f01,
            (F.col("f01.ix") == F.col("f00.ix"))
            & (F.col("f01.iy") == F.col("f00.iy") + 1),
        )
        .join(
            f11,
            (F.col("f11.ix") == F.col("f00.ix") + 1)
            & (F.col("f11.iy") == F.col("f00.iy") + 1),
        )
        .select(
            (
                F.col("f00.inside")
                + 2 * F.col("f10.inside")
                + 4 * F.col("f11.inside")
                + 8 * F.col("f01.inside")
            ).cast("long").alias("case_id")
        )
    )
    return blocks.groupBy("case_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks")
    )


# ----------------------------------------------------------------------
# tile_flow_dir: D8 flow direction over the tile count raster — each
# occupied cell points at its steepest-ascent 8-neighbor (the classic
# hydrology kernel, aimed uphill here: "which adjacent tile drains
# this tile's traffic"), with deterministic tie-break (highest count,
# then smallest direction code 0-7 clockwise from east). Cells whose
# neighbors are all strictly lower (local summits) get dir = -1. The
# focal-ARGMAX sibling of tile_focal_stats' focal sums.
#
# Scale shape: corpus → per-tile counts once; the 8 neighbor reads
# are ONE explode (8 offsets/cell) + equi-join on the neighbor tile
# id, both on the GRID-bounded relation; the argmax is a map-side
# min(struct) agg keyed by cell. No window, no Python.

_D8 = [(1, 0, 0), (1, 1, 1), (0, 1, 2), (-1, 1, 3),
       (-1, 0, 4), (-1, -1, 5), (0, -1, 6), (1, -1, 7)]


def _flow_oracle() -> str:
    n = 1 << C.RES_TILE
    offs = ", ".join(f"({dx}, {dy}, {d})" for dx, dy, d in _D8)
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS t
  FROM pages
)
, c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
, cells AS (SELECT t, cnt, t % {n} AS ix, t // {n} AS iy FROM c)
, offs(dx, dy, dir) AS (VALUES {offs})
, nb AS (
  SELECT a.t, a.cnt, o.dir, b.cnt AS ncnt
  FROM cells a
  CROSS JOIN offs o
  JOIN cells b
    ON b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy
)
, best AS (
  SELECT t, MAX(ncnt) AS best_ncnt FROM nb GROUP BY 1
)
, pick AS (
  SELECT nb.t, MIN(nb.dir) AS dir
  FROM nb JOIN best ON best.t = nb.t AND nb.ncnt = best.best_ncnt
  GROUP BY 1
)
SELECT c.t, c.cnt,
       CAST(CASE WHEN b.t IS NULL OR b.best_ncnt <= c.cnt THEN -1
            ELSE p.dir END AS BIGINT) AS flow_dir
FROM c LEFT JOIN best b ON b.t = c.t
       LEFT JOIN pick p ON p.t = c.t
"""
    )


@register("tile_flow_dir", _flow_oracle())
def q_tile_flow_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << C.RES_TILE
    g = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t")
    )
    counts = g.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cells = counts.select(
        "t", "cnt",
        (F.col("t") % n).alias("ix"), F.expr(f"t div {n}").alias("iy"),
    ).localCheckpoint(eager=False)  # read as self-join probe + build
    offs = spark.createDataFrame(_D8, ["dx", "dy", "dir"])
    nb = (
        cells.crossJoin(F.broadcast(offs))
        .select(
            "t", "cnt", "dir",
            (F.col("ix") + F.col("dx")).alias("nx"),
            (F.col("iy") + F.col("dy")).alias("ny"),
        )
        .join(
            cells.select(
                F.col("ix").alias("nx"), F.col("iy").alias("ny"),
                F.col("cnt").alias("ncnt"),
            ),
            ["nx", "ny"],
        )
    )
    best = nb.groupBy("t").agg(
        F.min(F.struct((-F.col("ncnt")).alias("neg"), F.col("dir")))
        .getField("dir").cast("long").alias("pick"),
        F.max("ncnt").alias("best_ncnt"),
    )
    return counts.join(best, "t", "left").select(
        "t", "cnt",
        F.when(
            F.col("best_ncnt").isNull()
            | (F.col("best_ncnt") <= F.col("cnt")),
            F.lit(-1),
        ).otherwise(F.col("pick")).cast("long").alias("flow_dir"),
    )


# ----------------------------------------------------------------------
# lang_tile_mix: language × tile contingency ingredients — observed
# counts plus row/column marginals and the grand total, the exact
# int64 inputs of the chi-square / Cramér's-V "is language
# geographically segregated" audit (the float statistic is a
# driver-side fold). The geo×metadata independence test beside
# host_tile_affinity's PMI surface.
#
# Scale shape: the corpus contracts ONCE to the (tile, lang) cell
# table; both marginals re-aggregate the CELL table (agg-of-agg,
# never a second corpus scan) and broadcast back onto it.

def _mix_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS t, lang
  FROM pages
)
, obs AS (
  SELECT t, lang, CAST(COUNT(*) AS BIGINT) AS observed
  FROM g GROUP BY 1, 2
)
, rowt AS (SELECT t, CAST(SUM(observed) AS BIGINT) AS tile_total
           FROM obs GROUP BY 1)
, colt AS (SELECT lang, CAST(SUM(observed) AS BIGINT) AS lang_total
           FROM obs GROUP BY 1)
, grand AS (SELECT CAST(SUM(observed) AS BIGINT) AS grand_total FROM obs)
SELECT o.t, o.lang, o.observed, r.tile_total, c.lang_total,
       grand.grand_total
FROM obs o
JOIN rowt r ON r.t = o.t
JOIN colt c ON c.lang = o.lang
CROSS JOIN grand
"""
    )


@register("lang_tile_mix", _mix_oracle())
def q_lang_tile_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t"),
        "lang",
    )
    obs = g.groupBy("t", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    obs = obs.localCheckpoint(eager=False)  # three downstream readers
    rowt = obs.groupBy("t").agg(
        F.sum("observed").cast("long").alias("tile_total")
    )
    colt = obs.groupBy("lang").agg(
        F.sum("observed").cast("long").alias("lang_total")
    )
    grand = obs.agg(F.sum("observed").cast("long").alias("grand_total"))
    return (
        obs.join(F.broadcast(rowt), "t")
        .join(F.broadcast(colt), "lang")
        .crossJoin(F.broadcast(grand))
        .select("t", "lang", "observed", "tile_total", "lang_total",
                "grand_total")
    )


# ----------------------------------------------------------------------
# tile_upsample2x: bilinear raster upsampling — the tile count grid
# doubled to 2n×2n with half-pixel-center bilinear weights (9/3/3/1
# sixteenths; edge-replicated at the borders), emitted as exact
# sixteenth-units. The zoom-in sibling of tile_pyramid's zoom-out
# rollup: together they give the tiler's full resampling ladder.
#
# Scale shape: corpus → coarse counts once; the fine grid is a
# bounded explode; the four corner reads are left joins of the
# GRID-bounded relation against the (broadcast) coarse counts.

def _up_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS t
  FROM pages
)
, c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
, fine AS (
  SELECT fx, fy,
         fx // 2 AS cx, fy // 2 AS cy,
         CASE WHEN fx % 2 = 0
              THEN GREATEST(fx // 2 - 1, 0)
              ELSE LEAST(fx // 2 + 1, {n - 1}) END AS ox,
         CASE WHEN fy % 2 = 0
              THEN GREATEST(fy // 2 - 1, 0)
              ELSE LEAST(fy // 2 + 1, {n - 1}) END AS oy
  FROM (SELECT UNNEST(range(0, {2 * n})) AS fx)
  CROSS JOIN (SELECT UNNEST(range(0, {2 * n})) AS fy)
)
SELECT f.fx, f.fy,
       CAST(9 * COALESCE(m.cnt, 0) + 3 * COALESCE(h.cnt, 0)
            + 3 * COALESCE(v.cnt, 0) + COALESCE(d.cnt, 0)
            AS BIGINT) AS value_16ths
FROM fine f
LEFT JOIN c m ON m.t = f.cy * {n} + f.cx
LEFT JOIN c h ON h.t = f.cy * {n} + f.ox
LEFT JOIN c v ON v.t = f.oy * {n} + f.cx
LEFT JOIN c d ON d.t = f.oy * {n} + f.ox
"""
    )


@register("tile_upsample2x", _up_oracle())
def q_tile_upsample2x(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << C.RES_TILE
    g = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t")
    )
    counts = g.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    counts = counts.localCheckpoint(eager=False)  # four corner readers
    fine = (
        spark.range(2 * n).select(F.col("id").alias("fx"))
        .crossJoin(spark.range(2 * n).select(F.col("id").alias("fy")))
        .selectExpr(
            "fx", "fy", "fx div 2 AS cx", "fy div 2 AS cy",
            f"CASE WHEN fx % 2 = 0 THEN GREATEST(fx div 2 - 1, 0) "
            f"ELSE LEAST(fx div 2 + 1, {n - 1}) END AS ox",
            f"CASE WHEN fy % 2 = 0 THEN GREATEST(fy div 2 - 1, 0) "
            f"ELSE LEAST(fy div 2 + 1, {n - 1}) END AS oy",
        )
    )

    def corner(cxc, cyc, alias):
        return counts.select(
            (F.col("t") % n).alias(cxc),
            F.expr(f"t div {n}").alias(cyc),
            F.col("cnt").alias(alias),
        )

    out = (
        fine.join(F.broadcast(corner("cx", "cy", "m")), ["cx", "cy"], "left")
        .join(F.broadcast(corner("ox", "cy", "h")), ["ox", "cy"], "left")
        .join(F.broadcast(corner("cx", "oy", "v")), ["cx", "oy"], "left")
        .join(F.broadcast(corner("ox", "oy", "d")), ["ox", "oy"], "left")
    )
    return out.select(
        "fx", "fy",
        (
            9 * F.coalesce("m", F.lit(0)) + 3 * F.coalesce("h", F.lit(0))
            + 3 * F.coalesce("v", F.lit(0)) + F.coalesce("d", F.lit(0))
        ).cast("long").alias("value_16ths"),
    )


# ----------------------------------------------------------------------
# tile_majority_lang: per-tile majority language with exact share —
# the label a multilingual map tiler colors tiles by, and the
# cell-level argmax companion of lang_tile_mix's contingency table.
# Ties pin to the lexicographically smallest language; share is exact
# integer ppm of the tile's pages. The oracle is the join-back argmax
# (max count per tile, then min lang among rows at that count) — a
# different formulation from the engine's min(struct) trick.
#
# Scale shape: corpus → (tile, lang) cells once; argmax and the tile
# totals are both agg-of-agg on the cell table; one broadcast join
# assembles the result.

def _majlang_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS t, lang
  FROM pages
)
, obs AS (
  SELECT t, lang, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM g GROUP BY 1, 2
)
, tt AS (SELECT t, CAST(SUM(cnt) AS BIGINT) AS total FROM obs GROUP BY 1)
, mx AS (SELECT t, MAX(cnt) AS best FROM obs GROUP BY 1)
, pick AS (
  SELECT obs.t, MIN(obs.lang) AS major_lang, MIN(mx.best) AS cnt
  FROM obs JOIN mx ON mx.t = obs.t AND obs.cnt = mx.best
  GROUP BY 1
)
SELECT p.t, p.major_lang, p.cnt AS n_pages, tt.total AS tile_pages,
       CAST(p.cnt * 1000000 // tt.total AS BIGINT) AS share_ppm
FROM pick p JOIN tt ON tt.t = p.t
"""
    )


@register("tile_majority_lang", _majlang_oracle())
def q_tile_majority_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t"),
        "lang",
    )
    obs = g.groupBy("t", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    pick = obs.groupBy("t").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("lang")))
        .alias("pk"),
        F.sum("cnt").cast("long").alias("tile_pages"),
    )
    return pick.select(
        "t",
        F.col("pk.lang").alias("major_lang"),
        (-F.col("pk.neg")).cast("long").alias("n_pages"),
        "tile_pages",
        F.expr("(-pk.neg) * 1000000 div tile_pages")
        .cast("long").alias("share_ppm"),
    )


# ----------------------------------------------------------------------
# segment_crossings: proper line×line intersection degree per way — the
# ST_Crosses / ST_Intersects(line,line) member of the PostGIS family
# (the reference's conflation tests polygon×point and polygon×polygon;
# a street network's crossing census is the line-layer sibling, the op
# an intersection-density or turn-restriction pass starts from). Each
# way contributes two segments — its bbox main diagonal and
# anti-diagonal — and a crossing is a strict orientation straddle
# (collinear/touching excluded), counted per way over pairs of
# DIFFERENT ways.
#
# Completeness guarantee: segment extents are (0.12·PW, 0.22·PH) =
# (0.00768°, 0.0264°); two segments can only intersect if their
# midpoints differ by at most the sum of half-extents per axis =
# (0.00768°, 0.0264°), both under one RES_KNN cell edge (0.05°,
# 0.0375°) — so a 1-ring (9 cells) on the exploded side provably
# covers every crossing pair. Each unordered pair joins exactly once
# (ring(a).cell == midcell(b), a.way_id < b.way_id; ring cells are
# distinct per segment).
#
# 100-TB shape: the big side gets ONE arithmetic cell projection and
# never explodes; the ring explode is 9 × |segments| on the side that
# is broadcast under the knn gate (shuffle-equi-join above it); the
# refine is pure codegen arithmetic from ONE SQL template shared
# verbatim by both engines (identical parse → identical IEEE-754 op
# order → identical strict-sign decisions); the degree count is a
# partial+final hash agg. The oracle is the algorithm-independent
# bbox-prefiltered quadratic join (DuckDB IEJoin) over the same
# template.

_XO1 = "((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))"
_XO2 = "((bx - ax) * (dy - ay) - (by - ay) * (dx - ax))"
_XO3 = "((dx - cx) * (ay - cy) - (dy - cy) * (ax - cx))"
_XO4 = "((dx - cx) * (by - cy) - (dy - cy) * (bx - cx))"
_STRADDLE_SQL = (
    f"(({_XO1} > 0e0 AND {_XO2} < 0e0) OR ({_XO1} < 0e0 AND {_XO2} > 0e0))"
    f" AND (({_XO3} > 0e0 AND {_XO4} < 0e0)"
    f" OR ({_XO3} < 0e0 AND {_XO4} > 0e0))"
)

_SEG_SQL = """
  SELECT way_id, 0 AS kind,
         wx0 AS sx0, wy0 AS sy0, wx1 AS sx1, wy1 AS sy1
  FROM osm_ways_base
  UNION ALL
  SELECT way_id, 1, wx0, wy1, wx1, wy0 FROM osm_ways_base
"""


def _crossings_oracle() -> str:
    return (
        synth.oracle_with("osm_ways_base")
        + f"""
, seg0 AS ({_SEG_SQL})
, seg AS (
  -- bounds materialized as plain columns: DuckDB's IEJoin asserts out
  -- on LEAST/GREATEST expressions computed inline over a UNION ALL CTE
  -- ("requires a flat vector"), and the engine's cell join never uses
  -- them anyway — the oracle stays algorithm-independent either way
  SELECT *, LEAST(sx0, sx1) AS xlo, GREATEST(sx0, sx1) AS xhi,
            LEAST(sy0, sy1) AS ylo, GREATEST(sy0, sy1) AS yhi
  FROM seg0
)
, pre AS (
  SELECT a.way_id AS wa, b.way_id AS wb,
         a.sx0 AS ax, a.sy0 AS ay, a.sx1 AS bx, a.sy1 AS by,
         b.sx0 AS cx, b.sy0 AS cy, b.sx1 AS dx, b.sy1 AS dy
  FROM seg a JOIN seg b
    ON a.way_id < b.way_id
   AND a.xlo <= b.xhi AND b.xlo <= a.xhi
   AND a.ylo <= b.yhi AND b.ylo <= a.yhi
)
, pr AS (SELECT wa, wb FROM pre WHERE {_STRADDLE_SQL})
SELECT way_id, CAST(COUNT(*) AS BIGINT) AS n_cross
FROM (SELECT wa AS way_id FROM pr UNION ALL SELECT wb FROM pr)
GROUP BY 1
"""
    )


@register("segment_crossings", _crossings_oracle())
def q_segment_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    seg = spark.sql(f"SELECT * FROM ({_SEG_SQL})").select(
        "way_id", "kind", "sx0", "sy0", "sx1", "sy1",
        ((F.col("sx0") + F.col("sx1")) / 2).alias("mx"),
        ((F.col("sy0") + F.col("sy1")) / 2).alias("my"),
    )
    ring = ring_cells(seg, "mx", "my", res=RES_KNN, k_ring=1).select(
        F.col("way_id").alias("wa"),
        F.col("sx0").alias("ax"), F.col("sy0").alias("ay"),
        F.col("sx1").alias("bx"), F.col("sy1").alias("by"),
        "cell",
    )
    n_segs = seg.count()  # JVM-only count of the small side
    ring_side = (
        F.broadcast(ring)
        if n_segs * 9 <= BROADCAST_MAX_RING_ROWS
        else ring
    )
    pts = seg.select(
        F.col("way_id").alias("wb"),
        F.col("sx0").alias("cx"), F.col("sy0").alias("cy"),
        F.col("sx1").alias("dx"), F.col("sy1").alias("dy"),
        tile_expr(F.col("mx"), F.col("my"), RES_KNN).alias("cell"),
    )
    pr = (
        pts.join(ring_side, "cell")
        .where(F.col("wa") < F.col("wb"))
        .where(F.expr(_STRADDLE_SQL))
    )
    return (
        pr.select(F.explode(F.array("wa", "wb")).alias("way_id"))
        .groupBy("way_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cross"))
    )


# ----------------------------------------------------------------------
# tile_hillshade: Horn's-method gradient + Lambertian shade numerator
# over the tile count raster — the classic DEM hillshade kernel
# (Horn 1981; gdaldem's default) re-expressed trig-free so the gate is
# bit-exact: the 3×3 Sobel-weighted gradient (gx, gy) is exact int64
# over the counts (absent neighbors are height 0, exactly Horn's edge
# rule), the shade is the unnormalized Lambertian dot product L·∇ with
# the integer NW light vector (-1, +1) — the full cosine only divides
# by norms, which a renderer does after the reduction — and the
# aspect is classified into exact sign-test quadrants (flat = -1).
# The focal-GRADIENT sibling of tile_flow_dir's focal argmax.
#
# Scale shape: corpus → per-tile counts once; the 8 weighted neighbor
# reads are ONE broadcast explode (8 offsets/cell) + equi-join on the
# GRID-bounded relation; gx/gy are a map-side partial SUM keyed by
# cell. No window, no Python, no trig.

_HORN = [  # (dx, dy, wx, wy): gx = E-ish minus W-ish, gy = N-ish minus S-ish
    (1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
    (0, 1, 0, 2), (0, -1, 0, -2),
    (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
]

_QUAD_SQL = (
    "CASE WHEN gx = 0 AND gy = 0 THEN -1"
    " WHEN gx >= 0 AND gy >= 0 THEN 0"
    " WHEN gx < 0 AND gy >= 0 THEN 1"
    " WHEN gx < 0 THEN 2 ELSE 3 END"
)


def _hillshade_oracle() -> str:
    n = 1 << C.RES_TILE
    offs = ", ".join(f"({dx}, {dy}, {wx}, {wy})" for dx, dy, wx, wy in _HORN)
    return (
        synth.oracle_with("pages")
        + f"""
, g AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)}
           AS t
  FROM pages
)
, c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
, cells AS (SELECT t, cnt, t % {n} AS ix, t // {n} AS iy FROM c)
, offs(dx, dy, wx, wy) AS (VALUES {offs})
, grad AS (
  SELECT a.t,
         CAST(SUM(o.wx * b.cnt) AS BIGINT) AS gx,
         CAST(SUM(o.wy * b.cnt) AS BIGINT) AS gy
  FROM cells a
  CROSS JOIN offs o
  JOIN cells b
    ON b.ix = a.ix + o.dx AND b.iy = a.iy + o.dy
  GROUP BY 1
)
SELECT c.t, c.cnt,
       COALESCE(g.gx, 0) AS gx, COALESCE(g.gy, 0) AS gy,
       COALESCE(g.gy, 0) - COALESCE(g.gx, 0) AS shade_nw,
       CAST((SELECT {_QUAD_SQL} FROM (SELECT COALESCE(g.gx, 0) AS gx,
             COALESCE(g.gy, 0) AS gy)) AS BIGINT) AS aspect_quad
FROM c LEFT JOIN grad g ON g.t = c.t
"""
    )


@register("tile_hillshade", _hillshade_oracle())
def q_tile_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    n = 1 << C.RES_TILE
    g = spark.table("pages").select(
        tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t")
    )
    counts = g.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cells = counts.select(
        "t", "cnt",
        (F.col("t") % n).alias("ix"), F.expr(f"t div {n}").alias("iy"),
    ).localCheckpoint(eager=False)  # read as self-join probe + build
    offs = spark.createDataFrame(_HORN, ["dx", "dy", "wx", "wy"])
    grad = (
        cells.crossJoin(F.broadcast(offs))
        .select(
            "t", "wx", "wy",
            (F.col("ix") + F.col("dx")).alias("nx"),
            (F.col("iy") + F.col("dy")).alias("ny"),
        )
        .join(
            # the build side is the GRID-bounded relation (≤ 4^RES_TILE
            # occupied tiles) — broadcast by construction; without the
            # hint the checkpointed relation has no stats and plans SMJ
            F.broadcast(
                cells.select(
                    F.col("ix").alias("nx"), F.col("iy").alias("ny"),
                    F.col("cnt").alias("ncnt"),
                )
            ),
            ["nx", "ny"],
        )
        .groupBy("t")
        .agg(
            F.sum(F.col("wx") * F.col("ncnt")).cast("long").alias("gx"),
            F.sum(F.col("wy") * F.col("ncnt")).cast("long").alias("gy"),
        )
    )
    out = counts.join(F.broadcast(grad), "t", "left").select(
        "t", "cnt",
        F.coalesce("gx", F.lit(0)).cast("long").alias("gx"),
        F.coalesce("gy", F.lit(0)).cast("long").alias("gy"),
    )
    return out.select(
        "t", "cnt", "gx", "gy",
        (F.col("gy") - F.col("gx")).cast("long").alias("shade_nw"),
        F.expr(_QUAD_SQL).cast("long").alias("aspect_quad"),
    )


# ----------------------------------------------------------------------
# hexbin_counts: true hexagonal binning (pointy-top axial grid + exact
# cube rounding — the actual cell shape of H3, vs the square Z-grid
# the engine tiles with elsewhere): per-hex page counts keyed by
# axial (q, r). Hexagons are the density-map binning cartographers
# prefer (equidistant neighbors, no corner-adjacency artifacts), and
# the axial→cube→round pipeline is the standard exact algorithm
# (Amit Patel's hex-grid formulation). All arithmetic — sqrt(3) scale,
# the three FLOOR(v+0.5) roundings, the largest-residual fixups — is
# rendered from ONE set of shared SQL templates so both engines parse
# identical expression trees (sqrt is IEEE-correctly-rounded, so every
# double agrees bit-for-bit; FLOOR(v+0.5e0) sidesteps the engines'
# differing ROUND tie rules).
#
# Scale shape: pure per-row codegen arithmetic (no join, no window,
# no Python) into one partial+final hash agg — embarrassingly
# parallel, identical to page_tile_counts' cost model.

_HEX_SIZE = 0.02  # hex circumradius in degrees (~2.2 km N-S)

_HEX_FQ = (
    f"((SQRT(3e0) / 3e0) * (lon - ({synth.W!r}e0))"
    f" - (lat - ({synth.S!r}e0)) / 3e0) / {_HEX_SIZE!r}e0"
)
_HEX_FR = f"((2e0 / 3e0) * (lat - ({synth.S!r}e0))) / {_HEX_SIZE!r}e0"
# cube rounding on (fq, fr, fs = -fq-fr): round each, then repair the
# axis with the largest residual so q + r + s = 0 stays exact
_HEX_ROUND = {
    "rq": "FLOOR(fq + 0.5e0)", "rr": "FLOOR(fr + 0.5e0)",
    "rs": "FLOOR(fs + 0.5e0)",
    "dq": "ABS(FLOOR(fq + 0.5e0) - fq)",
    "dr": "ABS(FLOOR(fr + 0.5e0) - fr)",
    "ds": "ABS(FLOOR(fs + 0.5e0) - fs)",
}
_HEX_Q = "CASE WHEN dq > dr AND dq > ds THEN -rr - rs ELSE rq END"
_HEX_R = (
    "CASE WHEN dq > dr AND dq > ds THEN rr"
    " WHEN dr > ds THEN -rq - rs ELSE rr END"
)


def _hexbin_oracle() -> str:
    rnd = ", ".join(f"{v} AS {k}" for k, v in _HEX_ROUND.items())
    return (
        synth.oracle_with("pages")
        + f"""
, h0 AS (
  SELECT {_HEX_FQ} AS fq, {_HEX_FR} AS fr FROM pages
)
, h1 AS (SELECT fq, fr, -fq - fr AS fs FROM h0)
, h2 AS (SELECT {rnd} FROM h1)
SELECT CAST({_HEX_Q} AS BIGINT) AS q, CAST({_HEX_R} AS BIGINT) AS r,
       CAST(COUNT(*) AS BIGINT) AS n_pages
FROM h2 GROUP BY 1, 2
"""
    )


@register("hexbin_counts", _hexbin_oracle())
def q_hexbin_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    h0 = spark.table("pages").selectExpr(
        f"{_HEX_FQ} AS fq", f"{_HEX_FR} AS fr"
    )
    h1 = h0.selectExpr("fq", "fr", "-fq - fr AS fs")
    h2 = h1.selectExpr(
        *(f"{v} AS {k}" for k, v in _HEX_ROUND.items())
    )
    return (
        h2.selectExpr(
            f"CAST({_HEX_Q} AS BIGINT) AS q",
            f"CAST({_HEX_R} AS BIGINT) AS r",
        )
        .groupBy("q", "r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pages"))
    )


# ----------------------------------------------------------------------
# hex_smooth: 6-neighbor focal smoothing over the hexbin raster — the
# hex-grid sibling of tile_focal_stats (a hexagon has exactly six
# equidistant neighbors, so the focal kernel has no corner/edge weight
# asymmetry — the reason hex grids are preferred for density
# smoothing). Emits exact integers: own count, neighbor sum, occupied
# neighbor count, and the smoothed numerator own + nbr_sum (the focal
# mean is that over 1 + n_nbrs — a renderer's division).
#
# Scale shape: reuses hexbin_counts' per-row codegen contraction; the
# six neighbor reads are ONE broadcast explode (6 axial offsets) +
# equi-join on (q, r) over the HEX-bounded relation; the sums are a
# map-side partial agg. No window, no Python.

_HEX_NBRS = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]


def _hex_smooth_oracle() -> str:
    offs = ", ".join(f"({dq}, {dr})" for dq, dr in _HEX_NBRS)
    rnd = ", ".join(f"{v} AS {k}" for k, v in _HEX_ROUND.items())
    return (
        synth.oracle_with("pages")
        + f"""
, h0 AS (
  SELECT {_HEX_FQ} AS fq, {_HEX_FR} AS fr FROM pages
)
, h1 AS (SELECT fq, fr, -fq - fr AS fs FROM h0)
, h2 AS (SELECT {rnd} FROM h1)
, hx AS (
  SELECT CAST({_HEX_Q} AS BIGINT) AS q, CAST({_HEX_R} AS BIGINT) AS r,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM h2 GROUP BY 1, 2
)
, offs(dq, dr) AS (VALUES {offs})
, nb AS (
  SELECT a.q, a.r,
         CAST(SUM(b.cnt) AS BIGINT) AS nbr_sum,
         CAST(COUNT(*) AS BIGINT) AS n_nbrs
  FROM hx a CROSS JOIN offs o
  JOIN hx b ON b.q = a.q + o.dq AND b.r = a.r + o.dr
  GROUP BY 1, 2
)
SELECT hx.q, hx.r, hx.cnt,
       COALESCE(nb.nbr_sum, 0) AS nbr_sum,
       COALESCE(nb.n_nbrs, 0) AS n_nbrs,
       hx.cnt + COALESCE(nb.nbr_sum, 0) AS smooth_num
FROM hx LEFT JOIN nb ON nb.q = hx.q AND nb.r = hx.r
"""
    )


@register("hex_smooth", _hex_smooth_oracle())
def q_hex_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    hx = q_hexbin_counts(spark, sf_dir).withColumnRenamed(
        "n_pages", "cnt"
    ).localCheckpoint(eager=False)  # read as probe + both join sides
    offs = spark.createDataFrame(_HEX_NBRS, ["dq", "dr"])
    nb = (
        hx.crossJoin(F.broadcast(offs))
        .select(
            "q", "r",
            (F.col("q") + F.col("dq")).alias("nq"),
            (F.col("r") + F.col("dr")).alias("nr"),
        )
        .join(
            # HEX-bounded build side (occupied hexes only) — broadcast
            # by construction; the checkpointed relation has no stats
            F.broadcast(
                hx.select(
                    F.col("q").alias("nq"), F.col("r").alias("nr"),
                    F.col("cnt").alias("ncnt"),
                )
            ),
            ["nq", "nr"],
        )
        .groupBy("q", "r")
        .agg(
            F.sum("ncnt").cast("long").alias("nbr_sum"),
            F.count(F.lit(1)).cast("long").alias("n_nbrs"),
        )
    )
    return hx.join(F.broadcast(nb), ["q", "r"], "left").select(
        "q", "r", "cnt",
        F.coalesce("nbr_sum", F.lit(0)).cast("long").alias("nbr_sum"),
        F.coalesce("n_nbrs", F.lit(0)).cast("long").alias("n_nbrs"),
        (F.col("cnt") + F.coalesce("nbr_sum", F.lit(0)))
        .cast("long").alias("smooth_num"),
    )
