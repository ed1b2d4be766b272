"""Driver-facing query registry: every implemented operator from
SURVEY.md §2 gets a (spark_fn, oracle_sql) pair here. ``__spark_entry__``
re-exports them. Oracle SQL runs on DuckDB over the same parquet tables;
synthetic geo tables are inlined as CTEs (see synth.py — bit-identical
derivation in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from . import oracles_conflation as OC
from . import synth
from .geo import cells as C
from .operators import conflation as CF
from .operators import geometry as G
from .operators.pip_join import pip_join, tile_expr
from .session import evict_stopped_sessions, session_cache, session_token

# ----------------------------------------------------------------------
# registry plumbing

QUERIES: dict = {}   # name -> fn(spark, sf_dir) -> DataFrame
ORACLES: dict = {}   # name -> duckdb SQL (absent → rows-only check)


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def views(spark: SparkSession, sf_dir: str) -> None:
    synth.register_views_cached(spark, sf_dir)


_PREP_CACHE = session_cache(0)


def stage(spark: SparkSession, key: tuple, df_fn) -> DataFrame:
    """Materialize a stage boundary once per (session, sf_dir): every rake
    ``table`` block in the reference is a physical table; its Spark analog
    must cut the logical plan too, or Catalyst re-analyzes the whole
    upstream chain at every reference (the plan grows combinatorially
    through self-joins). ``localCheckpoint`` truncates lineage — on a real
    cluster this is the per-stage Iceberg write + snapshot-id manifest
    (SURVEY.md §2.9 resumability note).

    DISK_ONLY: checkpoint blocks default to MEMORY_AND_DESERIALIZED in
    the driver heap, and a session that has run the full query sweep
    accumulates enough of them that G1 pressure taxes EVERY later stage
    (measured: the same ANN query 47 s late in a sweep vs 6.9 s after
    unpersist+gc). Disk blocks are served by the OS page cache at local
    scale and by shuffle-class storage on a cluster — the heap stays
    flat no matter how many stages a session materializes."""
    from pyspark import StorageLevel

    evict_stopped_sessions(key[0])
    df = _PREP_CACHE.get(key)
    if df is None:
        df = df_fn().localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        _PREP_CACHE[key] = df
    return df


def cut(df: DataFrame) -> DataFrame:
    """Materialize a subtree ONCE within the current query build (eager
    DISK_ONLY localCheckpoint) — the intra-query twin of ``stage()``:
    nothing is memoized across calls, so every bench run pays the
    materialization inside its timed region. Use where one subtree
    feeds several consumers and ReuseExchange cannot be relied on to
    dedupe (self-joins on derived tables, aggregate referenced by its
    own statistics) — guide §5 ``localCheckpoint`` lineage cut."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)


def cut_count(df: DataFrame, flag: Column) -> tuple[DataFrame, int]:
    """``cut(df)`` plus the number of its rows where ``flag`` holds,
    read from the checkpoint's own job through an ``Observation`` — the
    count costs no extra Spark job. A fixed-round loop cuts its state
    with this between rounds and stops at the first round that changed
    nothing (``n == 0``, or kcore's edge count equal to the previous
    round's). That early exit is exact only where a round is a
    deterministic function of the state and fixed inputs: then a round
    that changes nothing repeats forever. Callers test equality, never
    a threshold, so a retried task that double-counts a changed row
    cannot pass for a round that changed nothing."""
    obs = Observation()
    n = F.coalesce(F.sum(flag.cast("long")), F.lit(0)).alias("n")
    return cut(df.observe(obs, n)), obs.get["n"]


def prepared_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pdx_bldgs_orig after one-pass ingest enrichment + geometry repair
    (drops bowties — the repairs-to-MultiPolygon rule,
    tasks/pdx_shapes.rake:115-131). Cached per session: every spatial
    query reuses the same materialized small side, like the reference's
    persisted `the_geom_centroids` columns."""
    views(spark, sf_dir)
    return stage(
        spark,
        (session_token(spark), sf_dir, "footprints"),
        lambda: G.enrich_polys(spark.table("footprints"), "fp_id").filter(F.col("valid")),
    )


# Polygon-count gate shared by the prepared broadcast covers: above
# this the cover builder returns None and every caller routes its PIP
# join through the shuffle path instead (the driver never collects an
# unboundedly large polygon side). Monkeypatched to 0 by
# tests/test_cover_gate.py to force the fallback end-to-end.
COVER_MAX_POLYS = 100_000


def prepared_fp_cover(spark: SparkSession, sf_dir: str):
    """Ingest-time broadcast spatial index over the footprints (the
    reference builds its GiST indexes at table-build time,
    add_spatial_index sites — every PIP query against the footprints
    reuses this instead of re-deriving cover cells). Returns None when
    the footprint side exceeds COVER_MAX_POLYS — callers fall back to
    the shuffle PIP path (see ``pip_fp_join``)."""
    key = (session_token(spark), sf_dir, "fp_cover")
    if key not in _PREP_CACHE:
        from .operators.pip_join import build_broadcast_cover

        fps = prepared_footprints(spark, sf_dir)
        n = fps.count()  # one JVM count, shared with the shuffle fallback
        _PREP_CACHE[(session_token(spark), sf_dir, "fp_count")] = n
        _PREP_CACHE[key] = build_broadcast_cover(
            fps, "fp_id", max_polys=COVER_MAX_POLYS, polys_count=n,
        )
    return _PREP_CACHE[key]


def pip_fp_join(spark: SparkSession, sf_dir: str, points: DataFrame,
                point_id: str, carry=None) -> DataFrame:
    """PIP join of ``points`` against the footprints through the
    prepared broadcast cover when it exists, else the salted shuffle
    path. The footprint count from the gate is threaded through as
    ``polys_count`` so the over-gate side is never counted twice."""
    bc = prepared_fp_cover(spark, sf_dir)
    if bc is not None:
        return pip_join(points, None, point_id, "fp_id", prebuilt=bc, carry=carry)
    fps = prepared_footprints(spark, sf_dir).select("fp_id", "rings")
    n = _PREP_CACHE.get((session_token(spark), sf_dir, "fp_count"))
    return pip_join(
        points, fps, point_id, "fp_id", broadcast_max_polys=0,
        polys_count=n, carry=carry,
    )


def valid_footprints(spark: SparkSession) -> DataFrame:
    """Back-compat shim: enriched + repaired footprints (assumes views
    registered; prefer prepared_footprints)."""
    return G.enrich_polys(spark.table("footprints"), "fp_id").filter(F.col("valid"))


def prepared_cbldg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conflation buildings (pdx_bldgs_orig analog) with ingest
    enrichment: centroid + area from the ring kernels (the honest
    geometry path — the generator's corner scalars are never read)."""
    views(spark, sf_dir)

    def build():
        raw = spark.table("cbldg").select(
            "bldg_id",
            F.col("cpid").alias("state_id"),
            # P6 residential reclassification at ingest
            # (tasks/pdx_shapes.rake:133-138)
            CF.residential_reclass(
                F.col("bldg_type_raw"), F.col("bldg_use")
            ).alias("bldg_type_raw"),
            "bldg_use", "num_story",
            "surf_elev", "max_height", "rings",
        )
        return G.enrich_polys(raw, "bldg_id")

    return stage(spark, (session_token(spark), sf_dir, "cbldg"), build)


def conflation_addrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return stage(
        spark,
        (session_token(spark), sf_dir, "pdx_addrs"),
        lambda: CF.pdx_addrs(spark.table("caddr")),
    )


# ----------------------------------------------------------------------
# Flagship: J4 point-in-polygon assignment — each geocoded page to its
# containing footprint (reference addr∈bldg join,
# tasks/pdx_multi_addrs.rake:41). Cell-bucketed broadcast PIP join with
# exact ray-cast refine.
@register(
    "pip_assign",
    synth.oracle_with("pages", "footprints_base")
    + """
    SELECT p.page_id AS page_id, f.fp_id AS fp_id
    FROM pages p
    JOIN footprints_base f
      ON p.pid = f.pid
     AND f.fp_id % 97 <> 5
     AND p.lon >= f.x0 AND p.lon < f.x1
     AND p.lat >= f.y0 AND p.lat < f.y1
    """,
)
def q_pip_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return pip_fp_join(spark, sf_dir, spark.table("pages"), "page_id")


# A4 tile counts over points: pages per quarter-section-analog tile
# (tasks/metro_quarter_secs.rake:19-27) — pure JVM arithmetic + hash agg.
@register(
    "page_tile_counts",
    synth.oracle_with("pages")
    + f"""
    SELECT
      CAST(LEAST(GREATEST(FLOOR((lat - ({C.LAT_S!r})) / {C.SPAN_Y!r} * 32e0), 0), 31) AS BIGINT) * 32
      + CAST(LEAST(GREATEST(FLOOR((lon - ({C.LON_W!r})) / {C.SPAN_X!r} * 32e0), 0), 31) AS BIGINT) AS tile_id,
      COUNT(*) AS page_count
    FROM pages
    GROUP BY 1
    """,
)
def q_page_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return (
        spark.table("pages")
        .select(tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("tile_id"))
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("page_count"))
    )


# A4 over polygons: footprint centroids per tile (the qtrsec assignment,
# tasks/pdx_bldgs.rake:139-144 + count, tasks/metro_quarter_secs.rake:19-27).
@register(
    "fp_tile_counts",
    synth.oracle_with("footprints_base")
    + f"""
    SELECT
      CAST(LEAST(GREATEST(FLOOR(((y0 + y1) / 2e0 - ({C.LAT_S!r})) / {C.SPAN_Y!r} * 32e0), 0), 31) AS BIGINT) * 32
      + CAST(LEAST(GREATEST(FLOOR(((x0 + x1) / 2e0 - ({C.LON_W!r})) / {C.SPAN_X!r} * 32e0), 0), 31) AS BIGINT) AS tile_id,
      COUNT(*) AS fp_count
    FROM footprints_base
    WHERE fp_id % 97 <> 5
    GROUP BY 1
    """,
)
def q_fp_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    fps = prepared_footprints(spark, sf_dir)
    return (
        fps.select(
            tile_expr(F.col("centroid_lon"), F.col("centroid_lat"), C.RES_TILE).alias("tile_id")
        )
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("fp_count"))
    )


# Tile pyramid: page counts at zoom RES_TILE and two parent zooms — the
# multi-resolution rollup every slippy-map / raster-overview stage of a
# tiler publishes (the reference's quarter-section tiles are one fixed
# zoom, tasks/metro_quarter_secs.rake:2-4; a 10^12-page serving layer
# needs the coarser levels too). The corpus contributes EXACTLY ONE
# partial/final hash agg (the base zoom); every parent level is an
# aggregation of the previous level's ≤4^res rows — an agg-of-agg chain
# that never rescans or reshuffles the page side. The base counts are
# stage-materialized (the per-zoom Iceberg table write on a cluster), so
# the three union branches read the 1024-row stage, not the corpus.
def _tile_parent(col: str, res: int):
    """Parent tile key one zoom up from ``res`` (flat iy*2^res+ix keys,
    all non-negative — div truncation IS floor here)."""
    n = 1 << res
    return F.expr(f"(({col} div {n}) div 2) * {n // 2} + ({col} % {n}) div 2")


@register(
    "tile_pyramid",
    synth.oracle_with("pages")
    + f"""
    , base AS (
      SELECT
        CAST(LEAST(GREATEST(FLOOR((lat - ({C.LAT_S!r})) / {C.SPAN_Y!r} * 32e0), 0), 31) AS BIGINT) * 32
        + CAST(LEAST(GREATEST(FLOOR((lon - ({C.LON_W!r})) / {C.SPAN_X!r} * 32e0), 0), 31) AS BIGINT) AS t,
        COUNT(*) AS c
      FROM pages GROUP BY 1
    ), l4 AS (
      SELECT (t // 32) // 2 * 16 + (t % 32) // 2 AS t, SUM(c) AS c
      FROM base GROUP BY 1
    ), l3 AS (
      SELECT (t // 16) // 2 * 8 + (t % 16) // 2 AS t, SUM(c) AS c
      FROM l4 GROUP BY 1
    )
    SELECT 5 AS zoom, t AS tile_id, CAST(c AS BIGINT) AS page_count FROM base
    UNION ALL
    SELECT 4 AS zoom, t, CAST(c AS BIGINT) FROM l4
    UNION ALL
    SELECT 3 AS zoom, t, CAST(c AS BIGINT) FROM l3
    """,
)
def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    base = stage(
        spark,
        (session_token(spark), sf_dir, "tile_pyramid_base"),
        lambda: spark.table("pages")
        .select(tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c")),
    )
    l4 = (
        base.select(_tile_parent("t", C.RES_TILE).alias("t"), "c")
        .groupBy("t")
        .agg(F.sum("c").alias("c"))
    )
    l3 = (
        l4.select(_tile_parent("t", C.RES_TILE - 1).alias("t"), "c")
        .groupBy("t")
        .agg(F.sum("c").alias("c"))
    )

    def lvl(df: DataFrame, zoom: int) -> DataFrame:
        return df.select(
            F.lit(zoom).cast("int").alias("zoom"),
            F.col("t").alias("tile_id"),
            F.col("c").cast("long").alias("page_count"),
        )

    return lvl(base, 5).unionByName(lvl(l4, 4)).unionByName(lvl(l3, 3))


# Ingest invariant: html → extracted text, byte-identical per url
# (BASELINE.json input_hint). JVM regexp over the decoded binary column.
@register(
    "text_extract",
    synth.oracle_with("pages")
    + """
    SELECT url AS url, text AS extracted
    FROM pages
    """,
)
def q_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return spark.table("pages").select(
        "url",
        # body-before-nav via substring_index passes — pure string scans,
        # measured ~1.3x faster than the equivalent lazy-regex extract
        # (BENCH/BASELINE.md round-5 late batch A/B; the synth text is
        # whitespace-delimited words, never '<')
        F.substring_index(
            F.substring_index(
                F.substring_index(
                    F.col("html").cast("string"), "<nav>", 1
                ),
                "<body>",
                -1,
            ),
            "</body>",
            1,
        ).alias("extracted"),
    )


# Host-level corpus rollup (Common-Crawl-style per-domain stats over the
# webtext ingest): pages keyed by the url's host component, one hash
# aggregation — COUNT/SUM/MIN/MAX combine map-side, and the two
# COUNT(DISTINCT)s expand to a two-phase partial/final agg, so the only
# exchange carries one row per (host, doc_id|lang) partial. At 10^12
# pages hosts are the natural skew axis (crawls are host-heavy-tailed);
# the plan stays safe because partial aggregation collapses each
# executor's share of a hot host before the shuffle.
@register(
    "host_stats",
    synth.oracle_with("pages")
    + """
    SELECT regexp_replace(lower(regexp_extract(url, '(?i)https?://([^/?#]+)', 1)),
                          ':[0-9]+$', '') AS host,
           COUNT(*) AS n_pages,
           COUNT(DISTINCT doc_id) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS text_chars,
           COUNT(DISTINCT lang) AS n_langs,
           MIN(warc_ts) AS first_ts,
           MAX(warc_ts) AS last_ts
    FROM pages
    GROUP BY 1
    """,
)
def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return (
        spark.table("pages")
        # host = authority up to the first /, ? or # OR end-of-string: a
        # real-crawl URL with no path ('https://host' or 'https://host?q=1')
        # must not collapse into the '' bucket. Crawl URLs are also
        # case-noisy and may carry an explicit port, so the rollup key is
        # lowercase + port-stripped ('HTTPS://H0...:443/x' buckets with
        # 'https://h0...'). Same expressions in the oracle — engine and
        # oracle stay in lockstep; synth plants pathless (page_id % 131 =
        # 7) and uppercase+port (% 7 = 3 AND % 4 = 1) rows so both
        # branches are live under the gate.
        .groupBy(
            F.regexp_replace(
                F.lower(F.regexp_extract("url", r"(?i)https?://([^/?#]+)", 1)),
                r":[0-9]+$", "",
            ).alias("host")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.length("text")).alias("text_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
        )
    )


# J10 per-cell kNN with k-ring expansion (north_star; reference
# distance-ordered scan, tasks/metro_quarter_secs.rake:80-86): pages not
# contained by any footprint resolve to the nearest footprint centroid
# among the candidates in the page cell's Chebyshev k-ring at RES_KNN.
# Ring-bounded semantics on BOTH sides: the oracle expresses the ring as
# |ix_p - ix_f| ≤ k ∧ |iy_p - iy_f| ≤ k on the same clipped-floor grid.
def _ix_sql(lon_expr: str, res: int) -> str:
    n = 1 << res
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({lon_expr} - ({C.LON_W!r})) / "
        f"{C.SPAN_X!r} * {n}e0), 0), {n - 1}) AS BIGINT)"
    )


def _iy_sql(lat_expr: str, res: int) -> str:
    n = 1 << res
    return (
        f"CAST(LEAST(GREATEST(FLOOR(({lat_expr} - ({C.LAT_S!r})) / "
        f"{C.SPAN_Y!r} * {n}e0), 0), {n - 1}) AS BIGINT)"
    )


from .operators.knn import K_RING, RES_KNN, knn_join  # noqa: E402


@register(
    "knn_unassigned",
    synth.oracle_with("pages", "footprints_base")
    + f"""
    , upt AS (
      SELECT p.page_id, p.lon, p.lat,
             {_ix_sql('p.lon', RES_KNN)} AS ixp,
             {_iy_sql('p.lat', RES_KNN)} AS iyp
      FROM pages p
      WHERE NOT EXISTS (
        SELECT 1 FROM footprints_base g
        WHERE g.pid = p.pid AND g.fp_id % 97 <> 5
          AND p.lon >= g.x0 AND p.lon < g.x1
          AND p.lat >= g.y0 AND p.lat < g.y1
      )
    ), fc AS (
      SELECT fp_id, (x0 + x1) / 2e0 AS cx, (y0 + y1) / 2e0 AS cy
      FROM footprints_base WHERE fp_id % 97 <> 5
    ), ranked AS (
      SELECT u.page_id, f.fp_id,
             ROW_NUMBER() OVER (
               PARTITION BY u.page_id
               ORDER BY (u.lon - f.cx) * (u.lon - f.cx)
                      + (u.lat - f.cy) * (u.lat - f.cy),
                      f.fp_id
             ) AS rn
      FROM upt u
      JOIN fc f
        ON abs(u.ixp - {_ix_sql('f.cx', RES_KNN)}) <= {K_RING}
       AND abs(u.iyp - {_iy_sql('f.cy', RES_KNN)}) <= {K_RING}
    )
    SELECT page_id AS page_id, fp_id AS nearest_fp
    FROM ranked WHERE rn = 1
    """,
)
def q_knn_unassigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    pages = spark.table("pages")
    fps = prepared_footprints(spark, sf_dir)
    assigned = pip_fp_join(spark, sf_dir, pages, "page_id").select("page_id")
    un = pages.join(assigned, "page_id", "left_anti")
    cents = fps.select("fp_id", "centroid_lon", "centroid_lat")
    return knn_join(un, cents, "page_id", "fp_id").select(
        "page_id", F.col("fp_id").alias("nearest_fp")
    )


# ----------------------------------------------------------------------
# Conflation chain (the reference's heart, tasks/pdx_bldgs.rake &c.)

# pdx_addrs: street expansion (F1-F4), unit exclusion (P4), arterial
# dedup-delete (J9), Chavez rename (tasks/pdx_addrs.rake, pdx_shapes.rake).
@register(
    "pdx_addrs",
    OC.with_prefix()
    + """
    SELECT state_id, address_id, housenumber, street, postcode, city,
           state, country
    FROM pdx_addrs
    """,
)
def q_pdx_addrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conflation_addrs(spark, sf_dir).select(
        "state_id", "address_id", "housenumber", "street", "postcode",
        "city", "state", "country",
    )


# A1 addr_bldg_counts (tasks/pdx_shapes.rake:162-175)
@register(
    "addr_bldg_counts",
    OC.with_prefix()
    + """
    SELECT state_id, addr_count, bldg_count FROM abc
    """,
)
def q_addr_bldg_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    bldgs = spark.table("cbldg").withColumnRenamed("cpid", "state_id")
    return CF.addr_bldg_counts(bldgs, conflation_addrs(spark, sf_dir))


# A6 taxlot stats (tasks/clark_shapes.rake:16-32): count + max + sum of
# building area per parcel. Areas quantized to integer milli-ft² per
# building BEFORE the sum so the group aggregate is exact int64 in both
# engines (double sums are order-sensitive). The oracle reproduces the
# engine kernel's shoelace IEEE op order exactly (geo.core.poly_area):
# crosses summed left-to-right in edge order, /2, abs, × the folded
# ft²-per-deg² constant.
def _area_ft2_sql(prefix: str = "b.") -> str:
    from .geo import core as _core

    k = _core.FT_PER_DEG_LON * _core.FT_PER_DEG_LAT
    p = prefix
    crosses = [
        f"({p}bx0 * {p}by0 - {p}bx1 * {p}by0)",
        f"({p}bx1 * {p}by1 - {p}bx1 * {p}by0)",
        f"({p}bx1 * {p}by1 - {p}bx0 * {p}by1)",
        f"({p}bx0 * {p}by0 - {p}bx0 * {p}by1)",
    ]
    acc = crosses[0]
    for c in crosses[1:]:
        acc = f"({acc} + {c})"
    return f"abs(abs({acc} / 2e0)) * {k!r}"


@register(
    "taxlot_stats",
    synth.oracle_with("cbldg_base")
    + f"""
    SELECT b.cpid AS state_id,
           COUNT(*) AS n_bldgs,
           MAX(CAST(FLOOR({_area_ft2_sql()} * 1000e0) AS BIGINT)) AS max_area_mft2,
           CAST(SUM(CAST(FLOOR({_area_ft2_sql()} * 1000e0) AS BIGINT)) AS BIGINT) AS sum_area_mft2
    FROM cbldg_base b
    GROUP BY b.cpid
    """,
)
def q_taxlot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    b = prepared_cbldg(spark, sf_dir)
    mft2 = F.floor(F.col("area") * F.lit(1000.0)).cast("long")
    return (
        b.select("state_id", mft2.alias("mft2"))
        .groupBy("state_id")
        .agg(
            F.count(F.lit(1)).alias("n_bldgs"),
            F.max("mft2").alias("max_area_mft2"),
            F.sum("mft2").alias("sum_area_mft2"),
        )
    )


# Clark attribute chain (tasks/clark_shapes.rake:94-163): taxlots are
# REAL geometries here — buildings attach by CENTROID-in-taxlot
# ST_Intersects (clark_bldgs_to_taxlots, rake:94-105), addresses by
# point-in-taxlot (clark_addrs_to_taxlots, rake:106-117), and the
# one-address-one-building taxlots hand their address to their building
# (rake:123-163). Both memberships run through the slot-cover pip_join
# against ONE prebuilt broadcast taxlot index (the add_spatial_index
# analog); the oracle recomputes membership with scalar rectangle
# predicates.
def _taxlot_rings(spark: SparkSession) -> DataFrame:
    return spark.table("taxlots_base").select(
        "pid",
        F.expr(
            "array(array(tx0,ty0, tx1,ty0, tx1,ty1, tx0,ty1, tx0,ty0))"
        ).alias("rings"),
    )


def prepared_taxlot_cover(spark: SparkSession, sf_dir: str):
    from .operators.pip_join import build_broadcast_cover

    key = (session_token(spark), sf_dir, "taxlot_cover")
    if key not in _PREP_CACHE:
        # taxlots are parcel-scale (~0.06°×0.12°), not footprint-scale:
        # at RES_JOIN each would cover ~1000 cells (260k-row cover for
        # the grid). res=None → build_broadcast_cover auto-picks the
        # res where one parcel covers a handful of cells. Count-gated
        # like the footprint cover: None → shuffle fallback.
        _PREP_CACHE[key] = build_broadcast_cover(
            _taxlot_rings(spark), "pid", max_polys=COVER_MAX_POLYS
        )
    return _PREP_CACHE[key]


def pip_taxlot_join(spark: SparkSession, sf_dir: str, points: DataFrame,
                    point_id: str) -> DataFrame:
    """Point-in-taxlot join via the prepared broadcast cover, falling
    back to the salted shuffle path when the taxlot side is over the
    cover gate."""
    cover = prepared_taxlot_cover(spark, sf_dir)
    if cover is not None:
        return pip_join(points, None, point_id, "pid", prebuilt=cover)
    return pip_join(
        points, _taxlot_rings(spark), point_id, "pid", broadcast_max_polys=0
    )


@register(
    "clark_one_addr_bldgs",
    synth.oracle_with("cbldg_base", "caddr", "taxlots_base")
    + """
    , bc AS (
      SELECT b.bldg_id, t.pid
      FROM cbldg_base b
      JOIN taxlots_base t
        ON (b.bx0 + b.bx1) / 2e0 >= t.tx0 AND (b.bx0 + b.bx1) / 2e0 < t.tx1
       AND (b.by0 + b.by1) / 2e0 >= t.ty0 AND (b.by0 + b.by1) / 2e0 < t.ty1
    ), ac AS (
      SELECT a.address_id, t.pid
      FROM caddr a
      JOIN taxlots_base t
        ON a.lon >= t.tx0 AND a.lon < t.tx1
       AND a.lat >= t.ty0 AND a.lat < t.ty1
    ), nb AS (SELECT pid, COUNT(*) AS no_bldgs FROM bc GROUP BY pid)
    , na AS (SELECT pid, COUNT(*) AS no_addrs FROM ac GROUP BY pid)
    , one AS (
      SELECT nb.pid FROM nb JOIN na ON nb.pid = na.pid
      WHERE no_bldgs = 1 AND no_addrs = 1
    )
    SELECT bc.bldg_id, bc.pid,
           a.housenumber AS addr_housenumber,
           a.fname AS addr_street,
           a.mail_city AS addr_city,
           a.postcode AS addr_postcode
    FROM bc
    JOIN one ON bc.pid = one.pid
    JOIN ac ON ac.pid = bc.pid
    JOIN caddr a ON a.address_id = ac.address_id
    """,
)
def q_clark_one_addr_bldgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    bpts = spark.table("cbldg").select(
        "bldg_id",
        F.expr("(bx0 + bx1) / 2e0").alias("lon"),
        F.expr("(by0 + by1) / 2e0").alias("lat"),
    )
    apts = spark.table("caddr").select("address_id", "lon", "lat")
    b2t = pip_taxlot_join(spark, sf_dir, bpts, "bldg_id")
    a2t = pip_taxlot_join(spark, sf_dir, apts, "address_id")
    nb = b2t.groupBy("pid").agg(F.count(F.lit(1)).alias("no_bldgs"))
    na = a2t.groupBy("pid").agg(F.count(F.lit(1)).alias("no_addrs"))
    one = (
        nb.join(na, "pid")
        .where((F.col("no_bldgs") == 1) & (F.col("no_addrs") == 1))
        .select("pid")
    )
    addr = spark.table("caddr").select(
        "address_id",
        F.col("housenumber").alias("addr_housenumber"),
        F.col("fname").alias("addr_street"),
        F.col("mail_city").alias("addr_city"),
        F.col("postcode").alias("addr_postcode"),
    )
    return (
        b2t.join(F.broadcast(one), "pid")
        .join(a2t, "pid")
        .join(addr, "address_id")
        .select(
            "bldg_id", "pid", "addr_housenumber", "addr_street",
            "addr_city", "addr_postcode",
        )
    )


# J1 house_and_garage (tasks/pdx_bldgs.rake:12-23)
@register(
    "house_and_garage",
    OC.with_prefix()
    + """
    SELECT state_id, addr_count FROM hg
    """,
)
def q_house_and_garage(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    bldgs = spark.table("cbldg").withColumnRenamed("cpid", "state_id")
    counts = CF.addr_bldg_counts(bldgs, conflation_addrs(spark, sf_dir))
    return CF.house_and_garage(bldgs, counts)


# The full pdx_bldgs chain (J2/J6/P7/A2 + qtrsec tiling),
# tasks/pdx_bldgs.rake:1-175.
@register(
    "pdx_bldgs",
    OC.with_prefix(OC.PDX_BLDGS_CTES)
    + """
    SELECT state_id, bldg_id, address_id, housenumber, street, postcode,
           city, state, country, levels, ele, height, bldg_type,
           no_addrs, bldg_count, is_deleted, qtrsec
    FROM pdx_bldgs
    """,
)
def q_pdx_bldgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    out = pdx_bldgs_df(spark, sf_dir)
    return out.select(
        "state_id", "bldg_id", "address_id", "housenumber", "street",
        "postcode", "city", "state", "country", "levels", "ele", "height",
        "bldg_type", "no_addrs", "bldg_count", "is_deleted", "qtrsec",
    )


def pdx_bldgs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached final pdx_bldgs table (the chain is input to multi-addr,
    metro dedup, and the export tiler — materialize once per session,
    like the reference's physical table)."""
    bldgs = prepared_cbldg(spark, sf_dir)
    addrs = conflation_addrs(spark, sf_dir)
    counts = stage(
        spark, (session_token(spark), sf_dir, "abc"),
        lambda: CF.addr_bldg_counts(bldgs, addrs),
    )
    hg = stage(
        spark, (session_token(spark), sf_dir, "hg"),
        lambda: CF.house_and_garage(bldgs, counts),
    )
    view = stage(
        spark, (session_token(spark), sf_dir, "view"),
        lambda: CF.pdx_bldg_view(bldgs, addrs, counts),
    )
    return stage(
        spark, (session_token(spark), sf_dir, "pdx_bldgs"),
        lambda: CF.pdx_bldgs(view, hg, lambda lon, lat: tile_expr(lon, lat, C.RES_TILE)),
    )


# W1/W2/W3 + A3: multi-address placement (tasks/pdx_multi_addrs.rake).
# The all-inside test is a genuine spatial PIP join (J4) over the
# multi-address buildings; placement uses kernel ST_PointOnSurface with
# deterministic perturbation (F10). lon/lat are engine-kernel values and
# are verified by pytest (tests/test_rules.py: cross-rebuild determinism
# + branch-B containment), not the SQL oracle.
@register(
    "multi_addrs",
    OC.with_prefix(OC.PDX_BLDGS_CTES, OC.MULTI_ADDRS_CTES)
    + """
    SELECT pdx_bldg_id, state_id, qtrsec, housenumber, street, postcode,
           city, state
    FROM multi_addrs
    """,
)
def q_multi_addrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return multi_addrs_df(spark, sf_dir).drop("lon", "lat")


def multi_addrs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    bldgs = prepared_cbldg(spark, sf_dir)
    addrs = conflation_addrs(spark, sf_dir)
    pdx = pdx_bldgs_df(spark, sf_dir)
    mb_all = pdx.join(
        bldgs.select("bldg_id", "rings", "pos_lon", "pos_lat"), "bldg_id"
    )
    pts = addrs.select("address_id", "lon", "lat")
    target = mb_all.where(F.col("no_addrs") > 1).select("bldg_id", "rings")
    inside_pairs = pip_join(pts, target, "address_id", "bldg_id")
    return CF.multi_addrs(mb_all, addrs, inside_pairs)


# The multi-addr artifact flavor (second half of S7): the reference
# ships every tile as a PAIR — buildings `<qtrsec>.osm` AND standalone
# address nodes `<qtrsec>_multi_addr.osm` (tasks/metro_output.rake:46-58;
# golden sample_osm_files/1n2e34d_multi_addr.osm; upload path
# scripts/add_addrs.rb). The REAL node serializer runs (XML → sha256 →
# atomic rename) and its manifest's per-tile feature/node/tag counts
# are oracle-checked; node lon/lat are engine-kernel placements (gated
# by multi_addrs' pytest determinism tests), so they shape the bytes
# but not the oracle projection. Byte determinism is pinned by pytest
# (tests/test_exports.py).
@register(
    "multi_addr_artifacts",
    OC.with_prefix(OC.PDX_BLDGS_CTES, OC.MULTI_ADDRS_CTES)
    + """
    SELECT qtrsec,
           CAST(COUNT(*) AS INT) AS n_features,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(
             (CASE WHEN TRIM(COALESCE(housenumber, '')) <> '' THEN 1 ELSE 0 END)
           + (CASE WHEN TRIM(COALESCE(street, ''))      <> '' THEN 1 ELSE 0 END)
           + (CASE WHEN TRIM(COALESCE(postcode, ''))    <> '' THEN 1 ELSE 0 END)
           + (CASE WHEN TRIM(COALESCE(city, ''))        <> '' THEN 1 ELSE 0 END)
           + (CASE WHEN TRIM(COALESCE(state, ''))       <> '' THEN 1 ELSE 0 END)
           ) AS BIGINT) AS n_tags
    FROM multi_addrs
    GROUP BY qtrsec
    """,
)
def q_multi_addr_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .exports import artifact_dir, write_node_artifacts

    views(spark, sf_dir)
    out_dir = artifact_dir("pdxbldg_multi_addr", sf_dir)
    manifest = write_node_artifacts(multi_addrs_df(spark, sf_dir), out_dir)
    return manifest.select("qtrsec", "n_features", "n_nodes", "n_tags")


# ----------------------------------------------------------------------
# Raster↔vector tiler (north_star; vector half of G10's tile dissolve):
# footprints RASTERIZE to their cell cover, each quarter-section tile's
# cell set VECTORIZES back into dissolved outline rings
# (geo/raster.py). The emitted stats are derived from the traced VECTOR
# rings (shoelace area, ring perimeter); the oracle recomputes them
# from raster set algebra (COUNT, 4n − 2·adjacencies) — a wrong trace
# cannot match. Ring geometry itself is property-tested in
# tests/test_raster.py.
@register(
    "tile_dissolve",
    synth.oracle_with("footprints_base")
    + f"""
    , cov AS (
      SELECT DISTINCT gx.range AS ix, gy.range AS iy
      FROM (
        SELECT {_ix_sql('x0', 9)} AS ix0, {_ix_sql('x1', 9)} AS ix1,
               {_iy_sql('y0', 9)} AS iy0, {_iy_sql('y1', 9)} AS iy1
        FROM footprints_base WHERE fp_id % 97 <> 5
      ) b
      JOIN range(512) gx ON gx.range BETWEEN b.ix0 AND b.ix1
      JOIN range(512) gy ON gy.range BETWEEN b.iy0 AND b.iy1
    ), tiled AS (
      SELECT ix, iy, (iy // 16) * 32 + (ix // 16) AS tile_no FROM cov
    ), hadj AS (
      SELECT a.tile_no, COUNT(*) AS h
      FROM tiled a JOIN tiled b
        ON b.ix = a.ix + 1 AND b.iy = a.iy AND b.tile_no = a.tile_no
      GROUP BY a.tile_no
    ), vadj AS (
      SELECT a.tile_no, COUNT(*) AS v
      FROM tiled a JOIN tiled b
        ON b.ix = a.ix AND b.iy = a.iy + 1 AND b.tile_no = a.tile_no
      GROUP BY a.tile_no
    ), cnt AS (
      SELECT tile_no, COUNT(*) AS n FROM tiled GROUP BY tile_no
    )
    SELECT c.tile_no,
           CAST(c.n AS BIGINT) AS n_cells,
           CAST(4 * c.n - 2 * COALESCE(h.h, 0) - 2 * COALESCE(v.v, 0)
                AS BIGINT) AS boundary_edges
    FROM cnt c
    LEFT JOIN hadj h ON h.tile_no = c.tile_no
    LEFT JOIN vadj v ON v.tile_no = c.tile_no
    """,
)
def q_tile_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    from .geo.raster import ring_stats, trace_cells
    from .operators.pip_join import polygon_cover_cells

    views(spark, sf_dir)
    fps = prepared_footprints(spark, sf_dir)  # invalid rings dropped
    cov = polygon_cover_cells(
        fps.select("fp_id", "rings"), "fp_id", include_rings=False,
        res=C.RES_JOIN,
    )
    mask = (1 << 28) - 1
    cells = (
        cov.select(
            F.col("cell").bitwiseAND(F.lit(mask)).alias("ix"),
            F.shiftright(F.col("cell"), 28).bitwiseAND(F.lit(mask)).alias("iy"),
        )
        .distinct()
        .withColumn(
            "tile_no",
            F.shiftright(F.col("iy"), 4) * 32 + F.shiftright(F.col("ix"), 4),
        )
    )
    schema = T.StructType(
        [
            T.StructField("tile_no", T.LongType()),
            T.StructField("n_cells", T.LongType()),
            T.StructField("boundary_edges", T.LongType()),
        ]
    )

    def dissolve(key, pdf):  # no hints: applyInPandas infers (key, pdf)
        rings = trace_cells(pdf["ix"].to_numpy(), pdf["iy"].to_numpy())
        area, perim, _ = ring_stats(rings)
        return pd.DataFrame(
            {
                "tile_no": [int(key[0])],
                "n_cells": [area],
                "boundary_edges": [perim],
            }
        )

    return cells.groupBy("tile_no").applyInPandas(dissolve, schema)


# ----------------------------------------------------------------------
# Multi-resolution cell compaction (H3 `compactCells` analog on the flat
# quarter-section grid): replace every complete 4-sibling set with its
# parent, recursively, emitting the MINIMAL mixed-resolution cover of
# the occupied cells — the index a tile server or spatial filter pushes
# down instead of the full base-cell set. The reference's consolidation
# stage (tasks/metro_quarter_secs.rake:44-107) solves the inverse
# problem (split hot tiles); compaction is the standard coarsen-where-
# dense counterpart every hierarchical spatial index ships.
#
# Scale shape: the corpus contributes EXACTLY ONE staged partial/final
# hash agg (occupied base cells + page counts at RES_COMPACT). Every
# subsequent level is a groupBy(parent) HAVING count==4 plus a broadcast
# LEFT ANTI join, all over <= 4^res rows (16,384 at res 7) — bounded by
# the grid, independent of corpus size. page_count rides along (complete
# parents sum their children), so sum(page_count) over the output equals
# the total page count: the gate hash certifies cover-exactness, not
# just cell membership.

RES_COMPACT = 7  # 128x128 base cells: partial occupancy at test SFs


def _parent_sql(t: str, res: int) -> str:
    """DuckDB parent key one zoom up (flat iy*2^res+ix; non-negative)."""
    n = 1 << res
    return f"(({t} // {n}) // 2) * {n // 2} + ({t} % {n}) // 2"


def _cell_compact_oracle() -> str:
    n = 1 << RES_COMPACT
    sql = synth.oracle_with("pages") + f"""
, s{RES_COMPACT} AS (
  SELECT {_iy_sql('lat', RES_COMPACT)} * {n} + {_ix_sql('lon', RES_COMPACT)} AS t,
         COUNT(*) AS c
  FROM pages GROUP BY 1
)
"""
    for r in range(RES_COMPACT, 0, -1):
        p = _parent_sql("t", r)
        sql += f""", s{r - 1} AS (
  SELECT p AS t, CAST(SUM(c) AS BIGINT) AS c
  FROM (SELECT {p} AS p, c FROM s{r}) ch
  GROUP BY 1 HAVING COUNT(*) = 4
)
, out{r} AS (
  SELECT CAST({r} AS INT) AS zoom, t AS tile_id, CAST(c AS BIGINT) AS page_count
  FROM s{r} WHERE {p} NOT IN (SELECT t FROM s{r - 1})
)
"""
    union = "\nUNION ALL\n".join(
        [
            f"SELECT zoom, tile_id, page_count FROM out{r}"
            for r in range(RES_COMPACT, 0, -1)
        ]
        + [
            "SELECT CAST(0 AS INT) AS zoom, t AS tile_id,"
            " CAST(c AS BIGINT) AS page_count FROM s0"
        ]
    )
    return sql + union


@register("cell_compact", _cell_compact_oracle())
def q_cell_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    cur = stage(
        spark,
        (session_token(spark), sf_dir, "cell_compact_base"),
        lambda: spark.table("pages")
        .select(tile_expr(F.col("lon"), F.col("lat"), RES_COMPACT).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c")),
    )
    out = None
    for r in range(RES_COMPACT, 0, -1):
        parent = _tile_parent("t", r)
        # each level is staged: it feeds BOTH the anti-join at this level
        # and the next level's rollup, and without a cut the lazy chain
        # re-derives every level from the base once per reference
        # (observed: 56 exchanges in the unstaged plan vs 7 staged).
        # Levels are <= 4^res rows, so the cut is free; on a cluster this
        # is the per-level Iceberg snapshot the resume manifest records.
        cur_r = cur
        nxt = stage(
            spark,
            (session_token(spark), sf_dir, f"cell_compact_l{r - 1}"),
            lambda: cur_r.select(parent.alias("p"), "c")
            .groupBy("p")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("c"))
            .where(F.col("n") == 4)
            .select(F.col("p").alias("t"), "c"),
        )
        lvl = (
            cur.withColumn("p", parent)
            .join(F.broadcast(nxt.select(F.col("t").alias("p"))), "p", "left_anti")
            .select(
                F.lit(r).cast("int").alias("zoom"),
                F.col("t").alias("tile_id"),
                F.col("c").cast("long").alias("page_count"),
            )
        )
        out = lvl if out is None else out.unionByName(lvl)
        cur = nxt
    top = cur.select(
        F.lit(0).cast("int").alias("zoom"),
        F.col("t").alias("tile_id"),
        F.col("c").cast("long").alias("page_count"),
    )
    return out.unionByName(top)


# ----------------------------------------------------------------------
# Raster focal statistics (GIS "focal mean" / moving-window smoothing):
# per-tile page density smoothed over the 3x3 neighborhood, the standard
# raster-analysis pass every density surface / heatmap layer publishes
# (the raster twin of tile_dissolve's vector outline; reference analog:
# the tiler's per-quarter-section density decisions in tasks/
# metro_quarter_secs.rake). Edge tiles average over their real (<9)
# neighbor count rather than zero-padding, so the border is unbiased.
#
# Scale shape: the corpus contributes ONE staged partial/final tile agg
# (1024 rows at RES_TILE); the neighborhood pass is a 9-way explode of
# the TILE TABLE (never the corpus) re-aggregated by neighbor key, plus
# a broadcast join back for each tile's own count — all grid-bounded,
# corpus-independent. Focal mean is integer ppm (floor 1e6*sum/n) for
# cross-engine exactness.


def _focal_oracle() -> str:
    n = 1 << C.RES_TILE
    return (
        synth.oracle_with("pages")
        + f"""
, base AS (
  SELECT {_iy_sql('lat', C.RES_TILE)} * {n} + {_ix_sql('lon', C.RES_TILE)} AS t,
         COUNT(*) AS c
  FROM pages GROUP BY 1
)
, nb AS (
  SELECT ((b.t // {n}) + d2.dy) * {n} + ((b.t % {n}) + d1.dx) AS t, b.c
  FROM base b
  CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dx) d1
  CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS dy) d2
  WHERE (b.t % {n}) + d1.dx BETWEEN 0 AND {n - 1}
    AND (b.t // {n}) + d2.dy BETWEEN 0 AND {n - 1}
)
, focal AS (
  SELECT t, CAST(SUM(c) AS BIGINT) AS focal_sum, COUNT(*) AS n_nbrs
  FROM nb GROUP BY 1
)
SELECT f.t AS tile_id,
       CAST(coalesce(b.c, 0) AS BIGINT) AS page_count,
       f.n_nbrs, f.focal_sum,
       (1000000 * f.focal_sum) // f.n_nbrs AS focal_mean_ppm
FROM focal f LEFT JOIN base b ON b.t = f.t
"""
    )


@register("tile_focal_stats", _focal_oracle())
def q_tile_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    nb = (
        base.select("t", "c", F.explode(offsets).alias("d"))
        .where(
            ((F.col("t") % n) + F.col("d.dx")).between(0, n - 1)
            & (F.expr(f"t div {n}") + F.col("d.dy")).between(0, n - 1)
        )
        .select(
            (
                (F.expr(f"t div {n}") + F.col("d.dy")) * n
                + (F.col("t") % n)
                + F.col("d.dx")
            ).alias("t"),
            "c",
        )
    )
    focal = nb.groupBy("t").agg(
        F.sum("c").alias("focal_sum"), F.count(F.lit(1)).alias("n_nbrs")
    )
    return focal.join(
        F.broadcast(base.withColumnRenamed("c", "own")), "t", "left"
    ).select(
        F.col("t").alias("tile_id"),
        F.coalesce("own", F.lit(0)).cast("long").alias("page_count"),
        "n_nbrs",
        F.col("focal_sum").cast("long").alias("focal_sum"),
        F.expr("(1000000 * focal_sum) div n_nbrs").alias("focal_mean_ppm"),
    )


# ----------------------------------------------------------------------
# tile_rate_smoothed: empirical-Bayes shrinkage of a per-tile incidence
# rate toward the corpus rate — the standard small-area fix for sparse
# tiles (a 2-page tile with 1 hit is NOT a 500000-ppm hotspot). Incident
# flag: the page text contains the tracked term. With per-tile (n, c)
# and corpus totals (N, C), prior strength K:
#   smoothed = (c + K·C/N) / (n + K)  →  exactly, in ppm:
#   smoothed_ppm = (c·N + K·C)·10^6 div (N·(n + K))
# computed in DECIMAL(38,0)/HUGEINT so c·N stays exact at any corpus
# size. Raw rate rides along for comparison.
#
# Scale shape: ONE partial/final hash agg to the bounded tile grid, a
# 1-row totals agg broadcast back onto the grid, pure codegen
# arithmetic — the corpus is touched once (same scan shape as
# page_tile_counts, plus the contains() flag map-side).
SMOOTH_TERM = "spark"
SMOOTH_K = 20

_TILE_SQL = (
    f"CAST(LEAST(GREATEST(FLOOR((lat - ({C.LAT_S!r})) / {C.SPAN_Y!r} * 32e0), 0), 31) AS BIGINT) * 32"
    f" + CAST(LEAST(GREATEST(FLOOR((lon - ({C.LON_W!r})) / {C.SPAN_X!r} * 32e0), 0), 31) AS BIGINT)"
)

_SMOOTH_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, g AS (
  SELECT {_TILE_SQL} AS tile_id,
         COUNT(*) AS n,
         CAST(SUM(CASE WHEN contains(text, '{SMOOTH_TERM}') THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM pages GROUP BY 1
)
, tot AS (
  SELECT CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(c) AS HUGEINT) AS cc
  FROM g
)
SELECT tile_id, n, c,
       CAST(c * 1000000 // n AS BIGINT) AS raw_ppm,
       CAST((c * nn + {SMOOTH_K} * cc) * 1000000
            // (nn * (n + {SMOOTH_K})) AS BIGINT) AS smoothed_ppm
FROM g, tot
"""
)


@register("tile_rate_smoothed", _SMOOTH_ORACLE)
def q_tile_rate_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = (
        spark.table("pages")
        .select(
            tile_expr(F.col("lon"), F.col("lat"), C.RES_TILE).alias("tile_id"),
            F.col("text").contains(SMOOTH_TERM).cast("long").alias("hit"),
        )
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("hit").alias("c"))
    )
    tot = g.agg(
        F.sum("n").cast("decimal(38,0)").alias("nn"),
        F.sum("c").cast("decimal(38,0)").alias("cc"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "tile_id",
        "n",
        "c",
        F.expr("c * 1000000L div n").alias("raw_ppm"),
        F.expr(
            f"CAST((CAST(c AS DECIMAL(38,0)) * nn + {SMOOTH_K} * cc)"
            f" * 1000000 div (nn * (n + {SMOOTH_K})) AS BIGINT)"
        ).alias("smoothed_ppm"),
    )
