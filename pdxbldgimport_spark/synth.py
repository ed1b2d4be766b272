"""Deterministic synthetic geo-webtext world, derived from the driver's
``documents`` parquet with pure integer/IEEE arithmetic.

Why SQL templates: the driver's correctness gate runs each engine query
against a DuckDB oracle over the same parquet, so the *generation* of the
synthetic world must be expressible identically in Spark SQL and DuckDB
SQL. Each table below is one template rendered into both dialects; the
Spark side registers them as temp views (the engine's DataFrame operators
read the views), the oracle side inlines them as CTEs. Identical IEEE-754
expression trees → bit-identical doubles in both engines.

World layout (plays the reference's Portland data, SURVEY.md §1.3):

- extent = the reference's osmosis clip bbox (tasks/osm_load.rake:13-17);
- a 25×10 grid of "parcels" (plays ``state_id`` taxlots,
  tasks/pdx_shapes.rake:37-40);
- ``pages``      — REP pages per document, geocoded into parcels; plays
  ``master_address`` points (tasks/pdx_shapes.rake:33). One parcel is
  *hot* (~1/7 of all pages) to exercise the salting path (north_rule).
- ``footprints`` — 4 rectangles per low doc_id, 8 per parcel; plays
  ``pdx_bldgs_orig`` polygons (tasks/pdx_shapes.rake:112-160). A sprinkle
  of invalid (bowtie) rings exercises the make-valid/drop rule
  (tasks/pdx_shapes.rake:115-131).
- ``caddr``/``cbldg`` — the *conflation* world with controlled per-parcel
  address/building multiplicities, so every rule branch of
  tasks/pdx_bldgs.rake / tasks/pdx_multi_addrs.rake has live fixtures.
- ``osm_ways``/``osm_nodes`` — plays the osmosis pgsnapshot tables
  (tasks/osm_load.rake:39-47): tag maps, open/closed rings, overlaps with
  cbldg rectangles driving the dedup path (tasks/metro_bldgs.rake:51-69).

Engine-only columns (ring coordinate arrays, tag maps) are appended in the
Spark rendering; the oracle never sees them — it reasons about the same
rectangles through their corner scalars. Engine *operators* must use only
(lon, lat, rings, tags): the corner scalars are generation bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .session import evict_stopped_sessions, session_cache, session_token

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# --- world constants (geo.cells shares the same extent) ---
W, S, E, N = -123.3, 44.8, -121.7, 46.0
NPX, NPY = 25, 10          # parcel grid
NP = NPX * NPY
PW = (E - W) / NPX         # 0.064°
PH = (N - S) / NPY         # 0.12°
REP = 64                   # pages per document
FP_DOCS = 500              # docs that spawn footprints (all docs at sf≤0.01)
HOT_PARCEL = 0             # ~1/7 of pages land here → hot-cell salting path

_CONST = {
    "W": repr(W), "S": repr(S), "E": repr(E), "N": repr(N),
    "PW": repr(PW), "PH": repr(PH), "NP": str(NP), "NPX": str(NPX),
    "REP": str(REP), "FP_DOCS": str(FP_DOCS),
}

# ----------------------------------------------------------------------
# pages: REP pages per doc. pid is the parcel (state_id analog); the hot
# parcel takes every page_id % 7 = 3. unit_no non-null rows are the P4
# exclusion fixture (tasks/pdx_addrs.rake:17).
# URL noise fixtures (crawl-realistic, exercised by dedup_url_canonical):
#   page_id % 131 = 7              → pathless query-only URL
#   page_id % 7 = 3 AND % 4 = 1    → UPPERCASE host + :443 + utm param +
#     fragment, path of page_id-7 — page_id-7 is also % 7 = 3 (same hot
#     host h0), so the pair COLLIDES after canonicalization: the dedup
#     gate has real multi-page groups, not just identity rewrites
#   page_id % 131 = 9              → trailing slash
_PAGES = """
SELECT
  page_id,
  doc_id,
  pid,
  CASE
    WHEN page_id % 131 = 7
      THEN 'https://h' || CAST(pid AS {STR}) || '.example.com?p=' || CAST(page_id AS {STR})
    WHEN page_id % 7 = 3 AND page_id % 4 = 1
      THEN 'HTTPS://H0.EXAMPLE.COM:443/p/' || CAST(page_id - 7 AS {STR}) || '?utm_source=feed#s2'
    WHEN page_id % 131 = 9
      THEN 'https://h' || CAST(pid AS {STR}) || '.example.com/p/' || CAST(page_id AS {STR}) || '/'
    ELSE 'https://h' || CAST(pid AS {STR}) || '.example.com/p/' || CAST(page_id AS {STR})
  END AS url,
  {TS_PAGE} AS warc_ts,
  {W} + ((pid % {NPX}) + 0.02 + 0.96 * (((page_id * 7919) % 10000) / 10000.0)) * {PW} AS lon,
  {S} + (CAST(FLOOR(pid / {NPX}.0) AS BIGINT) + 0.02 + 0.96 * (((page_id * 104729) % 10000) / 10000.0)) * {PH} AS lat,
  CASE WHEN page_id % 101 = 13 THEN 'A' ELSE NULL END AS unit_no,
  text,
  lang,
  CAST('<html><head><title>p' || CAST(page_id AS {STR}) || '</title></head><body>' || text
    || '<nav><a href="'
    || CASE WHEN page_id % 9 = 4
         THEN 'HTTPS://H' || CAST(((page_id * 13 + 29) % 4099) % {NP} AS {STR}) || '.EXAMPLE.COM:443/p/' || CAST((page_id * 13 + 29) % 4099 AS {STR}) || '?utm_src=x#frag'
         ELSE 'https://h' || CAST(((page_id * 13 + 29) % 4099) % {NP} AS {STR}) || '.example.com/p/' || CAST((page_id * 13 + 29) % 4099 AS {STR})
       END
    || '">ref' || CAST((page_id * 13 + 29) % 4099 AS {STR}) || '</a>'
    || CASE WHEN page_id % 3 = 0 THEN ''
         ELSE '<a href="https://h' || CAST(((page_id * 13 + 58) % 4099) % {NP} AS {STR}) || '.example.com/p/' || CAST((page_id * 13 + 58) % 4099 AS {STR}) || '">go ' || CAST((page_id * 13 + 58) % 4099 AS {STR}) || '</a>'
       END
    || CASE WHEN page_id % 5 = 2
         THEN '<a href="https://h' || CAST(((page_id * 13 + 87) % 4099) % {NP} AS {STR}) || '.example.com/p/' || CAST((page_id * 13 + 87) % 4099 AS {STR}) || '/">ref' || CAST((page_id * 13 + 87) % 4099 AS {STR}) || '</a>'
         ELSE ''
       END
    || '</nav></body></html>' AS {BIN}) AS html
FROM (
  SELECT d.doc_id, d.text, d.lang, d.doc_id * {REP} + r.r AS page_id,
         CASE WHEN (d.doc_id * {REP} + r.r) % 7 = 3 THEN 0
              ELSE (d.doc_id * {REP} + r.r) % {NP} END AS pid
  FROM documents d {CROSS_REP}
) base
"""

# pages_pii: the PII-scrub fixture view — pages text with deterministic
# planted PII (crawl-realistic shapes the raw document corpus never
# contains). Moduli overlap so some rows carry 2-3 kinds at once, the
# email row carries TWO addresses (counts > 1), and most rows carry
# none (the scrubber must be a no-op there).
_PAGES_PII = """
SELECT page_id,
  text
  || CASE WHEN page_id % 11 = 3
       THEN ' contact user' || CAST(page_id AS {STR})
            || '@mail.example.com or admin' || CAST(page_id AS {STR})
            || '@ops.example.net' ELSE '' END
  || CASE WHEN page_id % 13 = 5
       THEN ' call (503) 555-' || lpad(CAST(page_id % 10000 AS {STR}), 4, '0')
       ELSE '' END
  || CASE WHEN page_id % 17 = 2
       THEN ' peer 10.' || CAST(page_id % 256 AS {STR})
            || '.' || CAST((page_id * 7) % 256 AS {STR})
            || '.' || CAST((page_id * 13) % 256 AS {STR}) || ' up'
       ELSE '' END
  AS text
FROM pages
"""

# footprints: 4 rects per doc (doc_id < FP_DOCS), up to 8 per parcel.
# Plays pdx_bldgs_orig. fp_id % 97 = 5 → bowtie (invalid; "repairs to
# MultiPolygon" → engine drops it, tasks/pdx_shapes.rake:115-131).
_FOOTPRINTS = """
SELECT *,
  (x1 - x0) * (y1 - y0) AS area_deg
FROM (
  SELECT
    fp_id, pid, col, row_k,
    {W} + ((pid % {NPX}) + 0.25 * col + 0.03) * {PW} AS x0,
    {W} + ((pid % {NPX}) + 0.25 * col + 0.21) * {PW} AS x1,
    {S} + (CAST(FLOOR(pid / {NPX}.0) AS BIGINT) + 0.5 * row_k + 0.06) * {PH} AS y0,
    {S} + (CAST(FLOOR(pid / {NPX}.0) AS BIGINT) + 0.5 * row_k + 0.42) * {PH} AS y1,
    CASE WHEN fp_id % 97 = 5 THEN 1 ELSE 0 END AS is_bowtie
  FROM (
    SELECT d.doc_id * 4 + s.s AS fp_id,
           d.doc_id % {NP} AS pid,
           s.s AS col,
           CAST(FLOOR(d.doc_id / {NP}.0) AS BIGINT) AS row_k
    FROM documents d {CROSS_SLOT}
    WHERE d.doc_id < {FP_DOCS}
  ) raw
) geom
"""

# Spark-only ring column (bowtie swaps the last two corners → exactly one
# self-crossing → the drop case of the make-valid rule).
_FOOTPRINT_RINGS_SPARK = """
SELECT *,
  CASE WHEN is_bowtie = 1
    THEN array(array(x0,y0, x1,y1, x1,y0, x0,y1, x0,y0))
    ELSE array(array(x0,y0, x1,y0, x1,y1, x0,y1, x0,y0))
  END AS rings
FROM footprints_base
"""

# ----------------------------------------------------------------------
# Conflation world: groups of 8 docs per conflation-parcel cpid.
#   addr_count = cpid % 4  (0..3)    members m < addr_count carry an address
#   bldg_count = 1 + cpid % 3 (1..3) members m >= 8-bldg_count carry a bldg
#   building j = m - (8 - bldg_count) ∈ {0,1,2} sits in parcel slot j.
# house+garage fixture: bldg_count=2 parcels with cpid % 5 = 0 get exactly
# (House, Garage) (the reference's named fixture, tasks/pdx_bldgs.rake:9-10).
# Widths 0.10+0.03*j+0.01*(doc_id%3) never tie within a parcel → the
# max-area rule (tasks/pdx_bldgs.rake:151-175) has a unique winner.
_CBLDG = """
SELECT *,
  (bx1 - bx0) * (by1 - by0) AS area_deg
FROM (
  SELECT *,
    {W} + ((cpid % {NPX}) + 0.25 * j + 0.02) * {PW} AS bx0,
    {W} + ((cpid % {NPX}) + 0.25 * j + 0.02 + 0.10 + 0.03 * j + 0.01 * (doc_id % 3)) * {PW} AS bx1,
    {S} + (CAST(FLOOR((cpid % {NP}) / {NPX}.0) AS BIGINT) + 0.05) * {PH} AS by0,
    {S} + (CAST(FLOOR((cpid % {NP}) / {NPX}.0) AS BIGINT) + 0.40) * {PH} AS by1
  FROM (
    SELECT
      doc_id AS bldg_id,
      doc_id,
      cpid,
      m - (8 - bldg_count) AS j,
      bldg_count,
      CASE
        WHEN bldg_count = 2 AND cpid % 5 = 0 AND m - (8 - bldg_count) = 0 THEN 'House'
        WHEN bldg_count = 2 AND cpid % 5 = 0 AND m - (8 - bldg_count) = 1 THEN 'Garage'
        WHEN (doc_id * 7) % 13 = 0 THEN 'House'
        WHEN (doc_id * 7) % 13 = 1 THEN 'HOUSES'
        WHEN (doc_id * 7) % 13 = 2 THEN 'Houses'
        WHEN (doc_id * 7) % 13 = 3 THEN 'Garage'
        WHEN (doc_id * 7) % 13 = 4 THEN 'RES'
        WHEN (doc_id * 7) % 13 = 5 THEN 'Res'
        WHEN (doc_id * 7) % 13 = 6 THEN 'Duplex'
        WHEN (doc_id * 7) % 13 = 7 THEN 'Townhouse'
        WHEN (doc_id * 7) % 13 = 8 THEN 'Apartment Complex'
        WHEN (doc_id * 7) % 13 = 9 THEN 'Multiplex'
        WHEN (doc_id * 7) % 13 = 10 THEN 'Residential Condominiums'
        WHEN (doc_id * 7) % 13 = 11 THEN 'Dormitories'
        ELSE 'Not Set'
      END AS bldg_type_raw,
      CASE doc_id % 6
        WHEN 0 THEN 'Single Family Residential'
        WHEN 1 THEN 'Warehouse'
        WHEN 2 THEN 'farm house dwelling'
        WHEN 3 THEN 'Office'
        WHEN 4 THEN NULL
        ELSE 'Multi-Family Residential'
      END AS bldg_use,
      doc_id % 5 AS num_story,
      (doc_id % 300) + 15.37 AS surf_elev,
      ((doc_id % 18) * 3) + 4.21 AS max_height
    FROM (
      SELECT doc_id, CAST(FLOOR(doc_id / 8.0) AS BIGINT) AS cpid, doc_id % 8 AS m,
             1 + CAST(FLOOR(doc_id / 8.0) AS BIGINT) % 3 AS bldg_count
      FROM documents
    ) g
    WHERE m >= 8 - bldg_count
  ) attrs
) geom
"""

_CBLDG_RINGS_SPARK = """
SELECT *, array(array(bx0,by0, bx1,by0, bx1,by1, bx0,by1, bx0,by0)) AS rings
FROM cbldg_base
"""

# Conflation addresses. Street components exercise the expansion maps
# (tasks/pdx_shapes.rake:42-103). Even cpid → all addr points inside the
# parcel's building 0 (the A3 all-inside branch,
# tasks/pdx_multi_addrs.rake:38-44); odd cpid → points in the parcel's top
# margin, outside every building rect (the W1/W2 placement branch).
# bix0/bix1/biy0/biy1 reconstruct building 0's rect: its doc_id is
# cpid*8 + 7 - cpid % 3 (m = 8 - bldg_count, j = 0).
_CADDR = """
SELECT
  address_id, doc_id, cpid, m, housenumber, fdpre, fname, ftype, fdsuf,
  postcode, mail_city, unit_no,
  CASE WHEN cpid % 2 = 0
    THEN bix0 + (0.3 + 0.1 * m) * (bix1 - bix0)
    ELSE {W} + ((cpid % {NPX}) + 0.1 + 0.2 * m) * {PW}
  END AS lon,
  CASE WHEN cpid % 2 = 0
    THEN biy0 + (0.3 + 0.1 * m) * (biy1 - biy0)
    ELSE {S} + (CAST(FLOOR((cpid % {NP}) / {NPX}.0) AS BIGINT) + 0.95) * {PH}
  END AS lat
FROM (
  SELECT
    doc_id AS address_id,
    doc_id,
    cpid,
    m,
    CAST(100 + (cpid % 900) AS {STR}) AS housenumber,
    CASE doc_id % 8 WHEN 0 THEN 'N' WHEN 1 THEN 'NE' WHEN 2 THEN 'SE' WHEN 3 THEN 'SW'
                    WHEN 4 THEN 'NW' WHEN 5 THEN 'S' WHEN 6 THEN 'E' ELSE 'W' END AS fdpre,
    CASE doc_id % 7 WHEN 0 THEN '"GRAND"' WHEN 1 THEN 'hwy 99' WHEN 2 THEN 'mcgill'
                    WHEN 3 THEN 'portland' WHEN 4 THEN '39th' WHEN 5 THEN 'cesar e chavez'
                    ELSE 'stark' END AS fname,
    CASE doc_id % 9 WHEN 0 THEN 'AVE' WHEN 1 THEN 'BLVD' WHEN 2 THEN 'ST' WHEN 3 THEN 'CT'
                    WHEN 4 THEN 'DR' WHEN 5 THEN 'HWY' WHEN 6 THEN 'LN' WHEN 7 THEN 'PKWY'
                    ELSE 'WAY' END AS ftype,
    CASE WHEN doc_id % 11 = 3 THEN 'SB' WHEN doc_id % 11 = 7 THEN 'NB' ELSE NULL END AS fdsuf,
    CAST(97201 + (cpid % 40) AS {STR}) AS postcode,
    CASE doc_id % 3 WHEN 0 THEN 'PORTLAND' WHEN 1 THEN 'portland' ELSE 'lake oswego' END AS mail_city,
    CASE WHEN doc_id % 31 = 11 THEN 'B' ELSE NULL END AS unit_no,
    {W} + ((cpid % {NPX}) + 0.02) * {PW} AS bix0,
    {W} + ((cpid % {NPX}) + 0.02 + 0.10 + 0.01 * ((cpid * 8 + 7 - cpid % 3) % 3)) * {PW} AS bix1,
    {S} + (CAST(FLOOR((cpid % {NP}) / {NPX}.0) AS BIGINT) + 0.05) * {PH} AS biy0,
    {S} + (CAST(FLOOR((cpid % {NP}) / {NPX}.0) AS BIGINT) + 0.40) * {PH} AS biy1
  FROM (
    SELECT doc_id, CAST(FLOOR(doc_id / 8.0) AS BIGINT) AS cpid, doc_id % 8 AS m
    FROM documents
  ) g
  WHERE m < cpid % 4
) attrs
"""

# osm_existing ways (plays osmosis ways, tasks/osm_load.rake:39-47).
# doc_id % 3 = 0 ways sit in the same parcel slot as that doc-group's
# building 0 → guaranteed J5 dedup overlaps; the rest land elsewhere (any
# incidental overlap is handled identically by engine and oracle).
_OSM_WAYS = """
SELECT *,
  {W} + ((wpid % {NPX}) + 0.25 * slot + 0.04) * {PW} AS wx0,
  {W} + ((wpid % {NPX}) + 0.25 * slot + 0.16) * {PW} AS wx1,
  {S} + (CAST(FLOOR((wpid % {NP}) / {NPX}.0) AS BIGINT) + 0.5 * CAST(FLOOR(slot / 4.0) AS BIGINT) + 0.08) * {PH} AS wy0,
  {S} + (CAST(FLOOR((wpid % {NP}) / {NPX}.0) AS BIGINT) + 0.5 * CAST(FLOOR(slot / 4.0) AS BIGINT) + 0.30) * {PH} AS wy1
FROM (
  SELECT
    doc_id AS way_id,
    doc_id,
    CASE WHEN doc_id % 3 = 0 THEN CAST(FLOOR(doc_id / 8.0) AS BIGINT) % {NP}
         ELSE (doc_id * 11) % {NP} END AS wpid,
    CASE WHEN doc_id % 3 = 0 THEN 0 ELSE doc_id % 8 END AS slot,
    (doc_id % 10) <> 4 AS is_closed_gen,
    CASE doc_id % 4 WHEN 0 THEN 'yes' WHEN 1 THEN 'house' WHEN 2 THEN 'detached' ELSE '' END AS t_building,
    CASE WHEN doc_id % 17 = 8 THEN 'yes' ELSE NULL END AS t_demolished,
    CASE WHEN doc_id % 19 = 6 THEN 'roof' ELSE NULL END AS t_building_part,
    CASE WHEN doc_id % 23 = 7 THEN 'construction' ELSE NULL END AS t_landuse,
    CASE WHEN doc_id % 5 < 2 THEN CAST(200 + doc_id % 700 AS {STR}) ELSE NULL END AS t_housenumber,
    CASE WHEN doc_id % 5 < 3 THEN 'Northeast Stark Street' ELSE NULL END AS t_street,
    CASE WHEN doc_id % 6 = 1 THEN 'Portland' ELSE NULL END AS t_city,
    CASE WHEN doc_id % 7 = 2 THEN CAST(97201 + doc_id % 40 AS {STR}) ELSE NULL END AS t_postcode,
    CASE WHEN doc_id % 13 = 3 THEN CAST(1 + doc_id % 4 AS {STR}) ELSE NULL END AS t_levels
  FROM documents
  WHERE doc_id % 2 = 0
) attrs
"""

_OSM_WAYS_RINGS_SPARK = """
SELECT *,
  map_filter(map(
    'building', t_building,
    'demolished:building', t_demolished,
    'building:part', t_building_part,
    'landuse', t_landuse,
    'addr:housenumber', t_housenumber,
    'addr:street', t_street,
    'addr:city', t_city,
    'addr:postcode', t_postcode,
    'building:levels', t_levels
  ), (k, v) -> v IS NOT NULL) AS tags,
  CASE WHEN is_closed_gen
    THEN array(array(wx0,wy0, wx1,wy0, wx1,wy1, wx0,wy1, wx0,wy0))
    ELSE array(array(wx0,wy0, wx1,wy0, wx1,wy1, wx0,wy1))
  END AS rings
FROM osm_ways_base
"""

_OSM_NODES = """
SELECT
  doc_id AS node_id,
  doc_id,
  {W} + ((doc_id % {NP}) % {NPX} + 0.02 + 0.96 * (((doc_id * 6151) % 10000) / 10000.0)) * {PW} AS lon,
  {S} + (CAST(FLOOR((doc_id % {NP}) / {NPX}.0) AS BIGINT) + 0.02 + 0.96 * (((doc_id * 3571) % 10000) / 10000.0)) * {PH} AS lat,
  CASE WHEN doc_id % 3 < 2 THEN CAST(300 + doc_id % 600 AS {STR}) ELSE NULL END AS t_housenumber,
  CASE WHEN doc_id % 3 < 2 THEN 'Southeast Division Street' ELSE NULL END AS t_street,
  CASE WHEN doc_id % 9 = 1 THEN 'Portland' ELSE NULL END AS t_city
FROM documents
WHERE doc_id % 2 = 1
"""

_OSM_NODES_TAGS_SPARK = """
SELECT *,
  map_filter(map(
    'addr:housenumber', t_housenumber,
    'addr:street', t_street,
    'addr:city', t_city
  ), (k, v) -> v IS NOT NULL) AS tags
FROM osm_nodes_base
"""

# osm relation members (plays osmosis relations/relation_members,
# tasks/osm_buildings.rake:40-99): every doc_id % 11 = 0 doc is a
# multipolygon relation with 1 outer ring + (doc_id % 3) inner rings
# (holes), members ordered by seq; the building tag lives on the
# relation (duplicated per member row, as a relational flattening).
_OSM_RELS = """
SELECT
  relation_id, member_id, role, seq, t_building,
  {W} + ((pid % {NPX}) + mx0) * {PW} AS rx0,
  {S} + (CAST(FLOOR(pid / {NPX}.0) AS BIGINT) + my0) * {PH} AS ry0,
  {W} + ((pid % {NPX}) + mx1) * {PW} AS rx1,
  {S} + (CAST(FLOOR(pid / {NPX}.0) AS BIGINT) + my1) * {PH} AS ry1
FROM (
  SELECT
    d.doc_id AS relation_id,
    d.doc_id * 10 + s.s AS member_id,
    CASE WHEN s.s = 0 THEN 'outer' ELSE 'inner' END AS role,
    s.s AS seq,
    CASE d.doc_id % 4 WHEN 0 THEN 'yes' WHEN 1 THEN 'apartments'
                      WHEN 2 THEN '' ELSE 'house' END AS t_building,
    d.doc_id % {NP} AS pid,
    CASE WHEN s.s = 0 THEN 0.1 ELSE 0.2 * s.s END AS mx0,
    CASE WHEN s.s = 0 THEN 0.1 ELSE 0.2 END AS my0,
    CASE WHEN s.s = 0 THEN 0.9 ELSE 0.2 * s.s + 0.1 END AS mx1,
    CASE WHEN s.s = 0 THEN 0.9 ELSE 0.3 END AS my1
  FROM documents d {CROSS_SLOT}
  WHERE d.doc_id % 11 = 0 AND s.s <= d.doc_id % 3
) m
"""

_OSM_RELS_RINGS_SPARK = """
SELECT *, array(array(rx0,ry0, rx1,ry0, rx1,ry1, rx0,ry1, rx0,ry0)) AS ring
FROM osm_rel_members_base
"""

# taxlots (plays clark_taxlots, tasks/clark_shapes.rake:5-47): the
# parcel grid as explicit rectangle geometries, so the Clark chain's
# ST_Intersects joins (building CENTROID ∈ taxlot, address point ∈
# taxlot) run as real PIP joins rather than key equality. Derived from
# documents so both dialects enumerate identical pids.
_TAXLOTS = """
SELECT DISTINCT
  pid,
  {W} + (pid % {NPX}) * {PW} AS tx0,
  {S} + CAST(FLOOR(pid / {NPX}.0) AS BIGINT) * {PH} AS ty0,
  {W} + ((pid % {NPX}) + 1) * {PW} AS tx1,
  {S} + (CAST(FLOOR(pid / {NPX}.0) AS BIGINT) + 1) * {PH} AS ty1
FROM (SELECT doc_id % {NP} AS pid FROM documents) g
"""

# osm way fragments (plays osmosis way geometries feeding the
# ST_LineMerge relation assembly, tasks/osm_buildings.rake:40-52): each
# doc_id % 11 = 0 relation's outer ring arrives as 4 OPEN single-edge
# way fragments in scrambled seq order, a third of them reversed;
# doc_id % 2 = 0 relations carry a SECOND fragmented ring (8 fragments,
# two components) so assembly must separate cycles. Shared corners are
# computed by identical expressions in both fragments touching them →
# exact float equality, the same bit-for-bit-node invariant real OSM
# gives linemerge.
_OSM_SEGMENTS = """
SELECT
  relation_id, seg_id, seq,
  CASE WHEN rev THEN ex ELSE sx END AS ax,
  CASE WHEN rev THEN ey ELSE sy END AS ay,
  CASE WHEN rev THEN sx ELSE ex END AS bx,
  CASE WHEN rev THEN sy ELSE ey END AS by
FROM (
  SELECT relation_id, seg_id, seq, rev,
    CASE e WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1 ELSE x0 END AS sx,
    CASE e WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1 ELSE y1 END AS sy,
    CASE e WHEN 0 THEN x1 WHEN 1 THEN x1 WHEN 2 THEN x0 ELSE x0 END AS ex,
    CASE e WHEN 0 THEN y0 WHEN 1 THEN y1 WHEN 2 THEN y1 ELSE y0 END AS ey
  FROM (
    SELECT d.doc_id AS relation_id,
      s.s AS e,
      d.doc_id * 100 + rr.rr * 10 + s.s AS seg_id,
      (s.s * 3 + rr.rr * 5 + d.doc_id) % 8 AS seq,
      (d.doc_id + s.s + rr.rr) % 3 = 0 AS rev,
      {W} + ((d.doc_id % {NP}) % {NPX} + 0.55 + 0.18 * rr.rr) * {PW} AS x0,
      {W} + ((d.doc_id % {NP}) % {NPX} + 0.67 + 0.18 * rr.rr) * {PW} AS x1,
      {S} + (CAST(FLOOR((d.doc_id % {NP}) / {NPX}.0) AS BIGINT) + 0.6) * {PH} AS y0,
      {S} + (CAST(FLOOR((d.doc_id % {NP}) / {NPX}.0) AS BIGINT) + 0.78) * {PH} AS y1
    FROM documents d {CROSS_SLOT} {CROSS_RING2}
    WHERE d.doc_id % 11 = 0 AND (rr.rr = 0 OR d.doc_id % 2 = 0)
  ) g
) c
"""

# Multimodal world (round instructions: image/audio/video as opaque
# binary + typed metadata). payload_str is the byte-exact ASCII twin of
# the binary payload so the DuckDB oracle can reason about the same
# bytes (DuckDB 1.0 has no BLOB substring/aggregation); the ENGINE reads
# only the binary column. Image/video payloads are real width×height
# byte grids (n_frames of them); audio is n_samples bytes.
#
# Dimension formulas are shared constants: oracle range() bounds in
# queries_multimodal derive from MEDIA_MAX_* (a dimension bump here
# cannot silently undercount oracle pixel enumerations). The _MEDIA
# template below must use these same (BASE, MOD) pairs.
MEDIA_W_BASE, MEDIA_W_MOD = 16, 16  # width  = 16 + doc_id % 16
MEDIA_H_BASE, MEDIA_H_MOD = 8, 8    # height = 8 + doc_id % 8
MEDIA_F_BASE, MEDIA_F_MOD = 4, 5    # n_frames = 4 + doc_id % 5
MEDIA_MAX_W = MEDIA_W_BASE + MEDIA_W_MOD - 1
MEDIA_MAX_H = MEDIA_H_BASE + MEDIA_H_MOD - 1
MEDIA_MAX_FRAMES = MEDIA_F_BASE + MEDIA_F_MOD - 1
# audio: n_samples = 256 + doc_id % 128 (the _MEDIA template below) —
# keep this bound in lockstep with that formula
MEDIA_MAX_SAMPLES = 256 + 128 - 1
_MEDIA = f"""
SELECT *,
  CASE kind WHEN 'audio' THEN n_samples ELSE width * height END AS frame_len,
  repeat(
    substr(rpad(text, 1024, '.x'), 1,
           CASE kind WHEN 'audio' THEN n_samples ELSE width * height END),
    CASE WHEN n_frames IS NULL THEN 1 ELSE n_frames END
  ) AS payload_str
FROM (
  SELECT
    doc_id,
    text,
    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    CASE WHEN doc_id % 3 = 1 THEN NULL
         ELSE {MEDIA_W_BASE} + doc_id % {MEDIA_W_MOD} END AS width,
    CASE WHEN doc_id % 3 = 1 THEN NULL
         ELSE {MEDIA_H_BASE} + doc_id % {MEDIA_H_MOD} END AS height,
    CASE WHEN doc_id % 3 = 2 THEN {MEDIA_F_BASE} + doc_id % {MEDIA_F_MOD}
         ELSE NULL END AS n_frames,
    CASE WHEN doc_id % 3 = 1 THEN 256 + doc_id % 128 ELSE NULL END AS n_samples,
    CASE WHEN doc_id % 3 = 1 THEN 8000 + 100 * (doc_id % 5) ELSE NULL END AS sample_rate
  FROM documents
) meta
"""

_MEDIA_BIN_SPARK = """
SELECT doc_id, kind, width, height, n_frames, n_samples, sample_rate,
       frame_len, CAST(payload_str AS BINARY) AS payload
FROM media_base
"""

# docs_noisy: documents with deterministic encoding defects injected,
# the live fixture for encoding/mojibake quality scoring (clean synth
# text is pure ASCII, so without injection an encoding gate would never
# fire). chr() is identical in Spark SQL and DuckDB; all noise is
# appended/prepended by concatenation so the base text bytes are
# untouched. Three defect classes on disjoint doc_id residues (the
# non-ASCII letters ship as UTF-8 literals, NOT chr(): Spark's chr() is
# mod-256 ASCII while DuckDB's is a Unicode codepoint — chr() agrees
# across engines only below 128, so it is used only for C0 controls):
#   doc_id % 17 = 3 → U+FFFD replacement chars (decode-failure marker)
#   doc_id % 23 = 5 → legitimate non-ASCII letters (é/ü — NOT a defect)
#   doc_id % 29 = 8 → C0 control chars outside \t\n\r
_DOCS_NOISY = """
SELECT doc_id, lang, source, n_chars AS n_chars_orig,
  CASE
    WHEN doc_id % 17 = 3
      THEN text || '�' || 'lost' || '��'
    WHEN doc_id % 23 = 5
      THEN 'café münchen ' || text
    WHEN doc_id % 29 = 8
      THEN chr(1) || text || chr(11) || chr(27)
    ELSE text
  END AS text
FROM documents
"""

_TEMPLATES = {
    "pages": _PAGES,
    "pages_pii": _PAGES_PII,
    "docs_noisy": _DOCS_NOISY,
    "footprints_base": _FOOTPRINTS,
    "cbldg_base": _CBLDG,
    "caddr": _CADDR,
    "osm_ways_base": _OSM_WAYS,
    "osm_nodes_base": _OSM_NODES,
    "osm_rel_members_base": _OSM_RELS,
    "osm_way_segments_base": _OSM_SEGMENTS,
    "taxlots_base": _TAXLOTS,
    "media_base": _MEDIA,
}

_SPARK_EXTRA = {
    "footprints": _FOOTPRINT_RINGS_SPARK,
    "cbldg": _CBLDG_RINGS_SPARK,
    "osm_ways": _OSM_WAYS_RINGS_SPARK,
    "osm_nodes": _OSM_NODES_TAGS_SPARK,
    "osm_rel_members": _OSM_RELS_RINGS_SPARK,
    "media": _MEDIA_BIN_SPARK,
}

_DIALECT = {
    "spark": {
        "STR": "STRING",
        "BIN": "BINARY",
        "TS_PAGE": "timestampadd(SECOND, CAST(page_id % 86400 AS INT), TIMESTAMP '2024-01-01 00:00:00')",
        "CROSS_REP": f"LATERAL VIEW explode(sequence(0, {REP - 1})) r AS r",
        "CROSS_SLOT": "LATERAL VIEW explode(sequence(0, 3)) s AS s",
        "CROSS_RING2": "LATERAL VIEW explode(sequence(0, 1)) rr AS rr",
    },
    "duckdb": {
        "STR": "VARCHAR",
        "BIN": "BLOB",
        "TS_PAGE": "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (page_id % 86400) SECOND",
        "CROSS_REP": f"CROSS JOIN (SELECT CAST(range AS BIGINT) AS r FROM range({REP})) r",
        "CROSS_SLOT": "CROSS JOIN (SELECT CAST(range AS BIGINT) AS s FROM range(4)) s",
        "CROSS_RING2": "CROSS JOIN (SELECT CAST(range AS BIGINT) AS rr FROM range(2)) rr",
    },
}


_DECIMAL_LIT = __import__("re").compile(r"(?<![\w.])(\d+\.\d+)(?![\d.eE])")


def _force_double(sql: str) -> str:
    """Rewrite decimal literals to e-notation so BOTH engines use IEEE
    double arithmetic (bare ``0.25`` is DECIMAL in Spark SQL and DuckDB,
    with engine-specific decimal semantics — doubles are bit-portable)."""
    return _DECIMAL_LIT.sub(r"\1e0", sql)


def render(name: str, dialect: str) -> str:
    params = dict(_CONST)
    params.update(_DIALECT[dialect])
    return _force_double(_TEMPLATES[name].format(**params))


def register_views(spark, sf_dir: str) -> None:
    """Register driver parquet tables + synth temp views on a session.

    ``documents`` (the generator seed of every synth table) ships as ONE
    parquet file / row group → a single scan task. Everything downstream
    of it is narrow until the first shuffle, and the flagship PIP join's
    broadcast path never shuffles the point side — so without an explicit
    repartition the whole pages→join→refine chain would execute on one
    core no matter how many the session has. On a real cluster this is
    the Iceberg write's file-count / split-size concern; here one cheap
    round-robin shuffle of 5k seed rows fans the generation out."""
    par = spark.sparkContext.defaultParallelism
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t == "documents":
            df = df.repartition(par)
        df.createOrReplaceTempView(t)
    params = dict(_CONST)
    params.update(_DIALECT["spark"])
    for name in _TEMPLATES:
        spark.sql(render(name, "spark")).createOrReplaceTempView(name)
    for name, tpl in _SPARK_EXTRA.items():
        spark.sql(_force_double(tpl.format(**params))).createOrReplaceTempView(name)


def oracle_with(*names: str) -> str:
    """``WITH a AS (...), b AS (...)`` prefix for oracle SQL. List base
    views before dependents (e.g. ``footprints_base`` has no oracle-side
    dependent — the oracle reads the corner scalars directly)."""
    parts = [f"{n} AS ({render(n, 'duckdb')})" for n in names]
    return "WITH " + ",\n".join(parts) + "\n"


def host_name(col: Column) -> Column:
    """Host name of parcel id ``col`` — the Spark spelling of the
    oracles' ``'h' || CAST(h AS VARCHAR) || '.example.com'``."""
    return F.concat(F.lit("h"), col.cast("string"), F.lit(".example.com"))


_REGISTERED = session_cache(None)


def register_views_cached(spark, sf_dir: str) -> None:
    """Per-session memoized view registration. Keyed by session only:
    temp-view names are global per session, so if the *current* views
    belong to a different sf_dir they must be re-registered (an
    alternating-SF caller would otherwise silently read the wrong scale)."""
    key = session_token(spark)
    evict_stopped_sessions(key)
    if _REGISTERED.get(key) == sf_dir:
        return
    register_views(spark, sf_dir)
    _REGISTERED[key] = sf_dir
