"""Crawl-hygiene operators over the synthetic crawl (``pages``): PII
scrubbing, host-blocklist filtering, latest-capture selection, and the
end-to-end retention funnel. These are the cleanup stages a Common-Crawl
training-data pipeline runs between ingest and dedup; the reference's
closest analogs are its ingest-time filters (unit exclusion and
address-quality rules, tasks/pdx_addrs.rake:17-38) and its per-source
"keep the authoritative row" collapse (tasks/pdx_bldgs.rake) — here
re-expressed over web pages.

Cross-engine determinism rules (same discipline as queries_web.py):

- PII patterns are restricted to the RE2-safe subset shared by Java
  regex and DuckDB's RE2 (character classes, bounded repetition, ``\\b``
  — no lookaround, no backrefs). Redaction counts are taken on the RAW
  text; the scrub applies the three replacements in a fixed order
  (email → phone → ip) in both engines, so overlapping matches resolve
  identically. DuckDB's ``regexp_replace`` needs the explicit ``'g'``
  flag; Spark's is always global.
- The blocklist is a derived deterministic host set (``pid % 23 = 11``)
  — in production a broadcast UT1/robots denylist. The engine shape is
  the one that scales: tiny side broadcast, LEFT ANTI hash join, no
  shuffle of the page side beyond the final per-host rollup.
- Latest-capture selection is ONE partial/final aggregation of
  ``max(struct(warc_ts, page_id))`` per canonical URL (map-side
  combinable — no window, no self-join at 10^12 pages); the oracle is
  the algorithm-independent join-back formulation (MAX ts per group,
  then MAX page_id among rows carrying that ts), so the gate certifies
  semantics rather than mirroring the struct trick.
- Funnel ratios stay integer-exact: char length, a whitespace word
  count computed as length(text) - length(replace(text,' ','')) + 1,
  and md5 group-mins — no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as Wnd, functions as F

from . import synth
from .queries import register, stage, views
from .queries_text import _h60_sql
from .session import session_token
from .queries_web import (
    CANON_HOST_RE,
    RAW_HOST_RE,
    URL_CANON_CTES,
    canonical_url_expr,
)

# ----------------------------------------------------------------------
# PII scrub: per-page redaction counts (on the raw text) + the md5 and
# length of the scrubbed text. Pure map-side codegen over pages_pii —
# no shuffle, no Python; at 10^12 pages this is a single embarrassingly
# parallel pass fused into whatever scan feeds it.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\(\d{3}\) \d{3}-\d{4}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_SCRUB_DUCK = (
    "regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{PII_EMAIL}', '<EMAIL>', 'g'), "
    f"'{PII_PHONE}', '<PHONE>', 'g'), "
    f"'{PII_IP}', '<IP>', 'g')"
)

_PII_ORACLE = (
    synth.oracle_with("pages", "pages_pii")
    + f"""
, scrubbed AS (
  SELECT page_id,
         CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT)
           AS n_email,
         CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT)
           AS n_phone,
         CAST(len(regexp_extract_all(text, '{PII_IP}')) AS BIGINT)
           AS n_ip,
         {_PII_SCRUB_DUCK} AS s
  FROM pages_pii
)
SELECT page_id, n_email, n_phone, n_ip,
       md5(s) AS scrub_md5,
       CAST(length(s) AS BIGINT) AS scrub_len
FROM scrubbed
"""
)


# r6: each PII pattern REQUIRES a literal character — email '@', phone
# '(', ip '.' — so a page whose raw text lacks that character cannot
# match, and an instr() guard (a memchr, ~100× cheaper than the regex
# scan) skips the regex entirely on the non-matching majority (~91% /
# 92% / 86% of pages at every SF). The guards are sound on the ORIGINAL
# text for all three scrub layers because the replacement tokens
# '<EMAIL>'/'<PHONE>' introduce no '(' or '.' (a char in layer-N input
# was either in the raw text or came from an earlier replacement;
# tests/test_r6_guards.py checks this on PII_LAYERS).
# Measured 8.43 s → 2.60 s at sf1.0 volume, checksum-identical
# (OPTIMIZATION_r06.md).
PII_LAYERS = (  # (guard, pattern, replacement token), applied in order
    ("@", PII_EMAIL, "<EMAIL>"),
    ("(", PII_PHONE, "<PHONE>"),
    (".", PII_IP, "<IP>"),
)


def _pii_guarded_scrub() -> F.Column:
    s = F.col("text")
    for guard, pat, repl in PII_LAYERS:
        s = F.when(F.instr("text", guard) == 0, s).otherwise(
            F.regexp_replace(s, pat, repl)
        )
    return s


@register("pii_scrub", _PII_ORACLE)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    t = spark.table("pages_pii")
    scrubbed = _pii_guarded_scrub()

    def n_matches(pat: str, guard: str) -> F.Column:
        # regexp_count scans without materializing the match array; the
        # instr guard (see _pii_guarded_scrub) skips the scan wholesale
        # on pages that cannot contain the pattern's required literal.
        return (
            F.when(F.instr("text", guard) == 0, F.lit(0))
            .otherwise(F.regexp_count(F.col("text"), F.lit(pat)))
            .cast("long")
        )

    return t.select(
        "page_id",
        n_matches(PII_EMAIL, "@").alias("n_email"),
        n_matches(PII_PHONE, "(").alias("n_phone"),
        n_matches(PII_IP, ".").alias("n_ip"),
        F.md5(scrubbed.cast("binary")).alias("scrub_md5"),
        F.length(scrubbed).cast("long").alias("scrub_len"),
    )


# ----------------------------------------------------------------------
# Host-blocklist filter: drop every page whose host is on a (tiny)
# denylist, then roll up the survivors per host. The blocklist side is
# 11 of 250 hosts here and a few 100k rows in production — always
# broadcast; the page side never shuffles for the filter itself (LEFT
# ANTI BroadcastHashJoin), only for the final per-host rollup.

_HOST_RE = RAW_HOST_RE
BLOCK_MOD, BLOCK_RESIDUE = 23, 11

_BLOCKLIST_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, h AS (
  SELECT page_id,
         lower(regexp_extract(url, '{_HOST_RE}', 1)) AS host
  FROM pages
)
, b AS (
  SELECT 'h' || CAST(range AS VARCHAR) || '.example.com' AS bhost
  FROM range({synth.NP})
  WHERE range % {BLOCK_MOD} = {BLOCK_RESIDUE}
)
SELECT host,
       COUNT(*) AS n_pages,
       MIN(page_id) AS first_page_id
FROM h
WHERE host NOT IN (SELECT bhost FROM b)
GROUP BY host
"""
)


@register("host_blocklist_filter", _BLOCKLIST_ORACLE)
def q_host_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    blocked = (
        spark.range(synth.NP)
        .where(F.col("id") % BLOCK_MOD == BLOCK_RESIDUE)
        .select(synth.host_name(F.col("id")).alias("bhost"))
    )
    hosts = spark.table("pages").select(
        "page_id",
        F.lower(F.regexp_extract(F.col("url"), _HOST_RE, 1)).alias("host"),
    )
    kept = hosts.join(
        F.broadcast(blocked), hosts.host == blocked.bhost, "left_anti"
    )
    return kept.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.min("page_id").alias("first_page_id"),
    )


# ----------------------------------------------------------------------
# Latest-capture selection: per canonical URL keep the newest capture
# (max warc_ts, ties → max page_id) — the Common-Crawl "latest snapshot
# per URL" collapse, the recency-flavored twin of dedup_url_canonical's
# MIN(page_id) survivor rule.

_LATEST_ORACLE = (
    synth.oracle_with("pages")
    + URL_CANON_CTES
    + """
, g AS (
  SELECT canonical_url,
         MAX(warc_ts) AS last_ts,
         COUNT(*) AS n_captures
  FROM canon
  GROUP BY 1
)
SELECT g.canonical_url,
       g.last_ts,
       MAX(c.page_id) AS keep_page_id,
       g.n_captures
FROM g
JOIN canon c
  ON c.canonical_url = g.canonical_url AND c.warc_ts = g.last_ts
GROUP BY g.canonical_url, g.last_ts, g.n_captures
"""
)


@register("url_latest_capture", _LATEST_ORACLE)
def q_url_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    c = spark.table("pages").select(
        canonical_url_expr("url").alias("canonical_url"),
        "warc_ts",
        "page_id",
    )
    agg = c.groupBy("canonical_url").agg(
        F.max(
            F.struct(
                F.col("warc_ts").alias("ts"), F.col("page_id").alias("pid")
            )
        ).alias("m"),
        F.count(F.lit(1)).alias("n_captures"),
    )
    return agg.select(
        "canonical_url",
        F.col("m.ts").alias("last_ts"),
        F.col("m.pid").alias("keep_page_id"),
        "n_captures",
    )


# ----------------------------------------------------------------------
# Retention funnel: how many pages survive each pipeline stage —
# language keep, char-length band, word-count floor, then exact dedup
# among the stage-3 survivors (MIN(page_id) per md5 group keeps one of
# the REP synth replicas). Stages 0-3 are ONE partial/final aggregation
# over a map-side pass; stage 4 adds the dedup's hash shuffle plus a
# same-key join (the join reuses the groupBy's partitioning — no third
# exchange). Two scans of pages total; at 10^12 pages the scans are
# cheap next to the dedup shuffle, and the flags never leave codegen.

FUNNEL_LANG = "en"
FUNNEL_MIN_CHARS, FUNNEL_MAX_CHARS = 100, 520
FUNNEL_MIN_WORDS = 25

_FUNNEL_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, m AS (
  SELECT page_id, md5(text) AS h,
         CASE WHEN lang = '{FUNNEL_LANG}' THEN 1 ELSE 0 END AS b1,
         CASE WHEN lang = '{FUNNEL_LANG}'
                   AND length(text)
                       BETWEEN {FUNNEL_MIN_CHARS} AND {FUNNEL_MAX_CHARS}
              THEN 1 ELSE 0 END AS b2,
         CASE WHEN lang = '{FUNNEL_LANG}'
                   AND length(text)
                       BETWEEN {FUNNEL_MIN_CHARS} AND {FUNNEL_MAX_CHARS}
                   AND length(text) - length(replace(text, ' ', '')) + 1
                       >= {FUNNEL_MIN_WORDS}
              THEN 1 ELSE 0 END AS b3
  FROM pages
)
, f3 AS (SELECT page_id, h FROM m WHERE b3 = 1)
, fk AS (SELECT h, MIN(page_id) AS fp FROM f3 GROUP BY h)
SELECT 's0_total' AS stage, CAST(COUNT(*) AS BIGINT) AS n_pages FROM m
UNION ALL SELECT 's1_lang', CAST(SUM(b1) AS BIGINT) FROM m
UNION ALL SELECT 's2_len', CAST(SUM(b2) AS BIGINT) FROM m
UNION ALL SELECT 's3_words', CAST(SUM(b3) AS BIGINT) FROM m
UNION ALL SELECT 's4_dedup', CAST(COUNT(*) AS BIGINT)
FROM f3 JOIN fk ON f3.h = fk.h AND f3.page_id = fk.fp
"""
)


@register("pipeline_funnel", _FUNNEL_ORACLE)
def q_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    words = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    b1 = F.col("lang") == FUNNEL_LANG
    b2 = b1 & F.length("text").between(FUNNEL_MIN_CHARS, FUNNEL_MAX_CHARS)
    b3 = b2 & (words >= FUNNEL_MIN_WORDS)
    m = spark.table("pages").select(
        "page_id",
        F.md5(F.col("text").cast("binary")).alias("h"),
        b1.cast("long").alias("b1"),
        b2.cast("long").alias("b2"),
        b3.cast("long").alias("b3"),
    )
    base = m.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum("b1").alias("s1"),
        F.sum("b2").alias("s2"),
        F.sum("b3").alias("s3"),
    )
    f3 = m.where(F.col("b3") == 1).select("page_id", "h")
    fk = f3.groupBy("h").agg(F.min("page_id").alias("fp"))
    ded = (
        f3.join(fk, "h")
        .where(F.col("page_id") == F.col("fp"))
        .agg(F.count(F.lit(1)).alias("s4"))
    )
    return base.crossJoin(ded).selectExpr(
        "stack(5, 's0_total', s0, 's1_lang', s1, 's2_len', s2, "
        "'s3_words', s3, 's4_dedup', s4) AS (stage, n_pages)"
    )


# ----------------------------------------------------------------------
# Snapshot diff: compare two crawl snapshots of the same URL space and
# classify every canonical URL as added / removed / changed / unchanged,
# rolled up per host. This is the Common-Crawl "what changed between
# snapshot A and snapshot B" report; the reference's closest analog is
# its kept/deleted split against existing OSM geometry
# (tasks/metro_bldgs.rake) — here keyed by content hash over time.
#
# Snapshot membership is a deterministic predicate on warc_ts (odd vs
# even capture second — the synth compresses months into one day, so a
# time-RANGE split would leave one side empty at small SF; in production
# the predicate is `warc_ts < cutoff` and the shape is identical).
#
# Scale shape: the whole diff is JOIN-FREE — one partial/final
# aggregation keyed canonical_url computes BOTH sides' latest capture
# as conditional max(struct(ts, pid, text_md5)), the status is a
# map-side CASE over the two structs, and the host rollup is a second
# tiny hash agg. Two exchanges total at 10^12 pages; no self-join, no
# window, no full-outer join (the usual diff formulation) anywhere.
# The oracle is the algorithm-independent formulation: per-side
# join-back latest capture + an explicit FULL OUTER JOIN — a genuinely
# different plan certifying the same semantics.

SNAP_HOST_RE = CANON_HOST_RE


def _snap_side_sql(side: int) -> str:
    return (
        f"CAST(date_part('second', warc_ts) AS BIGINT) % 2 = {side}"
    )


_SNAP_DIFF_ORACLE = (
    synth.oracle_with("pages")
    + URL_CANON_CTES
    + f"""
, ch AS (
  SELECT c.canonical_url, c.warc_ts, c.page_id,
         CAST(date_part('second', c.warc_ts) AS BIGINT) % 2 AS side,
         md5(p.text) AS h
  FROM canon c JOIN pages p ON p.page_id = c.page_id
)
, latest AS (
  SELECT s.canonical_url, s.side, MAX(s.page_id) AS pid
  FROM ch s
  JOIN (
    SELECT canonical_url, side, MAX(warc_ts) AS mts
    FROM ch GROUP BY 1, 2
  ) m
    ON s.canonical_url = m.canonical_url
   AND s.side = m.side AND s.warc_ts = m.mts
  GROUP BY 1, 2
)
, keep AS (
  SELECT l.canonical_url, l.side, s.h
  FROM latest l JOIN ch s ON s.page_id = l.pid
)
, diff AS (
  SELECT COALESCE(o.canonical_url, n.canonical_url) AS canonical_url,
         CASE WHEN o.h IS NULL THEN 'added'
              WHEN n.h IS NULL THEN 'removed'
              WHEN o.h <> n.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM (SELECT * FROM keep WHERE side = 0) o
  FULL OUTER JOIN (SELECT * FROM keep WHERE side = 1) n
    ON o.canonical_url = n.canonical_url
)
SELECT regexp_extract(canonical_url, '{SNAP_HOST_RE}', 1) AS host,
       status,
       COUNT(*) AS n_urls,
       MIN(canonical_url) AS first_url
FROM diff
GROUP BY 1, 2
"""
)


@register("crawl_snapshot_diff", _SNAP_DIFF_ORACLE)
def q_crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    side = F.second("warc_ts") % 2
    cap = F.struct(
        F.col("warc_ts").alias("ts"),
        F.col("page_id").alias("pid"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    g = (
        spark.table("pages")
        .select(
            canonical_url_expr("url").alias("canonical_url"),
            F.when(side == 0, cap).alias("o_cap"),
            F.when(side == 1, cap).alias("n_cap"),
        )
        .groupBy("canonical_url")
        .agg(F.max("o_cap").alias("o"), F.max("n_cap").alias("n"))
    )
    status = (
        F.when(F.col("o").isNull(), "added")
        .when(F.col("n").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        g.select(
            F.regexp_extract("canonical_url", SNAP_HOST_RE, 1).alias("host"),
            status.alias("status"),
            "canonical_url",
        )
        .groupBy("host", "status")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("canonical_url").alias("first_url"),
        )
    )


# ----------------------------------------------------------------------
# Incremental dedup: dedupe an incoming crawl increment against the
# already-ingested corpus by exact content hash — the "batch N+1 vs
# everything so far" step an accumulating training-data pipeline runs
# on every ingest. Corpus = captures in the first CORPUS_HOURS of the
# synth day, increment = the rest (a real pipeline keys this off the
# snapshot id; the warc_ts predicate is the synth stand-in). Unlike
# host_blocklist_filter's broadcast anti-join (tiny side), BOTH sides
# here are corpus-scale: the right plan is a co-partitioned hash join
# on the content hash — increment and corpus-distinct shuffle once on
# md5, nothing broadcasts at 10^12 pages (AQE may still broadcast at
# gate SF — that's correct there and irrelevant to the shape claim;
# the guard pins the join KEY and the absence of Python/nested-loop).

CORPUS_HOURS = 5  # corpus = hour(warc_ts) < 5; increment = the rest

_INC_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, s AS (
  SELECT page_id, url, md5(text) AS h,
         CASE WHEN CAST(date_part('hour', warc_ts) AS BIGINT)
                   < {CORPUS_HOURS}
              THEN 0 ELSE 1 END AS inc
  FROM pages
)
, corpus AS (SELECT DISTINCT h FROM s WHERE inc = 0)
, batch AS (
  SELECT lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)) AS host,
         page_id, s.h
  FROM s WHERE inc = 1
)
SELECT host,
       COUNT(*) AS n_pages,
       CAST(SUM(CASE WHEN c.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       MIN(CASE WHEN c.h IS NULL THEN page_id END) AS first_new_page_id
FROM batch LEFT JOIN corpus c ON batch.h = c.h
GROUP BY host
"""
)


@register("dedup_incremental", _INC_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    s = spark.table("pages").select(
        "page_id",
        "url",
        F.md5(F.col("text").cast("binary")).alias("h"),
        (F.hour("warc_ts") < CORPUS_HOURS).alias("is_corpus"),
    )
    corpus = s.where("is_corpus").select("h").distinct()
    batch = s.where(~F.col("is_corpus")).select(
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"),
        "page_id",
        "h",
    )
    j = batch.join(
        corpus.withColumnRenamed("h", "ch"),
        batch.h == F.col("ch"),
        "left",
    )
    new = F.col("ch").isNull()
    return j.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(new.cast("long")).alias("n_new"),
        F.min(F.when(new, F.col("page_id"))).alias("first_new_page_id"),
    )


# ----------------------------------------------------------------------
# Robots-style path-prefix filter: drop pages matching a (host,
# path-prefix) disallow rule — PREFIX semantics, the match type robots
# rules and URL-pattern denylists need (host_blocklist_filter is exact
# host equality). The rule list is tiny (a few 100k rules in
# production) and BROADCASTS; the join keys equi on host with the
# startswith as a residual join condition, so the page side never
# shuffles for the filter (BroadcastHashJoin LeftSemi/LeftAnti with a
# post-probe predicate — plan-guarded). The oracle uses a correlated
# EXISTS — a different formulation of the same semantics. Rollup: per
# host, total pages, blocked count, first blocked page.

ROBOTS_MOD, ROBOTS_RESIDUE = 29, 13
ROBOTS_PREFIX = "/p/1"

_ROBOTS_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, rules AS (
  SELECT 'h' || CAST(range AS VARCHAR) || '.example.com' AS rhost,
         '{ROBOTS_PREFIX}' AS prefix
  FROM range({synth.NP})
  WHERE range % {ROBOTS_MOD} = {ROBOTS_RESIDUE}
)
, px AS (
  SELECT page_id,
         lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path
  FROM pages
)
SELECT host,
       COUNT(*) AS n_pages,
       CAST(SUM(CASE WHEN EXISTS (
           SELECT 1 FROM rules b
           WHERE b.rhost = px.host
             AND starts_with(px.path, b.prefix)
         ) THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       MIN(CASE WHEN EXISTS (
           SELECT 1 FROM rules b
           WHERE b.rhost = px.host
             AND starts_with(px.path, b.prefix)
         ) THEN page_id END) AS first_blocked_page_id
FROM px
GROUP BY host
"""
)


@register("robots_path_filter", _ROBOTS_ORACLE)
def q_robots_path_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    rules = (
        spark.range(synth.NP)
        .where(F.col("id") % ROBOTS_MOD == ROBOTS_RESIDUE)
        .select(
            synth.host_name(F.col("id")).alias("rhost"),
            F.lit(ROBOTS_PREFIX).alias("prefix"),
        )
    )
    px = spark.table("pages").select(
        "page_id",
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"),
        F.regexp_extract(
            "url", "^[A-Za-z]+://[^/?#]*([^?#]*)", 1
        ).alias("path"),
    )
    cond = (px.host == rules.rhost) & px.path.startswith(rules.prefix)
    blocked = px.join(F.broadcast(rules), cond, "left_semi")
    tot = px.groupBy("host").agg(F.count(F.lit(1)).alias("n_pages"))
    blk = blocked.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_blocked"),
        F.min("page_id").alias("first_blocked_page_id"),
    )
    return tot.join(blk, "host", "left").select(
        "host",
        "n_pages",
        F.coalesce("n_blocked", F.lit(0).cast("long")).alias("n_blocked"),
        "first_blocked_page_id",
    )


# ----------------------------------------------------------------------
# Leakage-safe train/val/test split: assign every page of a host to ONE
# split, from a deterministic hash of the HOST string alone. Splitting
# per-document leaks near-duplicates (mirrors, templated pages, same
# article re-crawled) across the train/eval boundary; hashing the host
# makes the assignment group-atomic, reproducible across runs and
# engines, and requires NO coordination — any executor can compute any
# page's split without a lookup table. The reference's closest analog
# is its per-source partition of the conflation inputs (tasks/
# pdx_bldgs.rake separates pdx/clark/metro worlds before merging).
#
# Scale shape: ONE partial/final hash aggregation on host (the same
# exchange any per-host rollup needs — ~10^8 groups at 10^12 pages);
# the split expression is pure codegen on the group key AFTER the agg,
# so it prices at #hosts, not #pages. No window, no join, no Python.
# The gate output is the per-host assignment table itself (host, split,
# n_pages, n_chars) — the driver hash certifies every host's split, not
# just the rollup totals.

SPLIT_VAL_BUCKETS = 5  # of 100 hash buckets -> ~5% of hosts
SPLIT_TEST_BUCKETS = 5

_SPLIT_H60_DUCK = _h60_sql("md5(host)", "strpos")
_SPLIT_H60_SPARK = _h60_sql("md5(cast(host as binary))", "instr")

_SPLIT_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, h AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM pages
)
, g AS (
  SELECT host, COUNT(*) AS n_pages,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM h GROUP BY host
)
SELECT host,
       CASE WHEN {_SPLIT_H60_DUCK} % 100 < {SPLIT_VAL_BUCKETS}
              THEN 'val'
            WHEN {_SPLIT_H60_DUCK} % 100
                 < {SPLIT_VAL_BUCKETS + SPLIT_TEST_BUCKETS}
              THEN 'test'
            ELSE 'train' END AS split,
       n_pages, n_chars
FROM g
"""
)


@register("split_by_host", _SPLIT_ORACLE)
def q_split_by_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    host = F.lower(F.regexp_extract("url", RAW_HOST_RE, 1))
    g = (
        spark.table("pages")
        .select(host.alias("host"), F.length("text").cast("long").alias("c"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("c").alias("n_chars"))
    )
    bucket = F.expr(_SPLIT_H60_SPARK) % 100
    split = (
        F.when(bucket < SPLIT_VAL_BUCKETS, "val")
        .when(bucket < SPLIT_VAL_BUCKETS + SPLIT_TEST_BUCKETS, "test")
        .otherwise("train")
    )
    return g.select("host", split.alias("split"), "n_pages", "n_chars")


# ----------------------------------------------------------------------
# Domain-mix report: the per-source token-share table every corpus card
# publishes (The Pile / Dolma / FineWeb all lead with it) — the top-K
# hosts by token volume with each host's corpus share and the cumulative
# coverage of the head, plus one '__rest__' row aggregating the tail so
# the table always sums to the whole corpus. Heavy-tail coverage ("the
# top 20 hosts carry X% of tokens") is the number that drives sampling
# and quota decisions upstream of training.
#
# Scale shape: ONE staged partial/final host rollup (the same exchange
# any per-host stat needs); the head is TakeOrderedAndProject (top-K by
# (n_tokens, host) — no global sort), and the only window is the
# cumulative sum over those K rows, explicitly bounded by MIX_TOP_K.
# Corpus totals and the tail row are tiny aggregates over the staged
# host table (#hosts rows, ~10^8 at 10^12 pages), never the corpus.
# Shares are integer ppm (1e6 * tokens div total) for cross-engine
# exactness; ties break on host string so the head set is deterministic.

MIX_TOP_K = 20

_MIX_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, h AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
  FROM pages
)
, g AS (
  SELECT host, COUNT(*) AS n_pages, CAST(SUM(tok) AS BIGINT) AS n_tokens
  FROM h GROUP BY host
)
, tot AS (
  SELECT CAST(SUM(n_pages) AS BIGINT) AS tp, CAST(SUM(n_tokens) AS BIGINT) AS tt
  FROM g
)
, top AS (
  SELECT host, n_pages, n_tokens,
         CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, host) AS INT) AS rank
  FROM g ORDER BY n_tokens DESC, host LIMIT {MIX_TOP_K}
)
, cum AS (
  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rank) AS BIGINT) AS cumt
  FROM top
)
SELECT rank, host, n_pages, n_tokens,
       (1000000 * n_tokens) // tt AS share_ppm,
       (1000000 * cumt) // tt AS cum_share_ppm
FROM cum, tot
UNION ALL
SELECT CAST({MIX_TOP_K + 1} AS INT) AS rank, '__rest__' AS host,
       tp - (SELECT CAST(SUM(n_pages) AS BIGINT) FROM top) AS n_pages,
       tt - (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM top) AS n_tokens,
       (1000000 * (tt - (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM top))) // tt
         AS share_ppm,
       CAST(1000000 AS BIGINT) AS cum_share_ppm
FROM tot
"""
)


@register("domain_mix_report", _MIX_ORACLE)
def q_domain_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    views(spark, sf_dir)
    host = F.lower(F.regexp_extract("url", RAW_HOST_RE, 1))
    g = stage(
        spark,
        (session_token(spark), sf_dir, "domain_mix_hosts"),
        lambda: spark.table("pages")
        .select(
            host.alias("host"),
            F.size(F.split("text", " ")).cast("long").alias("tok"),
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.sum("tok").alias("n_tokens")),
    )
    tot = g.agg(
        F.sum("n_pages").alias("tp"), F.sum("n_tokens").alias("tt")
    )
    order = [F.col("n_tokens").desc(), F.col("host").asc()]
    top = (
        g.orderBy(*order)
        .limit(MIX_TOP_K)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )
    cum = top.withColumn(
        "cumt",
        F.sum("n_tokens").over(
            Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    head = cum.crossJoin(F.broadcast(tot)).select(
        "rank",
        "host",
        "n_pages",
        "n_tokens",
        F.expr("(1000000 * n_tokens) div tt").alias("share_ppm"),
        F.expr("(1000000 * cumt) div tt").alias("cum_share_ppm"),
    )
    tops = top.agg(
        F.sum("n_pages").alias("sp"), F.sum("n_tokens").alias("st")
    )
    rest = tot.crossJoin(F.broadcast(tops)).select(
        F.lit(MIX_TOP_K + 1).cast("int").alias("rank"),
        F.lit("__rest__").alias("host"),
        (F.col("tp") - F.col("sp")).alias("n_pages"),
        (F.col("tt") - F.col("st")).alias("n_tokens"),
        F.expr("(1000000 * (tt - st)) div tt").alias("share_ppm"),
        F.lit(1000000).cast("long").alias("cum_share_ppm"),
    )
    return head.unionByName(rest)


# ----------------------------------------------------------------------
# url_frontier: politeness-scheduled crawl frontier — within every host,
# URLs are ordered by a deterministic priority hash and assigned a fetch
# WAVE (0-based position in the host's queue; each wave takes at most
# one URL per host, the classic per-host politeness constraint), capped
# at FRONTIER_WAVES. The scheduled offset is wave × the host's
# crawl-delay (derived per host: 1 + host-number % 5 seconds — in
# production the robots.txt Crawl-delay). This is the scheduling stage
# between the link graph (outlink_extract) and fetch.
#
# Scale shape: EXACT within-host rank without a per-host skew window —
# the hot host (~1/7 of the corpus) would serialize a naive
# row_number() OVER (PARTITION BY host) into one task, so this is
# global_rank's fourth consumer: partition_cols=[host], bucket =
# top-8-bits of the priority hash — the widest window any task executes
# is one (host, hash-prefix) bucket, ~1/256 of even the hottest host.

FRONTIER_WAVES = 100


def _url_frontier_oracle() -> str:
    h = _h60_sql("md5(url)", "strpos")
    return (
        synth.oracle_with("pages")
        + f"""
, p AS (
  SELECT page_id,
         lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         {h} AS h
  FROM pages
)
, r AS (
  SELECT page_id, host,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY h, page_id) - 1
           AS wave
  FROM p
)
SELECT page_id, host, wave,
       wave * (1 + CAST(regexp_extract(host, '[0-9]+') AS BIGINT) % 5)
         AS sched_s
FROM r WHERE wave < {FRONTIER_WAVES}
"""
    )


@register("url_frontier", _url_frontier_oracle())
def q_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import global_rank

    views(spark, sf_dir)
    p = spark.table("pages").select(
        "page_id",
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"),
        F.expr(_h60_sql("md5(cast(url as binary))", "instr")).alias("h"),
    )
    ranked = global_rank(
        p,
        bucket=F.expr(f"h div {1 << 52}"),
        order_cols=[F.col("h"), F.col("page_id")],
        rank_col="wave",
        partition_cols=["host"],
        # only waves < FRONTIER_WAVES survive: prune non-head buckets
        # map-side + WindowGroupLimit instead of ranking the corpus (r6)
        max_rank=FRONTIER_WAVES,
    )
    delay = F.lit(1) + F.regexp_extract("host", "[0-9]+", 0).cast("long") % 5
    return ranked.where(F.col("wave") < FRONTIER_WAVES).select(
        "page_id", "host", "wave", (F.col("wave") * delay).alias("sched_s")
    )


# ----------------------------------------------------------------------
# host_gini: corpus-card concentration report — the Gini coefficient of
# pages-per-host (how head-heavy is the crawl), in exact integer ppm.
# With hosts ranked ascending by page count (i = 1..n, ties pinned by
# host name), G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx); the engine emits
# gini_ppm = ⌊10^6·G⌋ via integral division so both engines compare
# identical int64s (numerator is provably ≥ 0 for an ascending
# ranking, so floor == integral division in both dialects).
#
# Scale shape: corpus → host counts is ONE partial/final hash agg
# (host-contracted, ~10^8 rows at 10^12 pages); the ascending rank uses
# operators.ranking.global_rank — bucket = the count itself (the
# bounded distinct-count histogram, same discipline as
# doclen_quantiles), so there is NO single-task global window; the
# final three sums are one tiny agg over the ranked host table.
# DECIMAL(38,0)/HUGEINT intermediates keep Σ i·x_i exact at any scale.
_GINI_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, hc AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         COUNT(*) AS x
  FROM pages GROUP BY 1
)
, r AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, host) AS i FROM hc
)
, a AS (
  SELECT SUM(CAST(i AS HUGEINT) * x) AS s1,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(COUNT(*) AS HUGEINT) AS n
  FROM r
)
SELECT CAST(((2 * s1 - (n + 1) * sx) * 1000000) // (n * sx) AS BIGINT)
         AS gini_ppm,
       CAST(n AS BIGINT) AS n_hosts,
       CAST(sx AS BIGINT) AS n_pages
FROM a
"""
)


@register("host_gini", _GINI_ORACLE)
def q_host_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import global_rank

    views(spark, sf_dir)
    hc = (
        spark.table("pages")
        .groupBy(
            F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ranked = global_rank(
        hc, F.col("x"), [F.col("x"), F.col("host")], rank_col="rk"
    )
    a = ranked.agg(
        F.sum(
            (F.col("rk") + 1).cast("decimal(38,0)") * F.col("x")
        ).alias("s1"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    return a.select(
        F.expr(
            "CAST(((2 * s1 - (n + 1) * sx) * 1000000) div (n * sx)"
            " AS BIGINT)"
        ).alias("gini_ppm"),
        F.col("n").cast("long").alias("n_hosts"),
        F.col("sx").cast("long").alias("n_pages"),
    )


# ----------------------------------------------------------------------
# crawl_budget_apportion: split a fixed crawl budget across hosts
# proportionally to their page mass with the LARGEST-REMAINDER method
# (Hamilton apportionment) — every host gets ⌊B·x/Σx⌋ fetches, and the
# B − Σ⌊·⌋ leftover goes to the hosts with the largest remainders
# (ties pinned by host name), so Σ alloc == B EXACTLY — the invariant
# quota systems need and naive per-host rounding violates.
#
# Scale shape: corpus → host counts is one partial/final hash agg; the
# totals are a 1-row broadcast; the remainder rank uses
# operators.ranking.global_rank (bucket = −remainder, a monotone
# coarsening of the DESC sort key) over the HOST-contracted table — no
# single-task window; the top-up is a broadcast scalar comparison.
CRAWL_BUDGET = 100_000

_APPORTION_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, hc AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         COUNT(*) AS x
  FROM pages GROUP BY 1
)
, tot AS (SELECT CAST(SUM(x) AS BIGINT) AS sx FROM hc)
, b AS (
  SELECT host, x,
         ({CRAWL_BUDGET} * x) // sx AS base,
         ({CRAWL_BUDGET} * x) % sx AS rem
  FROM hc, tot
)
, r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk FROM b
)
, topup AS (SELECT {CRAWL_BUDGET} - CAST(SUM(base) AS BIGINT) AS t FROM b)
SELECT host, x,
       CAST(base + CASE WHEN rk <= t THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM r, topup
"""
)


@register("crawl_budget_apportion", _APPORTION_ORACLE)
def q_crawl_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ranking import global_rank

    views(spark, sf_dir)
    hc = (
        spark.table("pages")
        .groupBy(
            F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host")
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = hc.agg(F.sum("x").alias("sx"))
    b = hc.crossJoin(F.broadcast(tot)).select(
        "host",
        "x",
        F.expr(f"{CRAWL_BUDGET}L * x div sx").alias("base"),
        F.expr(f"{CRAWL_BUDGET}L * x % sx").alias("rem"),
    )
    ranked = global_rank(
        b,
        -F.col("rem"),
        [F.col("rem").desc(), F.col("host")],
        rank_col="rk",
    )
    topup = b.agg(
        (F.lit(CRAWL_BUDGET) - F.sum("base")).cast("long").alias("t")
    )
    return ranked.crossJoin(F.broadcast(topup)).select(
        "host",
        "x",
        (
            F.col("base")
            + (F.col("rk") + 1 <= F.col("t")).cast("long")
        ).alias("alloc"),
    )


# ----------------------------------------------------------------------
# corpus_drift: distribution-drift report between two crawl snapshots
# (same time split as dedup_incremental: hour(warc_ts) < CORPUS_HOURS
# = the standing corpus, rest = the new batch) over document-length
# buckets — the "did the new crawl change shape" monitor a training-
# data pipeline runs before ingesting. Shares are integer ppm; the
# per-bucket drift score is the exact integer surrogate
# (share_a_ppm − share_b_ppm)² div (share_a_ppm + share_b_ppm + 1)
# (χ²-shaped: squared share gap normalized by bucket mass; the +1
# avoids 0-division and is identical in both engines). No float, no
# log — ppm ≤ 10^6 keeps the square inside int64.
#
# Scale shape: ONE corpus pass to the bounded (bucket, side) grid,
# 1-row totals broadcast, pure codegen arithmetic — the
# page_tile_counts discipline applied to the length histogram.
DRIFT_BUCKET_CHARS = 100

_DRIFT_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, s AS (
  SELECT length(text) // {DRIFT_BUCKET_CHARS} AS len_bucket,
         CASE WHEN EXTRACT(hour FROM warc_ts) < {CORPUS_HOURS}
              THEN 1 ELSE 0 END AS is_a
  FROM pages
)
, g AS (
  SELECT len_bucket,
         CAST(SUM(is_a) AS BIGINT) AS a,
         CAST(SUM(1 - is_a) AS BIGINT) AS b
  FROM s GROUP BY 1
)
, tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
  FROM g
)
SELECT len_bucket, a, b,
       a * 1000000 // na AS share_a_ppm,
       b * 1000000 // nb AS share_b_ppm,
       (a * 1000000 // na - b * 1000000 // nb)
         * (a * 1000000 // na - b * 1000000 // nb)
         // (a * 1000000 // na + b * 1000000 // nb + 1) AS drift_score
FROM g, tot
"""
)


@register("corpus_drift", _DRIFT_ORACLE)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    s = spark.table("pages").select(
        F.expr(f"length(text) div {DRIFT_BUCKET_CHARS}").alias("len_bucket"),
        (F.hour("warc_ts") < CORPUS_HOURS).cast("long").alias("is_a"),
    )
    g = s.groupBy("len_bucket").agg(
        F.sum("is_a").alias("a"),
        F.sum(1 - F.col("is_a")).alias("b"),
    )
    tot = g.agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "len_bucket",
        "a",
        "b",
        F.expr("a * 1000000L div na").alias("share_a_ppm"),
        F.expr("b * 1000000L div nb").alias("share_b_ppm"),
        F.expr(
            "(a * 1000000L div na - b * 1000000L div nb)"
            " * (a * 1000000L div na - b * 1000000L div nb)"
            " div (a * 1000000L div na + b * 1000000L div nb + 1)"
        ).alias("drift_score"),
    )


# ----------------------------------------------------------------------
# scd2_history: slowly-changing-dimension type-2 history of the crawl —
# per canonical URL, collapse consecutive captures with identical
# content (md5 of the extracted text) into versions, each carrying
# [valid_from, valid_to) and an is_current flag. The lakehouse "build
# the SCD2 dim from snapshot captures" merge every warehouse ingest of
# a mutable source runs; the reference's analog is its authoritative-row
# collapse across re-imports (tasks/pdx_bldgs.rake), here with full
# validity intervals instead of keep-one.
#
# Scale shape: canonicalization and hashing are map-side; then ONE
# url-keyed exchange feeds the whole window chain — the change-detect
# LAG, the version ROW_NUMBER, and the valid_to LEAD all share the same
# (canonical_url) partitioning and (warc_ts, page_id) sort, so Spark
# plans a single Exchange+Sort reused by all three (plan-guarded). Per-
# group state is one URL's capture list — bounded by crawl recrawl
# counts, never the corpus. Ordering ties are impossible (page_id is
# unique and pins the total order in both engines).

from .queries_web import url_canon_ctes as _url_canon_ctes

_SCD2_ORACLE = (
    synth.oracle_with("pages")
    + ", pages_h AS (SELECT page_id, warc_ts, md5(text) AS h, url FROM pages)"
    + _url_canon_ctes(src="pages_h", carry="page_id, warc_ts, h")
    + """
, ord AS (
  SELECT canonical_url, warc_ts, page_id, h,
         LAG(h) OVER w AS prev_h
  FROM canon
  WINDOW w AS (PARTITION BY canonical_url ORDER BY warc_ts, page_id)
), ver AS (
  SELECT canonical_url, warc_ts, page_id, h,
         ROW_NUMBER() OVER w AS version_no,
         LEAD(warc_ts) OVER w AS valid_to
  FROM ord
  WHERE prev_h IS NULL OR prev_h <> h
  WINDOW w AS (PARTITION BY canonical_url ORDER BY warc_ts, page_id)
)
SELECT canonical_url,
       CAST(version_no AS BIGINT) AS version_no,
       h AS content_md5,
       warc_ts AS valid_from,
       valid_to,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_current,
       page_id AS first_page_id
FROM ver
"""
)


@register("scd2_history", _SCD2_ORACLE)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as Wnd

    views(spark, sf_dir)
    c = spark.table("pages").select(
        canonical_url_expr("url").alias("canonical_url"),
        "warc_ts",
        "page_id",
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    w = Wnd.partitionBy("canonical_url").orderBy("warc_ts", "page_id")
    changed = c.withColumn("prev_h", F.lag("h").over(w)).where(
        F.col("prev_h").isNull() | (F.col("prev_h") != F.col("h"))
    )
    return changed.select(
        "canonical_url",
        F.row_number().over(w).cast("long").alias("version_no"),
        F.col("h").alias("content_md5"),
        F.col("warc_ts").alias("valid_from"),
        F.lead("warc_ts").over(w).alias("valid_to"),
        F.lead("warc_ts").over(w).isNull().cast("long").alias("is_current"),
        F.col("page_id").alias("first_page_id"),
    )


# ----------------------------------------------------------------------
# agg_delta_merge: incremental view maintenance for the per-host rollup
# — yesterday's aggregate STATE table merged with today's DELTA
# partition's partial aggregate, certified against a full recompute
# (the oracle aggregates all pages directly, so the gate proves the
# merge algebra, not a mirrored formulation). The lakehouse pattern
# behind every incrementally-maintained stats table: at 10^12 pages the
# daily update aggregates ONLY the delta partition (partition-pruned
# scan) and merges into a |hosts|-bounded state table via one
# full-outer hash join — the historical corpus is never rescanned.
# Merge algebra: counts and sums add; MAX takes the greatest; every
# field is exact int64 (char counts, not floats).

_DELTA_CUTOFF = "2024-01-01 12:00:00"

_DELTA_ORACLE = (
    synth.oracle_with("pages")
    + """
SELECT regexp_replace(lower(regexp_extract(url,
           '(?i)https?://([^/?#]+)', 1)), ':[0-9]+$', '') AS host,
       COUNT(*) AS n_pages,
       CAST(SUM(length(text)) AS BIGINT) AS chars_sum,
       MAX(warc_ts) AS last_ts
FROM pages
GROUP BY 1
"""
)


@register("agg_delta_merge", _DELTA_ORACLE)
def q_agg_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"(?i)https?://([^/?#]+)", 1)),
        ":[0-9]+$",
        "",
    ).alias("host")
    pages = spark.table("pages").select(
        host, F.length("text").alias("ln"), "warc_ts"
    )

    def state(df):
        return df.groupBy("host").agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("ln").alias("chars_sum"),
            F.max("warc_ts").alias("last_ts"),
        )

    cut = F.lit(_DELTA_CUTOFF).cast("timestamp")
    old = state(pages.where(F.col("warc_ts") < cut))
    delta = state(pages.where(F.col("warc_ts") >= cut))
    o, d = old.alias("o"), delta.alias("d")
    return o.join(d, "host", "full_outer").select(
        "host",
        (F.coalesce("o.n_pages", F.lit(0))
         + F.coalesce("d.n_pages", F.lit(0))).alias("n_pages"),
        (F.coalesce("o.chars_sum", F.lit(0))
         + F.coalesce("d.chars_sum", F.lit(0))).alias("chars_sum"),
        F.greatest(
            F.coalesce("o.last_ts", "d.last_ts"),
            F.coalesce("d.last_ts", "o.last_ts"),
        ).alias("last_ts"),
    )


# ----------------------------------------------------------------------
# cdc_apply: MERGE-INTO commit metrics — apply a capture changelog to
# the crawl's base snapshot and report, per host, how many canonical
# URLs each merge action touched (the row-level op counts an Iceberg
# MERGE commit records in its snapshot summary; SURVEY §2.9's ingest
# story). Synth CDC semantics, derived deterministically from pages in
# BOTH engines: a URL's first capture is its base-snapshot row UNLESS
# first_page_id % 13 = 5 (URLs first seen after the snapshot cut —
# log-only); every later capture is a log event, op = DELETE when
# page_id % 11 = 0 else UPSERT; last-writer-wins by (warc_ts, page_id).
# Statuses: unchanged (no log rows), updated / inserted (last op U,
# with/without a base row), deleted (last op D over a base row), void
# (a tombstone for a never-snapshotted key — the no-op MERGE arm).
#
# 100-TB shape: classification needs only the FIRST and LAST capture
# per key — one partial+final hash agg of min/max(struct(warc_ts,
# page_id)) + count per canonical URL (map-side combinable, no window,
# no self-join), then a host-level rollup; exactly two exchanges at any
# scale. The oracle is the algorithm-independent two-step formulation
# (MIN/MAX ts per group, then MIN/MAX page_id among rows carrying that
# ts), so the gate certifies semantics, not the struct trick.

_CDC_STATUS_SQL = """
  CASE WHEN NOT ((n > 1) OR (fpid % 13 = 5)) THEN 'unchanged'
       WHEN lpid % 11 <> 0 AND fpid % 13 <> 5 THEN 'updated'
       WHEN lpid % 11 <> 0 THEN 'inserted'
       WHEN fpid % 13 <> 5 THEN 'deleted'
       ELSE 'void' END
"""

_CDC_ORACLE = (
    synth.oracle_with("pages")
    + URL_CANON_CTES
    + f"""
, g AS (
  SELECT canonical_url, COUNT(*) AS n,
         MIN(warc_ts) AS fts, MAX(warc_ts) AS lts
  FROM canon GROUP BY 1
)
, fl AS (
  SELECT g.canonical_url, g.n,
         MIN(CASE WHEN c.warc_ts = g.fts THEN c.page_id END) AS fpid,
         MAX(CASE WHEN c.warc_ts = g.lts THEN c.page_id END) AS lpid
  FROM g JOIN canon c ON c.canonical_url = g.canonical_url
  GROUP BY 1, 2
)
, cls AS (
  SELECT canonical_url, {_CDC_STATUS_SQL} AS status FROM fl
)
SELECT regexp_extract(canonical_url, '{CANON_HOST_RE}', 1) AS host,
       status,
       COUNT(*) AS n_urls,
       MIN(canonical_url) AS first_url
FROM cls
GROUP BY 1, 2
"""
)


@register("cdc_apply", _CDC_ORACLE)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    caps = spark.table("pages").select(
        canonical_url_expr("url").alias("canonical_url"),
        "warc_ts",
        "page_id",
    )
    g = caps.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("warc_ts", "page_id")).alias("first"),
        F.max(F.struct("warc_ts", "page_id")).alias("last"),
    )
    cls = g.select(
        "canonical_url",
        F.col("n"),
        F.col("first.page_id").alias("fpid"),
        F.col("last.page_id").alias("lpid"),
    ).select(
        "canonical_url", F.expr(_CDC_STATUS_SQL.strip()).alias("status")
    )
    return (
        cls.select(
            F.regexp_extract("canonical_url", CANON_HOST_RE, 1).alias(
                "host"
            ),
            "status",
            "canonical_url",
        )
        .groupBy("host", "status")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min("canonical_url").alias("first_url"),
        )
    )


# ----------------------------------------------------------------------
# ip_lpm_route: longest-prefix-match routing join — resolve each host's
# server IP against a CIDR-style route table carrying prefixes at five
# specificities (/8 /12 /16 /20 /24) and keep the MOST SPECIFIC match,
# the classic network-attribution join (GeoIP / ASN lookup) a crawl
# pipeline runs to apportion fetch traffic. The route table here is a
# deterministic derivation (per-level hash selectors over the host
# space, densities thinning with specificity like a real BGP dump); in
# production it is a static broadcast dim, and the SHAPE is what this
# query certifies: LPM never becomes a theta/range join — each host
# expands to exactly |levels| candidate keys (ip >> (32-plen)), an
# equi-join against the broadcast prefix table matches per level, and
# max(struct(plen, region)) picks the most specific map-side (at most
# one route per level per host after the per-(plen,prefix) dedup, so
# the struct-max is tie-free).
#
# Scale shape: pages contract to hosts in ONE partial/final agg (the
# only big shuffle); the 5x candidate fan-out is map-side over host
# rows; the route join is a BroadcastHashJoin; unmatched hosts fall to
# the 'default' route (plen 0) via a left join. The oracle derives the
# winner the algorithm-independent way (MAX plen per host, join back
# for its region).

LPM_LEVELS = [(8, 3), (12, 5), (16, 11), (20, 23), (24, 47)]
_IP_MOD = 4294967296  # 2^32


def _lpm_oracle() -> str:
    ip60 = _h60_sql("md5(host)", "strpos")
    routes = "\nUNION ALL\n".join(
        f"""SELECT {plen} AS plen, ip // {2 ** (32 - plen)} AS prefix
FROM hip WHERE {_h60_sql(f"md5('sel{plen}:' || host)", "strpos")} % {mod} = 0"""
        for plen, mod in LPM_LEVELS
    )
    cand = "\nUNION ALL\n".join(
        f"SELECT host, {plen} AS plen, ip // {2 ** (32 - plen)} AS prefix "
        "FROM hip"
        for plen, _ in LPM_LEVELS
    )
    return (
        synth.oracle_with("pages")
        + f"""
, hosts AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         COUNT(*) AS n_pages
  FROM pages GROUP BY 1
), hip AS (
  SELECT host, n_pages, {ip60} % {_IP_MOD} AS ip FROM hosts
), routes AS (
  SELECT DISTINCT plen, prefix FROM ({routes})
), reg AS (
  SELECT plen, prefix,
         'g' || CAST((prefix + plen) % 9 AS VARCHAR) AS region
  FROM routes
), cand AS ({cand}
), best AS (
  SELECT c.host, MAX(c.plen) AS plen
  FROM cand c JOIN reg r ON r.plen = c.plen AND r.prefix = c.prefix
  GROUP BY c.host
), bestr AS (
  SELECT b.host, b.plen, r.region
  FROM best b
  JOIN cand c ON c.host = b.host AND c.plen = b.plen
  JOIN reg r ON r.plen = c.plen AND r.prefix = c.prefix
)
SELECT COALESCE(br.region, 'default') AS region,
       CAST(COALESCE(br.plen, 0) AS BIGINT) AS plen,
       CAST(COUNT(*) AS BIGINT) AS n_hosts,
       CAST(SUM(h.n_pages) AS BIGINT) AS n_pages
FROM hip h LEFT JOIN bestr br ON br.host = h.host
GROUP BY 1, 2
"""
    )


@register("ip_lpm_route", _lpm_oracle())
def q_ip_lpm_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ip60 = _h60_sql("md5(cast(host as binary))", "instr")
    # stage the host contraction: the plan references it six times (the
    # candidate fan-out + five route-level selectors) and without the
    # cut Catalyst re-executes the corpus pass per reference (measured
    # 6.6 s -> ~1 s at sf0.1 — the host_triangles trap)
    hosts = stage(
        spark,
        (session_token(spark), sf_dir, "lpm_hosts"),
        lambda: (
            spark.table("pages")
            .select(
                F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host")
            )
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .withColumn("ip", F.expr(f"({ip60}) % {_IP_MOD}"))
        ),
    )
    routes = None
    for plen, mod in LPM_LEVELS:
        sel60 = _h60_sql(
            f"md5(cast(concat('sel{plen}:', host) as binary))", "instr"
        )
        lvl = hosts.where(F.expr(f"({sel60}) % {mod} = 0")).select(
            F.lit(plen).alias("plen"),
            F.expr(f"ip div {2 ** (32 - plen)}").alias("prefix"),
        )
        routes = lvl if routes is None else routes.unionByName(lvl)
    routes = routes.distinct().withColumn(
        "region", F.expr("concat('g', CAST((prefix + plen) % 9 AS STRING))")
    )
    cand = hosts.select(
        "host",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(plen).alias("plen"),
                        F.expr(f"ip div {2 ** (32 - plen)}").alias("prefix"),
                    )
                    for plen, _ in LPM_LEVELS
                ]
            )
        ).alias("c"),
    ).select("host", "c.plen", "c.prefix")
    best = (
        cand.join(F.broadcast(routes), ["plen", "prefix"])
        .groupBy("host")
        .agg(F.max(F.struct("plen", "region")).alias("b"))
    )
    return (
        hosts.join(best, "host", "left")
        .select(
            "n_pages",
            F.coalesce(F.col("b.region"), F.lit("default")).alias("region"),
            F.coalesce(F.col("b.plen"), F.lit(0)).cast("long").alias("plen"),
        )
        .groupBy("region", "plen")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hosts"),
            F.sum("n_pages").cast("long").alias("n_pages"),
        )
    )


# ----------------------------------------------------------------------
# crawl_schedule: per-host politeness scheduling — every page gets its
# fetch slot (dense position within its host's queue, ordered by
# canonical URL then page_id) and absolute fetch epoch at
# CRAWL_DELAY_S seconds per slot, the reference's own rate limit
# (scripts/add_addrs.rb:57 sleeps 15 s between changesets — the same
# one-request-per-interval discipline applied per host). The slot
# window partitions by HOST — bounded partitions (the biggest host's
# queue, never the corpus), the legitimate window shape, vs the
# global-order windows the rank family had to decompose.
#
# Scale shape: one exchange keyed by host, per-host sort inside the
# window task, pure arithmetic after; no Python, no second shuffle.

CRAWL_DELAY_S = 15
CRAWL_EPOCH0 = 1_600_000_000  # fixed schedule origin (epoch seconds)


def _sched_oracle() -> str:
    return (
        synth.oracle_with("pages")
        + f"""
, c AS (
  SELECT page_id,
         lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         url
  FROM pages
)
SELECT page_id, host,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY host ORDER BY url, page_id) - 1 AS BIGINT)
         AS fetch_slot,
       CAST({CRAWL_EPOCH0} + (ROW_NUMBER() OVER (
         PARTITION BY host ORDER BY url, page_id) - 1)
         * {CRAWL_DELAY_S} AS BIGINT) AS fetch_epoch
FROM c
"""
    )


@register("crawl_schedule", _sched_oracle())
def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    c = spark.table("pages").select(
        "page_id",
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"),
        "url",
    )
    w = Wnd.partitionBy("host").orderBy("url", "page_id")
    slot = (F.row_number().over(w) - 1).cast("long")
    return c.select(
        "page_id",
        "host",
        slot.alias("fetch_slot"),
        (F.lit(CRAWL_EPOCH0) + slot * CRAWL_DELAY_S)
        .cast("long")
        .alias("fetch_epoch"),
    )


# ----------------------------------------------------------------------
# url_param_stats: query-string parameter census — per parameter key,
# how many URLs carry it and how many distinct values it takes; the
# profile a crawl team reads to decide which params are
# content-significant vs session noise (the data-driven source of
# dedup_url_canonical's strip list: high-cardinality tracking params
# vs low-cardinality content params).
#
# Scale shape: pure map-side extract + explode (the query string is
# bounded), one partial/final agg per key with the distinct count's
# standard two-phase expansion; key space is tiny. The oracle is an
# independent formulation (regexp + UNNEST string_split vs the
# engine's split/explode chain).

_PARAM_ORACLE = (
    synth.oracle_with("pages")
    + r"""
, qs AS (
  SELECT page_id, regexp_extract(url, '\?([^#]*)', 1) AS q
  FROM pages WHERE url LIKE '%?%'
)
, kv AS (
  SELECT page_id, UNNEST(string_split(q, '&')) AS pair
  FROM qs WHERE q <> ''
)
SELECT string_split(pair, '=')[1] AS param_key,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT CASE WHEN strpos(pair, '=') > 0
              THEN substr(pair, strpos(pair, '=') + 1) ELSE '' END)
            AS BIGINT) AS n_values
FROM kv WHERE pair <> ''
GROUP BY 1
"""
)


@register("url_param_stats", _PARAM_ORACLE)
def q_url_param_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    qs = (
        spark.table("pages")
        .where(F.col("url").contains("?"))
        .select(
            "page_id",
            F.regexp_extract("url", r"\?([^#]*)", 1).alias("q"),
        )
        .where(F.col("q") != "")
    )
    kv = qs.select(
        "page_id", F.explode(F.split("q", "&")).alias("pair")
    ).where(F.col("pair") != "")
    split_at = F.instr("pair", "=")
    return (
        kv.select(
            F.split("pair", "=").getItem(0).alias("param_key"),
            F.when(
                split_at > 0, F.expr("substr(pair, instr(pair, '=') + 1)")
            ).otherwise(F.lit("")).alias("val"),
        )
        .groupBy("param_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.countDistinct("val").cast("long").alias("n_values"),
        )
    )


# ----------------------------------------------------------------------
# html_tag_stats: opening-tag census over the raw HTML binary — per
# tag name, total occurrences and pages containing it; the structural
# profile (boilerplate density, nav/table-heaviness) a quality
# pipeline reads before committing to an extraction strategy. Proves
# the binary html column parses corpus-wide without Python: decode +
# regexp_extract_all + posexplode all ride whole-stage codegen.
#
# Scale shape: map-side extract/explode; ONE partial/final agg keyed
# by (bounded) tag name — the per-page distinct for n_pages comes
# from the (tag, page) contraction, also bounded (tags × pages).

_TAG_RE = "<([A-Za-z]+)[ >]"

_TAGSTATS_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, t AS (
  SELECT page_id,
         UNNEST(regexp_extract_all(decode(html), '{_TAG_RE}', 1)) AS tag
  FROM pages
)
SELECT lower(tag) AS tag,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT page_id) AS BIGINT) AS n_pages
FROM t GROUP BY 1
"""
)


@register("html_tag_stats", _TAGSTATS_ORACLE)
def q_html_tag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    t = spark.table("pages").select(
        "page_id",
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit(_TAG_RE), F.lit(1)
            )
        ).alias("tag"),
    )
    return (
        t.groupBy(F.lower("tag").alias("tag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("page_id").cast("long").alias("n_pages"),
        )
    )
