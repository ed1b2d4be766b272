"""Web-graph / retrieval operators over the synthetic crawl (``pages``):
URL canonicalization dedup, rational-idf BM25 top-k retrieval, and a
fixed-K integer-arithmetic PageRank over the host link graph.

These extend the LLM-training-data pipeline family (round instructions)
beyond the reference surface — the reference has no web-graph stage; the
closest analog is its per-source ingest dedup (tasks/pdx_addrs.rake).

Cross-engine determinism rules (same discipline as queries_text.py):

- URL canonicalization is pure string/regexp rewriting — identical
  regexes in Spark (Java regex) and DuckDB (RE2), restricted to the
  RE2-safe subset (no lookaround, no backrefs).
- BM25 replaces ``ln((N-df+0.5)/(df+0.5))`` with the monotone rational
  surrogate ``floor(IDF_SCALE*(2(N-df)+1)/(2df+1))`` so every term
  score is one integer division — ``a DIV b`` in Spark, ``a // b`` on
  BIGINTs in DuckDB — and the per-document score is a SUM of integers
  (order-independent, partial-aggregatable). The k1=1.2 / b=0.75
  length normalization is cleared of fractions the same way:
  tf_factor = 22*S*tf / (10*S*tf + 3*S + 9*dl*N) where S = total corpus
  tokens, N = corpus docs, dl = doc length (exact rational identity of
  tf*(k1+1) / (tf + k1*(1-b+b*dl*N/S))).
- PageRank keeps ranks as integers scaled by PR_SCALE; each edge
  contribution takes ONE floor (``(850*r*w) div (1000*out_w)``) so the
  per-host sum is order-independent; K iterations are unrolled in the
  oracle as chained CTEs. Dangling mass is dropped (no redistribution)
  — documented variant, same in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from . import synth
from .operators.propagate import propagate
from .queries import cut, cut_count, register, stage, views
from .queries_text import _TOKENS_SQL_DUCK
from .session import session_token
from .streaming.gate import gate, sentinel_dump

# ----------------------------------------------------------------------
# S-URL: canonicalization + exact dedup over the canonical form.
#
# Rules (the crawl-dedup core set): lowercase scheme+authority, strip
# default ports :443/:80, drop the fragment, drop utm_* tracking params
# (repairing separators), strip one trailing slash. Synth plants live
# fixtures for every rule, including colliding pairs (synth.py _PAGES).
#
# Scale shape: pure codegen string ops + ONE partial/final hash
# aggregation keyed by the canonical string — the same shape as exact
# text dedup (dedup_exact); no join, no Python.

def url_canon_ctes(
    src: str = "pages",
    carry: str = "page_id, warc_ts",
    url: str = "url",
    out: str = "canon",
    prefix: str = "c",
) -> str:
    r"""Render the canonicalization CTE chain over an arbitrary source
    relation ``src`` carrying ``carry`` columns alongside its ``url``;
    ends in ``out(carry..., canonical_url)``. ``prefix`` namespaces the
    intermediate CTEs so two chains can coexist in one oracle."""
    return rf"""
, {prefix}0 AS (
  SELECT {carry}, {url} AS u,
         regexp_extract({url}, '^[A-Za-z]+://[^/?#]*') AS auth
  FROM {src}
), {prefix}1 AS (
  SELECT {carry},
         lower(regexp_replace(auth, ':(443|80)$', '')) AS auth,
         regexp_replace(substring(u, length(auth) + 1), '#.*', '') AS rest
  FROM {prefix}0
), {prefix}2 AS (
  SELECT {carry}, auth,
         regexp_replace(regexp_replace(rest, '\?.*', ''), '/$', '') AS path,
         regexp_replace(regexp_replace(
             regexp_extract(rest, '\?(.*)', 1),
             '(^|&)utm_[^&]*', '', 'g'),
             '^&+', '') AS q
  FROM {prefix}1
), {out} AS (
  SELECT {carry},
         auth || path || CASE WHEN q = '' THEN '' ELSE '?' || q END
           AS canonical_url
  FROM {prefix}2
)
"""


# The default chain over ``pages`` (appended after a WITH prefix that
# defines ``pages``): ends in ``canon(page_id, warc_ts, canonical_url)``.
# Shared by the batch dedup, the streamed-dedup gate, and the
# latest-capture / snapshot-diff queries (queries_crawl.py).
URL_CANON_CTES = url_canon_ctes()

_URL_CANON_ORACLE = (
    synth.oracle_with("pages")
    + URL_CANON_CTES
    + """
SELECT canonical_url,
       COUNT(*) AS n_pages,
       MIN(page_id) AS first_page_id
FROM canon
GROUP BY 1
"""
)


def canonical_url_expr(url_col) -> F.Column:
    """The canonical-URL rewrite as one stateless Column expression
    (shared by the batch dedup and the streaming ingest-dedup gate —
    canonicalization happens map-side BEFORE any aggregation in both).

    r6: the five fixed-string regex passes of the original spelling
    (':(443|80)$', '#.*', '\\?.*', '/$', '^&+') are replaced by their
    exact string-op equivalents (endswith + substr, substring_index,
    startswith-guarded strip) and the one genuinely-regex pass (the
    utm_ parameter strip) is instr-guarded — it cannot match a query
    string that lacks the literal 'utm_'. Exactness caveat, recorded:
    '#.*' / '\\?.*' stop at a newline while substring_index does not;
    URLs here never contain newlines (synth invariant, and the DuckDB
    oracle CTEs — which keep the regex spelling — gate equality on the
    actual data). Measured on 6M extracted hrefs: 1.71 → 1.28 s warm,
    checksum-identical (OPTIMIZATION_r06.md); old-vs-new equality on
    adversarial URLs pinned by tests/test_r6_guards.py."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    auth_raw = F.regexp_extract(url, "^[A-Za-z]+://[^/?#]*", 0)
    rest0 = url.substr(F.length(auth_raw) + F.lit(1), F.length(url))
    auth0 = F.lower(auth_raw)
    auth = (
        F.when(auth0.endswith(":443"),
               auth0.substr(F.lit(1), F.length(auth0) - 4))
        .when(auth0.endswith(":80"),
              auth0.substr(F.lit(1), F.length(auth0) - 3))
        .otherwise(auth0)
    )
    rest = F.substring_index(rest0, "#", 1)
    path0 = F.substring_index(rest, "?", 1)
    path = F.when(
        path0.endswith("/"),
        path0.substr(F.lit(1), F.length(path0) - 1)
    ).otherwise(path0)
    qpos = F.instr(rest, "?")
    q0 = F.when(qpos == 0, F.lit("")).otherwise(
        rest.substr(qpos + F.lit(1), F.length(rest)))
    q1 = F.when(F.instr(q0, "utm_") == 0, q0).otherwise(
        F.regexp_replace(q0, "(^|&)utm_[^&]*", ""))
    q = F.when(q1.startswith("&"),
               F.regexp_replace(q1, "^&+", "")).otherwise(q1)
    return F.concat(
        auth, path, F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q))
    )


@register("dedup_url_canonical", _URL_CANON_ORACLE)
def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return (
        spark.table("pages")
        .groupBy(canonical_url_expr("url").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.min("page_id").alias("first_page_id"),
        )
    )


# ----------------------------------------------------------------------
# BM25 top-k retrieval (rational-idf variant, integer-exact — see module
# docstring). Scale shape: token explode → partial/final hash aggs for
# tf/dl/df; the document-frequency and corpus-totals sides are tiny
# (|terms| rows / 1 row) and BROADCAST; the only big-side shuffles key
# on doc_id; top-k is TakeOrderedAndProject (per-partition heap + final
# merge — no global sort of the scored set).

BM25_TERMS = ("spark", "join", "window")
BM25_K = 50
IDF_SCALE = 1000

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

_BM25_ORACLE = (
    "WITH "
    + _TOKENS_SQL_DUCK
    + f"""
, dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY 1)
, tot AS (SELECT COUNT(*) AS S, COUNT(DISTINCT doc_id) AS N FROM tokens)
, tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM tokens
  WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2
)
, dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1)
, scored AS (
  SELECT t.doc_id,
         CAST(SUM(
           (((({IDF_SCALE} * (2 * (N - df) + 1)) // (2 * df + 1))
             * 22 * S * t.tf)
            // (10 * S * t.tf + 3 * S + 9 * d.dl * N))
         ) AS BIGINT) AS bm25_scaled
  FROM tf t
  JOIN dfq USING (w)
  JOIN dl d USING (doc_id)
  CROSS JOIN tot
  GROUP BY t.doc_id
)
SELECT doc_id, bm25_scaled FROM scored
ORDER BY bm25_scaled DESC, doc_id
LIMIT {BM25_K}
"""
)


@register("bm25_topk", _BM25_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .queries_text import _tokens

    views(spark, sf_dir)
    # the one tokenizer paired with _TOKENS_SQL_DUCK (no second inline
    # copy to drift from the oracle); staged because tf/dl/totals are
    # three different downstream shuffles over the same explode
    toks = stage(
        spark,
        (session_token(spark), sf_dir, "tokens"),
        lambda: _tokens(spark).select("doc_id", "w"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tot = toks.agg(
        F.count(F.lit(1)).alias("S"), F.countDistinct("doc_id").alias("N")
    )
    tf = (
        toks.where(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfq), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "idf_s",
            F.expr(f"({IDF_SCALE} * (2*(N - df) + 1)) div (2*df + 1)"),
        )
        .withColumn(
            "term_score",
            F.expr("(idf_s * 22 * S * tf) div (10*S*tf + 3*S + 9*dl*N)"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("bm25_scaled"))
    )
    return scored.orderBy(F.col("bm25_scaled").desc(), "doc_id").limit(BM25_K)


# ----------------------------------------------------------------------
# Host-graph PageRank, K fixed iterations, integer ranks (see module
# docstring). The link graph is deterministic synth: every page links
# its host h<pid> to host h<(page_id*13+7) % NP> — a host-level edge
# list with COUNT(*) weights, the exact shape of a crawl's host graph
# rollup. Scale shape: edge weights + out-weights are ONE partial/final
# agg each, materialized once per (session, sf); each iteration is a
# hash join of the (host, rank) table into the edge list keyed by src,
# then a partial/final agg keyed by dst — two bounded shuffles per
# iteration, no driver loop state beyond the fixed K.

PR_SCALE = 1_000_000
PR_ITERS = 3
_PR_BASE = 150 * PR_SCALE // 1000  # (1 - damping) * scale, exact


def _pr_oracle() -> str:
    sql = (
        synth.oracle_with("pages")
        + f"""
, links AS (
  SELECT pid AS src, (page_id * 13 + 7) % {synth.NP} AS dst FROM pages
)
, w AS (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY 1, 2)
, outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM w GROUP BY 1)
, hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM w UNION ALL SELECT dst AS h FROM w
  ) u
)
, r0 AS (SELECT h, CAST({PR_SCALE} AS BIGINT) AS r FROM hosts)"""
    )
    for i in range(PR_ITERS):
        sql += f"""
, r{i + 1} AS (
  SELECT h.h,
         CAST({_PR_BASE} + COALESCE(
           SUM((850 * c.r * c.w) // (1000 * c.ow)), 0) AS BIGINT) AS r
  FROM hosts h
  LEFT JOIN (
    SELECT w.dst AS h, r.r, w.w, o.ow
    FROM w
    JOIN outw o ON o.src = w.src
    JOIN r{i} r ON r.h = w.src
  ) c ON c.h = h.h
  GROUP BY h.h
)"""
    sql += f"""
SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
       r AS rank_scaled
FROM r{PR_ITERS}
"""
    return sql


def _pagerank(
    spark: SparkSession, sf_dir: str, seed: Column, iters: int
) -> DataFrame:
    """PageRank over the weighted host graph with the teleport mass on
    the hosts where ``seed`` holds: they start at PR_SCALE and take the
    (1-d) restart term each step, every other host starts at 0. An
    always-true seed is plain PageRank (Catalyst folds the CASE away)."""
    views(spark, sf_dir)

    def build_edges() -> DataFrame:
        links = spark.table("pages").select(
            F.col("pid").alias("src"),
            ((F.col("page_id") * 13 + 7) % synth.NP).alias("dst"),
        )
        w = links.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))
        outw = w.groupBy("src").agg(F.sum("w").alias("ow"))
        return w.join(outw, "src")  # (src, dst, w, ow)

    # materialized once per (session, sf): the iterations re-read the
    # edge list, and without the stage boundary each would recompute the
    # pages->groupBy chain (at 10^12 pages the edge rollup is the
    # expensive pass; the iterations touch only the contracted graph)
    ew = stage(spark, (session_token(spark), sf_dir, "pr_edges"), build_edges)
    hosts = (
        ew.select(F.col("src").alias("h"))
        .unionAll(ew.select(F.col("dst").alias("h")))
        .distinct()
    )
    base = F.when(seed, F.lit(_PR_BASE)).otherwise(F.lit(0))
    r = hosts.select(
        "h", F.when(seed, F.lit(PR_SCALE)).otherwise(F.lit(0)).cast("long").alias("r")
    )
    term = F.expr("(850 * r * w) div (1000 * ow)")
    for _ in range(iters):
        r = propagate(ew, hosts, r, term, lambda c: base + c)
    return r.select(
        synth.host_name(F.col("h")).alias("host"),
        F.col("r").cast("long").alias("rank_scaled"),
    )


@register("host_pagerank", _pr_oracle())
def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pagerank(spark, sf_dir, F.lit(True), PR_ITERS)


# ----------------------------------------------------------------------
# §2.9 under the driver gate, crawl flavor: streaming ingest dedup.
# GATE-ONLY plumbing (streaming/gate.py): one partitioned parquet dump
# of (ts, page_id, url) per (session, sf_dir) plus a far-future sentinel
# file whose arrival advances the event-time watermark past every real
# 24h window's end, so the availableNow drain finalizes and emits all
# real groups; the sentinel's own window stays open and its group is
# filtered out (page_id -1). All synth warc_ts fall inside ONE aligned
# 24h window, so each canonical group emits exactly one row and the
# drained output hash-matches the BATCH oracle (same SQL as
# dedup_url_canonical). Production: real WARC arrival files, no
# sentinel — the watermark advances with ordinary arrivals.

_URL_SENTINEL_MARGIN_S = 48 * 3600  # > window (24h) + watermark (1h)


@register("url_dedup_streamed", _URL_CANON_ORACLE)
def q_url_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import urldedup as SU

    views(spark, sf_dir)
    src = sentinel_dump(
        spark, sf_dir, "pages", "warc_ts",
        {"page_id": -1, "url": "https://zz-sentinel.invalid/x"},
        _URL_SENTINEL_MARGIN_S,
    )
    return gate(
        spark, SU.stream_url_dedup, src,
        "ts timestamp_ntz, page_id long, url string",
        F.col("first_page_id") >= 0,
    ).select("canonical_url", "n_pages", "first_page_id")


# ----------------------------------------------------------------------
# Inverted-index build (segmented postings): the index-construction
# stage a retrieval system runs over the corpus — per term, per SEGMENT
# (a fixed doc_id range, Lucene-style), the position-complete postings
# list; then a per-term manifest row merging the segment digests.
#
# Scale shape: postings are built per (term, segment) so NO in-memory
# list ever exceeds one segment's contribution — a stopword appearing
# in every document produces one bounded row per segment, never one
# corpus-wide list (the naive groupBy(term) collect would OOM on
# stopwords at 10^12 docs). collect_list is partial-aggregatable
# (ObjectHashAggregate combines map-side); array_sort canonicalizes
# order without a sort exchange. The per-term merge aggregates tiny
# (segment, digest) rows — at production scale you'd stop at the
# per-segment index (segments ARE the serving shards) and this manifest
# is the index's catalog row. Two exchanges total; no window, no join,
# no Python.
#
# Cross-engine determinism: postings serialize as 'doc:pos' joined by
# ',' in (doc_id, pos) order, digests as md5; the per-term manifest
# joins 'seg:md5' by ';' in segment order — both engines agree exactly
# (DuckDB string_agg ORDER BY == Spark array_sort of structs).

INDEX_SEG_DOCS = 100  # docs per segment

_INDEX_ORACLE = (
    "WITH "
    + _TOKENS_SQL_DUCK
    + f"""
, sp AS (
  SELECT w AS term,
         CAST(doc_id AS BIGINT) // {INDEX_SEG_DOCS} AS seg,
         md5(string_agg(
             CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR),
             ',' ORDER BY doc_id, pos)) AS seg_md5,
         COUNT(DISTINCT doc_id) AS df_s,
         COUNT(*) AS cf_s
  FROM tokens
  GROUP BY 1, 2
)
SELECT term,
       CAST(SUM(df_s) AS BIGINT) AS df,
       CAST(SUM(cf_s) AS BIGINT) AS cf,
       COUNT(*) AS n_segs,
       md5(string_agg(CAST(seg AS VARCHAR) || ':' || seg_md5,
                      ';' ORDER BY seg)) AS index_md5
FROM sp
GROUP BY term
"""
)


@register("index_postings", _INDEX_ORACLE)
def q_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    from .queries_text import _tokens

    t = _tokens(spark).withColumn(
        "seg", F.expr(f"doc_id DIV {INDEX_SEG_DOCS}")
    )
    # df_s comes from the already-collected postings array (distinct
    # docs in a sorted bounded list) — a countDistinct here would add a
    # third shuffle (distinct-expand keyed (term, seg, doc_id)).
    plist = t.groupBy(F.col("w").alias("term"), "seg").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "pos"))).alias("ps"),
        F.count(F.lit(1)).alias("cf_s"),
    )
    posting = F.array_join(
        F.transform(
            F.col("ps"),
            lambda s: F.concat(
                s.doc_id.cast("string"), F.lit(":"), s.pos.cast("string")
            ),
        ),
        ",",
    )
    sp = plist.select(
        "term",
        "seg",
        F.md5(posting.cast("binary")).alias("seg_md5"),
        F.size(
            F.array_distinct(F.transform(F.col("ps"), lambda s: s.doc_id))
        ).cast("long").alias("df_s"),
        "cf_s",
    )
    manifest = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seg", "seg_md5"))),
            lambda s: F.concat(
                s.seg.cast("string"), F.lit(":"), s.seg_md5
            ),
        ),
        ";",
    )
    return sp.groupBy("term").agg(
        F.sum("df_s").cast("long").alias("df"),
        F.sum("cf_s").cast("long").alias("cf"),
        F.count(F.lit(1)).alias("n_segs"),
        F.md5(manifest.cast("binary")).alias("index_md5"),
    )


# ----------------------------------------------------------------------
# WAT-style outlink extraction + anchor-text aggregation: the link-graph
# build a crawl pipeline runs straight off the raw HTML (Common Crawl's
# WAT sidecar). Extraction is pure map-side codegen over the html binary
# — regexp_extract_all of the anchor tags, posexplode, per-tag group
# extracts, then the shared canonical-URL rewrite on every href; NO
# shuffle at all for `outlink_extract` (the plan guard pins it to the
# seed fan-out). `anchor_text_agg` inverts the graph: ONE partial/final
# aggregation keyed by canonical target building the anchor-text index
# (the classic retrieval signal — anchors describe the TARGET page);
# distinct referring hosts come from the already-collected array, not a
# countDistinct (which would plan a second distinct-expand shuffle).
# Synth plants per-page navs of 1-3 links with uppercase/port/utm/
# fragment/trailing-slash decorations so canonicalization is live on
# the href path too.

LINK_TAG_RE = '<a href="([^"]+)">([^<]*)</a>'

# The two host-extraction regexes, shared by every query that keys on a
# host (also imported by queries_crawl.py — one definition, so a future
# change to host parsing cannot desynchronize an engine query from its
# oracle): RAW over as-crawled urls (case-mixed scheme/host, may carry a
# port), CANON over canonical_url_expr output (already lowercased).
RAW_HOST_RE = "^[A-Za-z]+://([^/:?#]+)"
CANON_HOST_RE = "^[a-z]+://([^/:?#]+)"

_LINKS_CTES = (
    f"""
, tagged AS (
  SELECT page_id,
         lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS src_host,
         decode(html) AS h
  FROM pages
)
, tags AS (
  SELECT page_id, src_host,
         UNNEST(regexp_extract_all(h, '{LINK_TAG_RE}')) AS tag,
         generate_subscripts(regexp_extract_all(h, '{LINK_TAG_RE}'), 1) - 1
           AS pos
  FROM tagged
)
, links AS (
  SELECT page_id, src_host, pos,
         regexp_extract(tag, '{LINK_TAG_RE}', 1) AS url,
         regexp_extract(tag, '{LINK_TAG_RE}', 2) AS anchor
  FROM tags
)
"""
    + url_canon_ctes(
        src="links",
        carry="page_id, src_host, pos, anchor",
        prefix="l",
        out="lcanon",
    )
)

_OUTLINK_ORACLE = (
    synth.oracle_with("pages")
    + _LINKS_CTES
    + """
SELECT page_id, pos, canonical_url AS dst_url, anchor
FROM lcanon
"""
)


def link_tag_parts() -> tuple[Column, Column]:
    """(url, anchor) of the column ``tag``, one whole LINK_TAG_RE match.

    r6: the two per-tag group extractions re-ran LINK_TAG_RE over every
    matched tag (measured 3.3 s vs 2.4 s for the whole build at sf1.0
    volume). A matched tag is `<a href="URL">ANCHOR</a>` with no '"' in
    URL and no '<' in ANCHOR, so the FIRST '"' at position >= 10 is the
    closing quote (locate starts past the opening quote at position 9 —
    a URL may legally begin with '>') and both groups fall out of plain
    substring arithmetic. Exactly the regex groups, no regex per tag."""
    cq = "locate('\">', tag, 10)"
    raw_url = F.expr(f"substring(tag, 10, {cq} - 10)")
    raw_anchor = F.expr(f"substring(tag, {cq} + 2, length(tag) - {cq} - 5)")
    return raw_url, raw_anchor


def _links_df(spark: SparkSession) -> DataFrame:
    """(page_id, src_host, pos, dst_url, anchor) — map-side only."""
    pat = LINK_TAG_RE
    tags = spark.table("pages").select(
        "page_id",
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("src_host"),
        F.posexplode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit(pat), F.lit(0)
            )
        ).alias("pos", "tag"),
    )
    raw_url, raw_anchor = link_tag_parts()
    return tags.select(
        "page_id",
        "src_host",
        "pos",
        canonical_url_expr(raw_url).alias("dst_url"),
        raw_anchor.alias("anchor"),
    )


@register("outlink_extract", _OUTLINK_ORACLE)
def q_outlink_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    return _links_df(spark).select("page_id", "pos", "dst_url", "anchor")


_ANCHOR_ORACLE = (
    synth.oracle_with("pages")
    + _LINKS_CTES
    + """
SELECT canonical_url AS dst_url,
       COUNT(*) AS n_refs,
       COUNT(DISTINCT src_host) AS n_src_hosts,
       md5(string_agg(
           anchor || ':' || CAST(page_id AS VARCHAR)
                  || ':' || CAST(pos AS VARCHAR),
           ',' ORDER BY anchor, page_id, pos)) AS anchors_md5,
       MIN(anchor) AS first_anchor
FROM lcanon
GROUP BY 1
"""
)


@register("anchor_text_agg", _ANCHOR_ORACLE)
def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = _links_df(spark).groupBy("dst_url").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.array_sort(
            F.collect_list(F.struct("anchor", "page_id", "pos", "src_host"))
        ).alias("refs"),
    )
    blob = F.array_join(
        F.transform(
            F.col("refs"),
            lambda s: F.concat_ws(
                ":", s.anchor, s.page_id.cast("string"), s.pos.cast("string")
            ),
        ),
        ",",
    )
    return g.select(
        "dst_url",
        "n_refs",
        F.size(
            F.array_distinct(F.transform(F.col("refs"), lambda s: s.src_host))
        ).cast("long").alias("n_src_hosts"),
        F.md5(blob.cast("binary")).alias("anchors_md5"),
        # refs is sorted by (anchor, page_id, pos, src_host) — the first
        # element's anchor IS min(anchor)
        F.element_at(
            F.transform(F.col("refs"), lambda s: s.anchor), 1
        ).alias("first_anchor"),
    )


# ----------------------------------------------------------------------
# Degree distribution over the REAL extracted link graph (outlinks from
# the html <nav>s, not the synthetic pid graph host_pagerank uses):
# per host, the distinct-host out-degree and in-degree. Scale shape:
# ONE distinct on the (src_host, dst_host) pair (the host-contracted
# edge list — at 10^12 pages this contraction is the big shuffle and
# everything after runs on ~10^8 host rows), then two tiny aggs and a
# host-keyed full outer join of two already-small relations.


def _host_edges_df(spark: SparkSession) -> DataFrame:
    l = _links_df(spark)
    return l.select(
        "src_host",
        F.regexp_extract("dst_url", CANON_HOST_RE, 1).alias("dst_host"),
    )


_HOST_EDGES_CTES = (
    _LINKS_CTES
    + f"""
, he AS (
  SELECT src_host,
         regexp_extract(canonical_url, '{CANON_HOST_RE}', 1) AS dst_host
  FROM lcanon
)
"""
)

_DEGREE_ORACLE = (
    synth.oracle_with("pages")
    + _HOST_EDGES_CTES
    + """
, e AS (SELECT DISTINCT src_host, dst_host FROM he)
, od AS (SELECT src_host AS host, COUNT(*) AS out_deg FROM e GROUP BY 1)
, idg AS (SELECT dst_host AS host, COUNT(*) AS in_deg FROM e GROUP BY 1)
SELECT COALESCE(od.host, idg.host) AS host,
       COALESCE(out_deg, 0) AS out_deg,
       COALESCE(in_deg, 0) AS in_deg
FROM od FULL OUTER JOIN idg ON od.host = idg.host
"""
)


@register("link_degree_dist", _DEGREE_ORACLE)
def q_link_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    e = _host_edges_df(spark).distinct()
    od = e.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    idg = e.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        od.join(idg, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


# ----------------------------------------------------------------------
# Fixed-K HITS (hubs & authorities) over the same real link graph,
# integer-exact: authority = sum of hub scores over weighted in-edges,
# hub = sum of authority scores over weighted out-edges; after every
# sum the score is floor-divided by 2^HITS_SHIFT (order-independent —
# the sum itself is exact int64) instead of the usual L2 normalization,
# which no two engines would agree on bit-for-bit. Same trillion-edge
# shape as host_pagerank: the edge rollup is the one expensive pass
# (staged per session); each half-iteration is a hash join keyed by
# one endpoint + a partial/final agg keyed by the other — two bounded
# shuffles, no driver state, K unrolled. The oracle unrolls the same
# recurrence as chained CTEs (DuckDB HUGEINT sums cast back).

HITS_ITERS = 2
HITS_SCALE = 1_000_000
# per-half-iteration floor shift (the order-independent stand-in for L2
# normalization): 2^8 ~ the synth graph's mean weighted degree, keeping
# scores in a stable fixed-point band across iterations. At production
# scale the shift is chosen from a degree bound the same way (shift ~
# log2(mean weighted degree)) so int64 never overflows: sums stay ≤
# score_band * max_degree ≈ 1e6 * 1e9 « 2^63.
HITS_SHIFT = 8


def _hits_oracle() -> str:
    sql = (
        synth.oracle_with("pages")
        + _HOST_EDGES_CTES
        + f"""
, w AS (SELECT src_host AS src, dst_host AS dst, COUNT(*) AS w
        FROM he GROUP BY 1, 2)
, hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM w UNION ALL SELECT dst AS h FROM w
  ) u
)
, h0 AS (SELECT h, CAST({HITS_SCALE} AS BIGINT) AS s FROM hosts)"""
    )
    for i in range(HITS_ITERS):
        sql += f"""
, a{i + 1} AS (
  SELECT hosts.h,
         CAST(COALESCE(SUM(c.s * c.w), 0) // {1 << HITS_SHIFT} AS BIGINT)
           AS s
  FROM hosts
  LEFT JOIN (
    SELECT w.dst AS h, r.s, w.w FROM w JOIN h{i} r ON r.h = w.src
  ) c ON c.h = hosts.h
  GROUP BY hosts.h
), h{i + 1} AS (
  SELECT hosts.h,
         CAST(COALESCE(SUM(c.s * c.w), 0) // {1 << HITS_SHIFT} AS BIGINT)
           AS s
  FROM hosts
  LEFT JOIN (
    SELECT w.src AS h, r.s, w.w FROM w JOIN a{i + 1} r ON r.h = w.dst
  ) c ON c.h = hosts.h
  GROUP BY hosts.h
)"""
    sql += f"""
SELECT hosts.h AS host, a.s AS auth_scaled, hh.s AS hub_scaled
FROM hosts
JOIN a{HITS_ITERS} a ON a.h = hosts.h
JOIN h{HITS_ITERS} hh ON hh.h = hosts.h
"""
    return sql


@register("host_hits", _hits_oracle())
def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)

    def build() -> DataFrame:
        return (
            _host_edges_df(spark)
            .groupBy(F.col("src_host").alias("src"),
                     F.col("dst_host").alias("dst"))
            .agg(F.count(F.lit(1)).alias("w"))
        )

    w = stage(spark, (session_token(spark), sf_dir, "hits_edges"), build)
    hosts = (
        w.select(F.col("src").alias("h"))
        .unionByName(w.select(F.col("dst").alias("h")))
        .distinct()
    )
    rev = w.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    h = hosts.select("h", F.lit(HITS_SCALE).cast("long").alias("s"))
    term = F.col("s") * F.col("w")

    def finish(c: Column) -> Column:
        return F.call_function("div", c, F.lit(1 << HITS_SHIFT))

    for _ in range(HITS_ITERS):
        a = propagate(w, hosts, h, term, finish)  # authority: along edges
        h = propagate(rev, hosts, a, term, finish)  # hub: against them
    return (
        hosts.join(a.withColumnRenamed("s", "auth_scaled"), "h")
        .join(h.withColumnRenamed("s", "hub_scaled"), "h")
        .select(F.col("h").alias("host"), "auth_scaled", "hub_scaled")
    )


# ----------------------------------------------------------------------
# host_triangles: per-host triangle counts over the undirected host link
# graph (extracted from the html <nav>s, like link_degree_dist) — the
# clustering/community signal a web-graph pipeline publishes alongside
# degree and PageRank. Engine uses the standard distributed shape:
# DEGREE ORIENTATION (each undirected edge directed from its
# lower-(degree, host) endpoint), so every wedge is generated exactly
# once from its lowest vertex and the join fan-out is bounded by
# sum(min-degree²) ~ m^1.5 worst case instead of sum(degree²) — the hub
# vertices that dominate a web graph never fan out. Scale shape: one
# distinct on the host-contracted edge list (the only corpus-scale
# shuffle, shared conceptually with link_degree_dist), a broadcast
# degree attach (host-bounded), a self-join on the oriented source, and
# a closing-edge hash join. The oracle is the algorithm-independent
# lexicographic u<v<w three-way join.

_TRI_EDGE_CTES = f"""
, tagged AS (
  SELECT page_id,
         lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS src_host,
         decode(html) AS h
  FROM pages
)
, tags AS (
  SELECT src_host,
         UNNEST(regexp_extract_all(h, '<a href="([^"]+)">', 1)) AS href
  FROM tagged
)
, e0 AS (
  SELECT DISTINCT src_host AS a,
         lower(regexp_extract(href, '{RAW_HOST_RE}', 1)) AS b
  FROM tags
)
, und AS (
  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM e0 WHERE a <> b
)
"""

_TRI_ORACLE = (
    synth.oracle_with("pages")
    + _TRI_EDGE_CTES
    + """
, tri AS (
  SELECT x.u AS a, x.v AS b, y.v AS c
  FROM und x
  JOIN und y ON y.u = x.v
  JOIN und z ON z.u = x.u AND z.v = y.v
)
SELECT h AS host, COUNT(*) AS n_tri
FROM (SELECT UNNEST([a, b, c]) AS h FROM tri)
GROUP BY 1
"""
)


def _und_host_edges(spark: SparkSession) -> DataFrame:
    """Distinct undirected host-host edges (u < v) off the raw navs."""
    pat = '<a href="([^"]+)">'
    tags = spark.table("pages").select(
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("a"),
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit(pat), F.lit(1)
            )
        ).alias("href"),
    )
    e0 = tags.select(
        "a", F.lower(F.regexp_extract("href", RAW_HOST_RE, 1)).alias("b")
    ).where(F.col("a") != F.col("b"))
    return e0.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()


@register("host_triangles", _TRI_ORACLE)
def q_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # stage the distinct edge list: the html outlink parse is the only
    # corpus-scale pass, and the triangle plan references the edges five
    # times (deg, both wedge sides, the closing probe) — without the
    # stage cut Catalyst re-executes the parse for each reference
    # (measured 13.6 s → ~3 s at sf0.01).
    und = stage(
        spark,
        (session_token(spark), sf_dir, "tri_edges"),
        lambda: _und_host_edges(spark),
    )
    return triangle_counts(und)


def triangle_counts(und: DataFrame) -> DataFrame:
    """(host, n_tri) per vertex over undirected edges (u, v) with u < v
    and no self-loops — degree-oriented triangle enumeration (see the
    host_triangles block comment). Property-tested vs an O(n³) brute
    force in tests/test_graph_sketch.py."""
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from its (deg, host)-smaller endpoint; carry the
    # head's degree so the wedge join can order its two heads without
    # re-attaching degrees.
    du = F.broadcast(deg.select(F.col("h").alias("u"), F.col("deg").alias("du")))
    dv = F.broadcast(deg.select(F.col("h").alias("v"), F.col("deg").alias("dv")))
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        und.join(du, "u").join(dv, "v")
        .select(
            F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(low_first, F.col("dv")).otherwise(F.col("du")).alias("degb"),
        )
    )
    x, y = o.alias("x"), o.alias("y")
    wedge = x.join(y, F.col("x.a") == F.col("y.a")).where(
        (F.col("x.degb") < F.col("y.degb"))
        | ((F.col("x.degb") == F.col("y.degb")) & (F.col("x.b") < F.col("y.b")))
    )
    closing = o.select(F.col("a").alias("cb"), F.col("b").alias("cc"))
    tri = wedge.join(
        closing,
        (F.col("x.b") == F.col("cb")) & (F.col("y.b") == F.col("cc")),
    ).select(
        F.col("x.a").alias("a"), F.col("x.b").alias("b"), F.col("y.b").alias("c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )


# ----------------------------------------------------------------------
# heavy_hitters_cms: Count-Min sketch (Cormode & Muthukrishnan '05) over
# per-host page counts — the mergeable fixed-size frequency summary a
# streaming/sharded pipeline keeps where exact per-key counts don't fit.
# The sketch build is the scale path: D=4 seeded-md5 row hashes per
# page, ONE partial/final hash agg whose map-side combine collapses each
# partition to ≤ D·W cells (2048 rows) regardless of corpus size; cell
# arrays merge by addition across shards/batches by construction. The
# probe joins each distinct host against the broadcast sketch and takes
# the row-wise MIN — the classic overcount-only estimate (est ≥ true,
# asserted in pytest; equality for collision-free hosts). true_count is
# emitted for the gate's sake (at 10^12 pages you would keep only the
# sketch).

CMS_W = 512
CMS_D = 4


def _cms_hash_duck(r_expr: str, host_expr: str) -> str:
    from .queries_text import _h60_sql

    return (
        _h60_sql(
            f"md5('r' || CAST({r_expr} AS VARCHAR) || ':' || {host_expr})",
            "strpos",
        )
        + f" % {CMS_W}"
    )


def _cms_hash_spark(r_expr: str, host_expr: str) -> str:
    from .queries_text import _h60_sql

    return (
        _h60_sql(
            f"md5(cast(concat('r', cast({r_expr} as string), ':', {host_expr})"
            " as binary))",
            "instr",
        )
        + f" % {CMS_W}"
    )


def _cms_oracle() -> str:
    return (
        synth.oracle_with("pages")
        + f"""
, ph AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host FROM pages
)
, rows_ AS (SELECT UNNEST([{', '.join(str(r) for r in range(CMS_D))}]) AS r)
, sketch AS (
  SELECT r, {_cms_hash_duck('r', 'host')} AS b, COUNT(*) AS c
  FROM ph CROSS JOIN rows_
  GROUP BY 1, 2
)
, truec AS (SELECT host, COUNT(*) AS true_count FROM ph GROUP BY 1)
, probe AS (
  SELECT t.host, t.true_count, s.c
  FROM truec t
  CROSS JOIN rows_ r
  JOIN sketch s ON s.r = r.r AND s.b = {_cms_hash_duck('r.r', 't.host')}
)
SELECT host, CAST(MIN(true_count) AS BIGINT) AS true_count,
       CAST(MIN(c) AS BIGINT) AS est_count
FROM probe GROUP BY 1
"""
    )


@register("heavy_hitters_cms", _cms_oracle())
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    rows = F.array(*[F.lit(r) for r in range(CMS_D)])
    ph = spark.table("pages").select(
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host")
    )
    # r6: contract the corpus to per-host counts FIRST (one corpus agg,
    # materialized once — the host table feeds both the sketch build and
    # the probe). A bucket's count is the SUM of its hosts' counts, so
    # hashing |hosts|·D keys instead of |corpus|·D rows is identical —
    # guide §2.3 "aggregate before you shuffle": the md5 sketch hash
    # moves off the corpus-sized stream entirely.
    truec = cut(
        ph.groupBy("host").agg(F.count(F.lit(1)).alias("true_count"))
    )
    sketch = (
        truec.select("host", "true_count", F.explode(rows).alias("r"))
        .select(
            "r",
            F.expr(_cms_hash_spark("r", "host")).alias("b"),
            "true_count",
        )
        .groupBy("r", "b")
        .agg(F.sum("true_count").alias("c"))
    )
    cells = sketch.select(
        F.col("r").alias("sr"), F.col("b").alias("sb"), "c"
    )
    probe = (
        truec.select("host", "true_count", F.explode(rows).alias("r"))
        .withColumn("pb", F.expr(_cms_hash_spark("r", "host")))
        .join(
            F.broadcast(cells),
            (F.col("r") == F.col("sr")) & (F.col("pb") == F.col("sb")),
        )
    )
    return probe.groupBy("host").agg(
        F.min("true_count").cast("long").alias("true_count"),
        F.min("c").cast("long").alias("est_count"),
    )


# ----------------------------------------------------------------------
# phrase_search: exact-phrase retrieval — documents containing the
# 2-token query phrase as ADJACENT whitespace tokens, with per-doc
# occurrence counts, top-K by (count desc, doc_id). The positional
# twin of bm25_topk: BM25 ranks bags of words; a phrase query needs
# token positions (the reason real postings lists carry them —
# index_postings' schema extends to (doc_id, pos) exactly this way).
#
# Scale shape: tokenize → filter to the two query terms BEFORE anything
# moves (the inverted-index probe: only the query terms' postings leave
# the scan — a ~1e-5 fraction of corpus tokens), then ONE doc-keyed
# hash join intersects positions (pos2 = pos1 + 1), one doc-keyed
# partial/final count agg, TakeOrderedAndProject for the top-K. No
# window, no full-token shuffle, no Python. The oracle is the
# algorithm-independent list-lambda scan over each doc's token array.

PHRASE_W1, PHRASE_W2 = "table", "value"
PHRASE_TOP_K = 50

_PHRASE_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), n AS (
  SELECT doc_id,
         len(list_filter(range(1, len(w)),
             i -> w[i] = '{PHRASE_W1}' AND w[i + 1] = '{PHRASE_W2}'))
           AS n_occ
  FROM ws
)
SELECT doc_id, CAST(n_occ AS BIGINT) AS n_occ FROM n
WHERE n_occ > 0
ORDER BY n_occ DESC, doc_id
LIMIT {PHRASE_TOP_K}
"""


@register("phrase_search", _PHRASE_ORACLE)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    toks = spark.table("documents").select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    t1 = toks.where(F.col("w") == PHRASE_W1).select(
        "doc_id", F.col("pos").alias("p1")
    )
    t2 = toks.where(F.col("w") == PHRASE_W2).select(
        "doc_id", F.col("pos").alias("p2")
    )
    hits = t1.join(
        t2,
        (t1.doc_id == t2.doc_id) & (t2.p2 == t1.p1 + 1),
    ).select(t1.doc_id)
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .orderBy(F.desc("n_occ"), "doc_id")
        .limit(PHRASE_TOP_K)
    )


# ----------------------------------------------------------------------
# host_reach2: two-hop reach per host over the REAL extracted link
# graph — |{h2 : host→x→h2, h2 ≠ host}| distinct, the "influence
# radius" companion to link_degree_dist (same staged distinct edge
# list). Scale shape: the host-contracted DISTINCT edge list is the big
# corpus shuffle (shared across the graph family via the stage cache);
# the 2-hop expansion is edges ⋈ edges on the intermediate host — its
# fan-out is Σ_x in(x)·out(x), bounded in practice by the distinct
# contraction BEFORE (pair-distinct edges) and AFTER (distinct (src,
# dst2) before counting, so the count agg never sees multiplicity). At
# pathological hub skew the standard refinement is degree-capping /
# two-level aggregation of the hub's neighbor set — noted, not needed
# at gate scale; AQE skew-join split handles the shuffle side.
_REACH2_ORACLE = (
    synth.oracle_with("pages")
    + _HOST_EDGES_CTES
    + """
, e AS (SELECT DISTINCT src_host, dst_host FROM he)
, two AS (
  SELECT DISTINCT a.src_host AS host, b.dst_host AS dst2
  FROM e a JOIN e b ON a.dst_host = b.src_host
  WHERE b.dst_host <> a.src_host
)
SELECT host, COUNT(*) AS reach2
FROM two GROUP BY 1
"""
)


@register("host_reach2", _REACH2_ORACLE)
def q_host_reach2(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    e = stage(
        spark,
        (session_token(spark), sf_dir, "reach_edges"),
        lambda: _host_edges_df(spark).distinct(),
    )
    a = e.alias("a")
    b = e.alias("b")
    two = (
        a.join(b, F.col("a.dst_host") == F.col("b.src_host"))
        .where(F.col("b.dst_host") != F.col("a.src_host"))
        .select(
            F.col("a.src_host").alias("host"),
            F.col("b.dst_host").alias("dst2"),
        )
        .distinct()
    )
    return two.groupBy("host").agg(F.count(F.lit(1)).alias("reach2"))


# ----------------------------------------------------------------------
# link_reciprocity: one-row link-graph report — how many directed host
# edges have a reciprocal twin (B→A for A→B), and the reciprocity ratio
# in exact ppm. The classic graph-health metric (crawl link farms push
# it up; pure hierarchies push it to 0). Self-loops excluded on both
# sides of the ratio.
#
# Scale shape: the distinct host-contracted edge list (shared stage
# with the rest of the graph family) self-joins on the REVERSED key —
# one shuffle join keyed (dst, src) vs (src, dst), each side already
# pair-distinct so the join is 1:≤1 per edge; the two counts collapse
# to a single-row agg cross-joined into the report. No corpus pass
# beyond the shared edge extraction.
_RECIP_ORACLE = (
    synth.oracle_with("pages")
    + _HOST_EDGES_CTES
    + """
, e AS (
  SELECT DISTINCT src_host, dst_host FROM he WHERE src_host <> dst_host
)
, m AS (
  SELECT COUNT(*) AS n_mutual
  FROM e a JOIN e b ON a.src_host = b.dst_host AND a.dst_host = b.src_host
)
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       n_mutual,
       CAST(n_mutual * 1000000 // (SELECT COUNT(*) FROM e) AS BIGINT)
         AS reciprocity_ppm
FROM m
"""
)


@register("link_reciprocity", _RECIP_ORACLE)
def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    e = stage(
        spark,
        (session_token(spark), sf_dir, "recip_edges"),
        lambda: _host_edges_df(spark)
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct(),
    )
    a = e.alias("a")
    b = e.alias("b")
    mutual = a.join(
        b,
        (F.col("a.src_host") == F.col("b.dst_host"))
        & (F.col("a.dst_host") == F.col("b.src_host")),
    ).agg(F.count(F.lit(1)).alias("n_mutual"))
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return mutual.crossJoin(F.broadcast(edges)).select(
        "n_edges",
        "n_mutual",
        F.expr("CAST(n_mutual * 1000000 div n_edges AS BIGINT)").alias(
            "reciprocity_ppm"
        ),
    )


# ----------------------------------------------------------------------
# host_components: connected components over the REAL extracted host
# link graph (treated undirected) — the "site cluster / link farm"
# detector, and the operator-reuse proof that operators/components.py
# (alternating large-star/small-star contraction, O(log n) rounds of
# bounded shuffles) is graph-agnostic: the same kernel labels minhash
# doc clusters (dedup_components) and host clusters here. Hosts map to
# 60-bit integer ids via one md5 (identical arithmetic in both
# engines — a collision would affect both identically, keeping the
# gate deterministic); labels map back to host names at the end.
# Oracle: algorithm-independent recursive transitive closure.
def _hostcc_oracle() -> str:
    from .queries_text import _h60_sql

    hid = _h60_sql("md5(h)", "strpos")
    # The recursion lives in a NESTED scope: putting WITH RECURSIVE on
    # the outer chain makes DuckDB re-plan the whole html-extraction
    # pipeline under recursive-CTE rules (observed: the plain chain
    # runs in ~2 s, the same chain under an outer RECURSIVE prefix
    # never finishes). The inner recursive CTE references the outer
    # MATERIALIZED relations, which are evaluated once.
    return (
        synth.oracle_with("pages")
        + _HOST_EDGES_CTES
        + f"""
, e0 AS MATERIALIZED (
  SELECT DISTINCT src_host AS sh, dst_host AS dh FROM he
  WHERE src_host <> dst_host
)
, hosts AS (SELECT sh AS h FROM e0 UNION SELECT dh FROM e0)
, hid AS MATERIALIZED (SELECT h, {hid} AS id FROM hosts)
, edges AS MATERIALIZED (
  SELECT a.id AS u, b.id AS v
  FROM e0 JOIN hid a ON e0.sh = a.h JOIN hid b ON e0.dh = b.h
  UNION
  SELECT b.id AS u, a.id AS v
  FROM e0 JOIN hid a ON e0.sh = a.h JOIN hid b ON e0.dh = b.h
)
SELECT hid.h AS host, c.component_id
FROM (
  WITH RECURSIVE reach(a, b) AS (
    SELECT id, id FROM hid
    UNION
    SELECT r.a, e.v FROM reach r JOIN edges e ON e.u = r.b
  )
  SELECT a, MIN(b) AS component_id FROM reach GROUP BY a
) c
JOIN hid ON hid.id = c.a
"""
    )


def q_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import components as C
    from .queries_text import _h60_sql

    views(spark, sf_dir)
    e0 = stage(
        spark,
        (session_token(spark), sf_dir, "hostcc_edges"),
        lambda: _host_edges_df(spark)
        .where(F.col("src_host") != F.col("dst_host"))
        .distinct(),
    )
    # the id dictionary is staged (materialized once): the 15-term h60
    # expression otherwise rides THREE lineages (edge relabel, CC node
    # set, final label join) and the final self-join's attribute dedup
    # over that expression stalls the optimizer — and at scale the host
    # dictionary is a build-once artifact anyway.
    hid = stage(
        spark,
        (session_token(spark), sf_dir, "hostcc_hid"),
        lambda: e0.select(F.col("src_host").alias("h"))
        .union(e0.select(F.col("dst_host").alias("h")))
        .distinct()
        .withColumn(
            "id", F.expr(_h60_sql("md5(cast(h as binary))", "instr"))
        ),
    )
    a = hid.select(F.col("h").alias("sh"), F.col("id").alias("u"))
    b = hid.select(F.col("h").alias("dh"), F.col("id").alias("v"))
    edges = (
        e0.join(a, e0.src_host == a.sh)
        .join(b, e0.dst_host == b.dh)
        .select("u", "v")
    )
    labels = C.connected_components(
        hid.select(F.col("id").alias("host_id")), edges, id_col="host_id"
    )
    return labels.join(hid, labels.host_id == hid.id).select(
        F.col("h").alias("host"), "component_id"
    )


register("host_components", _hostcc_oracle())(q_host_components)


# ----------------------------------------------------------------------
# host_typo_pairs: typosquat / near-miss host detection — every pair of
# distinct crawled hosts at edit distance exactly 1 (same length, one
# substituted character: the classic squatted-domain shape), with both
# hosts' page counts attached so the asymmetric pair (big site, tiny
# imposter) is readable straight off the row.
#
# Scale shape (the masked-position pigeonhole): each distinct host of
# length L emits L blocking keys — the host with character i replaced
# by a sentinel byte that no hostname can contain. Two equal-length
# hosts at Hamming distance 1 collide on EXACTLY one key (the differing
# position), so the self-join on the masked string enumerates every
# candidate pair exactly once — no O(n²) cross join, no post-join
# dedup, and block sizes equal real neighbor-cluster sizes (no
# degenerate shared-suffix bucket, unlike half-split blocking where
# every *.example.com host lands in one giant right-half block). The
# levenshtein refine is a guaranteed-true safety assertion kept against
# sentinel collisions. The oracle is the genuinely different naive
# formulation: same-length cross join + levenshtein(a,b)=1.
_TYPO_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, hosts AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         COUNT(*) AS hits
  FROM pages GROUP BY 1
)
SELECT a.host AS host_a, b.host AS host_b,
       a.hits AS hits_a, b.hits AS hits_b
FROM hosts a JOIN hosts b
  ON length(a.host) = length(b.host) AND a.host < b.host
WHERE levenshtein(a.host, b.host) = 1
"""
)


@register("host_typo_pairs", _TYPO_ORACLE)
def q_host_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    hosts = (
        spark.table("pages")
        .select(F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    keyed = (
        hosts.select(
            "host",
            "hits",
            F.explode(F.sequence(F.lit(1), F.length("host"))).alias("i"),
        )
        # sentinel \x01 cannot occur in a hostname, so masked-string
        # equality implies same length AND same masked position.
        .select(
            "host",
            "hits",
            F.concat(
                F.expr("substring(host, 1, i - 1)"),
                F.lit("\x01"),
                F.expr("substring(host, i + 1, length(host))"),
            ).alias("blk"),
        )
    )
    a = keyed.select(
        F.col("host").alias("host_a"), F.col("hits").alias("hits_a"), "blk"
    )
    b = keyed.select(
        F.col("host").alias("host_b"), F.col("hits").alias("hits_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .where(F.col("host_a") < F.col("host_b"))
        .where(F.levenshtein("host_a", "host_b") == 1)
        .select("host_a", "host_b", "hits_a", "hits_b")
    )


# ----------------------------------------------------------------------
# path_prefix_rollup: hierarchical URL-path census — for every (host,
# path-prefix) at depths 1..2, page count and distinct-doc count: the
# "du -d2" of a crawl, the input to per-directory crawl budgets and
# sitemap inference. Normalization: trailing slashes stripped, query/
# fragment excluded (the pages fixture carries trailing-slash, port,
# and pathless variants, all exercised). The oracle enumerates depths
# via UNION ALL — a genuinely different spelling of the same rollup.
#
# Scale shape: a bounded ≤2× explode (array of regexp prefixes, empty
# slots filtered) then ONE partial/final hash agg keyed (host, prefix)
# — count partials collapse map-side, distinct-doc is the only
# key-width cost; no window, no join, no Python. Depth is derived from
# the prefix itself (slash count), not carried through the shuffle.
_PPR_PATH_RE = "^[A-Za-z]+://[^/?#]+([^?#]*)"


def _path_prefix_oracle() -> str:
    legs = "\nUNION ALL\n".join(
        f"SELECT host, doc_id, regexp_extract(path, '^((/[^/]+){{{d}}})', 1)"
        " AS p FROM b"
        for d in (1, 2)
    )
    return (
        synth.oracle_with("pages")
        + f"""
, b AS (
  SELECT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         regexp_replace(
           regexp_extract(url, '{_PPR_PATH_RE}', 1), '/+$', '') AS path,
         doc_id
  FROM pages
), pref AS ({legs})
SELECT host, p AS prefix,
       CAST(length(p) - length(replace(p, '/', '')) AS BIGINT) AS depth,
       COUNT(*) AS n_pages,
       COUNT(DISTINCT doc_id) AS n_docs
FROM pref WHERE p <> '' GROUP BY 1, 2, 3
"""
    )


@register("path_prefix_rollup", _path_prefix_oracle())
def q_path_prefix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    b = spark.table("pages").select(
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"),
        F.regexp_replace(
            F.regexp_extract("url", _PPR_PATH_RE, 1), "/+$", ""
        ).alias("path"),
        "doc_id",
    )
    pref = b.select(
        "host",
        "doc_id",
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.regexp_extract(
                            "path", f"^((/[^/]+){{{d}}})", 1
                        )
                        for d in (1, 2)
                    ]
                ),
                lambda x: x != F.lit(""),
            )
        ).alias("prefix"),
    )
    return (
        pref.groupBy("host", "prefix")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .select(
            "host",
            "prefix",
            (
                F.length("prefix")
                - F.length(F.replace(F.col("prefix"), F.lit("/"), F.lit("")))
            ).cast("long").alias("depth"),
            "n_pages",
            "n_docs",
        )
    )


# ----------------------------------------------------------------------
# host_topk_pages: grouped top-k — per host, the K largest pages by
# (text length DESC, page_id) — the "best exemplars per domain" pick a
# curation pipeline exports for inspection. The point at scale is the
# PLAN: Spark rewrites a rank-filter window into WindowGroupLimit,
# which keeps only k rows per group in each map task BEFORE the
# host-keyed exchange — the shuffle carries ≤ k·|hosts| rows, not the
# corpus (plan-guarded). Ordering is pinned (length, then page_id), so
# the cut is deterministic cross-engine.

TOPK_PER_HOST = 3


@register(
    "host_topk_pages",
    synth.oracle_with("pages")
    + f"""
    , h AS (
      SELECT regexp_replace(lower(regexp_extract(url,
                 '(?i)https?://([^/?#]+)', 1)), ':[0-9]+$', '') AS host,
             page_id, length(text) AS text_len
      FROM pages
    )
    SELECT host, page_id, text_len,
           CAST(ROW_NUMBER() OVER (PARTITION BY host
                ORDER BY text_len DESC, page_id) AS BIGINT) AS rn
    FROM h
    QUALIFY rn <= {TOPK_PER_HOST}
    """,
)
def q_host_topk_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as Wnd

    views(spark, sf_dir)
    h = spark.table("pages").select(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"(?i)https?://([^/?#]+)", 1)),
            ":[0-9]+$",
            "",
        ).alias("host"),
        "page_id",
        F.length("text").alias("text_len"),
    )
    w = Wnd.partitionBy("host").orderBy(F.desc("text_len"), "page_id")
    return (
        h.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOPK_PER_HOST)
    )


# ----------------------------------------------------------------------
# host_bfs_layers: multi-source BFS depth over the real extracted host
# link graph — every host's minimum link distance (≤ BFS_MAX_D) from a
# deterministic seed set, the "crawl frontier depth from the seed list"
# computation a scoped crawl runs to budget its expansion (and the
# iterative-traversal sibling of host_components' contraction).
#
# Scale shape: the host-contracted DISTINCT edge list is the one
# corpus-sized shuffle (shared stage with the rest of the graph
# family); each BFS round is ONE bounded hash join (frontier ⋈ edges,
# frontier only ever shrinks relative to the reachable set) plus an
# anti-join against the visited table, with a DISK_ONLY lineage cut
# per round exactly like operators/components.py — O(diameter) rounds,
# never a serial traversal. The driver loop carries only per-round
# counts. Oracle: algorithm-independent recursive closure in a NESTED
# scope over MATERIALIZED relations (same DuckDB re-planning trap
# host_components documents); the (host, depth) recursion is bounded
# by BFS_MAX_D, which also defines the operator's semantics (depths
# beyond it are out of scope for a budgeted crawl).

BFS_MAX_D = 20
# single-seed rule (host 'h3...'): the synthetic host graph is dense
# (out-degree ~half the hosts), so one seed is what actually exercises
# multi-layer expansion — depth 0/1/2 at gate SFs (diameter 2)
_BFS_SEED_RULE = (
    "CAST(COALESCE(NULLIF(regexp_extract(host, '[0-9]+'{g0}), ''), '0')"
    " AS BIGINT) % 1000 = 3"
)


def _bfs_oracle() -> str:
    return (
        synth.oracle_with("pages")
        + _HOST_EDGES_CTES
        + f"""
, e AS MATERIALIZED (SELECT DISTINCT src_host, dst_host FROM he)
, hosts AS (SELECT src_host AS host FROM e UNION SELECT dst_host FROM e)
, seeds AS MATERIALIZED (
  SELECT host FROM hosts WHERE {_BFS_SEED_RULE.format(g0='')}
)
SELECT b.host, CAST(MIN(b.d) AS BIGINT) AS depth
FROM (
  WITH RECURSIVE bfs(host, d) AS (
    SELECT host, 0 FROM seeds
    UNION
    SELECT e.dst_host, bfs.d + 1
    FROM bfs JOIN e ON e.src_host = bfs.host
    WHERE bfs.d < {BFS_MAX_D}
  )
  SELECT host, d FROM bfs
) b
GROUP BY 1
"""
    )


@register("host_bfs_layers", _bfs_oracle())
def q_host_bfs_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    e = stage(
        spark,
        (session_token(spark), sf_dir, "reach_edges"),
        lambda: _host_edges_df(spark).distinct(),
    )
    hosts = (
        e.select(F.col("src_host").alias("host"))
        .union(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    seeds = hosts.where(F.expr(_BFS_SEED_RULE.format(g0=", 0")))
    visited = cut(seeds.select("host", F.lit(0).cast("long").alias("depth")))
    frontier = visited.select("host")
    d = 0
    while d < BFS_MAX_D:
        nxt, n = cut_count(
            frontier.join(e, frontier.host == e.src_host)
            .select(F.col("dst_host").alias("host"))
            .distinct()
            .join(visited.select("host"), "host", "left_anti"),
            F.lit(True),
        )
        if n == 0:
            break
        d += 1
        visited = cut(
            visited.unionByName(
                nxt.select("host", F.lit(d).cast("long").alias("depth"))
            )
        )
        frontier = nxt.select("host")
    return visited


# ----------------------------------------------------------------------
# label_propagation: synchronous weighted label-propagation community
# detection over the host graph (Raghavan et al. 2007, the synchronous
# deterministic variant) — the community sibling of host_pagerank /
# host_components. Each host starts labeled with itself; each of the
# LPA_ITERS fixed rounds every host adopts the label carrying the
# largest total incident edge weight among its neighbors, ties broken
# by the SMALLEST label (synchronous update: all hosts read the
# previous round's labels, so the result is order-independent and
# exactly reproducible cross-engine — the classic async variant is
# not).
#
# Scale shape: the symmetrized weighted edge list is ONE partial/final
# agg, materialized once per (session, sf); each round is a hash join
# of the bounded (host, label) table into the edge list keyed by the
# neighbor end, a partial/final agg keyed by (host, label), and a
# map-side argmax via max(struct(weight, -label)) — two bounded
# shuffles per round, no windows, no driver-side graph state. The same
# trillion-edge discipline as dedup_components' star contraction.
#
# The oracle is a genuinely different formulation: per-round chained
# CTEs picking the best label with a row_number window (ORDER BY tw
# DESC, lab ASC), not a struct-max.

LPA_ITERS = 4


def _lpa_oracle_chain() -> str:
    """The shared oracle prefix: weighted symmetric edges `w`, hosts,
    and the LPA_ITERS chained rounds ending at r{LPA_ITERS} — reused
    by label_propagation and host_modularity."""
    sql = (
        synth.oracle_with("pages")
        + f"""
, links AS (
  SELECT pid AS src, (page_id * 13 + 7) % {synth.NP} AS dst FROM pages
)
, sym AS (
  SELECT src AS a, dst AS b FROM links
  UNION ALL
  SELECT dst, src FROM links
)
, w AS (SELECT a, b, COUNT(*) AS w FROM sym GROUP BY 1, 2)
, hosts AS (SELECT DISTINCT a AS h FROM w)
, r0 AS (SELECT h, h AS lab FROM hosts)"""
    )
    for i in range(LPA_ITERS):
        sql += f"""
, s{i + 1} AS (
  SELECT w.a AS h, r.lab, SUM(w.w) AS tw
  FROM w JOIN r{i} r ON r.h = w.b
  GROUP BY 1, 2
)
, r{i + 1} AS (
  SELECT h, lab FROM (
    SELECT h, lab,
           ROW_NUMBER() OVER (PARTITION BY h
                              ORDER BY tw DESC, lab ASC) AS rn
    FROM s{i + 1}
  ) t WHERE rn = 1
)"""
    return sql


def _lpa_oracle() -> str:
    return (
        _lpa_oracle_chain()
        + f"""
SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
       CAST(lab AS BIGINT) AS community
FROM r{LPA_ITERS}
"""
    )


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized weighted parcel-graph edges, staged once per
    (session, sf) — shared by label_propagation and host_modularity."""

    def build_sym_edges() -> DataFrame:
        links = spark.table("pages").select(
            F.col("pid").alias("src"),
            ((F.col("page_id") * 13 + 7) % synth.NP).alias("dst"),
        )
        sym = links.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        ).unionAll(links.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        return sym.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))

    return stage(spark, (session_token(spark), sf_dir, "lpa_edges"), build_sym_edges)


def _lpa_labels(ew: DataFrame) -> DataFrame:
    """LPA_ITERS synchronous rounds over the weighted edges; returns
    (h, lab). See the label_propagation block comment for the shape."""
    labels = ew.select(F.col("a").alias("h")).distinct().withColumn(
        "lab", F.col("h").cast("long")
    )
    for _ in range(LPA_ITERS):
        scored = (
            ew.join(labels.withColumnRenamed("h", "b"), "b")
            .groupBy("a", "lab")
            .agg(F.sum("w").alias("tw"))
        )
        # argmax(tw), tie -> min(lab): max over (tw, -lab) needs no window
        labels = (
            scored.groupBy("a")
            .agg(F.max(F.struct(F.col("tw"), (-F.col("lab")).alias("nl"))).alias("m"))
            .select(F.col("a").alias("h"), (-F.col("m.nl")).alias("lab"))
        )
    return labels


@register("label_propagation", _lpa_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    labels = _lpa_labels(_lpa_edges(spark, sf_dir))
    return labels.select(
        synth.host_name(F.col("h")).alias("host"),
        F.col("lab").cast("long").alias("community"),
    )


# ----------------------------------------------------------------------
# host_sssp: multi-source WEIGHTED shortest path over the host graph —
# the weighted sibling of host_bfs_layers (hop-count BFS): Bellman-Ford
# min-plus relaxation from the same seed rule, run to its fixpoint.
# Edge weights are deterministic small ints (1 + (src+dst) % 7) over
# the DISTINCT directed edge set, so distances are exact int64 and the
# min-plus algebra is associative. SSSP_ROUNDS = 8 is the cap the
# oracle unrolls (strictly more rounds than the graph's hop diameter,
# so the K-round result equals the fixpoint on the synth graph —
# asserted by the brute-force pytest running Dijkstra to convergence);
# the engine stops earlier, at the first round that lowers no distance
# and reaches no new host (the third round at sf0.01).
#
# Scale shape: per round ONE hash join of the bounded (host, dist)
# frontier table into the distinct edge list + a partial/final MIN agg
# keyed by dst, unioned with the previous distances and re-minimized —
# two bounded shuffles per round over contracting tables, a
# cut_count() between rounds (the dedup_components discipline) whose
# one job also counts the changed distances; no driver-side graph
# state. The oracle unrolls all K rounds as chained CTEs but
# formulates each as a LEFT JOIN + LEAST over the FULL host set (a
# dense-table formulation, not a frontier one).

SSSP_ROUNDS = 8
_SSSP_SEED_MOD = 50  # hosts with h % 50 == 0 are sources (5 of 250)


def _sssp_oracle() -> str:
    sql = (
        synth.oracle_with("pages")
        + f"""
, e AS (
  SELECT DISTINCT pid AS src, (page_id * 13 + 7) % {synth.NP} AS dst
  FROM pages
)
, ew AS (SELECT src, dst, 1 + (src + dst) % 7 AS wgt FROM e)
, hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM ew UNION ALL SELECT dst FROM ew
  ) u
)
, d0 AS (
  SELECT h, CASE WHEN h % {_SSSP_SEED_MOD} = 0 THEN 0 END AS dist
  FROM hosts
)"""
    )
    for i in range(SSSP_ROUNDS):
        sql += f"""
, d{i + 1} AS (
  SELECT h.h,
         LEAST(COALESCE(d.dist, 9223372036854775807),
               COALESCE(r.relaxed, 9223372036854775807)) AS dist
  FROM hosts h
  LEFT JOIN d{i} d ON d.h = h.h
  LEFT JOIN (
    SELECT ew.dst AS h, MIN(p.dist + ew.wgt) AS relaxed
    FROM ew JOIN d{i} p ON p.h = ew.src AND p.dist IS NOT NULL
    GROUP BY ew.dst
  ) r ON r.h = h.h
)"""
    sql += f"""
SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
       CAST(dist AS BIGINT) AS dist
FROM d{SSSP_ROUNDS}
WHERE dist < 9223372036854775807
"""
    return sql


@register("host_sssp", _sssp_oracle())
def q_host_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)

    def build_weighted_edges() -> DataFrame:
        e = (
            spark.table("pages")
            .select(
                F.col("pid").alias("src"),
                ((F.col("page_id") * 13 + 7) % synth.NP).alias("dst"),
            )
            .distinct()
        )
        return e.withColumn("wgt", 1 + (F.col("src") + F.col("dst")) % 7)

    ew = stage(spark, (session_token(spark), sf_dir, "sssp_edges"), build_weighted_edges)
    hosts = (
        ew.select(F.col("src").alias("h"))
        .unionAll(ew.select(F.col("dst").alias("h")))
        .distinct()
    )
    dist = hosts.where(F.col("h") % _SSSP_SEED_MOD == 0).select(
        "h", F.lit(0).cast("long").alias("dist")
    )
    for i in range(SSSP_ROUNDS):
        if i:
            dist, n = cut_count(
                dist, F.col("old").isNull() | (F.col("dist") < F.col("old"))
            )
            if n == 0:
                break
        relaxed = ew.join(dist.select(F.col("h").alias("src"), "dist"), "src").select(
            F.col("dst").alias("h"),
            (F.col("dist") + F.col("wgt")).alias("d"),
            F.lit(None).cast("long").alias("old"),
        )
        # old: the host's distance before this round (null if unreached)
        dist = (
            dist.select("h", F.col("dist").alias("d"), F.col("dist").alias("old"))
            .unionByName(relaxed)
            .groupBy("h")
            .agg(F.min("d").alias("dist"), F.min("old").alias("old"))
        )
    return dist.select(
        synth.host_name(F.col("h")).alias("host"),
        F.col("dist").cast("long").alias("dist"),
    )


# ----------------------------------------------------------------------
# redirect_resolve: transitive resolution of a redirect (HTTP 301)
# chain by POINTER DOUBLING — the crawl-frontier operator that maps
# every captured page to its terminal canonical target when redirects
# form multi-hop chains. The redirect function is a deterministic
# derivation over the parcel-id space (pid u redirects to
# greatest(0, u - 1 - u%7) unless u % 3 == 0, which is terminal):
# strictly decreasing, so chains are acyclic with worst-case depth
# ~NP. In production the pointer table comes from captured redirect
# headers; the SHAPE is what this query certifies.
#
# Scale shape: the pointer table contracts chains by SUCCESSIVE
# SQUARING — p <- p(p) — so a depth-d chain resolves in ceil(log2 d)
# rounds of ONE self-equi-join each (no per-hop walk: a naive
# follow-one-hop loop is O(d) rounds and at web scale redirect chains
# hit hundreds of hops under canonicalization loops). REDIR_ROUNDS is
# the cap; the engine stops at the first squaring that moves no
# pointer (p(p) = p makes every later squaring the identity — at
# sf0.01 the deepest chain has 3 hops and the third squaring moves
# nothing). The
# pointer table is cut_count() between rounds (lineage doubles per
# squaring; the same job counts the moved pointers). The corpus-scale
# pass is ONE pid agg; the resolved pointer table joins back as a
# broadcast. The oracle walks each chain one hop at a time with a
# recursive CTE — the algorithm-independent formulation.

REDIR_ROUNDS = 8  # 2^8 = 256 >= NP: the cap, bounds the deepest chain


def _redirect_oracle() -> str:
    return (
        synth.oracle_with("pages")
        + f"""
, pidagg AS MATERIALIZED (
  SELECT pid, COUNT(*) AS n_pages FROM pages GROUP BY 1
)
SELECT r.term,
       CAST(COUNT(*) AS BIGINT) AS n_pids,
       CAST(SUM(p.n_pages) AS BIGINT) AS n_pages
FROM (
  WITH RECURSIVE walk(u, cur) AS (
    SELECT pid, pid FROM pidagg
    UNION ALL
    SELECT u, GREATEST(0, cur - 1 - (cur % 7))
    FROM walk WHERE cur % 3 <> 0
  )
  SELECT u, CAST(cur AS BIGINT) AS term FROM walk WHERE cur % 3 = 0
) r
JOIN pidagg p ON p.pid = r.u
GROUP BY 1
"""
    )


@register("redirect_resolve", _redirect_oracle())
def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # pointer table over the full pid domain (tiny dim — NP rows): the
    # intermediate hops of a chain may be pids no page carries, so the
    # function is closed over the domain, not the observed pids.
    ptr = spark.range(synth.NP).select(
        F.col("id").alias("u"),
        F.when(F.col("id") % 3 == 0, F.col("id"))
        .otherwise(F.greatest(F.lit(0), F.col("id") - 1 - (F.col("id") % 7)))
        .alias("v"),
    )
    for i in range(REDIR_ROUNDS):  # successive squaring: p <- p(p)
        if i:
            ptr, n = cut_count(ptr, F.col("v") != F.col("was"))
            if n == 0:
                break
        p2 = ptr.select(F.col("u").alias("m"), F.col("v").alias("w"))
        ptr = ptr.join(p2, ptr.v == p2.m).select(
            "u", F.col("w").alias("v"), F.col("v").alias("was")
        )
    pa = (
        spark.table("pages")
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    return (
        pa.join(F.broadcast(ptr), pa.pid == ptr.u)
        .groupBy(F.col("v").cast("long").alias("term"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pids"),
            F.sum("n_pages").cast("long").alias("n_pages"),
        )
    )


# ----------------------------------------------------------------------
# host_neighbor_jaccard: common-neighbor / Jaccard link prediction over
# the undirected host graph — score non-adjacent host pairs by shared
# neighborhood, the classic crawl-expansion heuristic ("hosts that many
# of the same hosts link to/from are probably related"). Exact integer
# ppm: jacc_ppm = common * 1e6 div (deg(u) + deg(v) - common).
#
# Scale shape: common neighbors are counted by WEDGE enumeration —
# adjacency self-joined on the center — whose fan-out is sum(deg(c)^2),
# quadratic in hub degree. The standard blocking bound (same discipline
# as dedup_ngram_jaccard's rare-gram df<=3 rule): only centers with
# deg <= JACC_DCAP generate wedges, making per-center fan-out bounded
# and the count a documented lower bound on true common-neighbors
# (denominator keeps FULL degrees, so scores are conservative). The
# synth graph is dense (degrees 201-249 at sf0.01), so the cap BINDS at
# gate SF — the oracle certifies the capped semantics, not a no-op.
# Existing edges are excluded by an anti-join; common >= JACC_CMIN
# bounds the output.

JACC_DCAP = 220
JACC_CMIN = 2

_JACC_ORACLE = (
    synth.oracle_with("pages")
    + _TRI_EDGE_CTES
    + f"""
, deg AS (
  SELECT h, COUNT(*) AS d
  FROM (SELECT u AS h FROM und UNION ALL SELECT v FROM und) t
  GROUP BY 1
)
, adj AS (
  SELECT u AS c, v AS x FROM und UNION ALL SELECT v, u FROM und
)
, cadj AS (
  SELECT a.c, a.x FROM adj a JOIN deg ON deg.h = a.c
  WHERE deg.d <= {JACC_DCAP}
)
, wedge AS (
  SELECT a.x AS u, b.x AS v, COUNT(*) AS common
  FROM cadj a JOIN cadj b ON b.c = a.c AND a.x < b.x
  GROUP BY 1, 2
)
, cand AS (
  SELECT w.u, w.v, w.common FROM wedge w
  WHERE w.common >= {JACC_CMIN}
    AND NOT EXISTS (
      SELECT 1 FROM und e WHERE e.u = w.u AND e.v = w.v
    )
)
SELECT c.u, c.v, CAST(c.common AS BIGINT) AS common,
       CAST(c.common * 1000000 // (du.d + dv.d - c.common) AS BIGINT)
         AS jacc_ppm
FROM cand c
JOIN deg du ON du.h = c.u
JOIN deg dv ON dv.h = c.v
"""
)


@register("host_neighbor_jaccard", _JACC_ORACLE)
def q_host_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    und = stage(
        spark,
        (session_token(spark), sf_dir, "jacc_edges"),
        lambda: _und_host_edges(spark),
    )
    return neighbor_jaccard(und, JACC_DCAP, JACC_CMIN)


def neighbor_jaccard(und: DataFrame, dcap: int, cmin: int) -> DataFrame:
    """Capped common-neighbor/Jaccard scores over undirected edges
    (u, v) with u < v — wedge enumeration bounded to centers with
    deg <= dcap (see the host_neighbor_jaccard block comment).
    Property-tested vs an O(n^3) brute force in tests/test_chain_jaccard.py."""
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    adj = und.select(F.col("u").alias("c"), F.col("v").alias("x")).unionAll(
        und.select(F.col("v").alias("c"), F.col("u").alias("x"))
    )
    cadj = adj.join(
        F.broadcast(deg.where(F.col("d") <= dcap).select(F.col("h").alias("c"))),
        "c",
    )
    b = cadj.select(F.col("c"), F.col("x").alias("y"))
    wedge = (
        cadj.join(b, "c")
        .where(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("u"), F.col("y").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= cmin)
    )
    cand = wedge.join(und, ["u", "v"], "left_anti")
    du = deg.select(F.col("h").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("h").alias("v"), F.col("d").alias("dv"))
    return (
        cand.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            F.col("common").cast("long").alias("common"),
            F.expr("common * 1000000 div (du + dv - common)")
            .cast("long")
            .alias("jacc_ppm"),
        )
    )


# ----------------------------------------------------------------------
# host_kcore: k-core decomposition of the STRONG host graph — edges are
# host pairs co-linked at least KCORE_W times (weight-thresholded navs;
# the distinct-edge graph is quasi-regular and its core is
# all-or-nothing, while the weight-thresholded graph is heavy-tailed
# and peels a real cascade). Iterative peeling: drop nodes with
# degree < k, recompute, repeat — the classic "stable community
# skeleton" filter for crawl prioritization.
#
# Scale shape: each peel round is ONE degree agg (partial/final) over a
# SHRINKING edge list + a semi-join of edges against the kept-node set
# (host-dim-sized, broadcast) — the same bounded-shuffle contraction
# discipline as dedup_components; a cut_count() between rounds stops
# the lineage growth and counts the surviving edges in the same job.
# Peeling is inherently O(cascade-depth) rounds; the oracle unrolls
# KCORE_ROUNDS rounds as materialized CTEs and the engine stops at the
# fixpoint (the first round that keeps every edge), with KCORE_ROUNDS
# as its cap. tests/test_chain_jaccard.py asserts the fixpoint lands
# within that cap (5 rounds observed, the fifth keeping every edge),
# so the bounded-round output IS the k-core, certified — not a
# truncation.

KCORE_W = 4   # edge weight (co-link count) threshold
KCORE_K = 9   # core degree threshold
KCORE_ROUNDS = 7  # observed fixpoint depth 5 + margin, assert-gated


def _kcore_oracle() -> str:
    rounds = []
    for i in range(KCORE_ROUNDS):
        prev = f"e{i}"
        rounds.append(f"""
, n{i + 1} AS MATERIALIZED (
  SELECT h FROM (
    SELECT h, COUNT(*) AS d FROM (
      SELECT u AS h FROM {prev} UNION ALL SELECT v FROM {prev}
    ) t GROUP BY 1
  ) d WHERE d >= {KCORE_K}
)
, e{i + 1} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT h FROM n{i + 1}) AND v IN (SELECT h FROM n{i + 1})
)""")
    last = f"e{KCORE_ROUNDS}"
    return (
        synth.oracle_with("pages")
        + _TRI_EDGE_CTES.replace(
            ", und AS (\n  SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v\n  FROM e0 WHERE a <> b\n)",
            "",
        ).replace(
            """, e0 AS (
  SELECT DISTINCT src_host AS a,
         lower(regexp_extract(href, '""",
            """, raw AS (
  SELECT src_host AS a,
         lower(regexp_extract(href, '""",
        )
        + f"""
, e0 AS MATERIALIZED (
  SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
  FROM raw WHERE a <> b
  GROUP BY 1, 2 HAVING COUNT(*) >= {KCORE_W}
)"""
        + "".join(rounds)
        + f"""
SELECT h AS host, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM (SELECT u AS h FROM {last} UNION ALL SELECT v FROM {last}) t
GROUP BY 1
"""
    )


def _strong_host_edges(spark: SparkSession, w: int) -> DataFrame:
    """Undirected host edges (u < v) kept when the pair co-links at
    least w times across the raw navs (weight threshold, not distinct)."""
    pat = '<a href="([^"]+)">'
    tags = spark.table("pages").select(
        F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("a"),
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"), F.lit(pat), F.lit(1)
            )
        ).alias("href"),
    )
    e0 = tags.select(
        "a", F.lower(F.regexp_extract("href", RAW_HOST_RE, 1)).alias("b")
    ).where(F.col("a") != F.col("b"))
    return (
        e0.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= w)
        .select("u", "v")
    )


def kcore_peel(und: DataFrame, k: int, rounds: int) -> DataFrame:
    """Peel the k-core cascade to its fixpoint, at most `rounds` rounds;
    returns (host, core_deg) of the surviving subgraph. Fixpoint-within-
    rounds is asserted in tests/test_chain_jaccard.py."""
    edges, prev = und, None
    for i in range(rounds):
        if i:
            # edges only shrink: an equal count is an equal edge set
            edges, n = cut_count(edges, F.lit(True))
            if n == prev:
                break
            prev = n
        deg = (
            edges.select(F.explode(F.array("u", "v")).alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("h")
        edges = edges.join(
            F.broadcast(keep.withColumnRenamed("h", "u")), "u", "left_semi"
        ).join(
            F.broadcast(keep.withColumnRenamed("h", "v")), "v", "left_semi"
        )
    return (
        edges.select(F.explode(F.array("u", "v")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    )


@register("host_kcore", _kcore_oracle())
def q_host_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    und = stage(
        spark,
        (session_token(spark), sf_dir, "kcore_edges"),
        lambda: _strong_host_edges(spark, KCORE_W),
    )
    return kcore_peel(und, KCORE_K, KCORE_ROUNDS)


# ----------------------------------------------------------------------
# host_assortativity: degree-mixing sufficient statistics of the
# undirected host graph — the EXACT int64 ingredients of Newman's
# degree assortativity coefficient (m, Σ du·dv over edges, Σ(du+dv),
# Σ(du²+dv²)), from which r = (4m·Σdudv − S1²) / (2m·S2 − S1²) is a
# driver-side scalar. Emitting the integer sufficient statistics
# instead of the float coefficient keeps the gate hash-exact
# cross-engine (a float Pearson would be accumulation-order
# sensitive) — the same discipline as events_twa's num/den pair.
#
# Scale shape: one degree agg over the edge list, then the bounded
# host-degree dim broadcasts back onto BOTH edge endpoints, then ONE
# global partial/final agg — the fact-scale pass never shuffles by
# degree. Degrees ≤ |hosts| keep every product well inside int64.

_ASSORT_ORACLE = (
    synth.oracle_with("pages")
    + _TRI_EDGE_CTES
    + """
, deg AS (
  SELECT h, COUNT(*) AS d
  FROM (SELECT u AS h FROM und UNION ALL SELECT v FROM und) t
  GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS m,
       CAST(SUM(du.d * dv.d) AS BIGINT) AS sum_dudv,
       CAST(SUM(du.d + dv.d) AS BIGINT) AS sum_d,
       CAST(SUM(du.d * du.d + dv.d * dv.d) AS BIGINT) AS sum_d2
FROM und e
JOIN deg du ON du.h = e.u
JOIN deg dv ON dv.h = e.v
"""
)


@register("host_assortativity", _ASSORT_ORACLE)
def q_host_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    und = stage(
        spark,
        (session_token(spark), sf_dir, "assort_edges"),
        lambda: _und_host_edges(spark),
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("h").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("h").alias("v"), F.col("d").alias("dv"))
    return (
        und.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum(F.col("du") * F.col("dv")).cast("long").alias("sum_dudv"),
            F.sum(F.col("du") + F.col("dv")).cast("long").alias("sum_d"),
            F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
            .cast("long")
            .alias("sum_d2"),
        )
    )


# ----------------------------------------------------------------------
# host_modularity: per-community modularity sufficient statistics of
# the LPA partition — the exact int64 ingredients (n_hosts, weighted
# volume, within-community weight) of Newman's Q = Σ_c (w_in_c/2m −
# (vol_c/2m)²), the standard "are these communities real" audit run
# right after any community detection. Q itself is a driver-side
# scalar (sufficient-statistics discipline as host_assortativity);
# w_in counts the SYMMETRIC edge list, so each undirected edge
# contributes twice, matching vol's double counting.
#
# Scale shape: the LPA rounds are the bounded-shuffle contraction
# documented at label_propagation (shared staged edges + shared label
# kernel `_lpa_labels`); the audit itself is the bounded (host, lab)
# table broadcast onto BOTH endpoints of the edge list + two
# partial/final aggs. The oracle re-runs the chained-CTE LPA (the
# ROW_NUMBER formulation) and states the stats independently, so the
# gate certifies kernel AND audit cross-engine.

_MOD_ORACLE = (
    _lpa_oracle_chain()
    + f"""
, lab AS (SELECT h, lab FROM r{LPA_ITERS})
, deg AS (
  SELECT a AS h, CAST(SUM(w.w) AS BIGINT) AS d FROM w GROUP BY 1
)
, vols AS (
  SELECT l.lab, COUNT(*) AS n_hosts, CAST(SUM(deg.d) AS BIGINT) AS vol
  FROM lab l JOIN deg ON deg.h = l.h GROUP BY 1
)
, win AS (
  SELECT la.lab, CAST(SUM(w.w) AS BIGINT) AS w_in
  FROM w
  JOIN lab la ON la.h = w.a
  JOIN lab lb ON lb.h = w.b
  WHERE la.lab = lb.lab
  GROUP BY 1
)
SELECT v.lab AS community,
       CAST(v.n_hosts AS BIGINT) AS n_hosts,
       v.vol,
       CAST(COALESCE(wi.w_in, 0) AS BIGINT) AS w_in
FROM vols v LEFT JOIN win wi ON wi.lab = v.lab
"""
)


@register("host_modularity", _MOD_ORACLE)
def q_host_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ew = _lpa_edges(spark, sf_dir)
    # r6: the audit references the label table THREE times (both edge
    # endpoints + the volume rollup) — cut() or the whole LPA_ITERS
    # round chain re-executes per reference (measured: 3.4 s → ~1 s).
    labels = cut(_lpa_labels(ew))
    deg = ew.groupBy(F.col("a").alias("h")).agg(F.sum("w").alias("d"))
    la = labels.select(F.col("h").alias("a"), F.col("lab").alias("la"))
    lb = labels.select(F.col("h").alias("b"), F.col("lab").alias("lb"))
    win = (
        ew.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lab"))
        .agg(F.sum("w").alias("w_in"))
    )
    vols = (
        labels.join(deg, "h")
        .groupBy("lab")
        .agg(
            F.count(F.lit(1)).alias("n_hosts"),
            F.sum("d").alias("vol"),
        )
    )
    return (
        vols.join(win, "lab", "left")
        .select(
            F.col("lab").cast("long").alias("community"),
            F.col("n_hosts").cast("long").alias("n_hosts"),
            F.col("vol").cast("long").alias("vol"),
            F.coalesce(F.col("w_in"), F.lit(0)).cast("long").alias("w_in"),
        )
    )


# ----------------------------------------------------------------------
# host_clustering_coef: local clustering coefficient ingredients per
# host — (degree, triangle count, wedge count) over the undirected
# host link graph; coefficient = n_tri / n_wedges is a driver-side
# division. The community-density signal read next to host_triangles
# and host_modularity: a host with high degree but near-zero closure
# is a directory/aggregator, dense closure marks an organic cluster.
# Hosts with degree 1 (zero wedges) are retained with n_tri = 0 — a
# left join, so the row set is exactly the vertex set.
#
# Scale shape: shares the staged distinct edge list (and its stage
# key) with host_triangles — one corpus-scale parse feeding both; the
# degree agg is edge-bounded, the triangle side reuses the
# degree-oriented enumeration (never hub-quadratic), and the final
# left join runs on the host-bounded relation. The oracle recomputes
# triangles with the algorithm-independent lexicographic three-way
# join.

_CC_ORACLE = (
    synth.oracle_with("pages")
    + _TRI_EDGE_CTES
    + """
, deg AS (
  SELECT h AS host, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT UNNEST([u, v]) AS h FROM und)
  GROUP BY 1
)
, tri AS (
  SELECT x.u AS a, x.v AS b, y.v AS c
  FROM und x
  JOIN und y ON y.u = x.v
  JOIN und z ON z.u = x.u AND z.v = y.v
)
, tric AS (
  SELECT h AS host, CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM (SELECT UNNEST([a, b, c]) AS h FROM tri)
  GROUP BY 1
)
SELECT deg.host, deg.deg,
       COALESCE(tric.n_tri, 0) AS n_tri,
       deg.deg * (deg.deg - 1) // 2 AS n_wedges
FROM deg LEFT JOIN tric ON tric.host = deg.host
"""
)


@register("host_clustering_coef", _CC_ORACLE)
def q_host_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    und = stage(
        spark,
        (session_token(spark), sf_dir, "tri_edges"),  # shared w/ host_triangles
        lambda: _und_host_edges(spark),
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tri = triangle_counts(und).withColumnRenamed("n_tri", "t")
    return (
        deg.join(tri, "host", "left")
        .select(
            "host",
            "deg",
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr("deg * (deg - 1) div 2").alias("n_wedges"),
        )
    )


# ----------------------------------------------------------------------
# host_ppr: personalized PageRank over the same weighted host graph as
# host_pagerank, with teleport mass restricted to a deterministic seed
# set (hosts ≡ 0 mod 50) — the "related to THESE sites" ranking used
# for topical crawl frontier expansion and seed-anchored authority,
# where global PageRank's uniform teleport would wash out the locality.
# Same exact-integer fixed-K scheme: ranks scaled by PR_SCALE, damping
# 850/1000, floor division; seeds start at PR_SCALE, everything else
# at 0, and the (1-d) restart term lands ONLY on seeds each step.
#
# Scale shape: host_pagerank's body (_pagerank) with a seed predicate
# — the same staged edge list, so a sweep running both pays the rollup
# once, and the same propagate() step per iteration. The oracle
# unrolls the same K steps as CTEs — formulation shared, arithmetic
# exact, so the gate certifies every iteration.

PPR_SEED_MOD = 50
PPR_ITERS = 3


def _ppr_oracle() -> str:
    sql = (
        synth.oracle_with("pages")
        + f"""
, links AS (
  SELECT pid AS src, (page_id * 13 + 7) % {synth.NP} AS dst FROM pages
)
, w AS (SELECT src, dst, COUNT(*) AS w FROM links GROUP BY 1, 2)
, outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM w GROUP BY 1)
, hosts AS (
  SELECT DISTINCT h FROM (
    SELECT src AS h FROM w UNION ALL SELECT dst AS h FROM w
  ) u
)
, r0 AS (
  SELECT h, CAST(CASE WHEN h % {PPR_SEED_MOD} = 0
                 THEN {PR_SCALE} ELSE 0 END AS BIGINT) AS r
  FROM hosts
)"""
    )
    for i in range(PPR_ITERS):
        sql += f"""
, r{i + 1} AS (
  SELECT h.h,
         CAST(CASE WHEN h.h % {PPR_SEED_MOD} = 0 THEN {_PR_BASE}
              ELSE 0 END + COALESCE(
           SUM((850 * c.r * c.w) // (1000 * c.ow)), 0) AS BIGINT) AS r
  FROM hosts h
  LEFT JOIN (
    SELECT w.dst AS h, r.r, w.w, o.ow
    FROM w
    JOIN outw o ON o.src = w.src
    JOIN r{i} r ON r.h = w.src
  ) c ON c.h = h.h
  GROUP BY h.h
)"""
    sql += f"""
SELECT 'h' || CAST(h AS VARCHAR) || '.example.com' AS host,
       r AS rank_scaled
FROM r{PPR_ITERS}
"""
    return sql


@register("host_ppr", _ppr_oracle())
def q_host_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pagerank(spark, sf_dir, F.col("h") % PPR_SEED_MOD == 0, PPR_ITERS)


# ----------------------------------------------------------------------
# host_mirror_detect: shared-content host pairs — hosts serving many
# of the SAME page contents (CDN aliases, mirrors, scraped copies),
# the collapse a crawl pipeline runs before per-host quotas. Host
# pairs are generated ONLY through shared text hashes, with a
# document-frequency cap (texts on > MIRROR_DF_CAP hosts are
# boilerplate, not mirror signal — the same rare-content blocking
# discipline as dedup_ngram_jaccard's rare-gram index), and a pair
# survives if its shared-content count is strictly above the mean
# over candidate pairs (distribution-relative, so the rule binds at
# every SF; exact integer comparison n_shared · n_pairs > Σ shared).
#
# Scale shape: corpus → DISTINCT (host, text_md5) partial/final agg;
# the df cap bounds per-text fan-out at C(MIRROR_DF_CAP, 2); pair
# counts are one agg over the blocked pair stream; the mean is a
# 1-row broadcast. Never a host×host join.

MIRROR_DF_CAP = 64

_MIRROR_ORACLE = (
    synth.oracle_with("pages")
    + f"""
, hs AS (
  SELECT DISTINCT lower(regexp_extract(url, '{RAW_HOST_RE}', 1)) AS host,
         md5(text) AS tmd5
  FROM pages
)
, rare AS (
  SELECT tmd5 FROM hs GROUP BY 1
  HAVING COUNT(*) BETWEEN 2 AND {MIRROR_DF_CAP}
)
, hsr AS (SELECT hs.* FROM hs JOIN rare ON rare.tmd5 = hs.tmd5)
, pair AS (
  SELECT a.host AS host_a, b.host AS host_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM hsr a JOIN hsr b ON b.tmd5 = a.tmd5 AND a.host < b.host
  GROUP BY 1, 2
)
SELECT host_a, host_b, n_shared FROM pair
WHERE n_shared * (SELECT COUNT(*) FROM pair)
        > (SELECT SUM(n_shared) FROM pair)
"""
)


@register("host_mirror_detect", _MIRROR_ORACLE)
def q_host_mirror_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    # r6 reshape: ONE corpus agg (collect_set by text hash — the
    # distinct and the df count fuse into it) replaces the r5 chain of
    # corpus distinct → df agg → join-back → tmd5 SELF-JOIN; the i<j
    # host pairs are generated MAP-SIDE from each text's sorted host
    # array (posexplode × suffix slice — string sort order, so pair
    # orientation matches the oracle's host_a < host_b), and the pair
    # agg's map-side combine collapses them to ≤ hosts²/2 rows per task.
    # Fan-out per text is C(df ≤ MIRROR_DF_CAP, 2), unchanged. The tiny
    # pair table is cut() so its own mean statistic does not re-run the
    # corpus chain. Measured sf1.0: 5.9 s → 3.6 s warm, identical rows.
    hpt = (
        spark.table("pages")
        .select(
            F.lower(F.regexp_extract("url", RAW_HOST_RE, 1)).alias("host"),
            F.md5(F.col("text")).alias("tmd5"),
        )
        .groupBy("tmd5")
        .agg(F.sort_array(F.collect_set("host")).alias("hl"))
        .where(F.size("hl").between(2, MIRROR_DF_CAP))
    )
    pr = hpt.select(
        F.posexplode("hl").alias("i", "host_a"), "hl"
    ).select(
        "host_a",
        F.explode(
            F.slice("hl", F.col("i") + F.lit(2), F.size("hl"))
        ).alias("host_b"),
    )
    pair = cut(
        pr.groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    stats = pair.agg(
        F.count(F.lit(1)).alias("np"), F.sum("n_shared").alias("tot")
    )
    return (
        pair.join(F.broadcast(stats))
        .where(F.col("n_shared") * F.col("np") > F.col("tot"))
        .select("host_a", "host_b", "n_shared")
    )
