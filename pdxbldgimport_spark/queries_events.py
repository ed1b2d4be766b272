"""Event-stream batch queries over the driver `events` table: tumbling
time-window rollups, gap-based sessionization, and JSON props
extraction. The reference has no time-series ops (SURVEY.md §2.9) —
this family extends the engine's API to the webtext world's temporal
side (warc_ts-style timestamps) with cross-engine-exact outputs
(quantized integer sums; no float accumulation order sensitivity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, Window as Wnd

from .operators.propagate import propagate
from .queries import register, views
from .streaming.gate import gate, sentinel_dump

SESSION_GAP_S = 600  # 10-minute inactivity splits a session

# GATE-ONLY plumbing (streaming/gate.py): the events dump shared by the
# two streamed gates below and by bench.py's streaming drain. The
# sentinel (fake user -1, fake event_type) lands far enough past the last
# event to close every real session (last + gap) and window (end +
# watermark).
_SENTINEL_TYPE = "zz_watermark_sentinel"
_SENTINEL_MARGIN_S = 4 * 3600  # > max(10*gap, window + watermark)


def _events_dump(spark: SparkSession, sf_dir: str) -> str:
    """The events table as streaming arrival files (+ sentinel); returns
    the src glob."""
    return sentinel_dump(
        spark, sf_dir, "events", "ts",
        {"event_id": 10**9, "user_id": -1, "event_type": _SENTINEL_TYPE,
         "value": 0.0},
        _SENTINEL_MARGIN_S,
    )


# Tumbling 1-hour windows per event_type: count + value sum in integer
# cents (SUM of floats is order-sensitive across engines; quantize first).
@register(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100e0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").start.alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(100.0)).cast("long")).alias(
                "value_cents"
            ),
        )
    )


# Gap-based sessionization: per user, a new session starts when the gap
# to the previous event exceeds SESSION_GAP_S (lag + running sum — the
# W-series window machinery generalized to time). The same oracle gates
# the batch query AND the streamed twin below.
_SESSIONS_ORACLE = f"""
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_S} * 1000000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_no
      FROM gaps
    )
    SELECT user_id, session_no, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sess GROUP BY user_id, session_no
    """


@register("events_sessions", _SESSIONS_ORACLE)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events")
    w = Wnd.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gaps: whole-second casts would disagree with the
    # oracle on gaps within 1 s of the threshold
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # parquet gives NTZ
    gap = us - F.lag(us).over(w)
    is_start = F.when(gap.isNull() | (gap > SESSION_GAP_S * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("is_start", is_start).withColumn(
        "session_no", F.sum("is_start").over(w)
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# §2.9 under the driver gate: the STREAMED sessionizer (stateful
# applyInPandasWithState, streaming/sessions.py) drained over the same
# events and hash-checked against the batch window query's oracle. The
# shared partitioned dump + sentinel (see _events_dump) drains in ONE
# data batch (order-insensitive) plus the watermark-flush batch; the
# multi-batch / restart / late-data semantics are pytest-covered
# (tests/test_streaming_sessions.py). The streamed (start, end, count)
# tuples are re-keyed to the batch schema's per-user session_no by
# start order; the sentinel user is dropped.
@register("events_sessions_streamed", _SESSIONS_ORACLE)
def q_events_sessions_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import sessions as SS

    views(spark, sf_dir)
    streamed = gate(
        spark, SS.stream_sessions, _events_dump(spark, sf_dir),
        "event_id long, ts timestamp_ntz, user_id long",
        F.col("user_id") >= 0,
    )
    w = Wnd.partitionBy("user_id").orderBy("session_start_us")
    return streamed.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_no"),
        F.col("n_events"),
        F.timestamp_micros(F.col("session_start_us"))
        .cast("timestamp_ntz").alias("session_start"),
        F.timestamp_micros(F.col("session_end_us"))
        .cast("timestamp_ntz").alias("session_end"),
    )


# The watermarked built-in windowed aggregation under the driver gate:
# the shared dump's far-future sentinel advances the event-time
# watermark past every real window's end, so append mode finalizes and
# emits them all; the sentinel's own window stays open (the watermark
# halts 1 h short of it) and never appears. The drained parquet is
# hash-checked against the batch `events_hourly` oracle — the
# built-in-window twin of the stateful-sessionizer gate above.
@register(
    "events_hourly_streamed",
    """
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100e0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming import windows as SW

    views(spark, sf_dir)
    drained = gate(
        spark, SW.stream_hourly_counts, _events_dump(spark, sf_dir),
        "ts timestamp_ntz, event_type string, value double",
        F.col("event_type") != _SENTINEL_TYPE,
    )
    return drained.select(
        F.col("hour_start").cast("timestamp_ntz").alias("hour_start"),
        "event_type",
        "n_events",
        "value_cents",
    )


# ----------------------------------------------------------------------
# As-of join — the canonical temporal operator Spark lacks natively:
# each 'click' event is matched to the same user's most recent
# strictly-prior 'view' (prior under the total order (ts, event_id), so
# ties are pinned cross-engine). Spark-first shape: ONE shuffle by
# user_id, then last(view, ignoreNulls) over a rows-frame ending at the
# preceding row — no per-pair join, no pandas merge_asof crossing; at
# 100 TB the cost is the same single user-keyed exchange the
# sessionizer already pays, with per-user skew bounded by per-user
# event counts. The oracle is a genuinely different formulation
# (LEFT JOIN LATERAL top-1 lookback) so the window algebra is checked,
# not mirrored.
@register(
    "events_asof_join",
    """
    SELECT c.event_id AS click_id, c.user_id, v.view_id,
           epoch_us(c.ts) - v.vus AS gap_us
    FROM events c LEFT JOIN LATERAL (
      SELECT v.event_id AS view_id, epoch_us(v.ts) AS vus
      FROM events v
      WHERE v.user_id = c.user_id AND v.event_type = 'view'
        AND (v.ts < c.ts OR (v.ts = c.ts AND v.event_id < c.event_id))
      ORDER BY v.ts DESC, v.event_id DESC LIMIT 1
    ) v ON TRUE
    WHERE c.event_type = 'click'
    """,
)
def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", "event_id", us.alias("us"), "event_type"
    )
    w = (
        Wnd.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Wnd.unboundedPreceding, -1)
    )
    view_struct = F.when(
        F.col("event_type") == "view",
        F.struct(F.col("us").alias("vus"), F.col("event_id").alias("view_id")),
    )
    return (
        base.withColumn("prior_view", F.last(view_struct, ignorenulls=True).over(w))
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("prior_view.view_id").alias("view_id"),
            (F.col("us") - F.col("prior_view.vus")).alias("gap_us"),
        )
    )


# ----------------------------------------------------------------------
# Range (interval) join — the other operator the round instructions
# name: per 'error' event, aggregate the view/click events landing in
# [error_ts, error_ts + RANGE_WINDOW_S). A range-only predicate plans
# as BroadcastNestedLoopJoin in Spark — quadratic at scale — so the
# engine quantizes time into buckets of exactly the window width: each
# error registers in its bucket and the next (a fixed-width interval
# touches at most 2), probes equi-join on their single bucket, and the
# exact predicate refines the candidates. One shuffle on the bucket
# key, candidate fan-out bounded by events-per-2-buckets; plan-guarded
# against the nested-loop shape. Value sums are quantized to integer
# cents (float SUM is order-sensitive cross-engine).
RANGE_WINDOW_S = 300


@register(
    "events_range_join",
    f"""
    SELECT e.event_id AS error_id,
           COUNT(x.ts) AS n_hits,
           CAST(COALESCE(SUM(CAST(ROUND(x.value * 100) AS BIGINT)), 0) AS BIGINT)
             AS cents_sum
    FROM events e LEFT JOIN events x
      ON x.event_type IN ('view', 'click')
     AND epoch_us(x.ts) >= epoch_us(e.ts)
     AND epoch_us(x.ts) < epoch_us(e.ts) + {RANGE_WINDOW_S} * 1000000
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
)
def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    wus = RANGE_WINDOW_S * 1_000_000
    ev = spark.table("events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), us.alias("eus")
    )
    probes = ev.where(F.col("event_type").isin("view", "click")).select(
        us.alias("xus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # integer bucket math (`div`) — float division can misplace exact
    # bucket-boundary timestamps
    e2 = errors.withColumn(
        "bucket",
        F.explode(
            F.array(F.expr(f"eus div {wus}"), F.expr(f"eus div {wus}") + 1)
        ),
    )
    p2 = probes.withColumn("bucket", F.expr(f"xus div {wus}"))
    hits = (
        e2.join(p2, "bucket")
        .where((F.col("xus") >= F.col("eus")) & (F.col("xus") < F.col("eus") + wus))
        .groupBy("error_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.sum("cents").alias("cents_sum"),
        )
    )
    return errors.select("error_id").join(hits, "error_id", "left").select(
        "error_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.coalesce("cents_sum", F.lit(0)).alias("cents_sum"),
    )


# JSON props extraction (scalar-function coverage over semi-structured
# payloads): props is a JSON string; pull k as an integer.
@register(
    "events_props",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        spark.table("events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("k_sum"),
            F.max(k).alias("k_max"),
        )
    )


# ----------------------------------------------------------------------
# events_funnel: ordered multi-step conversion funnel (view → click →
# purchase). Step N counts users whose FIRST step-N event occurs at or
# after their first qualifying step-(N-1) event — the sequential
# semantics product analytics tools call a "strict-order funnel" (the
# reference has no temporal ops; this extends the engine's events
# family alongside events_sessions / events_asof_join).
#
# Scale shape: each step is one user-keyed partial/final MIN agg plus
# one user-keyed hash join against the (shrinking) survivor set of the
# previous step — every stage is keyed by user_id, so on a real cluster
# the three aggs and two joins reuse one hashpartitioning(user_id)
# exchange; there is no window, no collect, no Python. Lag sums are
# exact integer microseconds (no float accumulation).
_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts >= s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
  GROUP BY e.user_id
)
SELECT 1 AS step, 'view' AS event_type, COUNT(*) AS n_users,
       CAST(0 AS BIGINT) AS lag_us_sum FROM s1
UNION ALL
SELECT 2, 'click', COUNT(*),
       CAST(COALESCE(SUM(epoch_us(s2.t2) - epoch_us(s1.t1)), 0) AS BIGINT)
FROM s2 JOIN s1 ON s2.user_id = s1.user_id
UNION ALL
SELECT 3, 'purchase', COUNT(*),
       CAST(COALESCE(SUM(epoch_us(s3.t3) - epoch_us(s2.t2)), 0) AS BIGINT)
FROM s3 JOIN s2 ON s3.user_id = s2.user_id
"""


@register("events_funnel", _FUNNEL_ORACLE)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events").select("user_id", "event_type", "ts")

    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2.select("user_id", "t2"), "user_id")
        .where(F.col("ts") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t2").alias("t2"))
    )

    def _row(df: DataFrame, step: int, etype: str, lag) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.coalesce(F.sum(lag), F.lit(0)).cast("long").alias("lag_us_sum"),
        ).select(
            F.lit(step).alias("step"),
            F.lit(etype).alias("event_type"),
            "n_users",
            "lag_us_sum",
        )

    def _us(col: str):  # parquet ts is NTZ; session tz is pinned UTC
        return F.unix_micros(F.col(col).cast("timestamp"))

    zero = F.lit(0).cast("long")
    out1 = _row(s1, 1, "view", zero)
    out2 = _row(s2, 2, "click", _us("t2") - _us("t1"))
    out3 = _row(s3, 3, "purchase", _us("t3") - _us("t2"))
    return out1.unionByName(out2).unionByName(out3)


# ----------------------------------------------------------------------
# events_retention: weekly cohort retention — cohort = Monday-truncated
# week of a user's first event; a (cohort_week, week_offset) cell counts
# the cohort's users active in that later week. The standard retention
# triangle behind "day/week-N retention" dashboards.
#
# Scale shape: one user-keyed MIN agg (cohort assignment), one
# (user, week) DISTINCT contraction of the event stream, one user-keyed
# hash join between the two contractions (both already user-partitioned
# — on a cluster the join reuses the agg exchanges), and one final
# grid-bounded agg (cohorts × offsets rows). week_offset is exact:
# both engines truncate to Monday, so the day difference is a multiple
# of 7 and divides exactly.
_RETENTION_ORACLE = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start
  FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                      CAST(a.week_start AS DATE)) / 7 AS BIGINT)
         AS week_offset,
       COUNT(*) AS n_users
FROM active a JOIN first f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


@register("events_retention", _RETENTION_ORACLE)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events").select("user_id", "ts")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week_start")
    ).distinct()
    offset = (
        F.datediff(F.to_date("week_start"), F.to_date("cohort_week")) / 7
    ).cast("long")
    return (
        active.join(first, "user_id")
        .groupBy("cohort_week", offset.alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ----------------------------------------------------------------------
# events_transitions: the session-scoped Markov transition matrix of
# the event stream — (src event_type → next event_type) counts plus the
# exact integer-µs dwell-time sum, counting only consecutive pairs
# within SESSION_GAP_S (the same inactivity rule as events_sessions, so
# "transition" never spans a session boundary). The input to funnel
# discovery / next-action models, complementing events_funnel's fixed
# 3-step path with the full data-derived graph.
#
# Scale shape: ONE user-keyed exchange feeds a LEAD window partitioned
# by user_id (high-cardinality key — parallel, skew-safe; the per-user
# sort is bounded by per-user event counts), then the stream contracts
# straight to the event_type × event_type grid via a partial/final hash
# agg — map-side combine makes the post-window shuffle carry at most
# |types|² rows per task. Ordering ties pinned by event_id; sums are
# exact integer microseconds.
_TRANSITIONS_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER w AS dst,
         LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS src, dst, COUNT(*) AS n_trans,
       CAST(SUM(gap_us) AS BIGINT) AS gap_us_sum
FROM seq
WHERE dst IS NOT NULL AND gap_us <= {SESSION_GAP_S} * 1000000
GROUP BY 1, 2
"""


@register("events_transitions", _TRANSITIONS_ORACLE)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    w = Wnd.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = spark.table("events").select(
        "user_id",
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        (F.lead(us).over(w) - us).alias("gap_us"),
    )
    return (
        seq.where(
            F.col("dst").isNotNull()
            & (F.col("gap_us") <= SESSION_GAP_S * 1_000_000)
        )
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("gap_us").cast("long").alias("gap_us_sum"),
        )
    )


# ----------------------------------------------------------------------
# events_anomaly: hourly volume anomalies per event_type — hours whose
# event count deviates from that type's mean by more than 3σ (the
# ops-observability "traffic spike/drop" detector). Entirely in exact
# integer arithmetic: with n hours, S = Σc, Q = Σc², hour c is anomalous
# iff (n·c − S)² > 9·(n·Q − S²) — the 3σ rule cleared of divisions, so
# both engines compare identical int64/int128-free quantities (bounds:
# c ≤ 10^12/n_hours keeps (n·c)² inside int64 for any realistic grid;
# DECIMAL(38,0) on the oracle side for the same reason).
#
# Scale shape: ONE corpus partial/final agg to the (event_type, hour)
# grid (bounded: types × hours, corpus-size-independent); the per-type
# moments are an agg OF that grid; the flag is a broadcast join back
# onto the grid — the corpus is touched exactly once.
_ANOMALY_ORACLE = """
WITH grid AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
mom AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(c) AS s, SUM(c * c) AS q
  FROM grid GROUP BY 1
)
SELECT g.event_type, g.hr, g.c
FROM grid g JOIN mom m ON g.event_type = m.event_type
WHERE CAST((m.n * g.c - m.s) AS DECIMAL(38, 0))
      * CAST((m.n * g.c - m.s) AS DECIMAL(38, 0))
      > 9 * (CAST(m.n AS DECIMAL(38, 0)) * m.q
             - CAST(m.s AS DECIMAL(38, 0)) * m.s)
"""


@register("events_anomaly", _ANOMALY_ORACLE)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    grid = (
        spark.table("events")
        .groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hr")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mom = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    dev = (F.col("n") * F.col("c") - F.col("s")).cast("decimal(38,0)")
    spread = (
        F.col("n").cast("decimal(38,0)") * F.col("q")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    return (
        grid.join(F.broadcast(mom), "event_type")
        .where(dev * dev > F.lit(9) * spread)
        .select("event_type", "hr", "c")
    )


# ----------------------------------------------------------------------
# events_downsample: OHLC-style per (event_type, hour) downsampling —
# open/close are the first/last event's value in the bucket (total order
# ts, event_id), lo/hi the extremes, plus count and quantized volume.
# The time-series "resample to dashboard resolution" primitive.
#
# Scale shape: ONE partial/final aggregation over the corpus — the
# first/last selections ride min(struct(us, event_id, cents)) /
# max(struct(...)), which are map-side combinable (each partition keeps
# one candidate struct per group), so there is NO per-group window and
# NO second pass; output is grid-bounded (types × hours). Struct
# min/max buffers aren't fixed-width, so Spark plans SortAggregate
# rather than HashAggregate — still partial+final around a single
# grid-keyed exchange (the per-partition sort is on the bounded grid
# keys, not a global sort; guarded in tests/test_plans.py). Values are
# half-up-quantized to integer cents before aggregation so open/close/
# lo/hi/volume are cross-engine exact (no float accumulation order).
# Oracle formulation is deliberately different: ROW_NUMBER windows pick
# the endpoints.
_DOWNSAMPLE_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         epoch_us(ts) AS us, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, hr
                            ORDER BY us, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY event_type, hr
                            ORDER BY us DESC, event_id DESC) AS rd
  FROM e
)
SELECT event_type, hr,
       MIN(CASE WHEN ra = 1 THEN cents END) AS open_cents,
       MIN(CASE WHEN rd = 1 THEN cents END) AS close_cents,
       MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS vol_cents
FROM r GROUP BY 1, 2
"""


@register("events_downsample", _DOWNSAMPLE_ORACLE)
def q_events_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    e = spark.table("events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        us.alias("us"),
        "event_id",
        cents.alias("cents"),
    )
    # struct order (us, event_id, cents): event_id is unique, so the
    # trailing cents never decides — min/max(struct) == the oracle's
    # ROW_NUMBER endpoints, but partial-aggregatable.
    first = F.min(F.struct("us", "event_id", "cents"))
    last = F.max(F.struct("us", "event_id", "cents"))
    return e.groupBy("event_type", "hr").agg(
        first.getField("cents").alias("open_cents"),
        last.getField("cents").alias("close_cents"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("vol_cents"),
    )


# ----------------------------------------------------------------------
# session_path_topk: the K most common session paths — each session's
# ordered event_type sequence joined with '>' (the product-analytics
# "top user journeys" query). Sessions are the SAME gap rule as
# events_sessions (one definition of a session across the family).
#
# Scale shape: the session numbering is the user-keyed window (bounded
# per user); the path build is ONE hash agg per (user, session) whose
# state is the session's own events (bounded by the gap rule — a
# session is a burst, not the corpus): array_sort(collect_list(struct))
# sorts WITHIN one group's collected array, map-side combinable, no
# second window. The final top-K is a grid-bounded count agg +
# TakeOrderedAndProject (per-partition heaps; no global sort). Ties
# pinned by path text so the cut is deterministic.
K_PATHS = 20

_PATH_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                   > {SESSION_GAP_S} * 1000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, event_type, us,
         SUM(is_start) OVER (PARTITION BY user_id
                             ORDER BY us, event_id) AS session_no
  FROM gaps
), paths AS (
  SELECT user_id, session_no,
         string_agg(event_type, '>' ORDER BY us, event_id) AS path
  FROM sess GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path LIMIT {K_PATHS}
"""


@register("session_path_topk", _PATH_ORACLE)
def q_session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events")
    w = Wnd.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_start = F.when(
        gap.isNull() | (gap > SESSION_GAP_S * 1_000_000), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("us", us)
        .withColumn("session_no", F.sum(is_start).over(w))
        .select("user_id", "session_no", "us", "event_id", "event_type")
    )
    paths = sess.groupBy("user_id", "session_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("us", "event_id", "event_type"))
                ),
                lambda x: x.getField("event_type"),
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(K_PATHS)
    )


# ----------------------------------------------------------------------
# events_value_quantiles: exact per-type value percentiles (p50/p90/p99)
# — the latency/value distribution rollup, computed EXACTLY (no
# approx_percentile, whose sketch differs engine-to-engine) over the
# integer-cents domain. Definition: pK = smallest cents with
# 100·cum ≥ K·n (the classic "lower" quantile), pinned and identical in
# both engines.
#
# Scale shape: the corpus contracts ONCE to the (event_type, cents)
# histogram (bounded by the value domain, not the corpus — same
# discipline as doclen_quantiles, here per group); the cumulative sum
# is a window over that bounded histogram partitioned by type; the
# quantile picks are ONE conditional-min agg per type. No corpus
# window, no sort of raw events.
_VQ_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), g AS (
  SELECT event_type, cents, COUNT(*) AS n FROM e GROUP BY 1, 2
), c AS (
  SELECT event_type, cents, n,
         CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY cents)
              AS BIGINT) AS cum
  FROM g
), t AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS ntot FROM g GROUP BY 1
)
SELECT c.event_type,
       MIN(CASE WHEN 100 * cum >= 50 * ntot THEN cents END) AS p50_cents,
       MIN(CASE WHEN 100 * cum >= 90 * ntot THEN cents END) AS p90_cents,
       MIN(CASE WHEN 100 * cum >= 99 * ntot THEN cents END) AS p99_cents,
       MIN(ntot) AS n_events
FROM c JOIN t USING (event_type) GROUP BY 1
"""


@register("events_value_quantiles", _VQ_ORACLE)
def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    g = (
        spark.table("events")
        .groupBy("event_type", cents.alias("cents"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Wnd.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Wnd.unboundedPreceding, 0)
    )
    c = g.withColumn("cum", F.sum("n").over(w))
    t = g.groupBy("event_type").agg(F.sum("n").alias("ntot"))

    def pick(k: int, name: str):
        return F.min(
            F.when(100 * F.col("cum") >= k * F.col("ntot"), F.col("cents"))
        ).alias(name)

    return (
        c.join(F.broadcast(t), "event_type")
        .groupBy("event_type")
        .agg(
            pick(50, "p50_cents"),
            pick(90, "p90_cents"),
            pick(99, "p99_cents"),
            F.min("ntot").alias("n_events"),
        )
    )


# ----------------------------------------------------------------------
# type_cooccurrence: event-type co-visitation — for every unordered type
# pair, how many users did BOTH (the recsys/product "also does" matrix,
# here over the bounded event-type vocabulary). Scale shape: ONE
# distinct contraction to (user, type) — bounded at users × types —
# then a user-keyed self-join whose per-user fan-out is at most
# C(types_per_user, 2) (type vocabulary is small and fixed), and a
# final grid-bounded count agg. The corpus is touched once.
_COOC_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS n_users
FROM ut a JOIN ut b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
"""


@register("type_cooccurrence", _COOC_ORACLE)
def q_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ut = spark.table("events").select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ----------------------------------------------------------------------
# events_rate_flags: sliding-window rate limiting — per event, the
# count of the same user's events in the trailing RATE_WINDOW_S
# seconds (value-based RANGE frame, so simultaneous events share one
# frame in both engines), flagged when it exceeds RATE_K (the abuse /
# scraper-throttle primitive).
#
# Scale shape: ONE user-keyed exchange feeding a RANGE-frame window —
# the frame is value-bounded (a day of one user's events), never the
# corpus; identical discipline to events_asof_join's single exchange.
# Microsecond-integer ordering keeps the frame edge exact cross-engine.
RATE_WINDOW_S = 86400
RATE_K = 5

_RATE_ORACLE = f"""
WITH w AS (
  SELECT event_id,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                        RANGE BETWEEN {RATE_WINDOW_S * 1000000} PRECEDING
                        AND CURRENT ROW) AS n_win
  FROM events
)
SELECT event_id, CAST(n_win AS BIGINT) AS n_win,
       CAST(CASE WHEN n_win > {RATE_K} THEN 1 ELSE 0 END AS BIGINT)
         AS flagged
FROM w
"""


@register("events_rate_flags", _RATE_ORACLE)
def q_events_rate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Wnd.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-RATE_WINDOW_S * 1_000_000, 0)
    )
    return spark.table("events").select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_win"),
    ).select(
        "event_id",
        "n_win",
        (F.col("n_win") > RATE_K).cast("long").alias("flagged"),
    )


# ----------------------------------------------------------------------
# events_dau_wau: daily/weekly active users — per calendar day (integer
# epoch-day index, exact cross-engine), the distinct users active that
# day (DAU) and in the trailing 7-day window (WAU). The growth-
# dashboard staple, computed EXACTLY without approx sketches.
#
# Scale shape: corpus → (day, user) distinct is the one big
# contraction; DAU is a grid-bounded agg of it. WAU avoids a distinct-
# per-sliding-window pass via the standard contribution explode: each
# (day, user) row contributes to exactly 7 target days (bounded
# fan-out), then ONE distinct + agg on (target_day, user). No window
# over the corpus, no per-day re-scan.
_DAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT epoch_us(ts) // 86400000000 AS dd, user_id FROM events
), dau AS (
  SELECT dd, COUNT(*) AS dau FROM du GROUP BY 1
), contrib AS (
  SELECT DISTINCT t.td, du.user_id
  FROM du, UNNEST(generate_series(du.dd, du.dd + 6)) AS t(td)
), wau AS (
  SELECT td AS dd, COUNT(*) AS wau FROM contrib GROUP BY 1
)
SELECT CAST(dau.dd AS BIGINT) AS day_idx, dau.dau, wau.wau
FROM dau JOIN wau ON dau.dd = wau.dd
"""


@register("events_dau_wau", _DAU_ORACLE)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    du = (
        spark.table("events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 86400000000"
            ).alias("dd"),
            "user_id",
        )
        .distinct()
    )
    dau = du.groupBy("dd").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        du.select(
            F.explode(F.sequence(F.col("dd"), F.col("dd") + 6)).alias("td"),
            "user_id",
        )
        .distinct()
    )
    wau = contrib.groupBy(F.col("td").alias("dd")).agg(
        F.count(F.lit(1)).alias("wau")
    )
    return (
        dau.join(wau, "dd")
        .select(F.col("dd").cast("long").alias("day_idx"), "dau", "wau")
    )


# ----------------------------------------------------------------------
# events_gap_fill: hypertable-style gap-fill + LOCF (last observation
# carried forward) — per user, an hourly grid spanning [first, last]
# event hour, each grid point carrying the user's most recent event at
# or before it (TimescaleDB's time_bucket_gapfill + locf, the resample
# primitive dashboards and feature pipelines run over sparse event
# streams). Grid points before the user's first event stay NULL in
# both engines.
#
# Scale shape: ONE user-keyed exchange — the grid rows (bounded by the
# retention window's hours-per-user, never the corpus) are unioned with
# the events and a single rows-frame last(ignoreNulls) window carries
# values forward; ties at a grid boundary are pinned by sorting real
# events before the grid row at the same microsecond and by event_id
# among events. The oracle is the genuinely different LATERAL-top-1
# lookback formulation, so the window algebra is checked, not mirrored.
# Values are half-up integer cents (no float accumulation).
@register(
    "events_gap_fill",
    """
    WITH b AS (
      SELECT user_id, date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM events GROUP BY 1
    ), g AS (
      SELECT user_id,
             UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      FROM b
    )
    SELECT g.user_id, g.hr, l.cents AS last_cents,
           l.event_id AS last_event_id
    FROM g LEFT JOIN LATERAL (
      SELECT CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS cents,
             e.event_id
      FROM events e
      WHERE e.user_id = g.user_id AND e.ts <= g.hr
      ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
    ) l ON TRUE
    """,
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    obs = ev.select(
        "user_id",
        us.alias("us"),
        F.lit(0).alias("is_grid"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.lit(None).cast("timestamp_ntz").alias("hr"),
    )
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("hour", F.min("ts")).alias("h0"),
            F.date_trunc("hour", F.max("ts")).alias("h1"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("hr").cast("timestamp")).alias("us"),
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("long").alias("cents"),
            F.col("hr").cast("timestamp_ntz").alias("hr"),
        )
    )
    w = (
        Wnd.partitionBy("user_id")
        .orderBy("us", "is_grid", "event_id")
        .rowsBetween(Wnd.unboundedPreceding, 0)
    )
    carried = F.last(
        F.when(
            F.col("is_grid") == 0,
            F.struct(F.col("cents"), F.col("event_id")),
        ),
        ignorenulls=True,
    ).over(w)
    return (
        obs.unionByName(grid)
        .withColumn("c", carried)
        .where(F.col("is_grid") == 1)
        .select(
            "user_id",
            "hr",
            F.col("c.cents").alias("last_cents"),
            F.col("c.event_id").alias("last_event_id"),
        )
    )


# ----------------------------------------------------------------------
# sessions_concurrency: peak concurrent sessions per hour — the
# capacity-planning sweep-line (+1 at session start, -1 just after
# session end, running sum, max per hour), over the SAME gap-rule
# sessions as events_sessions. A naive sweep is one global ordered
# window — serial at scale — so the engine runs the distributed
# segmented-scan form: running sums are computed WITHIN each hour
# bucket (parallel, bounded by that hour's deltas), per-hour net
# changes contract to the bounded hour grid, the cross-hour carry is a
# prefix sum over THAT grid (the only single-partition window touches
# ≤|hours| rows, same discipline as global_rank's bucket offsets), and
# peak(h) = carry(h) + max(local run). Tie order at one microsecond is
# pinned by delta ascending (-1 before +1: back-to-back sessions never
# overlap); the per-hour MAX is invariant to intra-tie order since tied
# rows carry equal deltas. The oracle is the serial global sweep — a
# genuinely different formulation. All integers.
_CONCURRENCY_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                   > {SESSION_GAP_S} * 1000000
              OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts,
         SUM(is_start) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS session_no
  FROM gaps
), s2 AS (
  SELECT user_id, session_no,
         epoch_us(MIN(ts)) AS st_us, epoch_us(MAX(ts)) AS en_us
  FROM sess GROUP BY 1, 2
), d AS (
  SELECT st_us AS us, 1 AS delta FROM s2
  UNION ALL
  SELECT en_us + 1, -1 FROM s2
), r AS (
  SELECT us, delta,
         SUM(delta) OVER (ORDER BY us, delta
                          ROWS UNBOUNDED PRECEDING) AS run
  FROM d
)
SELECT CAST(us // 3600000000 AS BIGINT) AS hour_idx,
       CAST(MAX(run) AS BIGINT) AS peak,
       COUNT(*) AS n_deltas
FROM r GROUP BY 1
"""


@register("sessions_concurrency", _CONCURRENCY_ORACLE)
def q_sessions_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events")
    w = Wnd.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    is_start = F.when(
        gap.isNull() | (gap > SESSION_GAP_S * 1_000_000), 1
    ).otherwise(0)
    sess = (
        ev.withColumn("us", us)
        .withColumn("session_no", F.sum(is_start).over(w))
        .groupBy("user_id", "session_no")
        .agg(F.min("us").alias("st_us"), F.max("us").alias("en_us"))
    )
    hour_us = 3_600_000_000
    deltas = sess.select(
        F.col("st_us").alias("us"), F.lit(1).alias("delta")
    ).unionAll(
        sess.select((F.col("en_us") + 1).alias("us"), F.lit(-1).alias("delta"))
    ).withColumn("hr", F.expr(f"us div {hour_us}"))
    w_in = (
        Wnd.partitionBy("hr")
        .orderBy("us", "delta")
        .rowsBetween(Wnd.unboundedPreceding, 0)
    )
    local = deltas.withColumn("run", F.sum("delta").over(w_in))
    per_hr = local.groupBy("hr").agg(
        F.max("run").alias("lmax"),
        F.sum("delta").alias("net"),
        F.count(F.lit(1)).alias("n_deltas"),
    )
    # cross-hour carry: prefix sum over the BOUNDED hour grid only
    w_h = (
        Wnd.partitionBy(F.lit(1))
        .orderBy("hr")
        .rowsBetween(Wnd.unboundedPreceding, -1)
    )
    return per_hr.select(
        F.col("hr").alias("hour_idx"),
        (
            F.coalesce(F.sum("net").over(w_h), F.lit(0)) + F.col("lmax")
        ).cast("long").alias("peak"),
        "n_deltas",
    )


# ----------------------------------------------------------------------
# events_twa: per-user time-weighted value integral — the
# irregular-sampling analytics shape (billing meters, telemetry gauges:
# each reading holds until the next one). Emits the exact integer
# numerator/denominator pair (Σ cents·Δt_µs, Σ Δt_µs) instead of the
# float quotient: both are int64 SUMs, order-independent and
# hash-stable; the caller divides. The last reading of each user has no
# successor and contributes nothing (standard left-closed TWA).
#
# Scale shape: ONE user-keyed exchange shared by the lead() window and
# the partial/final agg (same single-Exchange discipline as
# events_asof_join); no join, no Python.

_TWA_ORACLE = """
WITH q AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS us,
         CAST(FLOOR(value * 100e0) AS BIGINT) AS cents
  FROM events
), d AS (
  SELECT user_id, cents,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
           AS dt_us
  FROM q
)
SELECT user_id,
       CAST(COALESCE(SUM(cents * dt_us), 0) AS BIGINT) AS twa_num,
       CAST(COALESCE(SUM(dt_us), 0) AS BIGINT) AS twa_den_us,
       COUNT(*) AS n_events
FROM d GROUP BY user_id
"""


@register("events_twa", _TWA_ORACLE)
def q_events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    q = spark.table("events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 100.0).cast("long").alias("cents"),
    )
    w = Wnd.partitionBy("user_id").orderBy("us", "event_id")
    d = q.withColumn("dt_us", F.lead("us").over(w) - F.col("us"))
    return d.groupBy("user_id").agg(
        F.coalesce(F.sum(F.col("cents") * F.col("dt_us")), F.lit(0))
        .cast("long")
        .alias("twa_num"),
        F.coalesce(F.sum("dt_us"), F.lit(0)).cast("long").alias("twa_den_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ----------------------------------------------------------------------
# events_mad_outliers: robust per-type outlier counts via median/MAD —
# the heavy-tail-safe anomaly rule (mean/stddev break under the exact
# skew the crawl's hot keys produce; median absolute deviation does
# not). All medians are EXACT and integer-stable cross-engine: values
# are quantized to cents, medians computed over DOUBLED integers so the
# even-count interpolation midpoint (a+b)/2 lands on an integer in both
# engines (Spark percentile() and DuckDB quantile_cont() both
# interpolate continuously); the outlier rule |c − med| > 3.5·MAD is
# cleared of fractions as 4·|2c − med2| > 7·mad4.
#
# Scale shape: three partial/final aggs over events keyed by the
# bounded event_type dim, with two broadcast joins of the 5-row stats
# between them — no wide shuffle ever carries the event rows by a
# non-type key. Exact grouped medians are feasible at 100 TB here
# because cents quantization bounds the per-group value domain (the
# percentile aggregate contracts to a counting map of distinct values,
# partial-aggregatable); an unbounded-domain column would swap in a
# mergeable quantile sketch instead (doclen_quantiles' discipline).

_MAD_ORACLE = """
WITH q AS (
  SELECT event_type,
         2 * CAST(FLOOR(value * 100e0) AS BIGINT) AS c2
  FROM events
), med AS (
  SELECT event_type,
         CAST(quantile_cont(c2, 0.5) AS BIGINT) AS med2
  FROM q GROUP BY event_type
), dev AS (
  SELECT q.event_type, q.c2, m.med2, ABS(q.c2 - m.med2) AS dev2
  FROM q JOIN med m ON m.event_type = q.event_type
), mad AS (
  SELECT event_type,
         CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       ANY_VALUE(d.med2) AS med2,
       ANY_VALUE(m.mad4) AS mad4,
       CAST(SUM(CASE WHEN 4 * d.dev2 > 7 * m.mad4 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       COUNT(*) AS n_events
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type
"""


@register("events_mad_outliers", _MAD_ORACLE)
def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    q = spark.table("events").select(
        "event_type",
        (2 * F.floor(F.col("value") * 100.0).cast("long")).alias("c2"),
    )
    med = q.groupBy("event_type").agg(
        F.expr("CAST(percentile(c2, 0.5) AS BIGINT)").alias("med2")
    )
    dev = q.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(F.col("c2") - F.col("med2"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med2").alias("med2"),
            F.any_value("mad4").alias("mad4"),
            F.sum(
                F.when(4 * F.col("dev2") > 7 * F.col("mad4"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ----------------------------------------------------------------------
# cumulative_users: registered-users-to-date — the running-DISTINCT
# shape (cumulative uniques over time). A naive COUNT(DISTINCT) OVER
# (ORDER BY day) re-deduplicates the full prefix per day; the
# distributed form contracts first: one user-keyed agg takes each
# user's FIRST day (min), a day-keyed agg counts first-appearances,
# and the prefix sum runs over the BOUNDED day grid only (the
# sessions_concurrency single-partition-window discipline: it touches
# ≤|days| rows, never event rows).
#
# Scale shape: two partial/final aggs (user-keyed first-day, then
# day-keyed counts), one day-keyed agg for the dense grid, and one
# bounded-grid window — the event table is never windowed. The oracle
# IS the naive formulation: a correlated per-day COUNT(DISTINCT) over
# the full prefix (quadratic in days — exactly what the contracted
# plan avoids), certifying the contraction is semantics-preserving.

_CUMUSERS_ORACLE = """
WITH ev AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx
  FROM events
), days AS (SELECT DISTINCT day_idx FROM ev),
cum AS (
  SELECT d.day_idx,
         (SELECT COUNT(DISTINCT e.user_id) FROM ev e
          WHERE e.day_idx <= d.day_idx) AS cum_users
  FROM days d
)
SELECT day_idx,
       CAST(cum_users - COALESCE(LAG(cum_users) OVER (ORDER BY day_idx), 0)
            AS BIGINT) AS new_users,
       CAST(cum_users AS BIGINT) AS cum_users
FROM cum
"""


@register("cumulative_users", _CUMUSERS_ORACLE)
def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS timestamp)) div 86400000000").alias(
            "day_idx"
        ),
    )
    firstday = ev.groupBy("user_id").agg(F.min("day_idx").alias("day_idx"))
    newc = firstday.groupBy("day_idx").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = ev.groupBy("day_idx").agg(F.lit(1).alias("_one")).select("day_idx")
    perday = days.join(newc, "day_idx", "left").select(
        "day_idx", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = (
        Wnd.partitionBy(F.lit(1))
        .orderBy("day_idx")
        .rowsBetween(Wnd.unboundedPreceding, 0)
    )
    return perday.select(
        "day_idx",
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


# ----------------------------------------------------------------------
# events_cusum: drift detection per event type — the centered
# cumulative-sum (CUSUM chart without reset): dev(h) = cnt(h)·H − total
# (the hour count's deviation from the type's mean, cleared of the
# /H division by scaling through H = that type's hour-grid size), and
# C(h) = Σ_{k≤h} dev(k). A sustained rate shift makes |C| grow
# linearly; the flag fires when |C(h)| > CUSUM_K·max|dev| — all exact
# int64. This complements events_anomaly (pointwise spike flags):
# CUSUM catches slow drifts a per-hour threshold never sees.
#
# Scale shape: one partial/final agg to the (type, hour) grid, a
# type-keyed window prefix sum over that BOUNDED grid (≤ types × hours
# rows — never event rows), and a broadcast of the 5-row per-type
# stats. The oracle formulates the same statistic with nested window
# functions over a correlated per-type aggregate.

CUSUM_K = 3

_CUSUM_ORACLE = f"""
WITH grid AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_idx,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), st AS (
  SELECT event_type,
         COUNT(*) AS nh,
         SUM(cnt) AS total
  FROM grid GROUP BY event_type
), dev AS (
  SELECT g.event_type, g.hour_idx,
         g.cnt * s.nh - s.total AS dev
  FROM grid g JOIN st s ON s.event_type = g.event_type
), mx AS (
  SELECT event_type, MAX(ABS(dev)) AS maxdev FROM dev GROUP BY event_type
)
SELECT d.event_type, d.hour_idx,
       CAST(SUM(d.dev) OVER (PARTITION BY d.event_type ORDER BY d.hour_idx
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum,
       CAST(CASE WHEN ABS(SUM(d.dev) OVER (PARTITION BY d.event_type
                                           ORDER BY d.hour_idx
                                           ROWS UNBOUNDED PRECEDING))
                      > {CUSUM_K} * m.maxdev
                 THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
FROM dev d JOIN mx m ON m.event_type = d.event_type
"""


@register("events_cusum", _CUSUM_ORACLE)
def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    grid = (
        spark.table("events")
        .select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS timestamp)) div 3600000000").alias(
                "hour_idx"
            ),
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    st = grid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nh"), F.sum("cnt").alias("total")
    )
    dev = grid.join(F.broadcast(st), "event_type").select(
        "event_type",
        "hour_idx",
        (F.col("cnt") * F.col("nh") - F.col("total")).alias("dev"),
    )
    mx = dev.groupBy("event_type").agg(F.max(F.abs("dev")).alias("maxdev"))
    w = (
        Wnd.partitionBy("event_type")
        .orderBy("hour_idx")
        .rowsBetween(Wnd.unboundedPreceding, 0)
    )
    c = dev.withColumn("cusum", F.sum("dev").over(w))
    return c.join(F.broadcast(mx), "event_type").select(
        "event_type",
        "hour_idx",
        F.col("cusum").cast("long").alias("cusum"),
        F.when(F.abs("cusum") > CUSUM_K * F.col("maxdev"), 1)
        .otherwise(0)
        .cast("long")
        .alias("drift_flag"),
    )


# ----------------------------------------------------------------------
# bot_users: crawl/abuse hygiene — flag users whose inter-arrival gaps
# are inhumanly regular. Gaps are hour-quantized (BOT_Q_US) so genuine
# periodicity collides into a modal bucket; per user we take the modal
# gap's share of all gaps (exact integer ppm) and flag users whose
# share is >= 1.5x the population median share (self-calibrating — no
# absolute threshold to go dead when the traffic mix shifts). All
# arithmetic is exact int64.
#
# Scale shape: ONE user-keyed exchange for the lag window, then two
# contraction aggs ((user,gap) -> user). The population median is
# computed over the VALUE GRID, not the user rows: share_ppm is an
# integer in [0, 1e6], so the engine takes a (share_ppm -> count) agg
# and a prefix sum over that bounded grid (<= 1e6+1 rows through the
# single-partition window — never one row per user, which at 10^12
# events would put 10^9 rows through one task). The oracle derives the
# median the algorithm-independent way (ROW_NUMBER over user rows),
# certifying the grid contraction is semantics-preserving.

BOT_Q_US = 3_600_000_000  # hour quantization of inter-arrival gaps

_BOT_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {BOT_Q_US} AS s, event_id FROM events
), g AS (
  SELECT user_id,
         s - LAG(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS gap
  FROM e
), gg AS (
  SELECT user_id, gap, COUNT(*) AS cnt FROM g
  WHERE gap IS NOT NULL GROUP BY 1, 2
), a AS (
  SELECT user_id, SUM(cnt) AS n_gaps, COUNT(*) AS n_gaps_distinct,
         MAX(cnt) AS modal_cnt,
         MAX(cnt) * 1000000 // SUM(cnt) AS share_ppm
  FROM gg GROUP BY user_id
), r AS (
  SELECT share_ppm, ROW_NUMBER() OVER (ORDER BY share_ppm, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM a
), m AS (SELECT share_ppm AS med FROM r WHERE rn = (n + 1) // 2)
SELECT user_id,
       CAST(n_gaps AS BIGINT) AS n_gaps,
       CAST(n_gaps_distinct AS BIGINT) AS n_gaps_distinct,
       CAST(modal_cnt AS BIGINT) AS modal_cnt,
       CAST(share_ppm AS BIGINT) AS share_ppm,
       CAST(CASE WHEN 2 * share_ppm >= 3 * (SELECT med FROM m)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_bot
FROM a
"""


@register("bot_users", _BOT_ORACLE)
def q_bot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id",
        F.expr(
            f"unix_micros(CAST(ts AS timestamp)) div {BOT_Q_US}"
        ).alias("s"),
        "event_id",
    )
    w = Wnd.partitionBy("user_id").orderBy("s", "event_id")
    g = ev.select(
        "user_id", (F.col("s") - F.lag("s").over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    a = (
        g.groupBy("user_id", "gap")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("n_gaps"),
            F.count(F.lit(1)).alias("n_gaps_distinct"),
            F.max("cnt").alias("modal_cnt"),
        )
        .withColumn("share_ppm", F.expr("modal_cnt * 1000000 div n_gaps"))
    )
    # exact population median over the BOUNDED ppm value grid
    grid = a.groupBy("share_ppm").agg(F.count(F.lit(1)).alias("c"))
    wall = Wnd.partitionBy(F.lit(1))
    cum = grid.select(
        "share_ppm",
        F.sum("c")
        .over(
            wall.orderBy("share_ppm").rowsBetween(Wnd.unboundedPreceding, 0)
        )
        .alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    med = (
        cum.where(F.expr("cum >= (n + 1) div 2"))
        .agg(F.min("share_ppm").alias("med"))
    )
    return a.crossJoin(F.broadcast(med)).select(
        "user_id",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        F.col("n_gaps_distinct").cast("long").alias("n_gaps_distinct"),
        F.col("modal_cnt").cast("long").alias("modal_cnt"),
        F.col("share_ppm").cast("long").alias("share_ppm"),
        F.when(2 * F.col("share_ppm") >= 3 * F.col("med"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_bot"),
    )


# ----------------------------------------------------------------------
# events_interval_union: per-user TOTAL COVERED TIME after merging
# overlapping intervals — the gaps-and-islands sweep (ad-impression /
# session-overlap accounting). Each event opens a deterministic
# interval [ts, ts + 60s + (event_id % 7)·90s]; per user the union
# length and island count are exact int64 microseconds.
#
# Scale shape: ONE user-keyed exchange. The island sweep is the
# running-max trick — prev_max_end = MAX(end) over the ordered frame
# up to the PREVIOUS row; a row opens a new island when its start
# exceeds that; island_id is the prefix sum of open flags — so a
# user's intervals merge in one pass of two rows-frame windows, never
# a self-join of overlapping pairs (quadratic in the hot user's
# events). The per-(user, island) and per-user contractions both
# cluster on the user prefix, so Spark reuses the window's hash
# partitioning: the whole query is one shuffle. The oracle states the
# SAME sweep in DuckDB's dialect (the formulation IS the operator
# here); the pytest brute force merges intervals in pure Python.

INTERVAL_BASE_S = 60
INTERVAL_STEP_S = 90


def _iu_intervals(dialect_us: str) -> str:
    return (
        f"SELECT user_id, event_id, {dialect_us} AS s_us, "
        f"{dialect_us} + ({INTERVAL_BASE_S} + (event_id % 7) * "
        f"{INTERVAL_STEP_S}) * 1000000 AS e_us FROM events"
    )


_IU_ORACLE = f"""
WITH iv AS ({_iu_intervals('epoch_us(ts)')})
, sweep AS (
  SELECT user_id, s_us, e_us,
         CASE WHEN s_us > COALESCE(MAX(e_us) OVER (
             PARTITION BY user_id ORDER BY s_us, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS opens
  FROM iv
)
, isl AS (
  SELECT user_id, s_us, e_us,
         SUM(opens) OVER (
             PARTITION BY user_id ORDER BY s_us, e_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM sweep
)
, merged AS (
  SELECT user_id, island, MIN(s_us) AS s_us, MAX(e_us) AS e_us
  FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(e_us - s_us) AS BIGINT) AS covered_us
FROM merged GROUP BY 1
"""


@register("events_interval_union", _IU_ORACLE)
def q_events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = spark.table("events").select(
        "user_id",
        "event_id",
        us.alias("s_us"),
        (
            us
            + (
                F.lit(INTERVAL_BASE_S)
                + (F.col("event_id") % 7) * INTERVAL_STEP_S
            )
            * F.lit(1_000_000)
        ).alias("e_us"),
    )
    w = Wnd.partitionBy("user_id").orderBy("s_us", "event_id")
    sweep = iv.select(
        "user_id",
        "s_us",
        "e_us",
        F.when(
            F.col("s_us")
            > F.coalesce(
                F.max("e_us").over(
                    w.rowsBetween(Wnd.unboundedPreceding, -1)
                ),
                F.lit(-1),
            ),
            1,
        )
        .otherwise(0)
        .alias("opens"),
    )
    w2 = Wnd.partitionBy("user_id").orderBy("s_us", "e_us")
    isl = sweep.select(
        "user_id",
        "s_us",
        "e_us",
        F.sum("opens")
        .over(w2.rowsBetween(Wnd.unboundedPreceding, 0))
        .alias("island"),
    )
    merged = isl.groupBy("user_id", "island").agg(
        F.min("s_us").alias("s_us"), F.max("e_us").alias("e_us")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("e_us") - F.col("s_us")).cast("long").alias("covered_us"),
    )


# ----------------------------------------------------------------------
# events_simpson: per-type user-concentration statistics — the exact
# int64 ingredients of the Simpson/collision index (n_events, n_users,
# Σc_u², Σc_u·(c_u−1)) answering "is this event type driven by a few
# heavy users?". The float index λ = Σc(c−1) / n(n−1) stays driver-
# side (same sufficient-statistics discipline as host_assortativity).
# Scale shape: the corpus contracts to (type, user) counts in ONE
# partial/final agg, then the per-type rollup runs over the
# user-bounded relation — no window, no join, and the second agg's
# exchange carries ≤ |users|·|types| rows.

_SIMPSON_ORACLE = """
WITH cu AS (
  SELECT event_type, user_id, COUNT(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(SUM(c) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(c * c) AS BIGINT) AS sum_c2,
       CAST(SUM(c * (c - 1)) AS BIGINT) AS sum_coll
FROM cu GROUP BY 1
"""


@register("events_simpson", _SIMPSON_ORACLE)
def q_events_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    cu = (
        spark.table("events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return cu.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("sum_coll"),
    )


# ----------------------------------------------------------------------
# trimmed_mean_value: per-type WINSORIZED value sum — every value
# clamped into [p10, p90] before summing (the robust revenue rollup
# that shrugs off sensor spikes). Quantile convention matches
# events_value_quantiles: pK = smallest cents with 10·cum ≥ K·n/10
# over the integer-cents domain.
#
# Scale shape: thresholds come from the bounded (type, cents) VALUE
# GRID — the corpus contracts once, the cumulative window runs over
# the grid (≤ domain size per type), and the two quantile picks are
# one conditional-min agg; the 5-row threshold table then BROADCASTS
# back over a second corpus pass whose clamp+sum is pure codegen. Raw
# events are never sorted or windowed. The oracle derives the SAME
# thresholds by ROW_NUMBER over raw event rows — the genuinely
# different formulation — certifying grid-quantile == row-quantile
# (the bot_users equivalence, here for two cut points).

_TRIM_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), r AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM e
), th AS (
  SELECT event_type,
         MIN(CASE WHEN 10 * rn >= n THEN cents END) AS lo_c,
         MIN(CASE WHEN 10 * rn >= 9 * n THEN cents END) AS hi_c
  FROM r GROUP BY 1
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(th.lo_c) AS BIGINT) AS lo_c,
       CAST(MIN(th.hi_c) AS BIGINT) AS hi_c,
       CAST(SUM(LEAST(GREATEST(e.cents, th.lo_c), th.hi_c)) AS BIGINT)
         AS winsor_sum_c
FROM e JOIN th ON th.event_type = e.event_type
GROUP BY 1
"""


@register("trimmed_mean_value", _TRIM_ORACLE)
def q_trimmed_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    e = spark.table("events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    g = e.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    w = Wnd.partitionBy("event_type").orderBy("cents")
    c = g.select(
        "event_type",
        "cents",
        F.sum("cnt").over(w.rowsBetween(Wnd.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(
            Wnd.partitionBy("event_type").orderBy("cents").rowsBetween(
                Wnd.unboundedPreceding, Wnd.unboundedFollowing
            )
        ).alias("n"),
    )
    th = c.groupBy("event_type").agg(
        F.min(F.when(10 * F.col("cum") >= F.col("n"), F.col("cents"))).alias(
            "lo_c"
        ),
        F.min(
            F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("cents"))
        ).alias("hi_c"),
    )
    return (
        e.join(F.broadcast(th), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("lo_c").cast("long").alias("lo_c"),
            F.min("hi_c").cast("long").alias("hi_c"),
            F.sum(
                F.least(F.greatest(F.col("cents"), F.col("lo_c")), F.col("hi_c"))
            )
            .cast("long")
            .alias("winsor_sum_c"),
        )
    )


# ----------------------------------------------------------------------
# events_seasonality: per-type hour-of-day periodic baseline — the
# diurnal profile rollup (peak hour, and how many hour-slots run hot
# (>2× the uniform share) or cold (<½ the uniform share)). All exact
# int64: the share tests clear the /24 division (24·cnt > 2·total,
# 48·cnt < total), and the peak is a tie-free max(struct(cnt, −hod))
# — smallest hour wins ties — never a window over events.
#
# Scale shape: the corpus contracts ONCE to the bounded (type, hod)
# grid (≤ |types|·24 rows); the per-type totals re-join the grid as a
# BROADCAST and every later step aggregates grid rows. The oracle
# formulates the peak by ROW_NUMBER over the grid — a different
# formulation than the struct-max — so the gate certifies the argmax
# rewrite along with the hot/cold flags.

_SEASON_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(date_part('hour', ts) AS BIGINT) AS hod,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total FROM g GROUP BY 1
), r AS (
  SELECT g.event_type, g.hod, g.cnt, t.total,
         ROW_NUMBER() OVER (PARTITION BY g.event_type
                            ORDER BY g.cnt DESC, g.hod) AS rn
  FROM g JOIN t USING (event_type)
)
SELECT event_type,
       CAST(MIN(total) AS BIGINT) AS n_events,
       CAST(MIN(CASE WHEN rn = 1 THEN hod END) AS BIGINT) AS peak_hod,
       CAST(MIN(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS peak_cnt,
       CAST(SUM(CASE WHEN 24 * cnt > 2 * total THEN 1 ELSE 0 END)
         AS BIGINT) AS n_hot_hours,
       CAST(SUM(CASE WHEN 48 * cnt < total THEN 1 ELSE 0 END)
         AS BIGINT) AS n_cold_hours
FROM r GROUP BY 1
"""


@register("events_seasonality", _SEASON_ORACLE)
def q_events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    g = (
        spark.table("events")
        .groupBy(
            "event_type",
            F.hour(F.col("ts").cast("timestamp")).cast("long").alias("hod"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = g.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    j = g.join(F.broadcast(tot), "event_type")
    peak = F.max(F.struct(F.col("cnt"), (-F.col("hod")).alias("nhod")))
    return j.groupBy("event_type").agg(
        F.min("total").cast("long").alias("n_events"),
        (-peak.getField("nhod")).cast("long").alias("peak_hod"),
        peak.getField("cnt").cast("long").alias("peak_cnt"),
        F.sum(
            F.when(24 * F.col("cnt") > 2 * F.col("total"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_hot_hours"),
        F.sum(F.when(48 * F.col("cnt") < F.col("total"), 1).otherwise(0))
        .cast("long")
        .alias("n_cold_hours"),
    )


# ----------------------------------------------------------------------
# events_burstiness: per-user inter-arrival variance sufficient
# statistics (n_gaps, Σgap_s, Σgap_s²) — the exact int64 ingredients
# of the burstiness/Fano analysis (the float coefficient of variation
# stays driver-side; sufficient-statistics discipline as elsewhere).
# Gaps are whole SECONDS (µs div 1e6) so squares stay far inside
# int64: a 31-day gap is 2.7e6 s → 7.2e12 squared, 10⁶ such gaps per
# user still fit. ONE user-keyed exchange: the lag window and the
# per-user agg share the user-prefix partitioning.

_BURST_ORACLE = """
WITH q AS (
  SELECT user_id,
         (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) // 1000000 AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
       CAST(COALESCE(SUM(gap_s), 0) AS BIGINT) AS sum_gap_s,
       CAST(COALESCE(SUM(gap_s * gap_s), 0) AS BIGINT) AS sum_gap2_s
FROM q GROUP BY 1
"""


@register("events_burstiness", _BURST_ORACLE)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Wnd.partitionBy("user_id").orderBy("ts", "event_id")
    # integer `div`, not float /1e6: a double quotient can round UP
    # across a whole-second boundary and diverge from DuckDB's floor //
    q = (
        spark.table("events")
        .select("user_id", (us - F.lag(us).over(w)).alias("gap_us"))
        .selectExpr("user_id", "gap_us div 1000000 AS gap_s")
    )
    return q.groupBy("user_id").agg(
        F.count("gap_s").cast("long").alias("n_gaps"),
        F.coalesce(F.sum("gap_s"), F.lit(0)).cast("long").alias("sum_gap_s"),
        F.coalesce(F.sum(F.col("gap_s") * F.col("gap_s")), F.lit(0))
        .cast("long")
        .alias("sum_gap2_s"),
    )


# ----------------------------------------------------------------------
# events_autocorr_lag1: per-type lag-1 autocorrelation sufficient
# statistics of the HOURLY count series — the exact int64 ingredients
# (n_pairs, Σx, Σy, Σx², Σy², Σxy over consecutive-hour pairs) of the
# serial-correlation check behind rate-anomaly dashboards; the float
# Pearson r is a driver-side scalar. The series is ZERO-FILLED over
# the full global hour span (a sparse join-by-observed-hours would
# silently skip empty hours and corrupt every lag pair).
#
# Scale shape: the corpus contracts ONCE to the (type, hour) grid;
# the dense grid is a bounded explode (types × sequence(h0, h1))
# left-joined to the observed counts (broadcast — both sides bounded);
# the lag pairs are a lead window over the per-type hour series and
# the stats one final agg, all on grid-sized relations. No corpus
# window.

_AC1_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
         AS BIGINT) AS h, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), span AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM g
), grid AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM g) t
  CROSS JOIN (
    SELECT UNNEST(range(h0, h1 + 1)) AS h FROM span
  ) s
), serie AS (
  SELECT grid.event_type, grid.h, COALESCE(g.cnt, 0) AS x
  FROM grid LEFT JOIN g
    ON g.event_type = grid.event_type AND g.h = grid.h
), pairs AS (
  SELECT event_type, x,
         LEAD(x) OVER (PARTITION BY event_type ORDER BY h) AS y
  FROM serie
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(SUM(y) AS BIGINT) AS sum_y,
       CAST(SUM(x * x) AS BIGINT) AS sum_x2,
       CAST(SUM(y * y) AS BIGINT) AS sum_y2,
       CAST(SUM(x * y) AS BIGINT) AS sum_xy
FROM pairs WHERE y IS NOT NULL
GROUP BY 1
"""


@register("events_autocorr_lag1", _AC1_ORACLE)
def q_events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
    g = (
        spark.table("events")
        .select("event_type", us.alias("h_us"))
        .selectExpr("event_type", "h_us div 3600000000 AS h")
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    span = g.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        g.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    serie = grid.join(F.broadcast(g), ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("x")
    )
    w = Wnd.partitionBy("event_type").orderBy("h")
    pairs = serie.select(
        "event_type", "x", F.lead("x").over(w).alias("y")
    ).where(F.col("y").isNotNull())
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_y2"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
    )


# ----------------------------------------------------------------------
# events_histogram: per-type equi-width 10-bin histogram of the value
# column, zero-filled — the distribution panel behind every metrics
# dashboard. Bin edges come from the PER-TYPE min/max (one tiny agg
# broadcast back onto the stream), the bin index is pure codegen
# (identical IEEE double expression text in both dialects, so the
# floor quantization agrees bit-for-bit), and the dense (type × 10)
# grid is a bounded explode left-joined to the observed counts so
# empty bins surface as 0 — a sparse GROUP BY would silently drop
# them.
#
# Scale shape: one partial/final agg for the per-type extrema
# (type-bounded), one partial/final agg for the bin counts; the grid
# join is broadcast on both sides (types × 10 rows). No window, no
# Python, no corpus-scale join.

N_BINS = 10

# shared expression text; {div} is the only dialect split (unused here
# but kept parallel to the other generated-SQL families).
_BIN_EXPR = (
    f"CASE WHEN mx = mn THEN 0 ELSE LEAST({N_BINS - 1}, "
    f"CAST(FLOOR(((value - mn) * {N_BINS}e0) / (mx - mn)) AS BIGINT)) END"
)

_HIST_ORACLE = f"""
WITH ext AS (
  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
  FROM events GROUP BY 1
), binned AS (
  SELECT e.event_type, {_BIN_EXPR} AS bin
  FROM events e JOIN ext ON ext.event_type = e.event_type
), cnt AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n
  FROM binned GROUP BY 1, 2
), grid AS (
  SELECT t.event_type, s.bin
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT UNNEST(range(0, {N_BINS})) AS bin) s
)
SELECT grid.event_type, CAST(grid.bin AS BIGINT) AS bin,
       COALESCE(cnt.n, 0) AS n
FROM grid LEFT JOIN cnt
  ON cnt.event_type = grid.event_type AND cnt.bin = grid.bin
"""


@register("events_histogram", _HIST_ORACLE)
def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ev = spark.table("events")
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    binned = ev.join(F.broadcast(ext), "event_type").select(
        "event_type", F.expr(_BIN_EXPR).alias("bin")
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(N_BINS).select(F.col("id").cast("long").alias("bin"))
        )
    )
    return grid.join(F.broadcast(cnt), ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
    )


# ----------------------------------------------------------------------
# events_type_correlation: pairwise Pearson sufficient statistics
# between event-type HOURLY count series — "do signups spike when
# errors spike?" — as exact int64 ingredients (n, Σa, Σb, Σa², Σb²,
# Σab per unordered type pair); the float r is a driver-side scalar.
# Series are zero-filled over the global hour span exactly like
# events_autocorr_lag1 (sparse-join alignment would corrupt every
# covariance term where either series has an empty hour).
#
# Scale shape: the corpus contracts ONCE to the (type, hour) grid;
# the pair join is grid×grid on the hour key with type_a < type_b —
# both sides are (types × hours)-bounded, never corpus-scale; one
# final agg over ~|types|²/2 groups.

_TCORR_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
         AS BIGINT) AS h, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), span AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM g
), grid AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM g) t
  CROSS JOIN (SELECT UNNEST(range(h0, h1 + 1)) AS h FROM span) s
), serie AS (
  SELECT grid.event_type, grid.h, COALESCE(g.cnt, 0) AS x
  FROM grid LEFT JOIN g
    ON g.event_type = grid.event_type AND g.h = grid.h
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(a.x) AS BIGINT) AS sum_a,
       CAST(SUM(b.x) AS BIGINT) AS sum_b,
       CAST(SUM(a.x * a.x) AS BIGINT) AS sum_a2,
       CAST(SUM(b.x * b.x) AS BIGINT) AS sum_b2,
       CAST(SUM(a.x * b.x) AS BIGINT) AS sum_ab
FROM serie a JOIN serie b
  ON b.h = a.h AND a.event_type < b.event_type
GROUP BY 1, 2
"""


@register("events_type_correlation", _TCORR_ORACLE)
def q_events_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
    g = (
        spark.table("events")
        .select("event_type", us.alias("h_us"))
        .selectExpr("event_type", "h_us div 3600000000 AS h")
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    span = g.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        g.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    serie = grid.join(F.broadcast(g), ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("x")
    )
    a = serie.select(
        F.col("event_type").alias("type_a"), "h", F.col("x").alias("xa")
    )
    b = serie.select(
        F.col("event_type").alias("type_b"), "h", F.col("x").alias("xb")
    )
    return (
        a.join(b, "h")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("xa").cast("long").alias("sum_a"),
            F.sum("xb").cast("long").alias("sum_b"),
            F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sum_a2"),
            F.sum(F.col("xb") * F.col("xb")).cast("long").alias("sum_b2"),
            F.sum(F.col("xa") * F.col("xb")).cast("long").alias("sum_ab"),
        )
    )


# ----------------------------------------------------------------------
# events_ewma: exponentially-weighted moving average of the per-type
# hourly count series — the smoothing pass behind every rate monitor —
# as EXACT integers: the filter is truncated at EWMA_TAPS terms
# (finite-impulse approximation of α=1/4 smoothing; the dropped tail
# weighs (3/4)^8 < 10%) so the weights 3^j·4^(TAPS-1-j) are integers
# summing to 4^TAPS − 3^TAPS, and the smoothed value is one integer
# dot product over lagged counts per row — no float pow, no
# cross-engine libm risk. Series are zero-filled over the global hour
# span (missing-hour lags must read 0, not skip — the same alignment
# rule as events_autocorr_lag1).
#
# Scale shape: corpus contracts once to the (type, hour) grid; the
# TAPS lag terms are ONE window pass over the grid-sized series per
# type (bounded partitions — never a corpus window); everything else
# is codegen arithmetic.

EWMA_TAPS = 8
_EWMA_W = [3**j * 4 ** (EWMA_TAPS - 1 - j) for j in range(EWMA_TAPS)]

_EWMA_EXPR = " + ".join(
    f"{w} * LAG(x, {j}, 0) OVER (PARTITION BY event_type ORDER BY h)"
    for j, w in enumerate(_EWMA_W)
)

_EWMA_ORACLE = f"""
WITH g AS (
  SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
         AS BIGINT) AS h, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), span AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM g
), grid AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM g) t
  CROSS JOIN (SELECT UNNEST(range(h0, h1 + 1)) AS h FROM span) s
), serie AS (
  SELECT grid.event_type, grid.h, COALESCE(g.cnt, 0) AS x
  FROM grid LEFT JOIN g
    ON g.event_type = grid.event_type AND g.h = grid.h
)
SELECT event_type, h, CAST({_EWMA_EXPR} AS BIGINT) AS ewma_scaled
FROM serie
"""


@register("events_ewma", _EWMA_ORACLE)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
    g = (
        spark.table("events")
        .select("event_type", us.alias("h_us"))
        .selectExpr("event_type", "h_us div 3600000000 AS h")
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    span = g.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        g.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    serie = grid.join(F.broadcast(g), ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("x")
    )
    return serie.select(
        "event_type",
        "h",
        F.expr(_EWMA_EXPR).cast("long").alias("ewma_scaled"),
    )


# ----------------------------------------------------------------------
# events_activity_runs: gaps-and-islands over the per-type hourly
# series — maximal runs of consecutive ACTIVE hours (count > 0), per
# type: how many bursts, the longest/shortest burst, total active
# hours. The uptime/burst segmentation every ops dashboard derives,
# and the canonical islands formulation: group key = h − dense
# position of h among the type's active hours, which is constant
# exactly within a maximal consecutive run.
#
# Scale shape: corpus → (type, hour) grid once; the position window
# and the island agg run on the ACTIVE-hour subset of the bounded
# grid, partitioned by type; two tiny aggs (per-island, then
# per-type). No corpus window, no zero-fill needed — absent hours ARE
# the gaps.

_RUNS_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
         AS BIGINT) AS h
  FROM events GROUP BY 1, 2
), isl AS (
  SELECT event_type,
         h - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
           AS grp
  FROM g
), runs AS (
  SELECT event_type, grp, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM isl GROUP BY 1, 2
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(MIN(run_len) AS BIGINT) AS min_run,
       CAST(SUM(run_len) AS BIGINT) AS active_hours
FROM runs GROUP BY 1
"""


@register("events_activity_runs", _RUNS_ORACLE)
def q_events_activity_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
    g = (
        spark.table("events")
        .select("event_type", us.alias("h_us"))
        .selectExpr("event_type", "h_us div 3600000000 AS h")
        .distinct()
    )
    w = Wnd.partitionBy("event_type").orderBy("h")
    isl = g.select(
        "event_type", (F.col("h") - F.row_number().over(w)).alias("grp")
    )
    runs = isl.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run"),
        F.min("run_len").cast("long").alias("min_run"),
        F.sum("run_len").cast("long").alias("active_hours"),
    )


# ----------------------------------------------------------------------
# events_peaks: strict local maxima of the per-type hourly series —
# interior hours whose count strictly exceeds both neighbors on the
# zero-filled grid (edges excluded: a boundary hour has only one
# neighbor and "peak" is undefined there). Per type: peak count, the
# tallest peak, and its hour (earliest hour on ties, pinned via
# min(struct(-x, h))). The alert-worthy-spike extraction of a rate
# monitor, complementing events_cusum (level shifts) and
# events_mad_outliers (global outliers) with SHAPE-local detection.
#
# Scale shape: grid contraction once; lag/lead in one bounded
# per-type window pass; one final agg per type.

_PEAKS_ORACLE = """
WITH g AS (
  SELECT event_type, CAST(epoch_us(date_trunc('hour', ts)) // 3600000000
         AS BIGINT) AS h, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), span AS (
  SELECT MIN(h) AS h0, MAX(h) AS h1 FROM g
), grid AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM g) t
  CROSS JOIN (SELECT UNNEST(range(h0, h1 + 1)) AS h FROM span) s
), serie AS (
  SELECT grid.event_type, grid.h, COALESCE(g.cnt, 0) AS x
  FROM grid LEFT JOIN g
    ON g.event_type = grid.event_type AND g.h = grid.h
), nb AS (
  SELECT event_type, h, x,
         LAG(x) OVER (PARTITION BY event_type ORDER BY h) AS xp,
         LEAD(x) OVER (PARTITION BY event_type ORDER BY h) AS xn
  FROM serie
), peaks AS (
  SELECT event_type, h, x FROM nb
  WHERE xp IS NOT NULL AND xn IS NOT NULL AND x > xp AND x > xn
)
SELECT p.event_type, m.n_peaks, m.max_peak,
       CAST(MIN(p.h) AS BIGINT) AS max_peak_hour
FROM peaks p
JOIN (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_peaks,
         CAST(MAX(x) AS BIGINT) AS max_peak
  FROM peaks GROUP BY 1
) m ON m.event_type = p.event_type AND p.x = m.max_peak
GROUP BY 1, 2, 3
"""


@register("events_peaks", _PEAKS_ORACLE)
def q_events_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    us = F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp")))
    g = (
        spark.table("events")
        .select("event_type", us.alias("h_us"))
        .selectExpr("event_type", "h_us div 3600000000 AS h")
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    span = g.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = (
        g.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    serie = grid.join(F.broadcast(g), ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("x")
    )
    w = Wnd.partitionBy("event_type").orderBy("h")
    nb = serie.select(
        "event_type", "h", "x",
        F.lag("x").over(w).alias("xp"),
        F.lead("x").over(w).alias("xn"),
    )
    peaks = nb.where(
        F.col("xp").isNotNull()
        & F.col("xn").isNotNull()
        & (F.col("x") > F.col("xp"))
        & (F.col("x") > F.col("xn"))
    )
    return peaks.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_peaks"),
        F.max("x").cast("long").alias("max_peak"),
        F.min(F.struct((-F.col("x")).alias("nx"), F.col("h")))
        .getField("h").cast("long").alias("max_peak_hour"),
    )


# ----------------------------------------------------------------------
# events_markov_pi: stationary-distribution power iteration over the
# session-scoped transition chain (the same gap-bounded pair rule as
# events_transitions) — "where does the event stream settle", the
# next-action-model prior. PI_ITERS fixed iterations, exact integers:
# mass starts at PI_SCALE per state and each step routes
# floor(π·n(i→j)/out(i)) along every edge — no float sums cross the
# gate; floor leakage is deterministic and identical cross-engine.
#
# Scale shape: the corpus contracts ONCE through the user-keyed LEAD
# window to the |types|² transition matrix; every iteration is a hash
# join + partial/final agg on that TYPE-bounded relation (the
# host_pagerank discipline at a far smaller key space). States with
# no outgoing transitions simply leak their mass (no damping — the
# chain here is the observed one, not a smoothed one).

PI_SCALE = 1_000_000
PI_ITERS = 4


def _markov_oracle() -> str:
    sql = f"""
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER w AS dst,
         LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), t AS (
  SELECT event_type AS src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq
  WHERE dst IS NOT NULL AND gap_us <= {SESSION_GAP_S} * 1000000
  GROUP BY 1, 2
), outs AS (SELECT src, CAST(SUM(n) AS BIGINT) AS o FROM t GROUP BY 1)
, states AS (
  SELECT DISTINCT s FROM (
    SELECT src AS s FROM t UNION ALL SELECT dst AS s FROM t
  ) u
)
, p0 AS (SELECT s, CAST({PI_SCALE} AS BIGINT) AS p FROM states)"""
    for i in range(PI_ITERS):
        sql += f"""
, p{i + 1} AS (
  SELECT st.s,
         CAST(COALESCE(SUM((c.p * c.n) // c.o), 0) AS BIGINT) AS p
  FROM states st
  LEFT JOIN (
    SELECT t.dst AS s, p.p, t.n, o.o
    FROM t JOIN outs o ON o.src = t.src
    JOIN p{i} p ON p.s = t.src
  ) c ON c.s = st.s
  GROUP BY st.s
)"""
    sql += f"""
SELECT s AS event_type, p AS pi_scaled FROM p{PI_ITERS}
"""
    return sql


@register("events_markov_pi", _markov_oracle())
def q_events_markov_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    w = Wnd.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = spark.table("events").select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        (F.lead(us).over(w) - us).alias("gap_us"),
    )
    t = (
        seq.where(
            F.col("dst").isNotNull()
            & (F.col("gap_us") <= SESSION_GAP_S * 1_000_000)
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    t = t.localCheckpoint(eager=False)  # read per iteration
    outs = t.groupBy("src").agg(F.sum("n").cast("long").alias("o"))
    states = (
        t.select(F.col("src").alias("s"))
        .unionAll(t.select(F.col("dst").alias("s")))
        .distinct()
    )
    edges = t.join(outs, "src")  # (src, dst, n, o)
    p = states.withColumn("p", F.lit(PI_SCALE).cast("long"))
    term = F.expr("(p * n) div o")
    for _ in range(PI_ITERS):
        p = propagate(edges, states, p, term, lambda c: c)
    return p.select(
        F.col("s").alias("event_type"), F.col("p").alias("pi_scaled")
    )


# ----------------------------------------------------------------------
# events_user_overlap: audience overlap between event types — per
# unordered type pair, the distinct-user intersection, union, and
# exact integer-ppm Jaccard ("do the users who purchase also search"),
# the cohort-overlap matrix behind feature-adoption dashboards.
#
# Scale shape: the corpus contracts ONCE to DISTINCT (user, type)
# (partial/final agg); pairs enumerate WITHIN a user only (fan-out
# ≤ C(|types|, 2) per user — never a type×type join over users); the
# per-type distinct counts are one agg on the contracted relation and
# broadcast onto the |types|²-bounded pair table.

_OVL_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tc AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM ut GROUP BY 1
),
pair AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON b.user_id = a.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both,
       ta.n_users AS n_a, tb.n_users AS n_b,
       CAST(p.n_both * 1000000
            // (ta.n_users + tb.n_users - p.n_both) AS BIGINT)
         AS jaccard_ppm
FROM pair p
JOIN tc ta ON ta.event_type = p.type_a
JOIN tc tb ON tb.event_type = p.type_b
"""


@register("events_user_overlap", _OVL_ORACLE)
def q_events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    views(spark, sf_dir)
    ut = spark.table("events").select("user_id", "event_type").distinct()
    ut = ut.localCheckpoint(eager=False)  # pair join + counts reader
    tc = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pair = (
        ut.withColumnRenamed("event_type", "type_a")
        .join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    ta = F.broadcast(tc.select(F.col("event_type").alias("type_a"),
                               F.col("n_users").alias("n_a")))
    tb = F.broadcast(tc.select(F.col("event_type").alias("type_b"),
                               F.col("n_users").alias("n_b")))
    return (
        pair.join(ta, "type_a").join(tb, "type_b")
        .select(
            "type_a", "type_b", "n_both", "n_a", "n_b",
            F.expr("n_both * 1000000 div (n_a + n_b - n_both)")
            .cast("long").alias("jaccard_ppm"),
        )
    )
