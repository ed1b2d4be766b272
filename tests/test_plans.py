"""Physical-plan shape guards (PLANS.md claims, §4 optimizer story):
the flagship plans must KEEP the shapes that make them scale — a
broadcast hash join on the point side, partial+final hash aggregation,
and no Python/pandas operator upstream of the petabyte side. These
catch silent planner regressions (a config change flipping the join to
sort-merge, a refactor sneaking a mapInPandas onto the point side)."""

from __future__ import annotations

from pdxbldgimport_spark import registry as Q

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_assign_is_broadcast_join_no_python_on_point_side(spark):
    plan = _plan(Q.QUERIES["pip_assign"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the refine is folded into join/filter arithmetic — the POINT side
    # (everything at/below the join) must not contain a Python operator.
    # Plan text is operator-indented; the broadcast (cover) side appears
    # under BroadcastExchange/BroadcastQueryStage. MapInPandas may occur
    # nowhere in this plan at all:
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_page_tile_counts_partial_final_agg(spark):
    plan = _plan(Q.QUERIES["page_tile_counts"](spark, SF))
    # map-side combine: two HashAggregate levels around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan
    assert "MapInPandas" not in plan


def test_host_stats_partial_final_agg_no_join(spark):
    plan = _plan(Q.QUERIES["host_stats"](spark, SF))
    # per-host rollup is one (expanded, for the two distincts) hash
    # aggregation: partial levels before the host exchange, no join
    # anywhere, nothing in Python.
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_metro_join_ships_no_rings_through_cell_exchange(spark):
    """intersects_join: the cell-join exchanges carry ids+cells only;
    ring geometry is re-attached after pair dedup. If rings rode the
    cell shuffle, an Exchange input schema would contain the array
    column."""
    from pdxbldgimport_spark.queries_osm import q_metro_bldgs

    plan = _plan(q_metro_bldgs(spark, SF))
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(cell[^\n]*", plan):
        assert "__rings" not in m.group(0)


def test_tile_export_partial_final_agg(spark):
    """Per-tile payload build: map-side partial ObjectHashAggregate +
    final around ONE exchange, no Python anywhere — the collect_list
    payload assembly must not devolve to a pandas group apply."""
    plan = _plan(Q.QUERIES["tile_export"](spark, SF))
    assert plan.count("ObjectHashAggregate") + plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_taxlot_stats_partial_final_agg(spark):
    """A6 parcel stats: partial+final hash agg over the materialized
    ingest stage — one exchange, zero Python (area already computed at
    ingest, not per-query)."""
    plan = _plan(Q.QUERIES["taxlot_stats"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_minhash_lsh_is_pure_codegen(spark):
    """MinHash+LSH dedup: signatures (one md5 per shingle + affine
    permutations), banding, bucket join, and refine must ALL stay
    JVM-side — any Python operator here re-introduces the r1 interpreted
    hot path (58.7 s → 5.4 s fix)."""
    plan = _plan(Q.QUERIES["dedup_minhash_lsh"](spark, SF))
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker


def test_ngram_jaccard_is_pure_codegen(spark):
    """Rare-gram-blocked exact Jaccard: inverted-index blocking, pair
    generation, and the set-intersection refine are all joins +
    hash aggregations — no Python operator anywhere."""
    plan = _plan(Q.QUERIES["dedup_ngram_jaccard"](spark, SF))
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker


def test_decontam_is_broadcast_probe(spark):
    """Decontamination: the fixed-size eval n-gram set must broadcast —
    the corpus probes it map-side and never re-partitions by n-gram.
    A shuffled join here re-partitions 100 TB by shingle."""
    plan = _plan(Q.QUERIES["decontam_ngram"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker


def test_vocab_topk_is_take_ordered(spark):
    """Vocabulary top-K: sort+limit must plan as TakeOrderedAndProject
    (per-partition top-K heaps, driver merges K·P rows) — a global Sort
    exchange here materializes the full vocabulary ordered."""
    plan = _plan(Q.QUERIES["vocab_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker


def test_fm_sketch_is_partial_aggregated_codegen(spark):
    """FM cardinality sketch: the per-bucket MAX must partial-aggregate
    (map-side combine — the whole point of the FM/LogLog family over
    KMV/top-k) and the rank arithmetic stays JVM-side."""
    plan = _plan(Q.QUERIES["distinct_sketch_fm"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker


def test_corpus_sample_is_scan_level_filter(spark):
    """Deterministic sampling must stay a pure scan+filter — no keyed
    shuffle, no join, and the predicate evaluated below the view's
    round-robin repartition (i.e. at the scan) so the 100-TB cost is
    one pruning pass."""
    plan = _plan(Q.QUERIES["corpus_sample"](spark, SF))
    assert "hashpartitioning" not in plan
    for marker in (
        "Join", "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker
    # the filter must sit below the repartition exchange, directly over
    # the file scan
    if "Exchange" in plan:
        assert plan.index("Filter") > plan.index("Exchange")


def test_text_repetition_is_pure_codegen(spark):
    """Repetition filters: per-doc windows + hash aggregations only —
    no Python operator, no pair joins."""
    plan = _plan(Q.QUERIES["text_repetition"](spark, SF))
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker


def test_asof_join_single_exchange(spark):
    """As-of join: one user-keyed shuffle feeding the lookback window —
    no per-pair join, no Python. A second exchange or a join operator
    here means the formulation regressed to the pair-join shape."""
    plan = _plan(Q.QUERIES["events_asof_join"](spark, SF))
    assert plan.count("Exchange") == 1
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython", "SortMergeJoin", "BroadcastHashJoin",
    ):
        assert marker not in plan, marker


def test_range_join_is_bucketed_not_nested_loop(spark):
    """Range join: the bucket equi-join + refine must never plan as the
    nested-loop shape Spark gives a raw range predicate (quadratic at
    scale)."""
    plan = _plan(Q.QUERIES["events_range_join"](spark, SF))
    for marker in (
        "BroadcastNestedLoopJoin", "CartesianProduct",
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker


def test_rel_ring_stats_is_pure_codegen(spark):
    """r3 verdict re-shape: the edge-local ring stats (n_vertices,
    perim_udeg) must aggregate JVM-side — the all-segments Arrow
    crossing lives only in rel_ring_assembly, where the stitch is
    genuinely needed. A FlatMapGroupsInPandas here re-introduces the
    one linear-in-data Python channel the verdict flagged."""
    plan = _plan(Q.QUERIES["rel_ring_stats"](spark, SF))
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
        "BatchEvalPython",
    ):
        assert marker not in plan, marker
    assert plan.count("HashAggregate") >= 2  # partial+final map-side combine


def _boom_points(spark):
    """A points DataFrame whose ANY evaluation raises — proves a code
    path never ran a Spark job over the point side."""
    def boom(_):
        raise RuntimeError("point side scanned at planning time")

    rdd = spark.sparkContext.parallelize(range(8), 2).map(boom)
    return spark.createDataFrame(rdd, schema="pt long, lon double, lat double")


def test_shuffle_pip_plans_without_scanning_points_when_manifest_fed(spark):
    """With manifest-fed hot_cells (and polys_count), building the
    shuffle PIP join runs ZERO jobs over the point side — the planning
    scan (a full extra pass at 10^12 docs) only happens in the
    documented hot_cells=None fallback. Asserted with a booby-trapped
    point side: plan construction must not touch it; executing the plan
    (sanity) must."""
    import pandas as pd
    import pytest

    from pdxbldgimport_spark.operators.pip_join import pip_join

    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "poly": [1],
                "rings": [[[-122.5, 45.4, -122.4, 45.4, -122.4, 45.5,
                            -122.5, 45.5, -122.5, 45.4]]],
            }
        )
    )
    pts = _boom_points(spark)
    # manifest-fed: no job over pts during join construction
    out = pip_join(
        pts, polys, "pt", "poly",
        broadcast_max_polys=0, polys_count=1, hot_cells=[123],
    )
    # sanity: the trap is live — executing the joined plan does scan pts
    with pytest.raises(Exception):
        out.collect()
    # fallback path: planning itself scans the point side (documented)
    with pytest.raises(Exception):
        pip_join(
            pts, polys, "pt", "poly",
            broadcast_max_polys=0, polys_count=1, hot_cells=None,
        )
    # kNN with a manifest-fed candidate count also plans without jobs
    from pdxbldgimport_spark.operators.knn import knn_join

    cents = spark.createDataFrame(
        pd.DataFrame(
            {"fp": [1], "centroid_lon": [-122.45], "centroid_lat": [45.45]}
        )
    )
    out2 = knn_join(pts, cents, "pt", "fp", cands_count=1)
    with pytest.raises(Exception):
        out2.collect()


def test_knn_plan_broadcast_is_size_conditional(spark):
    """The kNN candidate ring is broadcast ONLY under the size gate: a
    small candidate side broadcasts (zero point-side shuffle before the
    window); a side over the gate must NOT force a broadcast — at 100×
    the exploded ring is billions of rows and a forced broadcast OOMs.
    Both shapes asserted so neither regression (forced broadcast, or
    never-broadcast) survives."""
    import pandas as pd

    from pdxbldgimport_spark.operators.knn import knn_join

    # small candidates at sf0.001 → under the gate → broadcast plan;
    # nearest-only resolves via partial+final SortAggregate (struct-min
    # buffers aren't hash-aggregatable, but the PARTIAL agg still
    # combines map-side — measured 2.9 s vs 22.2 s window vs 34.4 s
    # two-pass-hash at 181M pairs, local[32]), never a window sort that
    # shuffles every candidate pair
    plan = _plan(Q.QUERIES["knn_unassigned"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert plan.count("SortAggregate") >= 2

    pts = spark.createDataFrame(
        pd.DataFrame({"page_id": [1, 2], "lon": [-122.5, -122.6], "lat": [45.4, 45.5]})
    )
    cents = spark.createDataFrame(
        pd.DataFrame(
            {"fp_id": [1], "centroid_lon": [-122.5], "centroid_lat": [45.4]}
        )
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        forced = _plan(
            knn_join(pts, cents, "page_id", "fp_id", broadcast_max_ring_rows=0)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in forced  # gate respected → shuffle join


def test_url_canonical_single_agg_no_join_no_python(spark):
    """dedup_url_canonical: codegen string rewriting + ONE partial/final
    hash aggregation on the canonical string — the exact-dedup shape.
    No join, nothing in Python."""
    plan = _plan(Q.QUERIES["dedup_url_canonical"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_bm25_topk_take_ordered_broadcast_sides(spark):
    """bm25_topk: the df/totals sides broadcast (the doc-keyed big side
    never shuffles on a term key), and top-k is TakeOrderedAndProject —
    a per-partition heap + final merge, not a global Sort of the scored
    set."""
    plan = _plan(Q.QUERIES["bm25_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_host_pagerank_no_python_partial_final_aggs(spark):
    """host_pagerank: every iteration is join + partial/final hash agg;
    no Python anywhere, no cartesian product, no window."""
    plan = _plan(Q.QUERIES["host_pagerank"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_cross_dup_spans_semi_join_partial_aggs_no_python(spark):
    """cross_dup_spans: gram-df partial/final agg + LEFT SEMI probe of
    the dup-gram set into the span stream; no Python anywhere."""
    plan = _plan(Q.QUERIES["cross_dup_spans"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "LeftSemi" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_doclen_quantiles_histogram_agg_broadcast_probe(spark):
    """doclen_quantiles: the corpus contributes ONE partial/final
    histogram agg; the window cumsum and quantile probe run on the tiny
    distinct-length relation with broadcast sides only — no shuffle of
    anything corpus-sized after the histogram, no Python."""
    plan = _plan(Q.QUERIES["doclen_quantiles"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_pii_scrub_pure_map_no_shuffle_no_python(spark):
    """pii_scrub: a single map-side codegen pass — the ONLY exchange in
    the plan is the synth seed fan-out (register_views repartitions the
    one-file documents scan); no join, no aggregation, no Python."""
    plan = _plan(Q.QUERIES["pii_scrub"](spark, SF))
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_host_blocklist_is_broadcast_anti_join(spark):
    """host_blocklist_filter: the denylist side must BROADCAST into a
    LEFT ANTI hash join (the page side never shuffles for the filter);
    the rollup is partial/final hash agg."""
    plan = _plan(Q.QUERIES["host_blocklist_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_url_latest_capture_single_agg_no_window_no_join(spark):
    """url_latest_capture: ONE partial/final aggregation of
    max(struct(ts, pid)) per canonical URL — struct buffers plan as
    SortAggregate but still combine map-side; no window, no self-join,
    and at most the seed fan-out + the one agg exchange."""
    plan = _plan(Q.QUERIES["url_latest_capture"](spark, SF))
    assert plan.count("SortAggregate") + plan.count("ObjectHashAggregate") >= 2
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_pipeline_funnel_no_window_no_python(spark):
    """pipeline_funnel: stages 0-3 are one partial/final agg over a
    map pass; stage 4 adds the md5 groupBy + an equi-join (broadcast at
    this SF, sort-merge on the same key at scale — both fine); the
    1-row x 1-row crossJoin is the only nested-loop allowed."""
    plan = _plan(Q.QUERIES["pipeline_funnel"](spark, SF))
    assert plan.count("HashAggregate") >= 4
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_crawl_snapshot_diff_join_free(spark):
    """crawl_snapshot_diff: the WHOLE diff is join-free — conditional
    max(struct) per canonical URL (partial/final, map-side combine) +
    the host/status rollup; no Join, no Window, ≤3 exchanges (seed
    fan-out + the two agg shuffles), no Python."""
    plan = _plan(Q.QUERIES["crawl_snapshot_diff"](spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 3
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_index_postings_two_aggs_no_join_no_python(spark):
    """index_postings: per-(term, segment) postings then the per-term
    manifest merge — two partial/final ObjectHashAggregates (collect_list
    combines map-side), ≤3 exchanges (seed fan-out + two agg shuffles;
    df_s must come from the collected array, NOT a countDistinct, which
    would plan a third distinct-expand shuffle), no Join, no Window,
    no Python."""
    plan = _plan(Q.QUERIES["index_postings"](spark, SF))
    assert plan.count("ObjectHashAggregate") >= 4
    assert plan.count("Exchange") <= 3
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_outlink_extract_map_side_only(spark):
    """outlink_extract: WAT-style link extraction is a pure map pass —
    Generate (posexplode) + codegen regex/canon projections; the ONLY
    exchange is the synth seed fan-out. No join, no agg, no Python."""
    plan = _plan(Q.QUERIES["outlink_extract"](spark, SF))
    assert "Generate" in plan
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_anchor_text_agg_single_agg_no_join(spark):
    """anchor_text_agg: ONE partial/final ObjectHashAggregate keyed by
    canonical target (collect_list combines map-side); distinct source
    hosts come from the collected array — a countDistinct would plan a
    second distinct-expand shuffle. ≤2 exchanges, no join, no window,
    no Python."""
    plan = _plan(Q.QUERIES["anchor_text_agg"](spark, SF))
    assert plan.count("ObjectHashAggregate") >= 2
    assert plan.count("Exchange") <= 2
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_lang_quota_sample_no_corpus_window(spark):
    """lang_quota_sample: exact per-lang top-N WITHOUT a corpus-wide
    row_number window (that would shuffle everything by lang and rank
    the dominant language serially): tiny counts agg BROADCAST back,
    map-side threshold filter, one bounded collect_list agg. No Window,
    BroadcastHashJoin only, ≤3 exchanges, no Python."""
    plan = _plan(Q.QUERIES["lang_quota_sample"](spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # real shuffles only (BroadcastExchange contains 'Exchange'): the
    # two corpus scans each pay the synth seed fan-out, plus the counts
    # agg and the bounded top-N agg — on parquet at scale the fan-outs
    # vanish and this is 2
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles <= 4
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_link_degree_dist_contracts_before_degree_aggs(spark):
    """link_degree_dist: the pair-distinct contracts the edge list
    BEFORE the degree aggs; the final join runs on two host-sized
    relations. No Window, no nested loop, no Python."""
    plan = _plan(Q.QUERIES["link_degree_dist"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_host_hits_no_window_no_python(spark):
    """host_hits: K unrolled iterations of hash join + partial/final
    agg over the host-contracted weighted edge list (staged once per
    session); integer shift instead of L2 normalization. No Window, no
    nested loop, no Python."""
    plan = _plan(Q.QUERIES["host_hits"](spark, SF))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_incremental_joins_on_content_hash(spark):
    """dedup_incremental: big-big dedup joins on the md5 key (broadcast
    is fine at gate SF; at scale AQE plans the co-partitioned hash
    join); the rollup is partial/final. No window, no nested loop, no
    Python."""
    plan = _plan(Q.QUERIES["dedup_incremental"](spark, SF))
    assert "Join" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_colloc_pmi_no_window_broadcast_uni_take_ordered(spark):
    """colloc_pmi_topk: bigrams extracted map-side (zip_with over the
    split array — NO doc_id window shuffle of the token stream); the
    vocabulary-sized unigram relation BROADCASTS onto the pruned bigram
    counts; top-K plans as TakeOrderedAndProject, never a global Sort.
    No Python anywhere."""
    plan = _plan(Q.QUERIES["colloc_pmi_topk"](spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_robots_path_filter_broadcast_semi_with_prefix_residual(spark):
    """robots_path_filter: the rule list broadcasts; the prefix match
    rides the host-equi BroadcastHashJoin as a residual condition (the
    page side never shuffles for the filter). No SortMergeJoin, no
    nested loop, no Window, no Python."""
    plan = _plan(Q.QUERIES["robots_path_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_paragraph_dedup_agg_join_agg_no_window_no_python(spark):
    """paragraph_dedup: first-occurrence agg (partial/final, map-side
    combinable) + one hash join back on the md5 key + doc-keyed
    reassembly aggs — no Window over the corpus, nothing in Python."""
    plan = _plan(Q.QUERIES["paragraph_dedup"](spark, SF))
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_tile_pyramid_single_corpus_pass(spark):
    """tile_pyramid: the corpus contributes exactly one staged base agg;
    the final plan's three union branches read the 1024-row stage (an
    ExistingRDD scan), never the page corpus — no parquet scan, no join,
    no Python anywhere."""
    plan = _plan(Q.QUERIES["tile_pyramid"](spark, SF))
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # parent rollups partial/final


def test_pack_sequences_single_shard_exchange_no_join(spark):
    """pack_sequences: ONE hash exchange (the shard key) feeding a
    partition-local window — no join, no corpus re-shuffle, no Python."""
    plan = _plan(Q.QUERIES["pack_sequences"](spark, SF))
    assert "Window" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_keep_best_single_agg_no_window_no_python(spark):
    """dedup_keep_best: labels ⋈ documents then ONE map-side-combinable
    min(struct)+count agg — no window anywhere, no Python. struct-min
    plans as SortAggregate in Spark; the scale property is the partial
    (map-side) min before the component_id exchange."""
    plan = _plan(Q.QUERIES["dedup_keep_best"](spark, SF))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine before the exchange
    assert plan.count("Aggregate") >= 2  # partial + final
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_boilerplate_remove_anti_join_aggs_no_window_no_python(spark):
    """boilerplate_remove: kill set via two staged hash aggs, LEFT ANTI
    probe, doc-keyed reassembly agg — no window, no countDistinct Expand,
    no Python."""
    plan = _plan(Q.QUERIES["boilerplate_remove"](spark, SF))
    assert "LeftAnti" in plan or "left_anti" in plan.lower()
    assert "Window" not in plan
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_bpe_pair_counts_hash_agg_no_corpus_rescan(spark):
    """bpe_merge_topk: every merge round's pair count runs on the STAGED
    vocabulary relation (checkpoint scan, never a parquet rescan of the
    corpus), extracts pairs map-side (zip_with, no position Window), and
    aggregates partial/final. No Python anywhere."""
    from pdxbldgimport_spark.queries_text import _bpe_pairs, _bpe_words0

    plan = _plan(_bpe_pairs(_bpe_words0(spark, SF)))
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_kmeans_partials_map_side_no_corpus_rescan(spark):
    """kmeans_fit: a Lloyd's round reads the STAGED quantized vectors
    (checkpoint scan, never a parquet rescan), the assignment+partial-
    sums kernel is the designed map-side MapInPandas (≤K rows leave each
    batch), and the update is a partial/final hash agg. No Window, no
    join, no sort of the corpus."""
    from pdxbldgimport_spark.operators import vectors as V
    from pdxbldgimport_spark.queries_text import KM_K, _km_qdf

    qdf = _km_qdf(spark, SF)
    cents = [r["q"] for r in qdf.where(f"vec_id < {KM_K}")
             .orderBy("vec_id").collect()]
    from pyspark.sql import functions as F
    plan = _plan(
        V.kmeans_partials(qdf, cents).groupBy("cid").agg(
            F.sum("n").alias("n"),
            F.sum(F.element_at("sums", 1)).alias("s0"),
        )
    )
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert "MapInPandas" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_score_filter_broadcast_model_one_doc_agg(spark):
    """lm_score_filter: the pruned bigram model BROADCASTS onto the
    map-side bigram stream (no shuffle of the corpus on a word key —
    no SortMergeJoin), bigrams come from zip_with (no doc Window), and
    the score is one doc-keyed partial/final agg. No Python."""
    plan = _plan(Q.QUERIES["lm_score_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_split_by_host_single_rollup_no_join(spark):
    """split_by_host: ONE partial/final host aggregation; the split
    expression runs on the group key after the agg — no join, no
    window, no Python anywhere, and exactly one shuffle exchange."""
    plan = _plan(Q.QUERIES["split_by_host"](spark, SF))
    assert plan.count("HashAggregate") == 2  # partial + final
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_cell_compact_staged_levels_broadcast_anti(spark):
    """cell_compact: the corpus contributes one staged base agg; every
    level is staged too, so the final plan is pure broadcast LEFT ANTI
    joins over cell-bounded (<=4^res row) stage scans — no shuffle
    exchange, no window, no Python in the assembled query."""
    plan = _plan(Q.QUERIES["cell_compact"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 7
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_domain_mix_report_topk_bounded_window(spark):
    """domain_mix_report: the host rollup is staged (one partial/final
    agg at materialization); the head is TakeOrderedAndProject (no
    global sort) and the only windows run AFTER the top-K cut, bounded
    by MIX_TOP_K rows. Scalar totals attach via 1-row broadcast
    nested-loop crossJoins — never a shuffle of the host table."""
    plan = _plan(Q.QUERIES["domain_mix_report"](spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 1
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_dsir_importance_broadcast_model_one_doc_agg(spark):
    """dsir_importance: model AND per-doc scores are staged, so the
    assembled plan is a staged scan plus a 1-row broadcast scalar
    attach — no shuffle exchange, no sort-merge join, no window, no
    Python. The score pass's BroadcastHashJoin shape is asserted on the
    un-staged score subtree directly (what each stage materializes)."""
    plan = _plan(Q.QUERIES["dsir_importance"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan

    # the materialized score pass: bucket model must broadcast
    import pdxbldgimport_spark.queries_text as QT
    from pdxbldgimport_spark.queries import views
    from pyspark.sql import functions as F

    views(spark, SF)
    bl = (
        spark.table("documents")
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("bgr"),
        )
        .select(
            "doc_id",
            F.col("bgr.w1").alias("w1"),
            F.col("bgr.w2").alias("w2"),
        )
        .select("doc_id", F.expr(QT._DSIR_B_SPARK).alias("b"))
    )
    model = bl.groupBy("b").agg(F.count(F.lit(1)).alias("wgt"))
    score = bl.join(F.broadcast(model), "b").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    sub = _plan(score)
    assert "BroadcastHashJoin" in sub
    assert "SortMergeJoin" not in sub
    assert "BatchEvalPython" not in sub


def test_tile_focal_stats_grid_bounded(spark):
    """tile_focal_stats: the corpus contributes only the staged base
    tile agg; the neighborhood pass explodes the 1024-row TILE table
    (never the corpus) and re-aggregates by neighbor key, with the own-
    count attach as a broadcast join. No corpus-side shuffle beyond the
    stage, no window, no Python."""
    plan = _plan(Q.QUERIES["tile_focal_stats"](spark, SF))
    assert "FileScan" not in plan  # only staged-RDD scans feed the plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_dwithin_join_is_broadcast_ring_join(spark):
    """dwithin_join: the ring side broadcasts under the gate; the page
    side must reach the join through pure JVM arithmetic (cell
    projection + distance refine), no Python, no sort-merge."""
    plan = _plan(Q.QUERIES["dwithin_join"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_tile_moran_corpus_touches_one_agg(spark):
    """tile_moran: beyond the staged tile-count base (a checkpoint
    scan), everything runs on the bounded tile table — broadcast joins
    only, no sort-merge, nothing in Python."""
    plan = _plan(Q.QUERIES["tile_moran"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_curriculum_order_no_unpartitioned_corpus_window(spark):
    """curriculum_order: the corpus-scale window must be partitioned by
    the rank bucket — the only unpartitioned window allowed is the
    prefix-sum over the bounded bucket-count table (its input schema is
    the 3-column counts row, never the corpus schema)."""
    import re

    plan = _plan(Q.QUERIES["curriculum_order"](spark, SF))
    assert "MapInPandas" not in plan
    # every Window over a schema containing page_id must carry a
    # partition spec with the bucket column
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        args = m.group(0)
        if "page_id" in args:
            assert "__bkt" in args, args


def test_host_triangles_oriented_no_cartesian(spark):
    """host_triangles: degree attach broadcasts; wedge/closing joins are
    hash equi-joins — a Cartesian or Python operator here means the
    orientation trick silently broke."""
    plan = _plan(Q.QUERIES["host_triangles"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_heavy_hitters_cms_partial_agg_broadcast_probe(spark):
    """heavy_hitters_cms: sketch build is one partial/final hash agg
    (map-side combine to ≤ D·W cells); the probe joins the broadcast
    sketch — no sort-merge, no Python."""
    plan = _plan(Q.QUERIES["heavy_hitters_cms"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_host_tile_affinity_single_corpus_agg(spark):
    """host_tile_affinity: marginals derive from the (host, tile) table
    and attach broadcast — the corpus is aggregated once, never joined."""
    plan = _plan(Q.QUERIES["host_tile_affinity"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_pricing_summary_pushdown_and_partial_agg(spark):
    """pricing_summary: the shipdate filter reaches the scan (pushed
    filters in the FileScan) and the group-agg combines map-side."""
    df = Q.QUERIES["pricing_summary"](spark, SF)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "l_shipdate" in opt  # filter present below the aggregate


def test_shipping_priority_topk_no_global_sort(spark):
    """shipping_priority: top-k plans as TakeOrderedAndProject, never a
    full Sort of the aggregated output."""
    plan = _plan(Q.QUERIES["shipping_priority"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_brand_revenue_broadcast_dim(spark):
    """brand_revenue: the part dim broadcasts onto the fact stream; one
    partial/final agg; nothing in Python."""
    plan = _plan(Q.QUERIES["brand_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_events_funnel_user_keyed_no_window(spark):
    """events_funnel: three user-keyed MIN aggs + shrinking hash joins —
    a Window or Python operator here means the sequential-step logic
    regressed to a per-user sort."""
    plan = _plan(Q.QUERIES["events_funnel"](spark, SF))
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per step


def test_events_retention_two_contractions_one_join(spark):
    """events_retention: cohort MIN agg + (user, week) distinct, joined
    user-keyed, final grid-bounded agg — no window, no Python."""
    plan = _plan(Q.QUERIES["events_retention"](spark, SF))
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4


def test_tile_rollup_expand_on_contracted_detail_only(spark):
    """tile_rollup: exactly ONE Expand (the ROLLUP), fed by the grid-
    bounded detail aggregation — the corpus must contract through a
    partial/final agg BEFORE the row-multiplying Expand."""
    plan = _plan(Q.QUERIES["tile_rollup"](spark, SF))
    assert plan.count("Expand") == 1
    # detail agg pair + rollup agg pair
    assert plan.count("HashAggregate") >= 4
    assert "MapInPandas" not in plan
    # Expand's input schema is the contracted (ix, iy, n) row — the
    # corpus columns (lon/lat/url) must not appear in the Expand args
    import re

    m = re.search(r"Expand \[.*", plan)
    assert m and "lon" not in m.group(0) and "url" not in m.group(0)


def test_url_frontier_no_unpartitioned_host_window(spark):
    """url_frontier: the corpus-scale window must be partitioned by the
    rank bucket (global_rank's skew-safe shape) — never a bare
    PARTITION BY host that serializes the hot host into one task."""
    import re

    plan = _plan(Q.QUERIES["url_frontier"](spark, SF))
    assert "MapInPandas" not in plan
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        args = m.group(0)
        if "page_id" in args:
            assert "__bkt" in args, args


def test_score_normalize_corpus_never_windowed(spark):
    """score_normalize: windows run only over the bounded (lang, score)
    histogram — never a schema carrying corpus columns — and the
    per-lang bounds come back via broadcast."""
    import re

    plan = _plan(Q.QUERIES["score_normalize"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        assert "text" not in m.group(0) and "doc_id" not in m.group(0)


def test_phrase_search_topk_no_global_sort(spark):
    """phrase_search: postings filter before the position-intersect
    join; top-K via TakeOrderedAndProject — a global Sort or a window
    means the retrieval shape regressed."""
    plan = _plan(Q.QUERIES["phrase_search"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_embedding_gram_bounded_partials(spark):
    """embedding_gram: the Arrow kernel (MapInPandas) IS the intended
    path here — per-batch syrk partials — followed by a partial/final
    SUM agg over bounded rows. A Window or a join means the bounded-
    partials contraction regressed to a pairwise formulation."""
    plan = _plan(Q.QUERIES["embedding_gram"](spark, SF))
    assert "MapInPandas" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "Join" not in plan


def test_skyline_pareto_corpus_never_windowed(spark):
    """skyline_pareto: windows run only over the bounded per-x maxima
    table; frontier levels broadcast back onto the corpus."""
    import re

    plan = _plan(Q.QUERIES["skyline_pareto"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        assert "doc_id" not in m.group(0) and "text" not in m.group(0)


def test_zorder_layout_no_global_sort(spark):
    """zorder_layout: the exact z-order position must come from
    global_rank's bucket decomposition — corpus windows partitioned by
    __bkt, never a bare ORDER BY zkey over the corpus."""
    import re

    plan = _plan(Q.QUERIES["zorder_layout"](spark, SF))
    assert "MapInPandas" not in plan
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        if "page_id" in m.group(0):
            assert "__bkt" in m.group(0), m.group(0)


def test_events_transitions_single_user_exchange(spark):
    """events_transitions: one user-partitioned LEAD window, then a
    straight contraction to the bounded type-pair grid — no Python, no
    unpartitioned window, no join."""
    import re

    plan = _plan(Q.QUERIES["events_transitions"](spark, SF))
    assert "MapInPandas" not in plan
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final grid agg
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        assert "user_id" in m.group(0)


def test_events_anomaly_single_corpus_pass(spark):
    """events_anomaly: corpus contracts once to the (type, hour) grid;
    moments are an agg OF the grid, flag is a broadcast join back."""
    plan = _plan(Q.QUERIES["events_anomaly"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert plan.count("HashAggregate") >= 4  # grid pair + moments pair


def test_geohash_encode_pure_map(spark):
    """geohash_encode: pure map — no keyed shuffle, no join, no window,
    no Python; the encode must ride the scan. (The synth pages view's
    own RoundRobin fan-out exchange is the source, not the query.)"""
    plan = _plan(Q.QUERIES["geohash_encode"](spark, SF))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_events_downsample_partial_final_single_exchange(spark):
    """OHLC endpoints ride min/max(struct) — partial+final SortAggregate
    (struct buffers aren't hash-able) around ONE grid-keyed exchange;
    no Window, no second corpus pass, nothing in Python."""
    plan = _plan(Q.QUERIES["events_downsample"](spark, SF))
    assert plan.count("SortAggregate") >= 2
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_session_path_topk_takeordered_cut(spark):
    """Top-K paths end in TakeOrderedAndProject (per-partition heaps,
    no global sort); path build is agg-side (collect_list within one
    group), the only window is the user-keyed session numbering."""
    plan = _plan(Q.QUERIES["session_path_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "MapInPandas" not in plan


def test_bloom_probe_broadcasts_filter(spark):
    """The position 'bitset' (bounded by BLOOM_M rows) must reach the
    probe as a broadcast — the candidate corpus never shuffles by
    position."""
    plan = _plan(Q.QUERIES["bloom_dedup_probe"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "MapInPandas" not in plan


def test_host_reach2_distinct_contractions(spark):
    """Edge list is pair-distinct BEFORE the 2-hop join and (src,dst2)
    is distinct BEFORE the count — aggs on both sides of the join."""
    plan = _plan(Q.QUERIES["host_reach2"](spark, SF))
    assert plan.count("HashAggregate") >= 4  # 2 distincts, partial+final
    assert "MapInPandas" not in plan


def test_tfidf_topk_window_only_per_doc(spark):
    """The only window is the per-doc top-K rank (bounded by the doc's
    own vocabulary); tf and df are partial/final hash aggs and the
    1-row N scalar arrives via broadcast."""
    plan = _plan(Q.QUERIES["tfidf_topk"](spark, SF))
    assert plan.count("Window [") == 1
    # rank-limit pushdown: partial WindowGroupLimit keeps only the
    # top-K per doc MAP-SIDE before the doc exchange — the shuffle
    # carries ≤ K rows per document, not the full (doc, term) relation
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "MapInPandas" not in plan


def test_events_value_quantiles_histogram_window_only(spark):
    """The cumulative window runs over the (type, cents) HISTOGRAM
    (bounded by the value domain), never the raw events — the corpus
    contracts in a partial/final hash agg first; quantile picks are one
    conditional-min agg."""
    plan = _plan(Q.QUERIES["events_value_quantiles"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Window [") == 1
    assert "MapInPandas" not in plan


def test_type_cooccurrence_distinct_contraction_first(spark):
    """(user, type) distinct contraction BEFORE the user-keyed
    self-join — the join input is bounded at users × types."""
    plan = _plan(Q.QUERIES["type_cooccurrence"](spark, SF))
    assert plan.count("HashAggregate") >= 4  # distinct + final count
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_host_gini_no_unpartitioned_corpus_window(spark):
    """host_gini ranks via global_rank's bucket decomposition: any
    window over a schema carrying the host column must be partitioned
    by the rank bucket; the only bare window is the prefix-sum over the
    bounded bucket-count table."""
    import re

    plan = _plan(Q.QUERIES["host_gini"](spark, SF))
    assert "MapInPandas" not in plan
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        args = m.group(0)
        if "host" in args and "__bkt" not in args:
            raise AssertionError(args)


def test_link_reciprocity_single_row_report(spark):
    plan = _plan(Q.QUERIES["link_reciprocity"](spark, SF))
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_events_rate_flags_single_exchange_range_window(spark):
    """Sliding rate count: ONE user-keyed exchange feeding the RANGE
    window — no join, no second corpus pass, nothing in Python."""
    plan = _plan(Q.QUERIES["events_rate_flags"](spark, SF))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "MapInPandas" not in plan


def test_token_diversity_two_hash_aggs_no_window(spark):
    plan = _plan(Q.QUERIES["token_diversity"](spark, SF))
    assert plan.count("HashAggregate") >= 4  # two partial/final levels
    assert "Window" not in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan


def test_events_dau_wau_bounded_explode_no_window(spark):
    """WAU via the 7-day contribution explode over the ALREADY-distinct
    (day, user) contraction — no corpus window, no per-day re-scan."""
    plan = _plan(Q.QUERIES["events_dau_wau"](spark, SF))
    assert "Generate" in plan  # the bounded sequence explode
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_host_components_no_python(spark):
    plan = _plan(Q.QUERIES["host_components"](spark, SF))
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_tile_rate_smoothed_single_corpus_pass(spark):
    """Corpus contracts once to the tile grid; totals arrive as a 1-row
    broadcast; smoothing is codegen arithmetic — no window, no Python."""
    plan = _plan(Q.QUERIES["tile_rate_smoothed"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_crawl_budget_no_unpartitioned_corpus_window(spark):
    """Remainder ranking uses global_rank's bucket decomposition over
    the HOST-contracted table — any window over a schema carrying host
    must be partitioned by the rank bucket."""
    import re

    plan = _plan(Q.QUERIES["crawl_budget_apportion"](spark, SF))
    assert "MapInPandas" not in plan
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        args = m.group(0)
        if "host" in args and "__bkt" not in args:
            raise AssertionError(args)


def test_corpus_drift_single_pass(spark):
    plan = _plan(Q.QUERIES["corpus_drift"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_table_profile_stack_not_expand_heavy(spark):
    """Unpivot is the explicit map-side stack Generate + ONE col-keyed
    agg chain; no Python, no window."""
    plan = _plan(Q.QUERIES["table_profile"](spark, SF))
    assert "Generate" in plan or "Expand" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_host_typo_pairs_blocked_not_cartesian(spark):
    """Masked-position pigeonhole: candidate pairs come from an equi
    self-join on the masked key — never a cross/nested-loop product."""
    plan = _plan(Q.QUERIES["host_typo_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_orders_month_pivot_no_python_no_window(spark):
    plan = _plan(Q.QUERIES["orders_month_pivot"](spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_media_dedup_exact_hash_before_exchange(spark):
    """md5 is computed map-side (below every Exchange) so the shuffle
    carries digests + partial counts, not payload bytes."""
    plan = _plan(Q.QUERIES["media_dedup_exact"](spark, SF))
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    # plan text is top-down (scan last): the Project computing md5 must
    # sit BELOW every digest-keyed Exchange, i.e. appear after the last
    # one (the synth views' round-robin repartition at the scan sits
    # below the Project — only digest exchanges carry the claim).
    last_digest_ex = plan.rfind("hashpartitioning(digest")
    assert last_digest_ex > 0
    assert plan.lower().rfind("md5(") > last_digest_ex


def test_encoding_quality_map_only(spark):
    """Pure per-row scoring: no key-hash exchange (only the synth views'
    round-robin seed fan-out), no Window, no Python."""
    plan = _plan(Q.QUERIES["encoding_quality"](spark, SF))
    assert "hashpartitioning" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_fk_integrity_aggregates_before_join(spark):
    """Each edge joins key-CARDINALITY relations (post-agg), never raw
    children: every SortMergeJoin/ShuffledHashJoin input is an
    aggregate, and no row-level join output survives to the result."""
    plan = _plan(Q.QUERIES["fk_integrity"](spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_revenue_rollup_single_expand_pass(spark):
    """ROLLUP compiles to one Expand feeding one partial/final agg —
    subtotals in a single pass, no second scan, no union of scans."""
    plan = _plan(Q.QUERIES["revenue_rollup"](spark, SF))
    assert plan.count("Expand") >= 1
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    # one scan of orders only
    assert plan.count("orders.parquet") <= 1 or plan.count("Scan") <= 6


def test_path_prefix_rollup_one_agg_no_join(spark):
    plan = _plan(Q.QUERIES["path_prefix_rollup"](spark, SF))
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan


def test_manifest_prune_metadata_only_joins(spark):
    """Pages are aggregated into the manifest BEFORE any join; the
    non-equi bbox probe is a nested loop ONLY over the broadcast 3-row
    probe side against post-agg manifest rows (the manifest agg's
    (layout, file_id) exchange sits below every join) — no pages-side
    shuffle join, no unbroadcast product, no window, no Python."""
    plan = _plan(Q.QUERIES["manifest_prune"](spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan
    first_join = min(
        i for i in (plan.find("Join"),) if i >= 0
    )
    assert plan.find("hashpartitioning(layout", first_join) > 0


def test_hard_negative_mine_broadcast_dup_exclusion(spark):
    """The dup-pair exclusion is a broadcast anti-join (tiny right
    side), and candidates come from the bucket equi-join — never a
    nested-loop product."""
    plan = _plan(Q.QUERIES["hard_negative_mine"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lang_source_cube_expand_partial_final(spark):
    """CUBE plans as one map-local Expand (×4 grouping sets) feeding a
    single partial/final hash agg — one corpus scan replaces the four
    separate GROUP BYs; nothing in Python."""
    plan = _plan(Q.QUERIES["lang_source_cube"](spark, SF))
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_scd2_history_single_url_exchange(spark):
    """The change-detect LAG, version ROW_NUMBER, and valid_to LEAD all
    share one (canonical_url) partitioning + (warc_ts, page_id) sort:
    exactly ONE url-keyed exchange in the plan, no join, no Python."""
    plan = _plan(Q.QUERIES["scd2_history"](spark, SF))
    assert plan.count("hashpartitioning(canonical_url") == 1
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_embedding_quantize_codegen_broadcast_calibration(spark):
    """Calibration contracts to |dims| rows via partial/final agg; the
    2×64-double calibration row reaches each vector by broadcast; code
    assignment + error are higher-order-function codegen — no Python
    operator anywhere, no shuffle of the vector side beyond the scan."""
    plan = _plan(Q.QUERIES["embedding_quantize"](spark, SF))
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_idw_interpolate_grid_bounded_broadcast_anti(spark):
    """Everything above the shared footprint-tile stage is grid-bounded:
    bounded 24-way offset explode, one grid-keyed agg, broadcast
    anti-join against the occupied set — no sort-merge join, no
    Python."""
    plan = _plan(Q.QUERIES["idw_interpolate"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_host_topk_pages_window_group_limit(spark):
    """The rank-filter window must compile to WindowGroupLimit: each map
    task keeps ≤ k rows per group BEFORE the host exchange, so the
    shuffle carries ≤ k·|hosts| rows, never the corpus."""
    plan = _plan(Q.QUERIES["host_topk_pages"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_dedup_prefix_filter_no_product_no_python(spark):
    """Candidates come only from prefix-shingle equi-joins; nothing may
    plan as an unbounded product and nothing runs in Python."""
    plan = _plan(Q.QUERIES["dedup_prefix_filter"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_agg_delta_merge_state_merge_shape(spark):
    """Two partial/final states (old + delta) merged via one full-outer
    join of |hosts|-bounded tables — the IVM shape; no Python."""
    plan = _plan(Q.QUERIES["agg_delta_merge"](spark, SF))
    assert "FullOuter" in plan
    assert plan.count("HashAggregate") >= 4
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_events_gap_fill_user_keyed_no_join(spark):
    """Gap-fill is grid-union + one LOCF window, all keyed by user_id —
    no join anywhere (the oracle's LATERAL-top-1 is the quadratic
    formulation the engine must NOT mirror), nothing in Python."""
    plan = _plan(Q.QUERIES["events_gap_fill"](spark, SF))
    assert "Join" not in plan
    assert "Window" in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_sessions_concurrency_segmented_scan_shape(spark):
    """The sweep-line must be the distributed segmented-scan form: the
    per-delta running sum is partitioned by hour (hashpartitioning(hr)
    exchange present); the only unpartitioned window input is the
    BOUNDED per-hour table (post-agg); no join, no Python."""
    plan = _plan(Q.QUERIES["sessions_concurrency"](spark, SF))
    assert "hashpartitioning(hr" in plan
    assert "Join" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_areal_weight_grid_no_join_partial_final(spark):
    """The engine never joins: footprints explode to their covered tile
    range (bounded fan-out), the clip is map-side arithmetic, one
    grid-keyed partial/final agg contracts the result. The oracle's
    grid × footprints IEJoin is the formulation the engine must NOT
    mirror."""
    plan = _plan(Q.QUERIES["areal_weight_grid"](spark, SF))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_reservoir_sample_window_group_limit_no_corpus_shuffle(spark):
    """The A-ES race is a pure codegen projection (four md5 arms folded
    by LEAST — no explode, no per-doc aggregate), and the per-lang
    smallest-K compiles to WindowGroupLimit so each map task forwards
    ≤ K rows per lang: the corpus itself is never exchanged. Guards:
    group-limit present, no aggregate, no join, no generator, no
    Python anywhere."""
    plan = _plan(Q.QUERIES["reservoir_sample"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode path
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_snap_to_segment_broadcast_ring_min_struct(spark):
    """snap_to_segment: gate-SF plan must broadcast the exploded
    segment ring (page side never shuffles before the top-1 combine),
    refine entirely in codegen, and take the nearest segment as a
    partial+final min(struct) — no window, no Python, no nested-loop."""
    plan = _plan(Q.QUERIES["snap_to_segment"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    # nearest-only = partial+final min(struct(d2, way_id)): struct agg
    # buffers plan as SortAggregate (same shape as knn_join's top-1) —
    # still map-side combinable before the page_id exchange.
    assert plan.count("SortAggregate") >= 2
    assert "MapInPandas" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_cdc_apply_two_exchanges_no_join(spark):
    """cdc_apply: MERGE metrics classify from ONE min/max-struct agg
    per key plus the host rollup — exactly two hash-partitioned
    exchanges (the view's ingest RoundRobin spread aside), no join, no
    window, nothing in Python at any scale. The struct min/max and the
    min(url) string buffers plan as partial+final SortAggregate."""
    plan = _plan(Q.QUERIES["cdc_apply"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("SortAggregate") >= 4  # partial+final × two aggs
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_doc_chunk_is_shuffle_free_map_side(spark):
    """doc_chunk: chunking is a pure map-side Generate+Project — no
    hash/range exchange (the view's ingest RoundRobin spread aside),
    no aggregation, no Python; it fuses into whatever scan feeds it at
    10^12 docs."""
    plan = _plan(Q.QUERIES["doc_chunk"](spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Aggregate" not in plan
    assert "Generate" in plan  # the explode
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_bigram_lm_score_no_window_in_engine(spark):
    """bigram_lm_score: the engine derives bigrams via a map-side array
    transform — the full token stream must NOT pass through a per-doc
    window sort (the oracle's lead() formulation is DuckDB-only)."""
    plan = _plan(Q.QUERIES["bigram_lm_score"](spark, SF))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_parcel_scan_path_single_exchange_no_python(spark):
    """parcel_scan_path: the lag() window and the per-parcel agg must
    share ONE pid-keyed Exchange (Catalyst reuses the partitioning);
    a second exchange would re-shuffle the whole pages table."""
    plan = _plan(Q.QUERIES["parcel_scan_path"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_events_twa_single_exchange_no_python(spark):
    """events_twa: lead() window + user agg over one user-keyed
    Exchange, no join."""
    plan = _plan(Q.QUERIES["events_twa"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_events_mad_outliers_broadcast_stats_no_sort_merge(spark):
    """events_mad_outliers: the 5-row per-type stats must come back as
    broadcast joins — the event rows must never shuffle by a non-type
    key, and no sort-merge join may appear."""
    plan = _plan(Q.QUERIES["events_mad_outliers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_label_propagation_no_window_bounded_joins(spark):
    """label_propagation: the per-round argmax is a struct-max
    aggregate, never a Window (a window would sort every (host, label)
    partition); rounds are hash joins + partial/final aggs only."""
    plan = _plan(Q.QUERIES["label_propagation"](spark, SF))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan  # bounded label table broadcasts
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_small_order_revenue_broadcast_decorrelated(spark):
    """small_order_revenue: the decorrelated per-part stats and the
    part dim must both come back as broadcast joins — lineitem rows
    never sort-merge."""
    plan = _plan(Q.QUERIES["small_order_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_events_cusum_broadcast_stats_window_on_grid(spark):
    """events_cusum: the per-type stats broadcast back; the prefix-sum
    window runs ABOVE the (type, hour) contraction (a HashAggregate
    appears below the Window), never over raw events."""
    plan = _plan(Q.QUERIES["events_cusum"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan and "Window" in plan
    assert plan.index("Window") < plan.index("HashAggregate")  # agg feeds window (plan prints top-down)
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_cumulative_users_window_on_bounded_grid(spark):
    """cumulative_users: the single-partition prefix window touches the
    bounded day grid only — both user- and day-keyed contractions
    (HashAggregates) sit below it, and no Python appears."""
    plan = _plan(Q.QUERIES["cumulative_users"](spark, SF))
    assert plan.count("HashAggregate") >= 4  # partial+final × (user, day)
    assert "Window" in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_host_sssp_no_window_no_python(spark, monkeypatch):
    """host_sssp: min-plus relaxation rounds are joins + partial/final
    MIN aggs on checkpointed bounded tables — no Window, no Python.
    One round: a run to the fixpoint returns a scan of its last round
    cut, where nothing of the round's plan is left to inspect."""
    from pdxbldgimport_spark import queries_web

    monkeypatch.setattr(queries_web, "SSSP_ROUNDS", 1)
    plan = _plan(Q.QUERIES["host_sssp"](spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_ip_lpm_route_broadcast_routes_no_nested_loop(spark):
    plan = _plan(Q.QUERIES["ip_lpm_route"](spark, SF))
    # the route table joins as a broadcast; LPM must never plan as a
    # theta/range join (nested loop) or shuffle the host side per level
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan


def test_bot_users_median_on_grid_not_user_rows(spark):
    plan = _plan(Q.QUERIES["bot_users"](spark, SF))
    # the single-partition window runs over the (share_ppm -> count)
    # grid AFTER a hash aggregation; the user table reaches the final
    # flag via a broadcast of the 1-row median, never a sort-merge
    assert plan.count("HashAggregate") >= 4
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan


def test_weighted_quantiles_contracts_before_window(spark):
    plan = _plan(Q.QUERIES["weighted_quantiles"](spark, SF))
    # doc rows contract to the (lang, n_chars) grid via partial+final
    # agg before any Window touches them
    assert plan.count("HashAggregate") >= 2
    assert plan.index("HashAggregate") < plan.index("Window")
    assert "MapInPandas" not in plan


def test_top_supplier_broadcast_max_no_sort(spark):
    plan = _plan(Q.QUERIES["top_supplier"](spark, SF))
    # global-max equality join back: broadcast 1-row max + broadcast
    # supplier dim; no global sort, no sort-merge join
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" not in plan
    assert "MapInPandas" not in plan


def test_redirect_resolve_broadcast_resolved_pointers(spark):
    """redirect_resolve: the corpus pass is ONE pid agg; the resolved
    pointer table (bounded by the pid domain) comes back as a
    broadcast — pages never shuffle by chain hop."""
    plan = _plan(Q.QUERIES["redirect_resolve"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_host_neighbor_jaccard_bounded_no_cartesian(spark):
    """host_neighbor_jaccard: degree cap joins as a broadcast filter;
    wedge enumeration is an equi-join on the center — never a
    nested-loop / cartesian pair blowup; no Python."""
    plan = _plan(Q.QUERIES["host_neighbor_jaccard"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_custdist_contracts_orders_before_join(spark):
    """custdist: orders contract to (custkey, n) via partial+final agg
    BEFORE joining customers, and the histogram is a second
    partial+final agg — no Window, no Python."""
    plan = _plan(Q.QUERIES["custdist"](spark, SF))
    assert plan.count("HashAggregate") >= 4
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_wait_suppliers_single_fact_contraction_broadcast_dim(spark):
    """wait_suppliers: the decorrelated rewrite replaces Q21's two
    correlated self-joins with per-order contractions — no Window, the
    supplier dim broadcasts, and lineitem never sort-merges against
    itself at raw-row grain (any SortMergeJoin input is post-agg)."""
    plan = _plan(Q.QUERIES["wait_suppliers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_events_interval_union_single_exchange(spark):
    """Interval union: the island sweep + both contractions all cluster
    on the user prefix — ONE user-keyed exchange, no self-join of
    overlapping pairs, no Python."""
    plan = _plan(Q.QUERIES["events_interval_union"](spark, SF))
    assert plan.count("Exchange") == 1
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "SortMergeJoin",
        "BroadcastHashJoin", "CartesianProduct",
    ):
        assert marker not in plan, marker


def test_idle_customers_broadcast_stats_anti_join(spark):
    """idle_customers: the 1-row balance stats broadcast back; the
    post-cutoff active keys contract (DISTINCT agg) before the anti
    join — no Window, no Python."""
    plan = _plan(Q.QUERIES["idle_customers"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_part_share_suppliers_contracts_before_share_join(spark):
    """part_share_suppliers: lineitem contracts to (part, supp) then to
    per-part totals — the share test runs over contracted relations;
    supplier dim broadcasts; no Window."""
    plan = _plan(Q.QUERIES["part_share_suppliers"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_kcore_round_is_broadcast_semi_joins_no_python(spark):
    """host_kcore: one peel round = degree agg + two broadcast LEFT
    SEMI joins of the shrinking edge list against the kept-host set —
    no sort-merge, no Window, no Python (the production path only adds
    localCheckpoint cuts between rounds)."""
    from pdxbldgimport_spark.queries import views
    from pdxbldgimport_spark.queries_web import (
        KCORE_K,
        KCORE_W,
        _strong_host_edges,
        kcore_peel,
    )

    views(spark, SF)
    plan = _plan(kcore_peel(_strong_host_edges(spark, KCORE_W), KCORE_K, 1))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_priority_orders_semi_join_pushed_filters(spark):
    """priority_orders: the EXISTS runs as a LEFT SEMI against the
    pre-contracted late keys; both date filters reach the scans
    (PushedFilters), no Window, no Python."""
    plan = _plan(Q.QUERIES["priority_orders"](spark, SF))
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan or "PushedFilters" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_promo_share_single_agg_broadcast_part(spark):
    """promo_share: the part dim broadcasts; numerator and denominator
    ride ONE partial/final agg (no second scan); no Window."""
    plan = _plan(Q.QUERIES["promo_share"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_min_cost_supplier_struct_min_no_window(spark):
    """min_cost_supplier: the per-part argmin is a partial-aggregatable
    min(struct) — never a ROW_NUMBER window over the candidate lists;
    supplier dim broadcasts. The struct-min plans as a partial+final
    SortAggregate pair (map-side combine still happens — the rewrite's
    point); count both aggregate flavors."""
    plan = _plan(Q.QUERIES["min_cost_supplier"](spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 4
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_host_assortativity_broadcast_degrees_single_agg(spark):
    """host_assortativity: the bounded degree dim broadcasts onto both
    endpoints; the statistics are ONE global partial/final agg — the
    edge list never shuffles by degree; no Window, no Python."""
    plan = _plan(Q.QUERIES["host_assortativity"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_tile_pca_moments_broadcast_minima_two_aggs(spark):
    """tile_pca_moments: the per-tile minima join back as a BROADCAST
    (tile-dim-sized); both passes are partial/final aggs of codegen
    arithmetic — no Window, no sort-merge, no Python."""
    plan = _plan(Q.QUERIES["tile_pca_moments"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_national_share_broadcast_supplier_one_agg(spark):
    """national_share: supplier bloc flag broadcasts; numerator and
    denominator ride ONE conditional agg; no Window."""
    plan = _plan(Q.QUERIES["national_share"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_events_simpson_two_level_agg_no_join_no_window(spark):
    """events_simpson: (type, user) contraction then type rollup — two
    partial/final agg pairs, no join, no Window, no Python."""
    plan = _plan(Q.QUERIES["events_simpson"](spark, SF))
    assert plan.count("HashAggregate") >= 4
    assert "Join" not in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_trimmed_mean_value_grid_window_broadcast_thresholds(spark):
    """trimmed_mean_value: the cumulative window runs over the bounded
    (type, cents) grid — a HashAggregate contraction sits below it —
    and the threshold table broadcasts back; raw events are never
    windowed or sort-merged."""
    plan = _plan(Q.QUERIES["trimmed_mean_value"](spark, SF))
    assert "Window" in plan and "HashAggregate" in plan
    # the grid contraction sits BELOW the window (plan prints top-down,
    # so an agg must appear after the Window's position)
    assert "HashAggregate" in plan[plan.index("Window"):]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_events_seasonality_grid_broadcast_struct_max(spark):
    """events_seasonality: the corpus contracts once to the (type, hod)
    grid; totals re-join as a broadcast; the peak is a struct-max agg,
    never a Window; no Python."""
    plan = _plan(Q.QUERIES["events_seasonality"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 4
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_events_burstiness_single_exchange(spark):
    """events_burstiness: the lag window and the per-user agg share ONE
    user-keyed exchange; no join, no Python."""
    plan = _plan(Q.QUERIES["events_burstiness"](spark, SF))
    assert plan.count("Exchange") == 1
    for marker in (
        "MapInPandas", "FlatMapGroupsInPandas", "SortMergeJoin",
        "BroadcastHashJoin",
    ):
        assert marker not in plan, marker


def test_returns_impact_take_ordered_broadcast_dims(spark):
    """returns_impact: the top-k is TakeOrderedAndProject over the
    customer-contracted relation (no global Sort); both dims broadcast
    after the cut."""
    plan = _plan(Q.QUERIES["returns_impact"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_media_ahash_single_arrow_pass_no_shuffle(spark):
    """media_ahash: one Arrow-batched mapInPandas pass over the images
    — no shuffle, no join, no window (the parallel axis is docs)."""
    plan = _plan(Q.QUERIES["media_ahash"](spark, SF))
    assert "MapInPandas" in plan
    # the media view's round-robin respread is parallelism plumbing;
    # what must not appear is a KEYED shuffle
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_host_modularity_broadcast_labels_no_window(spark):
    """host_modularity: the bounded label table broadcasts onto both
    edge endpoints for the audit; the LPA rounds are joins + aggs with
    struct-max argmax — no Window, no Python anywhere."""
    plan = _plan(Q.QUERIES["host_modularity"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_orders_cohort_value_agg_join_no_window(spark):
    """orders_cohort_value: cohort assignment is a custkey MIN agg +
    hash join back (the oracle's MIN OVER window formulation certifies
    the rewrite) — the engine plan itself has no Window, no Python."""
    plan = _plan(Q.QUERIES["orders_cohort_value"](spark, SF))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_media_loudness_single_arrow_pass(spark):
    """media_loudness_windows: one Arrow mapInPandas pass over audio
    docs — no keyed shuffle, no join, no window."""
    plan = _plan(Q.QUERIES["media_loudness_windows"](spark, SF))
    assert "MapInPandas" in plan
    assert "hashpartitioning" not in plan
    assert "Join" not in plan and "Window" not in plan


def test_events_autocorr_grid_window_no_corpus_window(spark):
    """events_autocorr_lag1: the corpus contracts once (partial+final
    agg); the lead window runs over the bounded dense grid (an agg
    appears below it in the plan); grid joins are broadcasts."""
    plan = _plan(Q.QUERIES["events_autocorr_lag1"](spark, SF))
    assert "Window" in plan
    assert "HashAggregate" in plan[plan.index("Window"):]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_supplier_cooccurrence_bounded_pairs_no_cartesian(spark):
    """supplier_cooccurrence: pairs enumerate within an order via an
    orderkey equi-join of the contracted distinct relation — never a
    cartesian supplier×supplier blowup; the 1-row mean stats broadcast."""
    plan = _plan(Q.QUERIES["supplier_cooccurrence"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
