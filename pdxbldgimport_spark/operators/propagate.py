"""One sparse propagation step — the body of every fixed-K power
iteration in the graph family (host_pagerank / host_ppr, host_hits,
events_markov_pi).

For every node v:  x'(v) = finish(coalesce(Σ_{u→v} term(u→v, x(u)), 0)).

Scale shape: one hash join of the bounded state table into the edge list
keyed by src, one partial/final agg keyed by dst, one left join back onto
the node table so nodes with no in-edges still get finish(0) — two
bounded shuffles per step, no driver-side state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F


def propagate(
    edges: DataFrame,
    nodes: DataFrame,
    x: DataFrame,
    term: Column,
    finish: Callable[[Column], Column],
) -> DataFrame:
    """One step. ``x`` is (key, value); ``nodes`` carries ``key``;
    ``edges`` carries (src, dst, ...) and no column named like x's.
    ``term`` reads the edge columns and x's value on the src end;
    ``finish`` maps the per-dst sum and may read ``key``. Returns
    (key, value) with one row per node."""
    key, val = x.columns
    sums = (
        edges.join(x.withColumnRenamed(key, "src"), "src")
        .groupBy(F.col("dst").alias(key))
        .agg(F.sum(term).alias("_sum"))
    )
    return nodes.join(sums, key, "left").select(
        key, finish(F.coalesce("_sum", F.lit(0))).alias(val)
    )
