"""Brute-force certification of the drift/SSSP/decorrelation batch:
host_sssp vs a pure-Python Dijkstra run to CONVERGENCE (also proves
the fixed-K Bellman-Ford equals the fixpoint on the synth graph),
events_cusum / cumulative_users vs pandas re-derivations, and
small_order_revenue vs a pandas per-part average filter."""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd

from pdxbldgimport_spark import registry as Q
from tests.conftest import SF_SMOKE
from tests.test_robust_graph import _duck_pages


def _sssp_graph():
    """(adjacency src -> [(dst, weight)], seed distances) of
    the smoke SF's distinct weighted edge list, derived from the pages
    rows."""
    from pdxbldgimport_spark.queries_web import _SSSP_SEED_MOD
    from pdxbldgimport_spark.synth import NP

    pages = _duck_pages("pid, page_id")
    edges = {
        (int(p), int((g * 13 + 7) % NP))
        for p, g in zip(pages.pid, pages.page_id)
    }
    adj: dict[int, list[tuple[int, int]]] = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, []).append((d, 1 + (s + d) % 7))
        nodes.add(s)
        nodes.add(d)
    return adj, {h: 0 for h in nodes if h % _SSSP_SEED_MOD == 0}


def _sssp_frame(dist: dict) -> pd.DataFrame:
    return (
        pd.DataFrame(
            {
                "host": [f"h{h}.example.com" for h in dist],
                "dist": list(dist.values()),
            }
        )
        .sort_values("host")
        .reset_index(drop=True)
    )


def _engine_sssp(spark) -> pd.DataFrame:
    return (
        Q.QUERIES["host_sssp"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("host")
        .reset_index(drop=True)
    )


def test_host_sssp_matches_dijkstra_fixpoint(spark):
    eng = _engine_sssp(spark)
    adj, dist = _sssp_graph()
    # Dijkstra to convergence (no round bound) from all seeds
    pq = [(0, h) for h in dist]
    heapq.heapify(pq)
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, math.inf):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, math.inf):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    ref = _sssp_frame(dist)
    assert len(eng) == len(ref)
    m = eng.merge(ref, on="host", suffixes=("_e", "_r"))
    assert (m.dist_e.astype("int64") == m.dist_r.astype("int64")).all()
    # the weighted metric is non-trivial: some host is farther than its
    # hop count (weight > 1 on the shortest path)
    assert (m.dist_e > 1).any()


def test_host_sssp_one_round_cap_matches_bellman_ford(spark, monkeypatch):
    """A cap that binds: with SSSP_ROUNDS = 1 the engine runs its one
    uncut round, which must equal one Python Bellman-Ford relaxation
    from the seeds — short of the fixpoint."""
    from pdxbldgimport_spark import queries_web

    monkeypatch.setattr(queries_web, "SSSP_ROUNDS", 1)
    eng = _engine_sssp(spark)
    adj, seeds = _sssp_graph()

    def relax(dist: dict) -> dict:
        out = dict(dist)
        for s, ds in dist.items():
            for v, w in adj.get(s, []):
                out[v] = min(out.get(v, ds + w), ds + w)
        return out

    one = relax(seeds)
    assert relax(one) != one  # one round is short of the fixpoint
    pd.testing.assert_frame_equal(
        eng.astype({"dist": "int64"}), _sssp_frame(one).astype({"dist": "int64"})
    )


def _events(cols=("user_id", "ts", "event_type")) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/events.parquet")[list(cols)]


def test_events_cusum_matches_pandas(spark):
    from pdxbldgimport_spark.queries_events import CUSUM_K

    eng = (
        Q.QUERIES["events_cusum"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["event_type", "hour_idx"])
        .reset_index(drop=True)
    )
    ev = _events()
    ev["hour_idx"] = ev.ts.astype("int64") // 3_600_000_000
    grid = (
        ev.groupby(["event_type", "hour_idx"]).size().rename("cnt").reset_index()
    )
    out = []
    for et, g in grid.groupby("event_type"):
        g = g.sort_values("hour_idx").copy()
        nh, total = len(g), int(g.cnt.sum())
        g["dev"] = g.cnt.astype("int64") * nh - total
        g["cusum"] = g.dev.cumsum()
        maxdev = int(g.dev.abs().max())
        g["drift_flag"] = (g.cusum.abs() > CUSUM_K * maxdev).astype("int64")
        out.append(g[["event_type", "hour_idx", "cusum", "drift_flag"]])
    ref = (
        pd.concat(out)
        .sort_values(["event_type", "hour_idx"])
        .reset_index(drop=True)
    )
    for c in ["cusum", "drift_flag"]:
        assert (eng[c].astype("int64") == ref[c].astype("int64")).all(), c


def test_cumulative_users_matches_pandas(spark):
    eng = (
        Q.QUERIES["cumulative_users"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("day_idx")
        .reset_index(drop=True)
    )
    ev = _events(("user_id", "ts"))
    ev["day_idx"] = ev.ts.astype("int64") // 86_400_000_000
    days = sorted(ev.day_idx.unique())
    ref_rows, seen, prev = [], set(), 0
    for d in days:
        seen |= set(ev[ev.day_idx == d].user_id)
        ref_rows.append(
            {"day_idx": d, "new_users": len(seen) - prev, "cum_users": len(seen)}
        )
        prev = len(seen)
    ref = pd.DataFrame(ref_rows)
    for c in ["new_users", "cum_users"]:
        assert (eng[c].astype("int64") == ref[c].astype("int64")).all(), c
    # dense grid: zero-new-user days are present, not dropped
    assert len(eng) == len(days)


def test_small_order_revenue_matches_pandas(spark):
    eng = (
        Q.QUERIES["small_order_revenue"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("p_brand")
        .reset_index(drop=True)
    )
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    part = pd.read_parquet(f"{SF_SMOKE}/part.parquet")
    li["qty_c"] = np.floor(li.l_quantity * 100.0).astype("int64")
    li["cents"] = np.floor(li.l_extendedprice * 100.0).astype("int64")
    st = li.groupby("l_partkey").agg(
        sum_qty=("qty_c", "sum"), cnt=("qty_c", "size")
    )
    li = li.join(st, on="l_partkey")
    small = li[5 * li.qty_c * li.cnt < li.sum_qty].merge(
        part[["p_partkey", "p_brand"]],
        left_on="l_partkey",
        right_on="p_partkey",
    )
    ref = (
        small.groupby("p_brand")
        .agg(n_small=("cents", "size"), lost_cents=("cents", "sum"))
        .reset_index()
        .sort_values("p_brand")
        .reset_index(drop=True)
    )
    assert len(eng) == len(ref)
    m = eng.merge(ref, on="p_brand", suffixes=("_e", "_r"))
    assert (m.n_small_e.astype("int64") == m.n_small_r.astype("int64")).all()
    assert (
        m.lost_cents_e.astype("int64") == m.lost_cents_r.astype("int64")
    ).all()
    assert (eng.n_small > 0).all() and len(eng) > 0
