"""Brute-force certification of the chain/link-prediction batch:
redirect_resolve vs a pure-Python one-hop chain walk, the
neighbor_jaccard kernel vs an O(n^3) brute force on random graphs
(with a binding degree cap), custdist vs a pandas count-of-counts
re-derivation, and wait_suppliers vs a literal per-order
EXISTS/NOT-EXISTS set evaluation — all independent of both engines'
SQL formulations."""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdxbldgimport_spark import registry as Q
from pdxbldgimport_spark.queries_web import neighbor_jaccard
from tests.conftest import SF_SMOKE
from tests.test_robust_graph import _duck_pages


def _hop(u: int) -> int:
    return u if u % 3 == 0 else max(0, u - 1 - u % 7)


def _terminal(pid: int) -> int:
    cur = pid
    while cur % 3 != 0:
        cur = _hop(cur)
    return cur


def _redirect_frames(spark, resolve):
    """(engine, reference) redirect_resolve frames at the smoke SF; the
    reference rolls the observed pids up by ``resolve(pid)``."""
    eng = (
        Q.QUERIES["redirect_resolve"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    pages = _duck_pages("pid")
    rows: dict[int, list[int]] = {}
    for pid, n in pages.pid.value_counts().items():
        cell = rows.setdefault(resolve(int(pid)), [0, 0])
        cell[0] += 1
        cell[1] += int(n)
    ref = (
        pd.DataFrame(
            [
                {"term": t, "n_pids": c[0], "n_pages": c[1]}
                for t, c in rows.items()
            ]
        )
        .sort_values("term")
        .reset_index(drop=True)
    )
    return eng.astype("int64"), ref.astype("int64"), pages


def test_redirect_resolve_matches_python_walk(spark):
    eng, ref, pages = _redirect_frames(spark, _terminal)
    pd.testing.assert_frame_equal(eng, ref)
    # the squaring loop must actually contract multi-hop chains: some
    # observed pid must sit >= 2 hops from its terminal
    assert any(
        pid % 3 != 0 and (pid - 1 - pid % 7) % 3 != 0
        for pid in pages.pid.unique()
    )


def test_redirect_resolve_one_round_cap_matches_square(spark, monkeypatch):
    """A cap that binds: with REDIR_ROUNDS = 1 the engine runs its one
    uncut squaring, so every pid resolves to p(p(pid)) — short of the
    terminal for some observed pid."""
    from pdxbldgimport_spark import queries_web

    monkeypatch.setattr(queries_web, "REDIR_ROUNDS", 1)
    eng, ref, pages = _redirect_frames(spark, lambda u: _hop(_hop(u)))
    pd.testing.assert_frame_equal(eng, ref)
    assert any(
        _hop(_hop(int(pid))) != _terminal(int(pid)) for pid in pages.pid.unique()
    )


@pytest.mark.parametrize("seed,p,dcap", [(0, 0.3, 100), (1, 0.5, 12), (2, 0.15, 6)])
def test_neighbor_jaccard_vs_bruteforce(spark, seed, p, dcap):
    rng = np.random.default_rng(seed)
    n = 30
    names = [f"n{i:02d}" for i in range(n)]
    edges = [
        (names[i], names[j])
        for i, j in combinations(range(n), 2)
        if rng.random() < p
    ]
    adj = set(edges)
    deg: dict[str, int] = {}
    nbr: dict[str, set] = {h: set() for h in names}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
        nbr[a].add(b)
        nbr[b].add(a)
    cmin = 2
    ref_rows = []
    for u, v in combinations(names, 2):
        if (u, v) in adj or u not in deg or v not in deg:
            continue
        # capped common count: only centers under the cap generate wedges
        common = sum(
            1 for c in nbr[u] & nbr[v] if deg[c] <= dcap
        )
        if common >= cmin:
            ref_rows.append(
                {
                    "u": u,
                    "v": v,
                    "common": common,
                    "jacc_ppm": common * 1_000_000 // (deg[u] + deg[v] - common),
                }
            )
    und = spark.createDataFrame(
        pd.DataFrame(edges, columns=["u", "v"])
    ).repartition(4)
    got = (
        neighbor_jaccard(und, dcap, cmin)
        .toPandas()
        .sort_values(["u", "v"])
        .reset_index(drop=True)
    )
    ref = (
        pd.DataFrame(ref_rows, columns=["u", "v", "common", "jacc_ppm"])
        .sort_values(["u", "v"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"common": "int64", "jacc_ppm": "int64"}),
        ref.astype({"common": "int64", "jacc_ppm": "int64"}),
    )
    if dcap < 100:
        # the cap must bind on the denser graphs: some pair's capped
        # count is a strict undercount of the true common-neighbors
        assert any(
            deg.get(c, 0) > dcap
            for u, v in combinations(names, 2)
            for c in (nbr[u] & nbr[v])
        )


def test_custdist_matches_pandas(spark):
    eng = (
        Q.QUERIES["custdist"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("c_count")
        .reset_index(drop=True)
    )
    orders = pd.read_parquet(SF_SMOKE + "/orders.parquet")
    cust = pd.read_parquet(SF_SMOKE + "/customer.parquet")
    n = orders[orders.o_orderpriority != "1-URGENT"].groupby("o_custkey").size()
    c_count = cust.c_custkey.map(n).fillna(0).astype("int64")
    ref = (
        c_count.value_counts()
        .rename_axis("c_count")
        .rename("custdist")
        .reset_index()
        .sort_values("c_count")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(eng.astype("int64"), ref.astype("int64"))
    # zero-order customers exist at the oracle SF (sf0.01 has one), so
    # the driver gate exercises the LEFT join's null arm; the smoke SF
    # is too dense for that — just require a non-degenerate histogram
    assert ref.c_count.nunique() > 1


def test_wait_suppliers_matches_exists_semantics(spark):
    from pdxbldgimport_spark.queries_relational import WAIT_LATE_DAYS

    eng = (
        Q.QUERIES["wait_suppliers"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("s_suppkey")
        .reset_index(drop=True)
    )
    orders = pd.read_parquet(SF_SMOKE + "/orders.parquet")
    li = pd.read_parquet(SF_SMOKE + "/lineitem.parquet")
    sup = pd.read_parquet(SF_SMOKE + "/supplier.parquet")
    fo = orders[orders.o_orderstatus == "F"][["o_orderkey", "o_orderdate"]]
    m = li.merge(fo, left_on="l_orderkey", right_on="o_orderkey")
    m["late"] = (
        m.l_shipdate.dt.normalize() - m.o_orderdate.dt.normalize()
    ).dt.days > WAIT_LATE_DAYS
    supp_of: dict[int, set] = {}
    late_of: dict[int, set] = {}
    for ok, sk, late in zip(m.l_orderkey, m.l_suppkey, m.late):
        supp_of.setdefault(ok, set()).add(sk)
        if late:
            late_of.setdefault(ok, set()).add(sk)
    numwait: dict[int, int] = {}
    for ok, late_set in late_of.items():
        for s in late_set:
            # literal Q21 semantics: EXISTS another supplier in the
            # order, NOT EXISTS another LATE supplier
            others = supp_of[ok] - {s}
            if others and not (late_set - {s}):
                numwait[s] = numwait.get(s, 0) + 1
    ref = (
        pd.DataFrame(
            [{"s_suppkey": s, "numwait": c} for s, c in numwait.items()]
        )
        .merge(sup[["s_suppkey", "s_name"]], on="s_suppkey")
        [["s_suppkey", "s_name", "numwait"]]
        .sort_values("s_suppkey")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        eng.astype({"s_suppkey": "int64", "numwait": "int64"}),
        ref.astype({"s_suppkey": "int64", "numwait": "int64"}),
    )
    # multi-supplier orders with exactly one late supplier must exist
    assert len(ref) > 0


def test_events_interval_union_matches_python_merge(spark):
    from pdxbldgimport_spark.queries_events import (
        INTERVAL_BASE_S,
        INTERVAL_STEP_S,
    )

    eng = (
        Q.QUERIES["events_interval_union"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    ev = pd.read_parquet(SF_SMOKE + "/events.parquet")
    s_us = ev.ts.astype("int64")  # datetime64[us] -> epoch micros
    e_us = s_us + (INTERVAL_BASE_S + (ev.event_id % 7) * INTERVAL_STEP_S) * 1_000_000
    rows = []
    for uid, grp in pd.DataFrame(
        {"u": ev.user_id, "s": s_us, "e": e_us}
    ).groupby("u"):
        ivs = sorted(zip(grp.s, grp.e))
        covered = n = 0
        cur_s, cur_e = None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
                n += 1
            else:
                cur_e = max(cur_e, e)
        covered += cur_e - cur_s
        rows.append({"user_id": uid, "n_islands": n, "covered_us": covered})
    ref = pd.DataFrame(rows).sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(eng.astype("int64"), ref.astype("int64"))
    # overlap must be real: some user's islands < events (merging bound)
    per_user = ev.groupby("user_id").size()
    assert (ref.set_index("user_id").n_islands < per_user).any()


def _py_kcore(edges: set, k: int):
    from collections import Counter

    cur, rounds = set(edges), 0
    while True:
        d = Counter()
        for u, v in cur:
            d[u] += 1
            d[v] += 1
        keep = {h for h, c in d.items() if c >= k}
        nxt = {(u, v) for u, v in cur if u in keep and v in keep}
        rounds += 1
        if nxt == cur:
            break
        cur = nxt
    d = Counter()
    for u, v in cur:
        d[u] += 1
        d[v] += 1
    return dict(d), rounds


@pytest.mark.parametrize("seed,p,k", [(0, 0.25, 4), (1, 0.12, 3), (2, 0.4, 8)])
def test_kcore_peel_vs_bruteforce(spark, seed, p, k):
    from pdxbldgimport_spark.queries_web import kcore_peel

    rng = np.random.default_rng(seed)
    n = 36
    names = [f"n{i:02d}" for i in range(n)]
    edges = {
        (names[i], names[j])
        for i, j in combinations(range(n), 2)
        if rng.random() < p
    }
    ref, rounds = _py_kcore(edges, k)
    und = spark.createDataFrame(
        pd.DataFrame(sorted(edges), columns=["u", "v"])
    ).repartition(4)
    got = (
        kcore_peel(und, k, rounds + 1)
        .toPandas()
        .set_index("host")["core_deg"]
        .to_dict()
    )
    assert got == ref


def test_host_kcore_fixpoint_within_round_budget(spark):
    """The bounded-round output IS the k-core: kcore_peel at the
    KCORE_ROUNDS cap equals the Python peel run to its fixpoint on the
    smoke graph (the gate SF shares the saturated 250-host graph, so
    this certifies the oracle's unroll depth too), the fixpoint round is
    reached inside the cap with a round to spare for the engine to see
    it, and the cascade is live (strictly between 0 and all hosts)."""
    from pdxbldgimport_spark.queries_web import (
        KCORE_K,
        KCORE_ROUNDS,
        KCORE_W,
        _strong_host_edges,
        kcore_peel,
    )
    from pdxbldgimport_spark.queries import views

    views(spark, SF_SMOKE)
    und = _strong_host_edges(spark, KCORE_W).cache()
    try:
        edges = {(r.u, r.v) for r in und.collect()}
        ref, rounds = _py_kcore(edges, KCORE_K)
        got = (
            kcore_peel(und, KCORE_K, KCORE_ROUNDS)
            .toPandas()
            .set_index("host")["core_deg"]
            .to_dict()
        )
    finally:
        und.unpersist()
    assert got == ref
    assert rounds < KCORE_ROUNDS
    n_hosts = len({h for e in edges for h in e})
    assert 0 < len(ref) < n_hosts


def test_idle_customers_matches_pandas(spark):
    from pdxbldgimport_spark.queries_relational import IDLE_CUTOFF

    eng = (
        Q.QUERIES["idle_customers"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("c_nationkey")
        .reset_index(drop=True)
    )
    cust = pd.read_parquet(SF_SMOKE + "/customer.parquet")
    orders = pd.read_parquet(SF_SMOKE + "/orders.parquet")
    sel = cust[cust.c_nationkey % 2 == 0].copy()
    sel["bal_c"] = np.floor(sel.c_acctbal * 100.0).astype("int64")
    pos = sel[sel.bal_c > 0]
    active = set(orders[orders.o_orderdate >= IDLE_CUTOFF.split()[0]].o_custkey)
    idle = sel[
        (sel.bal_c * len(pos) > pos.bal_c.sum())
        & (~sel.c_custkey.isin(active))
    ]
    ref = (
        idle.groupby("c_nationkey")
        .agg(n_cust=("c_custkey", "size"), total_bal_c=("bal_c", "sum"))
        .reset_index()
        .sort_values("c_nationkey")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(eng.astype("int64"), ref.astype("int64"))
    assert len(ref) > 0  # the quiet-and-rich filter is live at smoke SF


def test_part_share_suppliers_matches_pandas(spark):
    from pdxbldgimport_spark.queries_relational import SHARE_PPM

    eng = (
        Q.QUERIES["part_share_suppliers"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("s_suppkey")
        .reset_index(drop=True)
    )
    li = pd.read_parquet(SF_SMOKE + "/lineitem.parquet")
    sup = pd.read_parquet(SF_SMOKE + "/supplier.parquet")
    q = np.floor(li.l_quantity * 100.0).astype("int64")
    ps = (
        pd.DataFrame({"p": li.l_partkey, "s": li.l_suppkey, "q": q})
        .groupby(["p", "s"], as_index=False)
        .q.sum()
    )
    tot = ps.groupby("p").q.sum().rename("tot")
    ps = ps.join(tot, on="p")
    dom = ps[ps.q * 1_000_000 > ps.tot * SHARE_PPM]
    ref = (
        dom.groupby("s")
        .agg(n_parts=("p", "size"), dom_qty_c=("q", "sum"))
        .reset_index()
        .merge(
            sup[["s_suppkey", "s_name"]], left_on="s", right_on="s_suppkey"
        )[["s_suppkey", "s_name", "n_parts", "dom_qty_c"]]
        .sort_values("s_suppkey")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        eng.astype({"n_parts": "int64", "dom_qty_c": "int64"}),
        ref.astype({"n_parts": "int64", "dom_qty_c": "int64"}),
    )
    # dominance must be a strict-minority call: nobody holds >50% here,
    # so the ppm threshold (not a trivial majority rule) is what binds
    assert (dom.q * 2 <= dom.tot).all() and len(dom) > 0
