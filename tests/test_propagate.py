"""operators.propagate vs a pure-Python power iteration."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pdxbldgimport_spark.operators.propagate import propagate
from pdxbldgimport_spark.queries_web import HITS_SHIFT

K = 3
X0 = 10**12  # large enough that K shifted steps stay well above 0


def test_propagate_matches_python_power_iteration(spark):
    rng = random.Random(7)
    n = 30
    isolated, source = n - 1, n - 2  # no edges at all / out-edges only
    w = {}
    for u in range(n - 1):
        for v in range(n - 2):
            if u != v and rng.random() < 0.2:
                w[(u, v)] = rng.randint(1, 5)
    assert any(u == source for u, _ in w)
    ow = {}
    for (u, _), wt in w.items():
        ow[u] = ow.get(u, 0) + wt

    x = {h: X0 for h in range(n)}
    for _ in range(K):
        acc = dict.fromkeys(x, 0)
        for (u, v), wt in w.items():
            acc[v] += (850 * x[u] * wt) // (1000 * ow[u])
        x = {h: s // (1 << HITS_SHIFT) for h, s in acc.items()}

    edges = spark.createDataFrame(
        [(u, v, wt, ow[u]) for (u, v), wt in sorted(w.items())],
        "src long, dst long, w long, ow long",
    )
    nodes = spark.createDataFrame([(h,) for h in range(n)], "h long")
    r = nodes.select("h", F.lit(X0).cast("long").alias("r"))
    term = F.expr("(850 * r * w) div (1000 * ow)")

    def finish(c):
        return F.call_function("div", c, F.lit(1 << HITS_SHIFT))

    for _ in range(K):
        r = propagate(edges, nodes, r, term, finish)
    got = {row["h"]: row["r"] for row in r.collect()}
    assert got == x
    assert got[isolated] == 0 and got[source] == 0
    assert sum(v > 0 for v in got.values()) > n // 2
