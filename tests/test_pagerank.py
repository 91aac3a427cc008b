"""PageRank power iteration vs a numpy oracle."""

import numpy as np
import pytest

from search_engine_tr_spark.operators.pagerank import pagerank


def _np_pagerank(edges, n, d=0.85, iters=40):
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.zeros(n)
        dangling = r[out_deg == 0].sum()
        for s, t in edges:
            nxt[t] += r[s] / out_deg[s]
        r = (1 - d) / n + d * (nxt + dangling / n)
    return r


def test_pagerank_matches_numpy(spark):
    # 0→1, 0→2, 1→2, 2→0, 3 dangling (pointed at by 2? no: 2→3)
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3)]
    n = 4
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, max_iter=40, tol=1e-12).collect()}
    exp = _np_pagerank(edges, n)
    for i in range(n):
        assert got[i] == pytest.approx(exp[i], rel=1e-6), i
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_converges_on_cycle(spark):
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, max_iter=50).collect()}
    for v in got.values():
        assert v == pytest.approx(1 / 3, rel=1e-6)

