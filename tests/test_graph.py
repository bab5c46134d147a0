"""pagerank — numpy power-iteration oracle + invariants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark.functions import graph


def _numpy_pagerank(edges, iters, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    out = np.zeros(len(nodes))
    for u, _ in edges:
        out[idx[u]] += 1
    r = np.ones(len(nodes))
    for _ in range(iters):
        s = np.zeros(len(nodes))
        for u, v in edges:
            s[idx[v]] += r[idx[u]] / out[idx[u]]
        r = (1 - d) + d * s
    return {n: r[idx[n]] for n in nodes}


def test_pagerank_matches_numpy(spark):
    rng = np.random.default_rng(8)
    edges = sorted({(int(rng.integers(0, 30)), int(rng.integers(0, 30)))
                    for _ in range(150)})
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {r["node"]: r["rank"]
           for r in graph.pagerank(df, iters=8).collect()}
    want = _numpy_pagerank(edges, 8)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n


def _numpy_ppr(edges, seeds, iters, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    out = np.zeros(len(nodes))
    for u, _ in edges:
        out[idx[u]] += 1
    tp = np.array([1.0 if n in seeds else 0.0 for n in nodes])
    r = tp.copy()
    for _ in range(iters):
        s = np.zeros(len(nodes))
        for u, v in edges:
            s[idx[v]] += r[idx[u]] / out[idx[u]]
        r = (1 - d) * tp + d * s
    return {n: r[idx[n]] for n in nodes}


def test_personalized_pagerank_matches_numpy(spark):
    rng = np.random.default_rng(11)
    edges = sorted({(int(rng.integers(0, 30)), int(rng.integers(0, 30)))
                    for _ in range(150)})
    seeds = {0, 7, 13}
    df = spark.createDataFrame(edges, schema="src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in sorted(seeds)], "node long")
    got = {r["node"]: r["rank"]
           for r in graph.pagerank(df, iters=8, seeds=sdf).collect()}
    want = _numpy_ppr(edges, seeds, 8)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n


def test_trustrank_unreachable_scores_zero(spark):
    # seed 0 reaches {0,1,2}; the disjoint component {10,11} and the
    # upstream-only node 5 (5->0) must score exactly 0
    edges = [(0, 1), (1, 2), (5, 0), (10, 11), (11, 10)]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    sdf = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["rank"]
           for r in graph.pagerank(df, iters=12, seeds=sdf).collect()}
    assert got[10] == 0.0 and got[11] == 0.0 and got[5] == 0.0
    assert got[0] > 0 and got[1] > 0 and got[2] > 0
    # seed holds the teleport mass; downstream decays by damping/deg
    assert got[0] > got[1] > got[2]


def test_pagerank_sink_and_hub(spark):
    # star: every spoke links to the hub; hub ranks highest
    edges = [(i, 0) for i in range(1, 9)] + [(0, 1)]
    df = spark.createDataFrame(edges, schema="src long, dst long")
    got = {r["node"]: r["rank"] for r in graph.pagerank(df, iters=20).collect()}
    assert got[0] == max(got.values())
    # spokes 2..8 have no in-links: exactly the base rank
    for n in range(2, 9):
        assert abs(got[n] - 0.15) < 1e-12


def test_hits_matches_numpy_power_iteration(spark):
    """HITS scores equal a dense numpy replay of the same normalized
    mutual recursion on a small digraph; hubs/authorities land where
    Kleinberg says (pointy hub -> high hub, pointed-at -> authority);
    parallelism-invariant to float tolerance."""
    import numpy as np

    edges = [(0, 3), (0, 4), (1, 3), (1, 4), (2, 4), (3, 2), (4, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    from xarray_spatial_spark.functions.graph import hits

    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(df, iters=12).collect()}

    n = 5
    A = np.zeros((n, n))
    for s, d in edges:
        A[s, d] = 1.0
    h = np.ones(n)
    a = np.ones(n)
    for _ in range(12):
        a = A.T @ h
        a /= np.linalg.norm(a)
        h = A @ a
        h /= np.linalg.norm(h)
    for v in range(n):
        assert got[v][0] == pytest.approx(h[v], abs=1e-9), v
        assert got[v][1] == pytest.approx(a[v], abs=1e-9), v
    # 0 and 1 point at both sinks -> top hubs; 4 is the top authority
    assert sorted(range(n), key=lambda v: -got[v][0])[:2] == [0, 1] or \
        sorted(range(n), key=lambda v: -got[v][0])[:2] == [1, 0]
    assert max(range(n), key=lambda v: got[v][1]) == 4

    again = {r["node"]: (r["hub"], r["authority"])
             for r in hits(df.repartition(7), iters=12).collect()}
    for v in range(n):
        assert again[v][0] == pytest.approx(got[v][0], rel=1e-12)

    with pytest.raises(ValueError):
        hits(df, iters=-1)


def _python_lpa(edges, iters, include_self=True, directed=False):
    """Reference synchronous LPA with (count desc, label asc) votes."""
    und = set(edges) | (set() if directed else {(v, u) for u, v in edges})
    nodes = sorted({u for u, _ in und} | {v for _, v in und})
    out_of = {}
    for u, v in und:
        out_of.setdefault(v, []).append(u)
    lab = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            votes = [lab[u] for u in out_of.get(n, [])]
            if include_self:
                votes.append(lab[n])
            if not votes:
                new[n] = lab[n]
                continue
            cnt = {}
            for x in votes:
                cnt[x] = cnt.get(x, 0) + 1
            new[n] = min(cnt, key=lambda x: (-cnt[x], x))
        lab = new
    return lab


def _lpa_collect(spark, edges, **kw):
    df = spark.createDataFrame(edges, schema="src string, dst string")
    return {r["node"]: r["label"]
            for r in graph.label_propagation(df, **kw).collect()}


def test_lpa_cliques_converge_to_min_label(spark):
    # two disjoint 5-cliques: every node ends on its clique's minimum
    edges = [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
    edges += [(f"b{i}", f"b{j}") for i in range(5) for j in range(i + 1, 5)]
    got = _lpa_collect(spark, edges, iters=3)
    assert all(v == "a0" for k, v in got.items() if k.startswith("a"))
    assert all(v == "b0" for k, v in got.items() if k.startswith("b"))


def test_lpa_majority_beats_smaller_bridge_label(spark):
    # clique b0..b4 bridged to the lexicographically SMALLER a0:
    # the clique majority (5 ballots of b0) must outvote the bridge
    # (1 ballot of a0) — proves the vote is mode-based, not min-based
    edges = [(f"b{i}", f"b{j}") for i in range(5) for j in range(i + 1, 5)]
    edges += [("a0", "b0")]
    got = _lpa_collect(spark, edges, iters=4)
    assert got["b4"] == "b0" and got["b1"] == "b0"


def test_lpa_matches_python_reference(spark):
    rng = np.random.default_rng(11)
    edges = sorted({(f"n{int(rng.integers(0, 24)):02d}",
                     f"n{int(rng.integers(0, 24)):02d}")
                    for _ in range(80)})
    edges = [(u, v) for u, v in edges if u != v]
    for kw in ({"iters": 3}, {"iters": 4, "include_self": False},
               {"iters": 3, "directed": True}):
        got = _lpa_collect(spark, edges, **kw)
        want = _python_lpa(edges, **kw)
        assert got == want, kw


def test_lpa_isolated_node_keeps_label_without_self_vote(spark):
    # directed edge into a sink; the source has no in-neighbors
    edges = [("s", "t")]
    got = _lpa_collect(spark, edges, iters=3,
                       include_self=False, directed=True)
    assert got["s"] == "s"


def test_lpa_parallelism_invariance(spark):
    edges = [(f"c{i}", f"c{(i + 1) % 9}") for i in range(9)]
    df1 = spark.createDataFrame(edges, "src string, dst string").repartition(1)
    df2 = spark.createDataFrame(edges, "src string, dst string").repartition(13)
    a = {r["node"]: r["label"]
         for r in graph.label_propagation(df1, iters=4).collect()}
    b = {r["node"]: r["label"]
         for r in graph.label_propagation(df2, iters=4).collect()}
    assert a == b
