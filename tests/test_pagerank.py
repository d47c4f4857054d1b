"""PageRank with pinned integer semantics (operators/graph.py)."""

from __future__ import annotations

import pytest

from funcify_feature_eng_spark.operators.graph import pagerank

E12 = 10**12


def _twin(edges, n_iters=10, num=85, den=100):
    """Pure-Python replay of the pinned fold — bit equality expected."""
    e = sorted({(s, d) for s, d in edges if s is not None and d is not None and s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (den - num) * E12 // (den * n)
    r = {v: E12 // n for v in nodes}
    for _ in range(n_iters):
        incoming = {v: 0 for v in nodes}
        for s, d in e:
            incoming[d] += num * r[s] // (den * outdeg[s])
        r = {v: base + incoming[v] for v in nodes}
    return {v: (r[v], outdeg.get(v, 0)) for v in nodes}


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "src long, dst long")
    return {
        r["node"]: (r["rank_e12"], r["out_degree"])
        for r in pagerank(df, **kw).collect()
    }


def test_star_graph(spark):
    # 2,3,4 all point at 1: hub accumulates, leaves hold the base
    rows = [(2, 1), (3, 1), (4, 1)]
    got = _run(spark, rows, n_iters=3)
    assert got == _twin(rows, n_iters=3)
    # leaves have no in-edges: exactly the base share at every iteration
    assert got[2][0] == got[3][0] == got[4][0] == 15 * E12 // 400
    assert got[1][0] > got[2][0]


def test_cycle_uniform(spark):
    # a 4-cycle is symmetric: all ranks equal at every iteration
    rows = [(1, 2), (2, 3), (3, 4), (4, 1)]
    got = _run(spark, rows, n_iters=5)
    vals = {v for v, _ in got.values()}
    assert len(vals) == 1
    assert got == _twin(rows, n_iters=5)


def test_dangling_and_duplicates_and_self_loops(spark):
    # 3 is dangling (mass lost, pinned); (1,2) duplicated collapses;
    # (2,2) self-loop drops
    rows = [(1, 2), (1, 2), (2, 2), (2, 3), (1, 3)]
    got = _run(spark, rows, n_iters=4)
    assert got == _twin(rows, n_iters=4)
    assert got[3][1] == 0  # dangling


def test_twin_bit_equality_random_graph(spark):
    rows = []
    for i in range(400):
        s = (i * 7919) % 37
        d = (i * 104729) % 37
        rows.append((s, d))
    got = _run(spark, rows, n_iters=10)
    assert got == _twin(rows, n_iters=10)


def test_damping_validation(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="n_iters"):
        pagerank(df, n_iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping_num=100, damping_den=100)


def test_empty_graph(spark):
    """An edge set that is empty after the NULL/self-loop filter gives an
    empty frame on both paths and holds no storage after the call."""
    sc = spark.sparkContext
    for rows in ([], [(1, 1), (2, 2)]):
        df = spark.createDataFrame(rows, "src long, dst long")
        for driver_threshold in (1_000_000, 0):
            before = sc._jsc.getPersistentRDDs().size()
            out = pagerank(df, driver_threshold=driver_threshold)
            assert out.count() == 0
            assert out.columns == ["node", "rank_e12", "out_degree"]
            held = sc._jsc.getPersistentRDDs().size()
            assert held == before, (rows, driver_threshold)


class TestLabelPropagation:
    def _brute(self, edges, n_iters):
        import collections

        adj = collections.defaultdict(set)
        for a, b in edges:
            if a is not None and b is not None and a != b:
                adj[a].add(b)
                adj[b].add(a)
        labels = {v: v for v in adj}
        for _ in range(n_iters):
            nxt = {}
            for v, nbrs in adj.items():
                cnt = collections.Counter(labels[u] for u in nbrs)
                top = max(cnt.values())
                nxt[v] = min(l for l, c in cnt.items() if c == top)
            labels = nxt
        return labels

    def test_matches_bruteforce(self, spark):
        import random

        from funcify_feature_eng_spark.operators.graph import label_propagation

        rng = random.Random(5)
        edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, n_iters=3).collect()
        }
        exp = self._brute(edges, 3)
        assert got == exp

    def test_two_cliques_converge(self, spark):
        from funcify_feature_eng_spark.operators.graph import label_propagation

        clique = lambda base: [  # noqa: E731
            (base + i, base + j) for i in range(4) for j in range(i + 1, 4)
        ]
        df = spark.createDataFrame(clique(0) + clique(100), ["src", "dst"])
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, n_iters=4).collect()
        }
        assert len({got[i] for i in range(4)}) == 1
        assert len({got[100 + i] for i in range(4)}) == 1
        assert got[0] != got[100]


def test_driver_fast_path_equals_distributed(spark):
    import random

    rng = random.Random(11)
    rows = list({(rng.randrange(60), rng.randrange(60)) for _ in range(400)})
    fast = _run(spark, rows, n_iters=6)                      # fast path (small graph)
    dist = _run(spark, rows, n_iters=6, driver_threshold=0)  # forced distributed
    assert fast == dist
    assert fast == {
        v: rd for v, rd in _twin(rows, n_iters=6).items()
    }


def test_driver_fast_path_int64_overflow_falls_back(spark):
    """A damping fraction with huge terms: after the first iteration the
    hub holds ~0.97e12 and has an out-edge, so num·r passes 2^63 in the
    second. The NumPy int64 fast path must hand over to the DECIMAL loop
    instead of wrapping node 1's rank."""
    num, den = 10_000_000, 10_100_000
    rows = [(leaf, 0) for leaf in range(2, 102)] + [(0, 1)]
    fast = _run(spark, rows, n_iters=2, damping_num=num, damping_den=den)
    dist = _run(spark, rows, n_iters=2, damping_num=num, damping_den=den,
                driver_threshold=0)
    assert fast == dist
    assert fast == _twin(rows, n_iters=2, num=num, den=den)


def test_lpa_driver_fast_path_equals_distributed(spark):
    import random

    from funcify_feature_eng_spark.operators.graph import label_propagation

    rng = random.Random(12)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(200)})
    df = spark.createDataFrame(edges, ["src", "dst"])
    fast = {
        r["node"]: r["label"] for r in label_propagation(df, n_iters=3).collect()
    }
    dist = {
        r["node"]: r["label"]
        for r in label_propagation(df, n_iters=3, driver_threshold=0).collect()
    }
    assert fast == dist
