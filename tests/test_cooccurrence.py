"""Co-occurrence graph + triangle analytics (operators/cooccurrence.py)."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkException

from funcify_feature_eng_spark.operators.cooccurrence import (
    co_occurrence_edges,
    item_lift,
    item_neighbors,
    triangle_stats,
)


@pytest.fixture(scope="module")
def baskets(spark):
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "b"),
        (4, "c"), (4, "d"),
        (5, "d"), (5, "d"),      # duplicate (group, item): collapses
        (6, "e"),                # singleton group: no pairs
        (7, None), (None, "f"),  # NULLs excluded
    ]
    return spark.createDataFrame(rows, "g int, i string")


def test_edges_basic(spark, baskets):
    got = {
        (r["item_a"], r["item_b"]): r["n_groups"]
        for r in co_occurrence_edges(baskets, "g", "i").collect()
    }
    assert got == {
        ("a", "b"): 3,
        ("a", "c"): 1,
        ("b", "c"): 1,
        ("c", "d"): 1,
    }


def test_edges_min_count(spark, baskets):
    got = {
        (r["item_a"], r["item_b"])
        for r in co_occurrence_edges(baskets, "g", "i", min_count=2).collect()
    }
    assert got == {("a", "b")}


def test_edges_oversize(spark):
    """For every co-occurrence operator: argument errors raise at call
    time; a ``max_group`` overflow raises when the (lazy) result is acted
    on; ``skip`` drops the oversized group whole."""
    big = spark.createDataFrame(
        [(1, f"i{k}") for k in range(12)] + [(2, "x"), (2, "y")], "g int, i string"
    )
    for fn in (co_occurrence_edges, item_neighbors, item_lift):
        out = fn(big, "g", "i", max_group=10)
        with pytest.raises(PySparkException, match="max_group"):
            out.collect()
        got = {
            tuple(sorted(r[:2]))
            for r in fn(big, "g", "i", max_group=10, on_oversize="skip").collect()
        }
        assert got == {("x", "y")}, fn.__name__
        with pytest.raises(ValueError, match="on_oversize"):
            fn(big, "g", "i", on_oversize="drop")
        with pytest.raises(ValueError, match="min_count"):
            fn(big, "g", "i", min_count=0)


@pytest.mark.parametrize("fn", [item_lift, item_neighbors], ids=lambda f: f.__name__)
def test_cooccurrence_call_is_lazy_and_holds_no_storage(spark, baskets, fn):
    """The call only builds a plan: it launches no job, and acting on the
    result leaves no persisted RDD behind."""
    sc = spark.sparkContext
    group = f"cooccurrence-call-{fn.__name__}"
    before = sc._jsc.getPersistentRDDs().size()
    sc.setJobGroup(group, group)
    try:
        out = fn(baskets, "g", "i")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out.collect()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sc._jsc.getPersistentRDDs().size() == before


def _tri(spark, edges):
    df = spark.createDataFrame(edges, "item_a string, item_b string")
    return {
        r["node"]: (r["degree"], r["triangles"], r["clustering_ppm"])
        for r in triangle_stats(df).collect()
    }


def test_triangle_single(spark):
    got = _tri(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    # every node: degree 2, 1 triangle, clustering 2*1/(2*1) = 1.0
    assert got == {k: (2, 1, 1_000_000) for k in "abc"}


def test_triangle_square_no_diagonal(spark):
    got = _tri(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    assert got == {k: (2, 0, 0) for k in "abcd"}


def test_triangle_diamond(spark):
    # square + one diagonal a-c: two triangles sharing edge a-c
    got = _tri(
        spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
    )
    # a, c: degree 3, 2 triangles, 2*2/(3*2) = 666666 ppm (floor)
    # b, d: degree 2, 1 triangle, clustering 1.0
    assert got == {
        "a": (3, 2, 666_666),
        "c": (3, 2, 666_666),
        "b": (2, 1, 1_000_000),
        "d": (2, 1, 1_000_000),
    }


def test_triangle_canonicalization(spark):
    # reversed duplicates + self-loop + degree-1 node collapse correctly
    got = _tri(
        spark,
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "a"), ("c", "d")],
    )
    assert got["a"] == (2, 1, 1_000_000)
    assert got["b"] == (2, 1, 1_000_000)
    assert got["c"] == (3, 1, 333_333)
    assert got["d"] == (1, 0, None)  # degree < 2: clustering undefined


def test_triangle_k4(spark):
    # complete graph on 4 nodes: 4 triangles, each node in 3 of them
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    got = _tri(spark, edges)
    assert got == {k: (3, 3, 1_000_000) for k in "abcd"}


def test_item_neighbors_scores(spark, baskets):
    got = {
        (r["item"], r["neighbor"]): (
            r["n_both"], r["n_item"], r["n_neighbor"], r["cosine2_ppm"], r["rank"]
        )
        for r in item_neighbors(baskets, "g", "i", k=10).collect()
    }
    # counts: a in 3 groups, b in 3, c in 2, d in 2 (dup (5,d) collapses)
    # cos2(a,b) = 9*1e6/(3*3) = 1_000_000 (identical incidence vectors)
    assert got[("a", "b")] == (3, 3, 3, 1_000_000, 1)
    assert got[("b", "a")] == (3, 3, 3, 1_000_000, 1)
    # cos2(a,c) = 1*1e6/(3*2) = 166_666 (floor)
    assert got[("a", "c")] == (1, 3, 2, 166_666, 2)
    # c's neighbors rank by cos2 desc: d (1e6/4=250_000) then a=b tie
    # (166_666) broken by neighbor id asc
    assert got[("c", "d")][3:] == (250_000, 1)
    assert got[("c", "a")][4] == 2 and got[("c", "b")][4] == 3
    # e never co-occurs -> absent
    assert not any(it == "e" for it, _ in got)


def test_item_neighbors_k_cut(spark, baskets):
    got = item_neighbors(baskets, "g", "i", k=1).collect()
    by_item = {}
    for r in got:
        by_item.setdefault(r["item"], []).append(r)
    assert all(len(v) == 1 and v[0]["rank"] == 1 for v in by_item.values())
    assert by_item["c"][0]["neighbor"] == "d"


def test_item_neighbors_validation(spark, baskets):
    with pytest.raises(ValueError, match="k must be"):
        item_neighbors(baskets, "g", "i", k=0)


def test_item_neighbors_skip_counts_retained_universe_only(spark):
    """on_oversize='skip' must drop oversized groups from the incidence
    COUNTS too, not just the edges — otherwise two items co-occurring in
    every retained basket score 250000 instead of 1e6 and ranks can
    invert."""
    rows = [("g1", "a"), ("g1", "b")]  # retained: a,b together
    # oversized group (4 items > max_group=3) also contains a and b
    rows += [("big", x) for x in ("a", "b", "x", "y")]
    df = spark.createDataFrame(rows, "g string, i string")
    got = {
        (r["item"], r["neighbor"]): (
            r["n_both"], r["n_item"], r["n_neighbor"], r["cosine2_ppm"]
        )
        for r in item_neighbors(
            df, "g", "i", k=5, max_group=3, on_oversize="skip"
        ).collect()
    }
    # within the retained universe a and b have identical incidence
    # vectors: n_both = n_a = n_b = 1 -> squared cosine exactly 1e6
    assert got[("a", "b")] == (1, 1, 1, 1_000_000)
    assert got[("b", "a")] == (1, 1, 1, 1_000_000)


def test_pagerank_releases_seed_checkpoint(spark):
    """The seed and every superseded round are released by handle — at
    most one extra persisted RDD (the returned frame) may survive a call."""
    from funcify_feature_eng_spark.operators.graph import pagerank

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, (i + 1) % 50) for i in range(50)], "src long, dst long"
    )
    before = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    pagerank(edges, n_iters=2).count()
    after = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    assert len(after - before) <= 1


def test_item_lift_exact(spark, baskets):
    rows = {
        (r["item_a"], r["item_b"]): r for r in item_lift(baskets, "g", "i").collect()
    }
    # distinct groups with >=1 non-NULL item: {1..6} -> N = 6
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")}
    ab = rows[("a", "b")]
    assert (ab["n_both"], ab["n_a"], ab["n_b"], ab["n_groups_total"]) == (3, 3, 3, 6)
    # lift = n_both*N/(n_a*n_b): 3*6/(3*3) = 2.0 -> 2_000_000 ppm
    assert ab["lift_ppm"] == 2_000_000
    # jaccard = 3/(3+3-3) = 1.0
    assert ab["jaccard_ppm"] == 1_000_000
    assert rows[("a", "c")]["lift_ppm"] == 1_000_000
    assert rows[("a", "c")]["jaccard_ppm"] == 250_000
    cd = rows[("c", "d")]
    assert cd["lift_ppm"] == 1_500_000      # 1*6/(2*2) = 1.5
    assert cd["jaccard_ppm"] == 333_333     # floor(1e6/3)


def test_item_lift_min_count(spark, baskets):
    got = {
        (r["item_a"], r["item_b"])
        for r in item_lift(baskets, "g", "i", min_count=2).collect()
    }
    assert got == {("a", "b")}


def test_item_lift_skip_counts_retained_universe_only(spark):
    """on_oversize='skip' drops oversized groups from n_a, n_b and N too,
    not just from the edges: two items co-occurring in every retained
    basket have lift and Jaccard exactly 1e6, not 500000 / 333333."""
    rows = [("g1", "a"), ("g1", "b")]  # retained: a,b together
    # oversized group (4 items > max_group=3) also contains a and b
    rows += [("big", x) for x in ("a", "b", "x", "y")]
    df = spark.createDataFrame(rows, "g string, i string")
    got = {
        (r["item_a"], r["item_b"]): (
            r["n_both"], r["n_a"], r["n_b"], r["n_groups_total"],
            r["lift_ppm"], r["jaccard_ppm"],
        )
        for r in item_lift(
            df, "g", "i", max_group=3, on_oversize="skip"
        ).collect()
    }
    assert got == {("a", "b"): (1, 1, 1, 1, 1_000_000, 1_000_000)}
