"""Mergeable sketches: KMV distinct-count (exactness below k, estimator
accuracy above k, LOSSLESS merge) and binned histogram quantiles (nearest-
rank containment, merge-by-addition, integer predicate edge cases).

Reference anchor: the reference has no sketching layer (exact registries
only); see operators/sketches.py module docstring.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.operators.sketches import (
    DOMAIN,
    histogram_counts,
    histogram_quantiles,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)


@pytest.fixture(scope="module")
def values(spark):
    # 3000 distinct strings across 3 groups of very different cardinality
    rows = [("g%d" % (i % 3), "v%06d" % (i % (50 if i % 3 == 0 else 3000)))
            for i in range(9000)]
    return spark.createDataFrame(rows, "g string, v string")


def _est(df, k=256):
    sk = kmv_sketch(df, ["v"], ["g"], k=k)
    return {r.g: r.est for r in sk.select("g", kmv_estimate("kmv", k).alias("est")).collect()}


def test_kmv_exact_below_k(spark, values):
    est = _est(values, k=256)
    # g0 has 50 distinct values < k -> exact
    assert est["g0"] == 50


def test_kmv_estimator_accuracy(spark, values):
    k = 256
    est = _est(values, k=k)
    exact = {
        r.g: r.n
        for r in values.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()
    }
    for g in ("g1", "g2"):
        assert exact[g] > k  # the estimator path, not the exact path
        rel = abs(est[g] - exact[g]) / exact[g]
        # standard error of KMV is ~1/sqrt(k-2); allow 4 sigma
        assert rel < 4 / math.sqrt(k - 2), (g, est[g], exact[g])


def test_kmv_merge_lossless(spark, values):
    """sketch(A ∪ B) == merge(sketch(A), sketch(B)) EXACTLY — the property
    that makes storing sketches (not counts) correct."""
    k = 64
    a = values.filter(F.xxhash64("v") % 2 == 0)
    b = values.filter(F.xxhash64("v") % 2 != 0)
    ska = kmv_sketch(a, ["v"], ["g"], k=k).withColumnRenamed("kmv", "ka")
    skb = kmv_sketch(b, ["v"], ["g"], k=k).withColumnRenamed("kmv", "kb")
    merged = ska.join(skb, "g").select("g", kmv_merge("ka", "kb", k).alias("kmv"))
    full = kmv_sketch(values, ["v"], ["g"], k=k)
    bad = (
        merged.alias("m")
        .join(full.alias("f"), "g")
        .filter(F.expr("m.kmv != f.kmv"))
        .count()
    )
    assert bad == 0


def test_kmv_domain_mask_nonnegative(spark, values):
    sk = kmv_sketch(values, ["v"], ["g"], k=16)
    mn = sk.select(F.min(F.element_at("kmv", 1)).alias("m")).collect()[0].m
    assert 0 <= mn < DOMAIN


def test_kmv_validation(spark, values):
    with pytest.raises(ValueError, match="k must be"):
        kmv_sketch(values, ["v"], ["g"], k=1)


def test_histogram_quantiles_containment(spark):
    """Reported edge e satisfies e <= true nearest-rank quantile < e + width,
    against an independent Python computation."""
    import random

    rng = random.Random(7)
    data = [("a", rng.uniform(0, 100) ** 1.5) for _ in range(5000)]
    df = spark.createDataFrame(data, "g string, x double")
    width = 5.0
    out = histogram_quantiles(df, "x", ["g"], percents=(50, 90, 99), bin_width=width)
    row = out.collect()[0]
    xs = sorted(v for _, v in data)
    for p in (50, 90, 99):
        true_q = xs[math.ceil(p * len(xs) / 100) - 1]  # nearest-rank
        edge = getattr(row, f"p{p}")
        assert edge <= true_q < edge + width, (p, edge, true_q)
    assert row.n == 5000


def test_histogram_merge_by_addition(spark):
    """Histograms of disjoint datasets merge by adding per-bin counts."""
    rows = [("g", float(i % 37)) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, x double")
    left = df.filter((F.col("x") < 20))
    right = df.filter(~(F.col("x") < 20))
    hl = histogram_counts(left, "x", ["g"], 2.0)
    hr = histogram_counts(right, "x", ["g"], 2.0)
    merged = (
        hl.unionByName(hr)
        .groupBy("g", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = histogram_counts(df, "x", ["g"], 2.0)
    bad = (
        merged.alias("m")
        .join(full.alias("f"), ["g", "bin"], "full")
        .filter("m.cnt IS DISTINCT FROM f.cnt")
        .count()
    )
    assert bad == 0


def test_histogram_null_and_validation(spark):
    df = spark.createDataFrame(
        [("g", 1.0), ("g", None), ("g", 3.0)], "g string, x double"
    )
    out = histogram_quantiles(df, "x", ["g"], percents=(50,), bin_width=1.0)
    assert out.collect()[0].n == 2  # NULLs dropped
    with pytest.raises(ValueError, match="bin_width"):
        histogram_counts(df, "x", ["g"], 0)
    with pytest.raises(ValueError, match="percent"):
        histogram_quantiles(df, "x", ["g"], percents=(0,))


def test_histogram_negative_values(spark):
    """floor-binning is correct below the origin (negative bins)."""
    df = spark.createDataFrame(
        [("g", -10.0), ("g", -0.5), ("g", 0.5)], "g string, x double"
    )
    out = histogram_quantiles(df, "x", ["g"], percents=(50,), bin_width=1.0)
    # rank ceil(0.5*3)=2 -> the -0.5 value, bin floor(-0.5)=-1 -> edge -1.0
    assert out.collect()[0].p50 == -1.0


def test_kmv_overlap_exact_below_k(spark):
    """Below k both sketches are the sets themselves — overlap is exact."""
    from funcify_feature_eng_spark.operators.sketches import kmv_overlap_estimate

    a = spark.createDataFrame([("g", "v%03d" % i) for i in range(40)], "g string, v string")
    b = spark.createDataFrame([("g", "v%03d" % i) for i in range(25, 60)], "g string, v string")
    ska = kmv_sketch(a, ["v"], ["g"], k=256).withColumnRenamed("kmv", "ka")
    skb = kmv_sketch(b, ["v"], ["g"], k=256).withColumnRenamed("kmv", "kb")
    got = (
        ska.join(skb, "g")
        .select(kmv_overlap_estimate("ka", "kb", 256).alias("ov"))
        .collect()[0].ov
    )
    assert got == 15  # v025..v039


def test_kmv_overlap_estimator_accuracy(spark):
    """Above k: the overlap estimate lands within 4 sigma of truth.
    Two frames with controlled overlap: [0, 2000) vs [1000, 3000) ->
    1000 shared of a 3000-distinct union."""
    from funcify_feature_eng_spark.operators.sketches import kmv_overlap_estimate

    k = 256
    a = spark.createDataFrame([("g", "w%05d" % i) for i in range(2000)], "g string, v string")
    b = spark.createDataFrame([("g", "w%05d" % i) for i in range(1000, 3000)], "g string, v string")
    ska = kmv_sketch(a, ["v"], ["g"], k=k).withColumnRenamed("kmv", "ka")
    skb = kmv_sketch(b, ["v"], ["g"], k=k).withColumnRenamed("kmv", "kb")
    got = (
        ska.join(skb, "g")
        .select(kmv_overlap_estimate("ka", "kb", k).alias("ov"))
        .collect()[0].ov
    )
    # true overlap 1000 of union 3000; Jaccard estimator sigma ~ sqrt(J(1-J)/k)
    # on the union estimate -> loose 4-sigma band
    assert 600 <= got <= 1400, got


def test_cms_never_underestimates_and_collides_bounded(spark):
    from funcify_feature_eng_spark.operators.sketches import cms_estimate, cms_sketch

    # 5000 token occurrences over 200 distinct values, zipf-ish
    rows = [("v%03d" % (i % (j + 1)),) for j in range(200) for i in range(j // 4 + 1)]
    df = spark.createDataFrame(rows, "v string")
    exact = {r.v: r.c for r in df.groupBy("v").agg(F.count("*").alias("c")).collect()}
    sk = cms_sketch(df, "v", width=64, depth=4)  # narrow -> real collisions
    qs = spark.createDataFrame([(v,) for v in exact], "v string")
    est = {r.v: r.est_count for r in cms_estimate(sk, qs, "v", width=64, depth=4).collect()}
    assert set(est) == set(exact)
    for v, c in exact.items():
        assert est[v] >= c  # CMS never underestimates
    total = sum(exact.values())
    # min-over-depth keeps the worst overestimate well under the total
    assert max(est[v] - exact[v] for v in exact) < total


def test_cms_merge_equals_whole(spark):
    """Sketch(A) + Sketch(B) summed per (d, bucket) == Sketch(A ∪ B)."""
    from funcify_feature_eng_spark.operators.sketches import cms_sketch

    a = spark.createDataFrame([("t%02d" % (i % 17),) for i in range(300)], "v string")
    b = spark.createDataFrame([("t%02d" % (i % 23),) for i in range(200)], "v string")
    merged = (
        cms_sketch(a, "v", width=128, depth=3)
        .unionByName(cms_sketch(b, "v", width=128, depth=3))
        .groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_sketch(a.unionByName(b), "v", width=128, depth=3)
    got = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    exp = {(r.d, r.bucket): r.cnt for r in whole.collect()}
    assert got == exp


def test_cms_grouped_and_weighted(spark):
    from funcify_feature_eng_spark.operators.sketches import cms_estimate, cms_sketch

    df = spark.createDataFrame(
        [("g1", "a", 2), ("g1", "a", 3), ("g1", "b", 1), ("g2", "a", 7)],
        "g string, v string, w int",
    )
    sk = cms_sketch(df, "v", group_by=["g"], width=32, depth=2, weight_col="w")
    qs = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "zz")], "g string, v string"
    )
    est = {
        (r.g, r.v): r.est_count
        for r in cms_estimate(sk, qs, "v", group_by=["g"], width=32, depth=2).collect()
    }
    assert est[("g1", "a")] >= 5 and est[("g1", "b")] >= 1 and est[("g2", "a")] >= 7
    # weighted totals per group bound the overestimate
    assert est[("g1", "a")] <= 6 and est[("g2", "zz")] <= 7


def test_cms_validates_params(spark):
    from funcify_feature_eng_spark.operators.sketches import cms_sketch

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError):
        cms_sketch(df, "v", width=1)
    with pytest.raises(ValueError):
        cms_sketch(df, "v", depth=0)


def test_kmv_difference_exact_below_k(spark):
    """Below k the difference estimate is exact, and the three algebra
    pieces partition the exact union: |A\\B| + |A∩B| + |B\\A| == |A∪B|."""
    from funcify_feature_eng_spark.operators.sketches import (
        kmv_difference_estimate,
        kmv_estimate,
        kmv_merge,
        kmv_overlap_estimate,
    )

    a = spark.createDataFrame([("g", "v%03d" % i) for i in range(40)], "g string, v string")
    b = spark.createDataFrame([("g", "v%03d" % i) for i in range(25, 60)], "g string, v string")
    ska = kmv_sketch(a, ["v"], ["g"], k=256).withColumnRenamed("kmv", "ka")
    skb = kmv_sketch(b, ["v"], ["g"], k=256).withColumnRenamed("kmv", "kb")
    r = (
        ska.join(skb, "g")
        .select(
            kmv_difference_estimate("ka", "kb", 256).alias("a_only"),
            kmv_difference_estimate("kb", "ka", 256).alias("b_only"),
            kmv_overlap_estimate("ka", "kb", 256).alias("both"),
            kmv_estimate(kmv_merge("ka", "kb", 256), 256).alias("union_"),
        )
        .collect()[0]
    )
    assert r.a_only == 25  # v000..v024
    assert r.b_only == 20  # v040..v059
    assert r.both == 15
    assert r.a_only + r.b_only + r.both == r.union_ == 60


def test_kmv_algebra_null_and_empty_sketches(spark):
    """NULL or empty sketch arrays mean the empty set: overlap/difference
    are 0 (or est of the non-empty side), never NULL."""
    from funcify_feature_eng_spark.operators.sketches import (
        kmv_difference_estimate,
        kmv_overlap_estimate,
    )

    df = spark.createDataFrame(
        [([1, 5, 9], None), ([], []), (None, None)],
        "ka array<bigint>, kb array<bigint>",
    )
    rows = df.select(
        kmv_overlap_estimate("ka", "kb", 8).alias("ov"),
        kmv_difference_estimate("ka", "kb", 8).alias("a_only"),
        kmv_difference_estimate("kb", "ka", 8).alias("b_only"),
    ).collect()
    assert [(r.ov, r.a_only, r.b_only) for r in rows] == [
        (0, 3, 0),  # B empty: no overlap, A\B = |A| exactly, B\A = 0
        (0, 0, 0),  # both empty
        (0, 0, 0),  # both NULL
    ]


def test_bloom_no_false_negatives_and_merge(spark):
    from funcify_feature_eng_spark.operators.sketches import (
        bloom_contains,
        bloom_sketch,
    )

    a = spark.createDataFrame([("g", "t%03d" % i) for i in range(150)], "g string, v string")
    b = spark.createDataFrame([("g", "t%03d" % i) for i in range(150, 300)], "g string, v string")
    whole = a.unionByName(b)
    # every inserted value must probe True (no false negatives)
    sk = bloom_sketch(whole, "v", ["g"], m_bits=4096, depth=3)
    probed = bloom_contains(sk, whole, "v", ["g"], m_bits=4096, depth=3)
    assert probed.filter("NOT maybe_present").count() == 0
    # merge by OR per (group, word) == sketch of the union
    merged = (
        bloom_sketch(a, "v", ["g"], m_bits=4096, depth=3)
        .unionByName(bloom_sketch(b, "v", ["g"], m_bits=4096, depth=3))
        .groupBy("g", "word").agg(F.bit_or("bits").alias("bits"))
    )
    got = {(r.g, r.word): r.bits for r in merged.collect()}
    exp = {(r.g, r.word): r.bits for r in sk.collect()}
    assert got == exp


def test_bloom_definitive_absence_and_nulls(spark):
    from funcify_feature_eng_spark.operators.sketches import (
        bloom_contains,
        bloom_sketch,
    )

    ins = spark.createDataFrame([("g", "in%d" % i) for i in range(5)], "g string, v string")
    sk = bloom_sketch(ins, "v", ["g"], m_bits=8192, depth=4)
    probes = spark.createDataFrame(
        [("g", "in2"), ("g", "absent-x"), ("g", None), ("h", "in2")],
        "g string, v string",
    )
    got = {
        (r.g, r.v): r.maybe_present
        for r in bloom_contains(sk, probes, "v", ["g"], m_bits=8192, depth=4).collect()
    }
    assert got[("g", "in2")] is True
    # 5*4 bits in 8192 -> false-positive odds ~ (20/8192)^4: absent is False
    assert got[("g", "absent-x")] is False
    assert got[("g", None)] is False       # never inserted
    assert got[("h", "in2")] is False      # group without a sketch


def test_bloom_validation(spark):
    from funcify_feature_eng_spark.operators.sketches import bloom_sketch

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_sketch(df, "v", m_bits=100)
    with pytest.raises(ValueError, match="depth"):
        bloom_sketch(df, "v", depth=0)


def test_bloom_keyless_empty_sketch_probes_survive(spark):
    """An EMPTY keyless sketch must answer maybe_present=False for every
    probe — not silently drop them (regression: crossJoin against a packed
    frame with zero rows returned zero probe rows)."""
    from funcify_feature_eng_spark.operators.sketches import (
        bloom_contains,
        bloom_sketch,
    )

    empty = spark.createDataFrame([], "v string")
    sk = bloom_sketch(empty, "v", m_bits=256, depth=2)
    probes = spark.createDataFrame([("a",), ("b",), (None,)], "v string")
    out = bloom_contains(sk, probes, "v", m_bits=256, depth=2).collect()
    assert len(out) == 3
    assert all(r["maybe_present"] is False for r in out)


def test_bloom_keyless_roundtrip(spark):
    """Keyless (global) sketch still has no false negatives and keeps the
    left-join probe shape."""
    from funcify_feature_eng_spark.operators.sketches import (
        bloom_contains,
        bloom_sketch,
    )

    data = spark.createDataFrame([(f"v{i}",) for i in range(50)], "v string")
    sk = bloom_sketch(data, "v", m_bits=4096, depth=3)
    out = bloom_contains(sk, data, "v", m_bits=4096, depth=3)
    assert out.filter(~F.col("maybe_present")).count() == 0


def test_heavy_hitters_exact_vs_groupby(spark):
    from funcify_feature_eng_spark.operators.sketches import heavy_hitters

    rows = [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 15 + [("d",)] * 4 + [(None,)]
    df = spark.createDataFrame(rows, "v string").repartition(4)
    # n = 99 non-NULL; threshold 15% -> ceil(0.15*99) = 15: a, b, c pass
    got = {r["v"]: r for r in heavy_hitters(df, "v", min_share_ppm=150_000).collect()}
    assert set(got) == {"a", "b", "c"}
    assert got["a"]["n_count"] == 50 and got["a"]["n_total"] == 99
    assert got["a"]["share_ppm"] == 50 * 1_000_000 // 99
    assert got["c"]["n_count"] == 15
    # boundary: exactly at the threshold passes (count*1e6 >= ppm*n)
    assert got["c"]["share_ppm"] == 15 * 1_000_000 // 99


def test_heavy_hitters_collision_superset_still_exact(spark):
    from funcify_feature_eng_spark.operators.sketches import heavy_hitters

    # width=2 forces heavy CMS collisions: candidates over-admit, but the
    # exact re-test must still produce exactly the true heavy hitters
    rows = [(f"k{i}",) for i in range(40)] + [("hot",)] * 60
    df = spark.createDataFrame(rows, "v string").repartition(8)
    got = heavy_hitters(df, "v", min_share_ppm=500_000, width=2, depth=1).collect()
    assert [(r["v"], r["n_count"]) for r in got] == [("hot", 60)]


def test_heavy_hitters_empty_and_validation(spark):
    import pytest

    from funcify_feature_eng_spark.operators.sketches import heavy_hitters

    df = spark.createDataFrame([], "v string")
    assert heavy_hitters(df, "v", min_share_ppm=1).collect() == []
    with pytest.raises(ValueError, match="min_share_ppm"):
        heavy_hitters(df, "v", min_share_ppm=0)
    with pytest.raises(ValueError, match="broadcast cap"):
        heavy_hitters(df, "v", min_share_ppm=1, width=1 << 22, depth=2)


def test_heavy_hitters_string_keys_hold_no_storage(spark):
    """Every key type goes through the one worker-side probe: string-key
    calls must leave no persisted RDD behind in a long-lived session."""
    from funcify_feature_eng_spark.operators.sketches import heavy_hitters

    sc = spark.sparkContext
    before = sc._jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [("hot",)] * 30 + [(f"k{i}",) for i in range(20)], "v string"
    )
    for ppm in (100_000, 300_000, 500_000):
        got = heavy_hitters(df, "v", min_share_ppm=ppm).collect()
        assert [(r["v"], r["n_count"]) for r in got] == [("hot", 30)]
    assert sc._jsc.getPersistentRDDs().size() == before


def test_sketch_probes_on_int_keys(spark):
    """IntegerType keys hash as ints JVM-side (xxhash64 hashes an int
    differently from the same value as a long), so their probe must use
    the JVM positions, never the LongType NumPy replica."""
    from funcify_feature_eng_spark.operators.sketches import (
        bloom_contains,
        bloom_sketch,
        heavy_hitters,
    )

    ins = spark.createDataFrame([(i * 7,) for i in range(200)], "v int")
    sk = bloom_sketch(ins, "v", m_bits=1 << 16, depth=3)
    present = bloom_contains(sk, ins, "v", m_bits=1 << 16, depth=3)
    assert present.filter(~F.col("maybe_present")).count() == 0
    # 600 bits set of 65536: a false positive has odds ~ (600/65536)^3
    absent = spark.createDataFrame([(-5,), (3,), (10_000_001,), (None,)], "v int")
    got = bloom_contains(sk, absent, "v", m_bits=1 << 16, depth=3).collect()
    assert [r["maybe_present"] for r in got] == [False] * 4

    rows = [(i % 9,) for i in range(300)] + [(5,)] * 100 + [(None,)] * 3
    df = spark.createDataFrame(rows, "v int").repartition(3)
    got = {
        r["v"]: (r["n_count"], r["n_total"])
        for r in heavy_hitters(df, "v", min_share_ppm=120_000).collect()
    }
    n = df.filter(F.col("v").isNotNull()).count()
    want = {
        r["v"]: (r["c"], n)
        for r in df.filter(F.col("v").isNotNull())
        .groupBy("v").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") * 1_000_000 >= 120_000 * n)
        .collect()
    }
    assert got == want and set(want) == {5}


def test_bloom_prefilter_join_equals_plain_join(spark):
    from funcify_feature_eng_spark.operators.sketches import bloom_prefilter_join

    left = spark.createDataFrame(
        [(i, f"p{i % 7}") for i in range(200)] + [(None, "pn")], "k long, tag string"
    )
    right = spark.createDataFrame(
        [(3, "x"), (77, "y"), (150, "z"), (999, "absent"), (None, "rn")],
        "k long, val string",
    )
    got = bloom_prefilter_join(left, right, "k").orderBy("k").collect()
    want = left.join(right, "k", "inner").orderBy("k").collect()
    assert got == want and len(got) == 3
    semi = bloom_prefilter_join(left, right, "k", how="semi").orderBy("k").collect()
    want_semi = left.join(right, "k", "left_semi").orderBy("k").collect()
    assert semi == want_semi


def test_bloom_prefilter_join_tiny_filter_composite_and_validation(spark):
    import pytest

    from funcify_feature_eng_spark.operators.sketches import bloom_prefilter_join

    # m_bits=64 saturates the bloom (all-FP prefilter) -- output must STILL
    # be the exact join, just without shuffle savings
    left = spark.createDataFrame(
        [(i % 5, i % 3, i) for i in range(60)], "a int, b int, x long"
    )
    right = spark.createDataFrame([(1, 2, "m"), (4, 0, "n")], "a int, b int, y string")
    got = (
        bloom_prefilter_join(left, right, ["a", "b"], m_bits=64, depth=2)
        .orderBy("x")
        .collect()
    )
    want = left.join(right, ["a", "b"], "inner").orderBy("x").collect()
    assert got == want and len(want) > 0
    assert "__bpj_k" not in {c for r in got for c in r.asDict()}
    with pytest.raises(ValueError, match="how must be"):
        bloom_prefilter_join(left, right, ["a", "b"], how="left")
    with pytest.raises(ValueError, match="empty join key"):
        bloom_prefilter_join(left, right, [])


def test_bloom_prefilter_join_probe_is_below_the_join(spark):
    from funcify_feature_eng_spark.operators.sketches import bloom_prefilter_join

    left = spark.createDataFrame([(i,) for i in range(500)], "k long")
    right = spark.createDataFrame([(7,), (13,)], "k long")
    out = bloom_prefilter_join(left, right, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the probe must appear in a Filter stage below the exact join, i.e.
    # rows are dropped before they shuffle. LongType keys probe via the
    # vectorized worker-side position replica (a pythonUDF filter); other
    # types carry the JVM xxhash64 position array into the probe.
    assert "Filter" in plan
    assert "pythonUDF" in plan or "xxhash64" in plan
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"),
                   plan.find("ShuffledHashJoin"))
    probe_pos = plan.find("pythonUDF")
    if probe_pos == -1:
        probe_pos = plan.find("xxhash64")
    # physical plans print top-down: the probe being AFTER the join node in
    # the text means it executes BELOW (before) the join
    assert join_pos != -1 and probe_pos > join_pos


def test_bloom_positions_np_matches_jvm(spark):
    """The NumPy probe-position replica must be bit-equal to the JVM
    xxhash64 chain for LongType values, including negatives and extremes."""
    import numpy as np

    from funcify_feature_eng_spark.operators.sketches import (
        _hash_positions,
        _hash_positions_np,
    )

    vals = [0, 1, -1, 42, -42, 2**62, -(2**62), 2**63 - 1, -(2**63),
            123456789123456789, -987654321987654321] + list(range(-50, 50, 7))
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    m_bits, depth = 1 << 20, 3
    jvm = {
        r["v"]: list(r["p"])
        for r in df.select("v", _hash_positions("v", m_bits, depth).alias("p")).collect()
    }
    P = _hash_positions_np(np.array(vals, dtype=np.int64), m_bits, depth)
    for i, v in enumerate(vals):
        assert [int(P[d][i]) for d in range(depth)] == jvm[v], v
