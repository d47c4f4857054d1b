"""Sequence packing and dup-cluster (connected components) operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.operators.graph import (
    connected_components,
    keep_best_per_cluster,
    label_propagation,
    pagerank,
)
from funcify_feature_eng_spark.operators.util import release
from funcify_feature_eng_spark.operators.packing import pack_documents


def test_pack_documents_offsets_and_straddle(spark):
    docs = spark.createDataFrame(
        [(1, 1000), (2, 1000), (3, 100), (4, 2000), (5, 1)],
        "doc_id long, n_tokens int",
    )
    out = {
        r["doc_id"]: (r["pack_id"], r["offset_in_pack"])
        for r in pack_documents(docs, "doc_id", "n_tokens", budget=2048).collect()
    }
    # prefix starts: 0, 1000, 2000, 2100, 4100
    assert out[1] == (0, 0)
    assert out[2] == (0, 1000)      # straddles the 2048 boundary — starts in pack 0
    assert out[3] == (0, 2000)
    assert out[4] == (1, 2100 - 2048)
    assert out[5] == (2, 4100 - 2 * 2048)


def test_pack_documents_shards_are_independent(spark):
    docs = spark.createDataFrame(
        [(i, 500) for i in range(8)], "doc_id long, n_tokens int"
    )
    out = pack_documents(
        docs, "doc_id", "n_tokens", budget=1000,
        shard_col=F.pmod(F.col("doc_id"), F.lit(2)),
    ).collect()
    by_doc = {r["doc_id"]: (r["shard"], r["pack_id"]) for r in out}
    # each shard has 4 docs of 500 tokens → packs 0,0,1,1 within the shard
    for doc_id, (_shard, pack) in by_doc.items():
        assert pack == (doc_id // 2) // 2


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, isolated nodes don't appear
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_keep_best_per_cluster(spark):
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (10, 0.2), (99, 0.0)],
        "doc_id long, quality double",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    comp = connected_components(edges)
    kept = sorted(
        r["doc_id"]
        for r in keep_best_per_cluster(docs, comp, "doc_id", "quality").collect()
    )
    # cluster {1,2,3,4}: best quality 0.9 tie between 2 and 3 → smaller id 2;
    # 10 and 99 are singletons (no dup pair) → kept
    assert kept == [2, 10, 99]


def test_assign_split_hash_stable_and_weighted(spark):
    from funcify_feature_eng_spark.operators.sampling import (
        assign_split,
        deterministic_sample,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = assign_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert 0.7 < counts["train"] / 2000 < 0.9          # hash buckets ≈ weights
    # stability: same ids → same assignment on recompute
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in
         assign_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert a == b
    # sample ⊂ ids, deterministic, ≈ fraction
    s1 = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.25).collect()}
    s2 = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.25).collect()}
    assert s1 == s2 and 0.18 < len(s1) / 2000 < 0.32


def test_split_weights_must_sum_to_one(spark):
    import pytest as _pytest

    from funcify_feature_eng_spark.operators.sampling import assign_split

    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pytest.raises(ValueError, match="sum to 1"):
        assign_split(docs, "doc_id", {"a": 0.5, "b": 0.2})


def test_connected_components_chain_converges_in_log_rounds(spark):
    """Adversarial chain graph: 0-1-2-...-300. Plain min-label propagation
    needs 300 rounds; pointer jumping must finish within ~log2(300)+slack.
    max_iters=12 would fail the old O(diameter) algorithm loudly."""
    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    comp = {
        r["node"]: r["comp"]
        for r in connected_components(edges, max_iters=12, driver_threshold=0).collect()
    }
    assert len(comp) == n + 1
    assert all(c == 0 for c in comp.values())


def test_cc_fast_path_equals_distributed(spark):
    """The driver union-find fast path must be value-identical to the
    distributed pointer-jumping loop on the same graph."""
    import random

    rng = random.Random(5)
    edges = spark.createDataFrame(
        [(rng.randrange(500), rng.randrange(500)) for _ in range(400)],
        "doc_a long, doc_b long",
    ).filter("doc_a != doc_b")
    fast = {(r["node"], r["comp"])
            for r in connected_components(edges).collect()}
    dist = {(r["node"], r["comp"])
            for r in connected_components(edges, driver_threshold=0).collect()}
    assert fast == dist and len(fast) > 0


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2, driver_threshold=0)
    # warn mode returns partial labels instead
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = connected_components(edges, max_iters=2, on_nonconverged="warn",
                                   driver_threshold=0)
        assert out.count() == n + 1
        assert any("did not converge" in str(x.message) for x in w)


_GRAPH_LOOPS = {
    "connected_components": connected_components,
    "pagerank": pagerank,
    "label_propagation": label_propagation,
}


def _chain_plus_cycle(spark, schema="src long, dst long"):
    # a 12-hop chain, a 5-cycle, and a tail hanging off the cycle
    rows = [(i, i + 1) for i in range(12)]
    rows += [(100 + i, 100 + (i + 1) % 5) for i in range(5)] + [(104, 200)]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("algo", list(_GRAPH_LOOPS))
def test_graph_loops_release_checkpoint_storage(spark, algo):
    """Round-superseded checkpoints must be unpersisted (ADVICE r2): after
    a distributed call, at most ONE extra persisted RDD (the returned
    frame) may remain beyond what existed before."""
    sc = spark.sparkContext
    before = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    )
    out = _GRAPH_LOOPS[algo](edges, "src", "dst", driver_threshold=0)
    out.count()
    after = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    assert len(after - before) <= 1
    release(out)


@pytest.mark.parametrize("algo", list(_GRAPH_LOOPS))
def test_graph_loops_release_only_their_own_checkpoints(spark, monkeypatch, algo):
    """A graph loop releases each superseded round by its own handle, so a
    checkpoint some other work in the session makes while a round runs must
    survive the call."""
    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    checkpoint = frame_cls.localCheckpoint
    bystanders = []

    def checkpoint_with_bystander(df, *args, **kwargs):
        out = checkpoint(df, *args, **kwargs)
        bystanders.append(checkpoint(spark.range(10)))
        return out

    edges = _chain_plus_cycle(spark)
    monkeypatch.setattr(frame_cls, "localCheckpoint", checkpoint_with_bystander)
    out = _GRAPH_LOOPS[algo](edges, "src", "dst", driver_threshold=0)
    monkeypatch.undo()
    out.count()
    assert len(bystanders) > 2
    assert [b.count() for b in bystanders] == [10] * len(bystanders)
    for frame in [out, *bystanders]:
        release(frame)


@pytest.mark.parametrize("algo", list(_GRAPH_LOOPS))
def test_graph_driver_path_takes_endpoint_union_id_type(spark, algo):
    """The driver fast path must type node ids like the distributed path:
    from the union of both endpoints, not from the src column alone (an int
    src with a bigint dst beyond int range must neither overflow nor narrow
    the output)."""
    edges = _chain_plus_cycle(spark, "src int, dst long").unionByName(
        spark.createDataFrame([(11, 5_000_000_000)], "src int, dst long")
    )
    fn = _GRAPH_LOOPS[algo]
    fast = fn(edges, "src", "dst")
    dist = fn(edges, "src", "dst", driver_threshold=0)
    assert fast.schema == dist.schema
    assert dict(fast.dtypes)["node"] == "bigint"
    assert sorted(fast.collect()) == sorted(dist.collect())


@pytest.mark.parametrize("driver_threshold", [1_000_000, 0])
def test_connected_components_drops_null_endpoint_edges(spark, driver_threshold):
    """An edge with a NULL endpoint drops on both paths (the pagerank /
    label_propagation rule); its non-NULL endpoint keeps its other edges."""
    edges = spark.createDataFrame([(1, 2), (2, None), (3, 4)], "src long, dst long")
    out = connected_components(edges, "src", "dst", driver_threshold=driver_threshold)
    assert {r["node"]: r["comp"] for r in out.collect()} == {1: 1, 2: 1, 3: 3, 4: 3}


def test_quota_per_group_stable_and_capped(spark):
    from pyspark.sql import functions as F

    from funcify_feature_eng_spark.operators.sampling import quota_per_group

    rows = [(i, f"g{i % 3}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = quota_per_group(df, "grp", "id", 20).orderBy("id").collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r["id"])
    assert all(len(v) == 20 for v in by_grp.values())
    # layout-independent: a different partitioning keeps the SAME rows
    again = (
        quota_per_group(df.repartition(7, "id"), "grp", "id", 20)
        .orderBy("id").collect()
    )
    assert [r["id"] for r in again] == [r["id"] for r in out]
    # quota larger than the group passes everything through
    assert quota_per_group(df, "grp", "id", 1000).count() == 200


def test_quota_per_group_mod_variant_ansi_safe_for_64bit_ids(spark):
    from funcify_feature_eng_spark.operators.sampling import quota_per_group

    big = 10**18
    df = spark.createDataFrame(
        [(big + i, "g") for i in range(10)], "id long, grp string"
    )
    # must not raise ArithmeticException under ANSI mode
    out = quota_per_group(df, "grp", "id", 3, hash=False).collect()
    assert len(out) == 3


def test_length_bucketed_batches(spark):
    from funcify_feature_eng_spark.operators.packing import length_bucketed_batches

    rows = [(i, 10 + (i * 37) % 500) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = length_bucketed_batches(df, "doc_id", "n_tokens",
                                  bucket_width=64, batch_rows=16).toPandas()
    # every row padded within its bucket's target; batches capped at 16
    assert (out["n_tokens"] <= out["pad_to"]).all()
    assert (out["pad_to"] - out["n_tokens"] < 64 + 64).all()
    sizes = out.groupby(["len_bucket", "batch_in_bucket"]).size()
    assert sizes.max() <= 16
    # deterministic across reruns
    again = length_bucketed_batches(df, "doc_id", "n_tokens",
                                    bucket_width=64, batch_rows=16).toPandas()
    key = ["doc_id"]
    assert out.sort_values(key).reset_index(drop=True).equals(
        again.sort_values(key).reset_index(drop=True))


def test_temporal_split_is_a_time_suffix(spark):
    """eval rows are exactly each entity's LAST ceil(n*pct/100) rows in time
    order — never interleaved with train rows."""
    import datetime as dt

    import pandas as pd

    from funcify_feature_eng_spark.operators.sampling import temporal_split

    rows = []
    for u, n in (("a", 10), ("b", 4), ("c", 1)):
        for i in range(n):
            rows.append((u, i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["u", "i", "ts"]))
    out = (
        temporal_split(df, keys=["u"], order=["ts", "i"], eval_fraction_pct=20)
        .orderBy("u", "i")
        .toPandas()
    )
    for u, n in (("a", 10), ("b", 4), ("c", 1)):
        sub = out[out["u"] == u]
        n_eval = sum(1 for rn in range(1, n + 1) if rn * 100 > n * 80)
        labels = sub["split"].tolist()
        assert labels == ["train"] * (n - n_eval) + ["eval"] * n_eval, (u, labels)
    # a=10 -> last 2 eval; b=4 -> last 1; c=1 -> its only row is eval (rn*100 > n*80)
    assert out[out["u"] == "a"]["split"].tolist().count("eval") == 2
    assert out[out["u"] == "b"]["split"].tolist().count("eval") == 1
    assert out[out["u"] == "c"]["split"].tolist() == ["eval"]


def test_release_broadcast_hinted_small_frame(spark):
    """A broadcast-hinted ``materialize_small`` frame releases its
    checkpoint: the persisted RDDs return to their baseline."""
    from funcify_feature_eng_spark.operators.util import materialize_small

    sc = spark.sparkContext
    before = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    small, n = materialize_small(spark.range(50).withColumnRenamed("id", "x"))
    assert n == 50
    held = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    assert len(held - before) == 1
    release(small)
    after = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    assert after - before == set()
