"""operators.util.spread_small_input — the one few-split spread helper:
round-robin without keys, hash on the keys when given, and a no-op for
frames that already shuffle or already have enough splits."""

from __future__ import annotations

import re


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _one_split(spark, tmp_path):
    path = str(tmp_path / "one_split.parquet")
    spark.range(200).selectExpr("id", "id % 7 AS k").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


def test_one_split_scan_is_spread_round_robin(spark, tmp_path):
    from funcify_feature_eng_spark.operators.util import spread_small_input

    target = spark.sparkContext.defaultParallelism
    out = spread_small_input(_one_split(spark, tmp_path))
    assert out.rdd.getNumPartitions() == target
    assert "RoundRobinPartitioning" in _plan(out)
    assert sorted(r.id for r in out.collect()) == list(range(200))


def test_keys_hash_partition_on_the_key(spark, tmp_path):
    from funcify_feature_eng_spark.operators.util import spread_small_input

    target = spark.sparkContext.defaultParallelism
    out = spread_small_input(_one_split(spark, tmp_path), "k")
    assert out.rdd.getNumPartitions() == target
    assert re.search(rf"hashpartitioning\(k#\d+L?, {target}\)", _plan(out))
    assert "RoundRobinPartitioning" not in _plan(out)


def test_frame_with_exchange_is_returned_as_is(spark, tmp_path):
    from funcify_feature_eng_spark.operators.util import spread_small_input

    agg = _one_split(spark, tmp_path).groupBy("k").count()
    assert "Exchange" in _plan(agg)
    assert spread_small_input(agg) is agg
    assert spread_small_input(agg, "k") is agg


def test_enough_splits_is_returned_as_is(spark):
    from funcify_feature_eng_spark.operators.util import spread_small_input

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, target)
    assert wide.rdd.getNumPartitions() >= target
    assert spread_small_input(wide) is wide
    assert spread_small_input(wide, "id") is wide
