"""As-of join: all three strategies vs a pandas merge_asof oracle, plus
zero-temporal-leakage adversarial cases (SURVEY.md §5 test plan #3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.operators.asof import asof_join

STRATEGIES = ["union_window", "merge_asof", "segmented", "broadcast", "salted"]


def oracle_asof(left_pd, right_pd, allow_exact_matches=True):
    l = left_pd.sort_values("ts", kind="stable").reset_index(drop=True)
    r = (
        right_pd.sort_values(["value_at_ts", "value"], kind="stable")
        .reset_index(drop=True)[["conv_id", "value_at_ts", "value"]]
        .rename(columns={"value": "store_value"})
    )
    m = pd.merge_asof(
        l,
        r,
        left_on="ts",
        right_on="value_at_ts",
        by="conv_id",
        direction="backward",
        allow_exact_matches=allow_exact_matches,
    )
    return m.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)


def _run(spark, transcripts, feature_store, strategy, allow_exact_matches=True, **kw):
    out = asof_join(
        transcripts,
        feature_store,
        on=["conv_id"],
        left_ts="ts",
        right_ts="value_at_ts",
        value_cols={"value": "store_value"},
        allow_exact_matches=allow_exact_matches,
        right_order=["value"],
        strategy=strategy,
        **kw,
    )
    return out.orderBy("conv_id", "turn_idx").toPandas().reset_index(drop=True)


@pytest.mark.parametrize("strategy", STRATEGIES)
@pytest.mark.parametrize("exact", [True, False])
def test_asof_matches_pandas_oracle(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd, strategy, exact
):
    got = _run(spark, transcripts, feature_store, strategy, allow_exact_matches=exact)
    exp = oracle_asof(transcripts_pd, feature_store_pd, allow_exact_matches=exact)
    assert len(got) == len(exp)
    g = got["store_value"].to_numpy(object)
    e = exp["store_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all(), (
        f"{strategy} exact={exact}: {int((~same).sum())} mismatches; "
        f"first at {np.flatnonzero(~same)[:3]}"
    )


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_zero_leakage_future_values_invisible(spark, strategy):
    """Right rows timestamped after the request must never appear."""
    left = spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00"), ("c1", 1, "2024-01-01 01:00:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    right = spark.createDataFrame(
        [("c1", "2024-01-01 02:00:00", "future")],
        "conv_id string, vts_s string, value string",
    ).selectExpr("conv_id", "cast(vts_s as timestamp) as value_at_ts", "value")
    got = asof_join(
        left, right, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "v"}, strategy=strategy,
    ).toPandas()
    assert got["v"].isna().all()


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_equal_ts_tie_semantics(spark, strategy):
    """allow_exact_matches toggles visibility of a right row at exactly left.ts."""
    left = spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00")], "conv_id string, turn_idx int, ts_s string"
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    right = spark.createDataFrame(
        [("c1", "2024-01-01 00:00:00", "same_instant")],
        "conv_id string, vts_s string, value string",
    ).selectExpr("conv_id", "cast(vts_s as timestamp) as value_at_ts", "value")

    inc = asof_join(
        left, right, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "v"}, allow_exact_matches=True, strategy=strategy,
    ).toPandas()
    assert (inc["v"] == "same_instant").all()

    exc = asof_join(
        left, right, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "v"}, allow_exact_matches=False, strategy=strategy,
    ).toPandas()
    assert exc["v"].isna().all()


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_duplicate_right_ts_deterministic_tiebreak(spark, strategy):
    """Two right rows at the same instant: right_order picks the winner."""
    left = spark.createDataFrame(
        [("c1", 0, "2024-01-01 01:00:00")], "conv_id string, turn_idx int, ts_s string"
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    right = spark.createDataFrame(
        [("c1", "2024-01-01 00:00:00", "a"), ("c1", "2024-01-01 00:00:00", "b")],
        "conv_id string, vts_s string, value string",
    ).selectExpr("conv_id", "cast(vts_s as timestamp) as value_at_ts", "value")
    got = asof_join(
        left, right, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "v"}, right_order=["value"], strategy=strategy,
    ).toPandas()
    assert (got["v"] == "b").all()  # max by (ts, value)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_entity_isolation(spark, strategy):
    """A right row for another entity must never leak across conv_ids."""
    left = spark.createDataFrame(
        [("c1", 0, "2024-01-01 05:00:00"), ("c2", 0, "2024-01-01 05:00:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    right = spark.createDataFrame(
        [("c1", "2024-01-01 00:00:00", "only_c1")],
        "conv_id string, vts_s string, value string",
    ).selectExpr("conv_id", "cast(vts_s as timestamp) as value_at_ts", "value")
    got = (
        asof_join(
            left, right, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
            value_cols={"value": "v"}, strategy=strategy,
        )
        .orderBy("conv_id")
        .toPandas()
    )
    assert got.loc[0, "v"] == "only_c1"
    assert pd.isna(got.loc[1, "v"])


@pytest.mark.parametrize("strategy", ["broadcast", "merge_asof", "union_window", "segmented"])
@pytest.mark.parametrize("exact", [True, False])
def test_forward_asof_matches_pandas(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd, strategy, exact
):
    from funcify_feature_eng_spark.operators.asof import asof_join

    got = (
        asof_join(
            transcripts, feature_store, on=["conv_id"], left_ts="ts",
            right_ts="value_at_ts", value_cols={"value": "next_value"},
            allow_exact_matches=exact, right_order=["value"],
            strategy=strategy, direction="forward",
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    l = transcripts_pd.sort_values("ts", kind="stable").reset_index(drop=True)
    r = (
        feature_store_pd.sort_values(["value_at_ts", "value"], kind="stable")
        .reset_index(drop=True)[["conv_id", "value_at_ts", "value"]]
        .rename(columns={"value": "next_value"})
    )
    exp = (
        pd.merge_asof(l, r, left_on="ts", right_on="value_at_ts", by="conv_id",
                      direction="forward", allow_exact_matches=exact)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    g, e = got["next_value"].to_numpy(object), exp["next_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all(), f"{strategy} exact={exact}: {int((~same).sum())} mismatches"


def test_forward_segmented_small_buckets_matches_pandas(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd
):
    """Tiny buckets force heavy carry-forward use; must still be exact."""
    from funcify_feature_eng_spark.operators.asof import asof_join

    got = (
        asof_join(
            transcripts, feature_store, on=["conv_id"], left_ts="ts",
            right_ts="value_at_ts", value_cols={"value": "next_value"},
            right_order=["value"], strategy="segmented", direction="forward",
            bucket_seconds=3600,
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    l = transcripts_pd.sort_values("ts", kind="stable").reset_index(drop=True)
    r = (
        feature_store_pd.sort_values(["value_at_ts", "value"], kind="stable")
        .reset_index(drop=True)[["conv_id", "value_at_ts", "value"]]
        .rename(columns={"value": "next_value"})
    )
    exp = (
        pd.merge_asof(l, r, left_on="ts", right_on="value_at_ts", by="conv_id",
                      direction="forward", allow_exact_matches=True)
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    g, e = got["next_value"].to_numpy(object), exp["next_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all(), f"{int((~same).sum())} mismatches"


def test_segmented_matches_union_window_small_buckets(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd
):
    """Tiny buckets force heavy carry-in use; result must still be exact."""
    got = _run(spark, transcripts, feature_store, "segmented", bucket_seconds=3600)
    exp = oracle_asof(transcripts_pd, feature_store_pd)
    g = got["store_value"].to_numpy(object)
    e = exp["store_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all()


def test_merge_asof_self_join_same_source_same_ts_name(spark):
    """Regression: when left and right derive from the SAME DataFrame and the
    timestamp columns share a name, the analyzer's self-join attribute dedup
    used to drop the right side's ts from the cogroup pdf (KeyError 'ts').
    The strategy must handle self-as-of (events vs their own subset)."""
    from pyspark.sql import functions as F

    from funcify_feature_eng_spark.operators.asof import asof_join

    rows = [
        (1, 10, "2024-01-01 00:00:00", "view", None),
        (2, 10, "2024-01-01 01:00:00", "purchase", 5.0),
        (3, 10, "2024-01-01 02:00:00", "view", None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"), right,
        on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols={"value": "prior_value"},
        allow_exact_matches=False, right_order=["event_id"],
        strategy="merge_asof",
    ).orderBy("event_id").collect()
    assert [r["prior_value"] for r in out] == [None, None, 5.0]


# ------------------------------------------------- auto strategy selection


def test_auto_picks_broadcast_for_small_right(spark, transcripts, feature_store):
    from funcify_feature_eng_spark.operators.asof import choose_asof_strategy

    # the store parquet is tiny → its plan-size estimate sits far under the
    # default broadcast threshold
    assert choose_asof_strategy(transcripts, feature_store, ["conv_id"]) == "broadcast"


def test_auto_picks_segmented_for_hot_key_heavy_right(spark, transcripts, feature_store):
    from funcify_feature_eng_spark.operators.asof import choose_asof_strategy

    # force the right side "big" (threshold 1 byte → salting replication
    # also disallowed) and sample everything: the fixture's hot
    # conversation dominates → segmented
    chosen = choose_asof_strategy(
        transcripts, feature_store, ["conv_id"],
        broadcast_bytes=1, skew_sample_fraction=1.0, skew_ratio=4.0,
        hot_key_rows=1000, salt_max_right_bytes=1,
    )
    assert chosen == "segmented"


def test_auto_picks_salted_for_hot_key_thin_right(spark, transcripts, feature_store):
    from funcify_feature_eng_spark.operators.asof import choose_asof_strategy

    # hot key + right side thin enough to replicate → salted (the BENCH.md
    # head-to-head winner for the transcript shape)
    chosen = choose_asof_strategy(
        transcripts, feature_store, ["conv_id"],
        broadcast_bytes=1, skew_sample_fraction=1.0, skew_ratio=4.0,
        hot_key_rows=1000, salt_max_right_bytes=1 << 30,
    )
    assert chosen == "salted"


def test_auto_picks_union_window_for_even_keys(spark, transcripts, feature_store):
    from funcify_feature_eng_spark.operators.asof import choose_asof_strategy

    even = transcripts.filter("conv_id != 'conv_00000500'")  # drop the hot conv
    chosen = choose_asof_strategy(
        even, feature_store, ["conv_id"],
        broadcast_bytes=1, skew_sample_fraction=1.0, skew_ratio=8.0,
        hot_key_rows=1000,
    )
    assert chosen == "union_window"


@pytest.mark.parametrize("cfg", [
    {},  # → broadcast (small store)
    {"broadcast_bytes": 1, "skew_sample_fraction": 1.0,
     "skew_ratio": 4.0, "hot_key_rows": 1000,
     "salt_max_right_bytes": 1},  # → segmented
    {"broadcast_bytes": 1, "skew_sample_fraction": 1.0,
     "skew_ratio": 4.0, "hot_key_rows": 1000,
     "salt_max_right_bytes": 1 << 30},  # → salted
])
def test_auto_values_identical_to_explicit(
    spark, transcripts, feature_store, cfg
):
    """Whatever auto picks, the VALUES equal the default strategy's."""
    auto = _run(spark, transcripts, feature_store, "auto", auto_config=cfg)
    base = _run(spark, transcripts, feature_store, "union_window")
    g = auto["store_value"].to_numpy(object)
    e = base["store_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert bool(same.all())


# ---------------------------------------------------------------------------
# tolerance_s: the pandas merge_asof staleness bound
# ---------------------------------------------------------------------------

def _tolerance_oracle(left_pd, right_pd, tol_s, direction="backward"):
    l = left_pd.sort_values("ts", kind="stable").reset_index(drop=True)
    r = (
        right_pd.sort_values(["value_at_ts", "value"], kind="stable")
        .reset_index(drop=True)[["conv_id", "value_at_ts", "value"]]
        .rename(columns={"value": "store_value"})
    )
    m = pd.merge_asof(
        l, r, left_on="ts", right_on="value_at_ts", by="conv_id",
        direction=direction, tolerance=pd.Timedelta(seconds=tol_s),
    )
    return m.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_tolerance_matches_pandas(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd, strategy
):
    tol = 6 * 3600.0
    got = _run(spark, transcripts, feature_store, strategy, tolerance_s=tol)
    exp = _tolerance_oracle(transcripts_pd, feature_store_pd, tol)
    g = got["store_value"].to_numpy(object)
    e = exp["store_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all(), f"{strategy}: {int((~same).sum())} mismatches"
    # the bound must BITE on this fixture, or the test proves nothing
    unbounded = oracle_asof(transcripts_pd, feature_store_pd)
    assert exp["store_value"].isna().sum() > unbounded["store_value"].isna().sum()


def test_tolerance_forward_direction(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd
):
    tol = 6 * 3600.0
    got = _run(
        spark, transcripts, feature_store, "union_window",
        direction="forward", tolerance_s=tol,
    )
    exp = _tolerance_oracle(transcripts_pd, feature_store_pd, tol, direction="forward")
    g = got["store_value"].to_numpy(object)
    e = exp["store_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all()


def test_tolerance_payload_including_right_ts(spark, transcripts, feature_store):
    """Regression: when the caller's payload includes right_ts itself, the
    staleness flag must be computed BEFORE any payload column is nulled —
    a stale row nulls ALL payload columns, not just the ones that happen to
    be rewritten before the matched-ts column."""
    out = asof_join(
        transcripts, feature_store, on=["conv_id"], left_ts="ts",
        right_ts="value_at_ts",
        value_cols={"value": "store_value", "value_at_ts": "matched_at"},
        right_order=["value"], tolerance_s=6 * 3600.0,
    ).toPandas()
    stale_inconsistent = out["matched_at"].isna() != out["store_value"].isna()
    assert not stale_inconsistent.any()
    assert out["matched_at"].isna().any()  # the bound bites


def test_tolerance_validation(spark, transcripts, feature_store):
    with pytest.raises(ValueError, match="tolerance_s"):
        asof_join(
            transcripts, feature_store, on=["conv_id"], left_ts="ts",
            right_ts="value_at_ts", value_cols=["value"], tolerance_s=-1,
        )


@pytest.mark.parametrize("strategy", ["broadcast", "merge_asof", "union_window", "segmented"])
def test_nearest_asof_matches_pandas(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd, strategy
):
    from funcify_feature_eng_spark.operators.asof import asof_join

    got = (
        asof_join(
            transcripts, feature_store, on=["conv_id"], left_ts="ts",
            right_ts="value_at_ts", value_cols={"value": "near_value"},
            right_order=["value"], strategy=strategy, direction="nearest",
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    l = transcripts_pd.sort_values("ts", kind="stable").reset_index(drop=True)
    r = (
        feature_store_pd.sort_values(["value_at_ts", "value"], kind="stable")
        .reset_index(drop=True)[["conv_id", "value_at_ts", "value"]]
        .rename(columns={"value": "near_value"})
    )
    exp = (
        pd.merge_asof(l, r, left_on="ts", right_on="value_at_ts", by="conv_id",
                      direction="nearest")
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    g, e = got["near_value"].to_numpy(object), exp["near_value"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all(), f"{strategy}: {int((~same).sum())} mismatches"


def test_nearest_tie_goes_backward_and_tolerance_applies(spark):
    import datetime as dt

    from funcify_feature_eng_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def s(x):
        return t0 + dt.timedelta(seconds=x)

    left = spark.createDataFrame(
        [(1, s(100), "c"), (2, s(500), "c")],
        "id long, ts timestamp, conv_id string")
    right = spark.createDataFrame(
        [("c", s(90), 1.0), ("c", s(110), 2.0), ("c", s(2000), 9.0)],
        "conv_id string, value_at_ts timestamp, value double")
    out = asof_join(
        left, right, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "v"}, direction="nearest", tolerance_s=300.0,
    )
    got = {r["id"]: r["v"] for r in out.collect()}
    # id 1: backward gap 10 == forward gap 10 -> tie goes BACKWARD (1.0)
    assert got[1] == 1.0
    # id 2: nearest candidates are 390s back / 1500s forward; backward wins
    # but 390 > 300 tolerance... backward candidate at s(110) gap=390 > tol
    # -> nulled in the backward pass; forward 1500 > tol -> NULL overall
    assert got[2] is None


def oracle_topk(left_pd, right_pd, k, exact):
    """Brute force over every (turn, store row) pair of a conversation:
    keep the visible pairs, rank each turn's rows newest first by
    (value_at_ts, value) — ties put the later store row first, as a
    reversed stable sort does — and keep ranks 1..k; a turn with no
    visible row gets one (NaN, None) row."""
    l = left_pd[["conv_id", "turn_idx", "ts"]].reset_index(drop=True)
    l["__l"] = np.arange(len(l))
    r = (
        right_pd[["conv_id", "value_at_ts", "value"]]
        .sort_values(["value_at_ts", "value"], kind="stable")
        .iloc[::-1]
        .reset_index(drop=True)
    )
    r["__r"] = np.arange(len(r))
    m = l.merge(r, on="conv_id")
    m = m[m.value_at_ts <= m.ts] if exact else m[m.value_at_ts < m.ts]
    m = m.sort_values(["__l", "__r"], kind="stable")
    m["asof_rank"] = m.groupby("__l").cumcount() + 1
    m = m[m.asof_rank <= k]
    miss = l[~l["__l"].isin(m["__l"])].assign(asof_rank=np.nan, value=None)
    return (
        pd.concat([m, miss])
        .rename(columns={"value": "pv"})[["conv_id", "turn_idx", "asof_rank", "pv"]]
        .sort_values(["conv_id", "turn_idx", "asof_rank"], kind="stable")
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("exact", [True, False])
@pytest.mark.parametrize("k", [1, 3, 100])
def test_asof_topk_matches_bruteforce(
    spark, transcripts, feature_store, transcripts_pd, feature_store_pd, exact, k
):
    from funcify_feature_eng_spark.operators.asof import asof_topk

    got = (
        asof_topk(
            transcripts.select("conv_id", "turn_idx", "ts"),
            feature_store,
            on=["conv_id"],
            left_ts="ts",
            right_ts="value_at_ts",
            value_cols={"value": "pv"},
            k=k,
            allow_exact_matches=exact,
            right_order=["value"],
        )
        .orderBy("conv_id", "turn_idx", "asof_rank")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = oracle_topk(transcripts_pd, feature_store_pd, k, exact)
    assert len(got) == len(exp)
    for col in ["conv_id", "turn_idx", "asof_rank", "pv"]:
        g = got[col].to_numpy(object)
        e = exp[col].to_numpy(object)
        same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
        assert same.all(), f"{col}: {got[~same].head()} vs {exp[~same].head()}"


def test_asof_topk_k1_equals_asof_join(spark, transcripts, feature_store):
    from funcify_feature_eng_spark.operators.asof import asof_topk

    single = asof_join(
        transcripts.select("conv_id", "turn_idx", "ts"),
        feature_store,
        on=["conv_id"],
        left_ts="ts",
        right_ts="value_at_ts",
        value_cols={"value": "pv"},
        allow_exact_matches=False,
        right_order=["value"],
    ).orderBy("conv_id", "turn_idx").toPandas()
    topk = (
        asof_topk(
            transcripts.select("conv_id", "turn_idx", "ts"),
            feature_store,
            on=["conv_id"],
            left_ts="ts",
            right_ts="value_at_ts",
            value_cols={"value": "pv"},
            k=1,
            allow_exact_matches=False,
            right_order=["value"],
        )
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert len(single) == len(topk)
    g, e = topk["pv"].to_numpy(object), single["pv"].to_numpy(object)
    assert ((g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))).all()


class TestSlidingWindowJoin:
    def _brute(self, left, right, window_s):
        out = []
        for key, lt in left:
            vis = [
                (rv,)
                for rk, rt, rv in right
                if rk == key and rt < lt and rt >= lt - window_s
            ]
            out.append((key, lt, len(vis), sum(v for (v,) in vis)))
        return out

    def test_matches_bruteforce(self, spark):
        import random

        rng = random.Random(13)
        left = [(rng.randrange(4), rng.randrange(0, 5000)) for _ in range(150)]
        right = [
            (rng.randrange(4), rng.randrange(0, 5000), rng.randrange(1, 50))
            for _ in range(300)
        ]
        from funcify_feature_eng_spark.operators.asof import sliding_window_join

        ldf = spark.createDataFrame(
            [(k, t) for k, t in left], ["k", "lt"]
        ).select("k", F.timestamp_seconds(F.col("lt")).alias("lt"))
        rdf = spark.createDataFrame(right, ["k", "rt", "v"]).select(
            "k", F.timestamp_seconds(F.col("rt")).alias("rt"), "v"
        )
        got = (
            sliding_window_join(
                ldf, rdf, on=["k"], left_ts="lt", right_ts="rt",
                window_s=600, sum_col="v",
            )
            .select("k", F.unix_seconds("lt").alias("lt"), "w_count", "w_sum")
            .collect()
        )
        exp = {}
        for k, lt, c, s in self._brute(left, right, 600):
            exp.setdefault((k, lt), []).append((c, s))
        got_m = {}
        for r in got:
            got_m.setdefault((r["k"], r["lt"]), []).append(
                (r["w_count"], r["w_sum"])
            )
        assert {k: sorted(v) for k, v in got_m.items()} == {
            k: sorted(v) for k, v in exp.items()
        }

    def test_boundary_semantics(self, spark):
        # right at exactly left_ts: EXCLUDED; right at exactly
        # left_ts - window: INCLUDED
        from funcify_feature_eng_spark.operators.asof import sliding_window_join

        ldf = spark.createDataFrame([(1, 1000)], ["k", "lt"]).select(
            "k", F.timestamp_seconds(F.col("lt")).alias("lt")
        )
        rdf = spark.createDataFrame(
            [(1, 1000, 5), (1, 400, 7), (1, 399, 100)], ["k", "rt", "v"]
        ).select("k", F.timestamp_seconds(F.col("rt")).alias("rt"), "v")
        r = sliding_window_join(
            ldf, rdf, on=["k"], left_ts="lt", right_ts="rt",
            window_s=600, sum_col="v",
        ).collect()[0]
        assert r["w_count"] == 1 and r["w_sum"] == 7


class TestReferencePercentile:
    def test_matches_bruteforce(self, spark):
        import random

        from funcify_feature_eng_spark.operators.scaling import (
            reference_percentile,
        )

        rng = random.Random(21)
        refs = [rng.randrange(0, 100) for _ in range(80)]
        probes = [rng.randrange(0, 100) for _ in range(50)] + [None]
        rdf = spark.createDataFrame([(v,) for v in refs], ["v"])
        pdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(probes)], ["i", "v"]
        )
        got = {
            r["i"]: r["ref_pct_ppm"]
            for r in reference_percentile(pdf, rdf, "v").collect()
        }
        for i, v in enumerate(probes):
            if v is None:
                assert got[i] is None
            else:
                exp = sum(1 for x in refs if x <= v) * 1_000_000 // len(refs)
                assert got[i] == exp, (i, v)

    def test_empty_reference_null(self, spark):
        from funcify_feature_eng_spark.operators.scaling import (
            reference_percentile,
        )

        rdf = spark.createDataFrame([(None,)], "v: int").filter("v IS NOT NULL")
        pdf = spark.createDataFrame([(1, 5)], ["i", "v"])
        assert reference_percentile(pdf, rdf, "v").collect()[0][
            "ref_pct_ppm"
        ] is None

    def test_grouped(self, spark):
        from funcify_feature_eng_spark.operators.scaling import (
            reference_percentile,
        )

        rdf = spark.createDataFrame(
            [("a", 10), ("a", 20), ("b", 100)], ["g", "v"]
        )
        pdf = spark.createDataFrame([("a", 15), ("b", 100)], ["g", "v"])
        got = {
            (r["g"], r["v"]): r["ref_pct_ppm"]
            for r in reference_percentile(pdf, rdf, "v", group_by=["g"]).collect()
        }
        assert got[("a", 15)] == 500_000 and got[("b", 100)] == 1_000_000


def test_asof_topk_null_entity_matches_asof_join(spark):
    # NULL entity is a real group in the union-window ffill; the join
    # back must be null-safe or rank-without-payload rows leak out
    import datetime as dt

    from funcify_feature_eng_spark.operators.asof import asof_topk

    b = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(None, 1, b + dt.timedelta(hours=2))], "k: int, i: int, ts: timestamp"
    )
    right = spark.createDataFrame(
        [(None, b + dt.timedelta(hours=1), 7)], "k: int, rts: timestamp, v: int"
    )
    r = asof_topk(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        value_cols={"v": "pv"}, k=2,
    ).collect()
    assert len(r) == 1 and r[0]["asof_rank"] == 1 and r[0]["pv"] == 7


def test_asof_topk_tied_right_ts_carries_all_ties(spark):
    """Right rows tied on (entity, right_ts) must ALL stay reachable and
    rank by right_order. The right side is fed in DESCENDING right_order
    so a tie-blind union-window ffill (stable sort preserves input order,
    F.last picks the input-last = MIN index) would carry ridx=1 and
    silently drop the newer tied row — the arbitrary order a shuffle
    produces at scale, made deterministic here."""
    import datetime as dt

    from funcify_feature_eng_spark.operators.asof import asof_topk

    b = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 10, b + dt.timedelta(hours=2))], "k: int, i: int, ts: timestamp"
    )
    right = spark.createDataFrame(
        [  # input order: eid 2 BEFORE eid 1, both at the same instant
            (1, b + dt.timedelta(hours=1), 2, 200),
            (1, b + dt.timedelta(hours=1), 1, 100),
        ],
        "k: int, rts: timestamp, eid: int, v: int",
    ).coalesce(1)
    rows = {
        r["asof_rank"]: r["pv"]
        for r in asof_topk(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            value_cols={"v": "pv"}, k=2, right_order=["eid"],
        ).collect()
    }
    # rank 1 = newest under the (rts, eid) tie-break = eid 2
    assert rows == {1: 200, 2: 100}


def test_sliding_window_join_null_ts_rows(spark):
    import datetime as dt

    from funcify_feature_eng_spark.operators.asof import sliding_window_join

    b = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 1, b), (1, 2, None)], "k: int, i: int, ts: timestamp"
    )
    right = spark.createDataFrame(
        [(1, b - dt.timedelta(hours=1), 5), (1, None, 100)],
        "k: int, rts: timestamp, v: int",
    )
    got = {r["i"]: (r["w_count"], r["w_sum"]) for r in sliding_window_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        window_s=86400, sum_col="v",
    ).collect()}
    # NULL-ts right row must not pollute the count; NULL-ts probe -> NULL
    assert got[1] == (1, 5)
    assert got[2] == (None, None)


# ------------------------------------------------- Column memo


def _memo_clear():
    from funcify_feature_eng_spark.operators import asof

    for memo in (asof._known_time, asof._union_cols, asof._ffill_cols):
        memo.cache_clear()


@pytest.mark.parametrize("strategy", ["union_window", "segmented", "salted"])
def test_memo_keys_never_collide(spark, strategy):
    """Calls that differ only in ``allow_exact_matches``, ``direction``,
    ``right_order`` or ``value_cols`` share the memoized Column helpers;
    alternating them must give each one's fresh (memo-cleared) result."""
    left = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 30), ("b", 1, 15), ("b", 2, 40)],
        "e string, i int, t int",
    ).withColumn("t", F.col("t").cast("timestamp"))
    # exact-time matches at 10/20/15, ties at 20 and 15 ordered opposite
    # ways by v and by r
    right = spark.createDataFrame(
        [("a", 10, 1, 2), ("a", 20, 2, 1), ("a", 20, 3, 0), ("b", 15, 4, 1),
         ("b", 15, 5, 0), ("b", 30, 6, 0)],
        "e string, rt int, v int, r int",
    ).withColumn("rt", F.col("rt").cast("timestamp"))
    base = dict(on=["e"], left_ts="t", right_ts="rt", value_cols={"v": "out"},
                right_order=["v"], strategy=strategy, bucket_seconds=10)
    variants = [
        {},
        {"allow_exact_matches": False},
        {"direction": "forward"},
        {"right_order": ["r"]},
        {"value_cols": {"r": "out"}},
    ]

    def rows(variant):
        out = asof_join(left, right, **{**base, **variant})
        return [tuple(r) for r in out.orderBy("e", "i").collect()]

    fresh = []
    for v in variants:
        _memo_clear()
        fresh.append(rows(v))
    assert len(set(map(tuple, fresh))) == len(variants)  # every knob bites
    for _ in range(2):
        for v, want in zip(variants, fresh):
            assert rows(v) == want


@pytest.mark.parametrize("threshold, want_bytes, want", [
    ("100MB", 100 << 20, "broadcast"),
    ("-1", -1, "union_window"),  # -1 disables broadcast
])
def test_choose_asof_strategy_logs_decision(
    spark, transcripts, feature_store, caplog, threshold, want_bytes, want
):
    """The threshold is the session's parsed value, and each call logs one
    decision record on the as-of logger."""
    import logging

    from funcify_feature_eng_spark.operators.asof import choose_asof_strategy

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try:
        with caplog.at_level(logging.INFO, logger="funcify_feature_eng_spark.asof"):
            chosen = choose_asof_strategy(
                transcripts, feature_store, ["conv_id"], skew_sample_fraction=1.0
            )
    finally:
        spark.conf.set(key, old)
    recs = [r.decision for r in caplog.records if r.name == "funcify_feature_eng_spark.asof"]
    assert len(recs) == 1
    rec = recs[0]
    assert chosen == want == rec["strategy"]
    assert rec["name"] == "asof_strategy" and rec["threshold_bytes"] == want_bytes
    assert 0 < rec["estimate_bytes"] < 100 << 20
    sampled = (rec["sampled_max"], rec["sampled_mean"])
    assert sampled == (None, None) if want == "broadcast" else None not in sampled


def test_memo_keyed_by_live_gateway(spark, monkeypatch):
    """A Column memoized under one JVM gateway is not handed out once that
    gateway has been replaced."""
    from pyspark import SparkContext

    from funcify_feature_eng_spark.operators import asof
    from funcify_feature_eng_spark.operators.util import live_gateway

    args = (("e",), "t", "rt", (("v", "out"),), ())
    first = asof._union_cols(live_gateway(), *args)
    assert asof._union_cols(live_gateway(), *args) is first
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert asof._union_cols(live_gateway(), *args) is not first
