"""FeatureModel DAG compiler: tabular materialization, aliasing, topo order,
feature-on-feature, plan cache, error paths."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError


@pytest.fixture()
def model(feature_store):
    m = FeatureModel(entity_key="conv_id", order=("turn_idx", "ts"), event_time="ts")
    m.declare_window_feature("prior_role", op="lag", col="role")
    m.declare_window_feature("prior_tool", op="ffill_strict", col="tool")
    m.declare_window_feature("gap_secs", op="gap")
    m.declare_window_feature("session_id", op="session", gap_threshold_s=1800.0)
    m.declare_transformer_feature("turn_len", "char_len", args=["text"])
    # feature-on-feature: negative_to_null over gap_secs (J1 tier-2 wiring)
    m.declare_transformer_feature("gap_nonneg", "negative_to_null", args=["gap_secs"])
    m.register_store("fs", feature_store)
    m.declare_asof_feature(
        "asof_store_value", store="fs", right_ts="value_at_ts", value_col="value",
        right_order=("value",),
    )
    m.alias("priorRole", "prior_role")
    m.alias("convId", "conv_id")
    return m


COLUMNS = [
    "conv_id", "turn_idx", "text", "prior_role", "prior_tool",
    "gap_secs", "session_id", "turn_len", "gap_nonneg", "asof_store_value",
]


def test_materialize_full_vector(spark, model, transcripts, transcripts_pd):
    out = (
        model.materialize(transcripts, COLUMNS)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert list(out.columns) == COLUMNS
    exp = transcripts_pd.sort_values(["conv_id", "turn_idx", "ts"], kind="stable")
    # pass-through text equality (BASELINE invariant)
    assert (out["text"].to_numpy() == exp["text"].to_numpy()).all()
    assert np.allclose(
        out["turn_len"].to_numpy(float),
        exp["text"].str.len().to_numpy(float),
    )
    # gap_nonneg == gap_secs where non-negative (gaps are never negative here)
    g = out["gap_secs"].to_numpy(float)
    gn = out["gap_nonneg"].to_numpy(float)
    assert np.allclose(g, gn, equal_nan=True)


def test_alias_resolution(spark, model, transcripts):
    out = model.materialize(transcripts, ["convId", "priorRole"])
    assert out.columns == ["convId", "priorRole"]
    assert out.count() == transcripts.count()


def test_unknown_column_raises(model, transcripts):
    with pytest.raises(PlanError, match="cannot resolve"):
        model.materialize(transcripts, ["no_such_feature"])


def test_missing_event_time_raises(spark, model, transcripts):
    with pytest.raises(PlanError, match="event-time"):
        model.materialize(transcripts.drop("ts"), ["conv_id"])


def test_cycle_detection(feature_store):
    m = FeatureModel()
    m.declare_transformer_feature("a", "negative_to_null", args=["b"])
    m.declare_transformer_feature("b", "negative_to_null", args=["a"])
    with pytest.raises(PlanError, match="cycle"):
        m.compile(["a"], spine_cols=["conv_id", "ts"])


def test_plan_cache_hit(model, transcripts):
    cols = ["prior_role", "turn_len"]
    p1 = model.compile(cols, transcripts.columns)
    p2 = model.compile(cols, transcripts.columns)
    assert p1 is p2  # same object ⇒ cache hit
    model.declare_window_feature("extra", op="row_number")
    p3 = model.compile(cols, transcripts.columns)
    assert p3 is not p1  # declaration invalidates the cache


def test_duplicate_feature_raises():
    m = FeatureModel()
    m.declare_window_feature("x", op="row_number")
    with pytest.raises(PlanError, match="already declared"):
        m.declare_window_feature("x", op="row_number")


def test_unknown_transformer_raises():
    m = FeatureModel()
    with pytest.raises(PlanError, match="unknown transformer"):
        m.declare_transformer_feature("f", "nope", args=["x"])


def test_max_depth_enforced():
    m = FeatureModel(max_depth=3)
    m.declare_window_feature("f0", op="row_number")
    for i in range(1, 6):
        m.declare_transformer_feature(f"f{i}", "negative_to_null", args=[f"f{i-1}"])
    with pytest.raises(PlanError, match="max_depth"):
        m.compile(["f5"], spine_cols=["conv_id", "ts"])
    # within the bound compiles fine
    assert len(m.compile(["f2"], spine_cols=["conv_id", "ts"])) == 3


def test_topo_order_feature_on_feature(model, transcripts):
    plan = model.compile(["gap_nonneg"], transcripts.columns)
    names = [s.name for s in plan]
    assert names.index("gap_secs") < names.index("gap_nonneg")


def test_j1_tier5_source_field_auto_join(spark):
    """A requested name on an UNCONNECTED registered source auto-joins
    (J1 tier 5, StandardQueryConnector.kt:682-762)."""
    from funcify_feature_eng_spark.plans.model import FeatureModel

    spine = spark.createDataFrame(
        [("u1", 0, "2024-01-01 00:00:00"), ("u2", 0, "2024-01-01 00:00:00")],
        "user_id string, turn_idx int, ts_s string",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    users = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], "user_id string, userTier string"
    )
    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    m.register_source("users", users)
    out = m.materialize(spine, ["user_id", "user_tier"]).orderBy("user_id").collect()
    assert [r["user_tier"] for r in out] == ["gold", "silver"]


def test_j1_tier5_feature_arg_from_source(spark):
    """A transformer feature ARGUMENT wired from an unconnected source."""
    from funcify_feature_eng_spark.plans.model import FeatureModel

    spine = spark.createDataFrame(
        [("u1", 0, "2024-01-01 00:00:00")],
        "user_id string, turn_idx int, ts_s string",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    users = spark.createDataFrame([("u1", -5)], "user_id string, balance int")
    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    m.register_source("users", users)
    m.declare_transformer_feature("clean_balance", "negative_to_null", ["balance"])
    out = m.materialize(spine, ["user_id", "clean_balance"]).collect()
    assert out[0]["clean_balance"] is None


def test_j1_tier6_variable_set(spark):
    """A name satisfiable only from the request's variable set binds as a
    literal (VARIABLE_VALUE_PROVIDED, J1 tier 6)."""
    from funcify_feature_eng_spark.plans.model import FeatureModel

    spine = spark.createDataFrame(
        [("u1", 0, "2024-01-01 00:00:00")],
        "user_id string, turn_idx int, ts_s string",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    out = m.materialize(spine, ["user_id", "region"], variables={"region": "emea"})
    assert out.collect()[0]["region"] == "emea"


def test_j1_tier5_ambiguous_source_field_rejected(spark):
    from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError

    spine = spark.createDataFrame(
        [("u1", 0, "2024-01-01 00:00:00")],
        "user_id string, turn_idx int, ts_s string",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    a = spark.createDataFrame([("u1", 1)], "user_id string, score int")
    b = spark.createDataFrame([("u1", 2)], "user_id string, score int")
    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    m.register_source("a", a)
    m.register_source("b", b)
    with pytest.raises(PlanError, match="ambiguous"):
        m.materialize(spine, ["user_id", "score"])


def test_j3_per_domain_last_updated_registry(spark):
    """Two right-side stores with DIFFERENT timestamp columns, neither
    passing right_ts at declare time — the per-domain @lastUpdated registry
    supplies each (StandardQueryConnector.kt:2512-2602)."""
    from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError

    spine = spark.createDataFrame(
        [("u1", 0, "2024-01-02 00:00:00")],
        "user_id string, turn_idx int, ts_s string",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    s1 = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00", 10)], "user_id string, updated_at_s string, v int"
    ).selectExpr("user_id", "cast(updated_at_s as timestamp) as updated_at", "v")
    s2 = spark.createDataFrame(
        [("u1", "2024-01-01 12:00:00", 20)], "user_id string, effective_ts_s string, w int"
    ).selectExpr("user_id", "cast(effective_ts_s as timestamp) as effective_ts", "w")

    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    m.register_store("s1", s1, last_updated="updated_at")
    m.register_store("s2", s2, last_updated="effective_ts")
    m.declare_asof_feature("f1", store="s1", value_col="v")
    m.declare_asof_feature("f2", store="s2", value_col="w")
    row = m.materialize(spine, ["user_id", "f1", "f2"]).collect()[0]
    assert (row["f1"], row["f2"]) == (10, 20)

    # missing registry entry AND no explicit right_ts → plan error
    m2 = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    m2.register_store("s1", s1)
    m2.declare_asof_feature("f1", store="s1", value_col="v")
    with pytest.raises(PlanError, match="lastUpdated"):
        m2.materialize(spine, ["user_id", "f1"])

    # bad registry column rejected at registration
    with pytest.raises(PlanError, match="not in its columns"):
        m2.register_store("bad", s1, last_updated="nope")


def test_p6_transformer_input_schema_validation(spark):
    """Declared arg types are enforced against the bound columns at plan
    time (DefaultJacksonJqTransformer.kt:89-113 analog)."""
    from funcify_feature_eng_spark.functions.registry import default_registry
    from funcify_feature_eng_spark.functions.yaml_loader import load_transformers_yaml
    from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError

    reg = default_registry()
    load_transformers_yaml(
        reg,
        """
transformers:
  - name: halve
    args: [input]
    types: {input: number}
    expr: "input / 2.0"
  - name: shout
    args: [input]
    types: {input: string}
    expr: "upper(input)"
""",
    )
    spine = spark.createDataFrame(
        [("u1", 0, "2024-01-01 00:00:00", 4.0, "hi")],
        "user_id string, turn_idx int, ts_s string, x double, s string",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts", "x", "s")

    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts",
                     registry=reg)
    m.declare_transformer_feature("hx", "halve", ["x"])      # number ✓ (double)
    m.declare_transformer_feature("up", "shout", ["s"])      # string ✓
    row = m.materialize(spine, ["hx", "up"]).collect()[0]
    assert (row["hx"], row["up"]) == (2.0, "HI")

    m.declare_transformer_feature("bad", "shout", ["x"])     # double vs string ✗
    with pytest.raises(PlanError, match="expects type 'string'"):
        m.materialize(spine, ["bad"])


def test_convention_equivalent_column_as_feature_arg(spark):
    """A feature ARGUMENT written in another naming convention (camelCase)
    binds to the snake_case spine column (J1 tier 4 for arguments)."""
    from funcify_feature_eng_spark.plans.model import FeatureModel

    spine = spark.createDataFrame(
        [("u1", 3, "2024-01-01 00:00:00")],
        "user_id string, turn_idx int, ts_s string",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    m.declare_transformer_feature("clean_idx", "negative_to_null", ["turnIdx"])
    out = m.materialize(spine, ["user_id", "clean_idx"]).collect()
    assert out[0]["clean_idx"] == 3


def test_rolling_and_context_window_ops_in_model(spark):
    """The declarative layer's rolling/context ops must equal the direct
    operator formulations on a tie-heavy frame."""
    import datetime as dt

    import pandas as pd

    from funcify_feature_eng_spark.operators.windows import (
        prior_context_col,
        rolling_time_agg,
    )
    from funcify_feature_eng_spark.plans.model import FeatureModel

    rows = [
        (1, "a", 0, 10, "x"), (2, "a", 0, 20, "y"), (3, "a", 5, 30, "x"),
        (4, "a", 4000, 40, "z"), (5, "b", 2, 50, "x"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "u", "off", "v", "t"])
    pdf["ts"] = pdf["off"].map(lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=int(s)))
    df = spark.createDataFrame(pdf.drop(columns=["off"]))

    m = FeatureModel(entity_key="u", order=("ts", "event_id"), event_time="ts")
    m.declare_window_feature("n_1h", op="rolling_count", col="v", window_s=3600)
    m.declare_window_feature("sum_1h", op="rolling_sum", col="v", window_s=3600)
    m.declare_window_feature("kinds_1h", op="rolling_distinct", col="t", window_s=3600)
    m.declare_window_feature("ctx", op="context", col="t", k=2, sep="|")
    got = (
        m.materialize(df, columns=["event_id", "n_1h", "sum_1h", "kinds_1h", "ctx"])
        .orderBy("event_id")
        .toPandas()
    )

    direct = rolling_time_agg(df, keys=["u"], ts_col="ts", value_col="v", window_s=3600)
    direct = direct.withColumn(
        "ctx", prior_context_col("t", ["u"], ["ts", "event_id"], k=2, sep="|")
    ).orderBy("event_id").toPandas()
    assert got["n_1h"].tolist() == direct["prev_cnt"].tolist()
    assert got["sum_1h"].tolist() == direct["prev_sum"].tolist()
    assert got["ctx"].tolist() == direct["ctx"].tolist()
    # distinct: hand-check — rows 1,2 (t=0s) see nothing; row 3 sees {x,y};
    # row 4 (4000s) sees nothing within 3600; row 5 first of its entity
    assert got["kinds_1h"].tolist() == [0, 0, 2, 0, 0]


def test_describe_reports_resolution_and_topo_stages():
    m = FeatureModel(entity_key="user_id", order=("ts", "event_id"),
                     event_time="ts")
    m.declare_window_feature("gap_secs", op="gap")
    m.declare_transformer_feature("gap_nonneg", "negative_to_null",
                                  args=["gap_secs"])
    m.alias("cleanGap", "gap_nonneg")
    d = m.describe(["user_id", "clean_gap"], spine_cols=["user_id", "ts", "event_id"])
    cols = {c["column"]: (c["resolves"], c["target"]) for c in d["columns"]}
    assert cols["user_id"] == ("column", "user_id")
    assert cols["clean_gap"][0] == "feature" and cols["clean_gap"][1] == "gap_nonneg"
    # topo order: the dependency computes before its consumer
    names = [s["feature"] for s in d["stages"]]
    assert names == ["gap_secs", "gap_nonneg"]
    assert d["stages"][0]["op"] == "gap"
    assert d["stages"][1]["transformer"] == "negative_to_null"
    assert d["stages"][1]["depends_on"] == ["gap_secs"]


def test_materialize_backfill_touched_entities_equal_oneshot(spark):
    """materialize_backfill = materialize restricted to entities touched
    by the range, with window features exact (complete entity history
    reaches the compute through the semi join)."""
    import datetime as dt

    import pandas as pd

    from funcify_feature_eng_spark.plans.model import FeatureModel

    rows = [
        (1, "a", 0, "x"), (2, "a", 10, "y"), (3, "a", 500, "z"),
        (4, "b", 5, "x"), (5, "b", 20, "y"),
        (6, "c", 490, "x"), (7, "c", 520, "y"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "u", "off", "t"])
    pdf["ts"] = pdf["off"].map(
        lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=int(s))
    )
    df = spark.createDataFrame(pdf.drop(columns=["off"]))
    base_es = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())

    m = FeatureModel(entity_key="u", order=("ts", "event_id"), event_time="ts")
    m.declare_window_feature("prev_t", op="lag", col="t")
    m.declare_window_feature("seq", op="row_number")
    cols = ["event_id", "u", "prev_t", "seq"]

    # range [480, 530): touches a (row 3) and c (rows 6,7), not b
    out = m.materialize_backfill(
        df, cols, start_s=base_es + 480, end_s=base_es + 530
    )
    got = sorted(
        (r["event_id"], r["u"], r["prev_t"], r["seq"]) for r in out.collect()
    )
    full = m.materialize(df, cols)
    want = sorted(
        (r["event_id"], r["u"], r["prev_t"], r["seq"])
        for r in full.collect()
        if r["u"] in ("a", "c")
    )
    assert got == want
    assert {u for _, u, _, _ in got} == {"a", "c"}
    # entity 'a' keeps its FULL history: row 3's lag sees row 2
    assert ((3, "a", "y", 3) in got)


def test_window_scaling_verbs_match_frame_operators(spark):
    """declare_window_feature('zscore'/'minmax') — the declarative twins of
    operators/scaling.py::standardize/minmax_scale over the model's entity
    partition — must produce identical values, and both ride the model's
    ONE window Exchange."""
    from funcify_feature_eng_spark.operators.scaling import minmax_scale, standardize
    from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError

    spine = spark.createDataFrame(
        [("u1", i, f"2024-01-01 00:0{i}:00", v)
         for i, v in enumerate([10, 20, 20, 40, 100])]
        + [("u2", 0, "2024-01-01 00:00:00", 7),
           ("u2", 1, "2024-01-01 00:01:00", 7)],
        "user_id string, turn_idx int, ts_s string, v long",
    ).selectExpr("user_id", "turn_idx", "cast(ts_s as timestamp) as ts", "v")
    m = FeatureModel(entity_key="user_id", order=("turn_idx",), event_time="ts")
    m.declare_window_feature("v_z", "zscore", col="v")
    m.declare_window_feature("v_mm", "minmax", col="v")
    out = m.materialize(
        spine, ["user_id", "turn_idx", "v", "v_z", "v_mm"]
    )
    got = {(r["user_id"], r["turn_idx"]): (r["v_z"], r["v_mm"])
           for r in out.collect()}
    zref = {(r["user_id"], r["turn_idx"]): r["zscore"] for r in standardize(
        spine, "v", group_by=["user_id"]).collect()}
    mref = {(r["user_id"], r["turn_idx"]): r["minmax_e6"] for r in minmax_scale(
        spine, "v", group_by=["user_id"]).collect()}
    for k, (z, mm) in got.items():
        assert z == zref[k] and mm == mref[k], k
    # constant entity u2: zscore NULL, minmax 0
    assert got[("u2", 0)] == (None, 0)
    # shared exchange: at most one Exchange for the whole window bundle
    # (fresh, un-executed frame: a finalized AQE plan renders each shuffle
    # stage with the word Exchange twice)
    fresh = m.materialize(spine, ["user_id", "turn_idx", "v", "v_z", "v_mm"])
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan
    with pytest.raises(PlanError):
        m.declare_window_feature("bad", "robust_scale", col="v")


def _plan_counts(df):
    """(Exchange, Window) operator counts of a fresh, un-executed frame's
    physical plan (a finalized AQE plan renders each shuffle stage with
    the word Exchange twice)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange"), len(re.findall(r"\bWindow \[", plan)), plan


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_window_transformer_asof_request_runs_on_one_exchange(
    spark, transcripts, feature_store
):
    """Window, transformer and strictly-prior as-of features in one
    request share ONE hashpartitioning(entity) exchange: the as-of stage
    lowers first and the window pass reuses its partitioning, and each
    dependency level lands in one withColumns, so same-spec window
    expressions collapse into shared Window operators."""
    from funcify_feature_eng_spark.functions.text import char_len, token_count
    from funcify_feature_eng_spark.operators import windows as W
    from funcify_feature_eng_spark.operators.asof import asof_join

    m = FeatureModel(entity_key="conv_id", order=("turn_idx", "ts"), event_time="ts")
    m.declare_window_feature("prior_role", op="lag", col="role")
    m.declare_window_feature("last_tool", op="ffill_strict", col="tool")
    m.declare_window_feature("gap_s", op="gap")
    m.declare_window_feature("session_id", op="session", gap_threshold_s=1800.0)
    m.declare_transformer_feature("text_len", "char_len", args=["text"])
    m.declare_transformer_feature("n_tokens", "token_count", args=["text"])
    m.register_store("fs", feature_store, last_updated="value_at_ts")
    m.declare_asof_feature(
        "store_value", "fs", value_col="value",
        allow_exact_matches=False, right_order=["value"],
    )
    cols = ["conv_id", "turn_idx", "prior_role", "last_tool", "gap_s",
            "session_id", "text_len", "n_tokens", "store_value"]
    out = m.materialize(transcripts, cols)
    n_exchange, n_window, plan = _plan_counts(out)
    assert n_exchange == 1, plan
    # one Window for the as-of fill, one for the shared-spec window
    # features, one for the lag nested inside session_id
    assert n_window == 3, plan

    keys, order = ["conv_id"], ["turn_idx", "ts"]
    ref = asof_join(
        transcripts, feature_store, on=keys, left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "store_value"}, allow_exact_matches=False,
        right_order=["value"],
    ).select(
        "conv_id", "turn_idx",
        W.lag_col("role", keys, order).alias("prior_role"),
        W.ffill_col("tool", keys, order, strict_prior=True).alias("last_tool"),
        W.gap_seconds("ts", keys, order).alias("gap_s"),
        W.session_id("ts", keys, order, 1800.0).alias("session_id"),
        char_len(F.col("text")).alias("text_len"),
        token_count(F.col("text")).alias("n_tokens"),
        "store_value",
    )
    assert _rows(out, cols) == _rows(ref, cols)


def test_dependency_levels_match_per_feature_chain(spark, transcripts, feature_store):
    """Features land one withColumns per dependency level. Every chain
    shape must equal a hand-built chain of one withColumn per feature:
    transformer over a window feature, transformer over a transformer
    (two levels deep), a tier-4 convention-name argument, a window over
    an as-of feature, and as-of features under the segmented and
    broadcast strategies and the nearest direction."""
    from funcify_feature_eng_spark.functions.scalars import negative_to_null
    from funcify_feature_eng_spark.functions.text import char_len
    from funcify_feature_eng_spark.operators import windows as W
    from funcify_feature_eng_spark.operators.asof import asof_join

    m = FeatureModel(entity_key="conv_id", order=("turn_idx", "ts"), event_time="ts")
    m.register_store("fs", feature_store, last_updated="value_at_ts")
    m.declare_window_feature("gap_secs", op="gap")
    m.declare_transformer_feature("gap_nonneg", "negative_to_null", args=["gap_secs"])
    m.declare_transformer_feature("gap_twice", "negative_to_null", args=["gap_nonneg"])
    m.declare_transformer_feature("turn_len", "char_len", args=["text"])
    m.declare_transformer_feature("len_nonneg", "negative_to_null", args=["turn_len"])
    m.declare_transformer_feature("gap_clean", "negative_to_null", args=["gapSecs"])
    m.declare_window_feature("prior_store", op="lag", col="store_prior")
    asofs = {
        "store_prior": dict(allow_exact_matches=False),
        "store_seg": dict(strategy="segmented"),
        "store_bc": dict(strategy="broadcast"),
        "store_near": dict(direction="nearest"),
    }
    for name, kw in asofs.items():
        m.declare_asof_feature(name, "fs", value_col="value", right_order=["value"], **kw)
    feats = ["gap_twice", "gap_clean", "len_nonneg", "prior_store", "gap_nonneg",
             "gap_secs", "turn_len", "store_prior", "store_seg", "store_bc",
             "store_near"]
    cols = ["conv_id", "turn_idx", *feats]
    out = m.materialize(transcripts, cols)

    # describe() lists the lowered order: as-of stages first, then every
    # dependency before its consumer
    stages = m.describe(cols, transcripts.columns)["stages"]
    kinds = [s["kind"] for s in stages]
    assert kinds[:4] == ["asof"] * 4 and "asof" not in kinds[4:]
    pos = {s["feature"]: s["stage"] for s in stages}
    assert pos["gap_secs"] < pos["gap_nonneg"] < pos["gap_twice"]
    assert pos["gap_secs"] < pos["gap_clean"]
    assert pos["turn_len"] < pos["len_nonneg"]
    assert pos["store_prior"] < pos["prior_store"]

    keys, order = ["conv_id"], ["turn_idx", "ts"]
    ref = transcripts
    for name, kw in asofs.items():
        ref = asof_join(
            ref, feature_store, on=keys, left_ts="ts", right_ts="value_at_ts",
            value_cols={"value": name}, right_order=["value"], **kw,
        )
    ref = (
        ref.withColumn("gap_secs", W.gap_seconds("ts", keys, order))
        .withColumn("gap_nonneg", negative_to_null(F.col("gap_secs")))
        .withColumn("gap_twice", negative_to_null(F.col("gap_nonneg")))
        .withColumn("turn_len", char_len(F.col("text")))
        .withColumn("len_nonneg", negative_to_null(F.col("turn_len")))
        .withColumn("gap_clean", negative_to_null(F.col("gap_secs")))
        .withColumn("prior_store", W.lag_col("store_prior", keys, order))
    )
    got = _rows(out, cols)
    assert got == _rows(ref, cols)
    # the chains carry values, not only NULLs
    assert any(r[cols.index("prior_store")] is not None for r in got)
    assert any(r[cols.index("gap_twice")] is not None for r in got)


def test_compile_binds_every_tier_once(spark, transcripts):
    """compile() resolves every requested name and feature argument once
    and binds the stage arguments to the resolved names: a tier-3 alias, a
    tier-4 column argument (Role), a tier-4 feature argument (gapSecs), a
    tier-5 source field (tierName) and a tier-6 variable (tag) in one
    request equal a hand-built reference, and describe() lists the
    resolved dependency names."""
    from funcify_feature_eng_spark.functions.scalars import negative_to_null
    from funcify_feature_eng_spark.functions.text import char_len
    from funcify_feature_eng_spark.operators import windows as W

    convs = sorted(r["conv_id"] for r in transcripts.select("conv_id").distinct().collect())
    profile = spark.createDataFrame(
        [(c, "t" * (1 + i % 4)) for i, c in enumerate(convs[::2])],
        "conv_id string, tier_name string",
    )
    m = FeatureModel(entity_key="conv_id", order=("turn_idx", "ts"), event_time="ts")
    m.register_source("profile", profile)
    m.declare_window_feature("prior_role", op="lag", col="Role")
    m.declare_window_feature("gap_secs", op="gap")
    m.declare_transformer_feature("gap_clean", "negative_to_null", args=["gapSecs"])
    m.declare_transformer_feature("tier_len", "char_len", args=["tierName"])
    m.declare_transformer_feature("tag_len", "char_len", args=["tag"])
    m.alias("priorRole", "prior_role")
    cols = ["conv_id", "turn_idx", "priorRole", "gap_clean", "tierName",
            "tier_len", "tag_len"]
    out = m.materialize(transcripts, cols, variables={"tag": "abcd"})
    assert out.columns == cols

    keys, order = ["conv_id"], ["turn_idx", "ts"]
    ref = (
        transcripts.join(profile, "conv_id", "left")
        .withColumn("priorRole", W.lag_col("role", keys, order))
        .withColumn("gap_clean", negative_to_null(W.gap_seconds("ts", keys, order)))
        .withColumn("tierName", F.col("tier_name"))
        .withColumn("tier_len", char_len(F.col("tier_name")))
        .withColumn("tag_len", char_len(F.lit("abcd")))
    )
    got = _rows(out, cols)
    assert got == _rows(ref, cols)
    assert any(r[cols.index("tier_len")] is not None for r in got)
    assert {r[cols.index("tag_len")] for r in got} == {4}

    plan = m.describe(cols, transcripts.columns, ("tag",))
    by_col = {c["column"]: (c["resolves"], c["target"]) for c in plan["columns"]}
    assert by_col["priorRole"] == ("feature", "prior_role")
    assert by_col["tierName"] == ("source", ("profile", "tier_name"))
    deps = {s["feature"]: s["depends_on"] for s in plan["stages"]}
    assert deps == {
        "prior_role": ["role"],
        "gap_secs": [],
        "gap_clean": ["gap_secs"],
        "tier_len": ["tierName"],
        "tag_len": ["tag"],
    }
    # the stage list compile() returns carries the same bound arguments
    stages = {s.name: s for s in m.compile(cols, transcripts.columns, ("tag",))}
    assert stages["gap_clean"].args == ("gap_secs",)
    assert stages["prior_role"].col == "role"


# ------------------------------------------------- lowered-Column reuse


def test_repeated_materialize_reuses_lowered_columns(model, transcripts, round_trips):
    """The first call of a request shape lowers its Columns; a second call
    reuses them and only builds the DataFrame operations. The first call
    makes ~1,070 round trips with its window specs ordered by column name;
    a ``F.col(c).asc()`` per order key costs ~210 more."""
    assert round_trips(lambda: model.materialize(transcripts, COLUMNS)) < 1150
    assert round_trips(lambda: model.materialize(transcripts, COLUMNS)) < 200


def _few(transcripts):
    return transcripts.filter(F.col("conv_id").isin("conv_00000322", "conv_00000465"))


_MUTATIONS = {
    # an exact feature name outranks the convention-equivalent "turn_len"
    "declare_transformer": lambda m, fs: m.declare_transformer_feature(
        "turnLen", "token_count", args=["text"]),
    "declare_window": lambda m, fs: m.declare_window_feature("turnLen", op="row_number"),
    "declare_asof": lambda m, fs: m.declare_asof_feature(
        "turnLen", store="fs", right_ts="value_at_ts", value_col="value",
        right_order=("value",)),
    "alias": lambda m, fs: m.alias("turnLen", "session_id"),
    "register_store": lambda m, fs: m.register_store(
        "fs", fs.withColumn("value", F.concat("value", F.lit("!")))),
    "reregister_transformer": lambda m, fs: m.registry.register(
        "char_len", lambda c: F.length(c) * 10),
}


@pytest.mark.parametrize("mutation", list(_MUTATIONS))
def test_mutation_after_materialize_changes_next_output(
    model, transcripts, feature_store, mutation
):
    """Stored Columns never outlive what they were built from: each mutator
    (and re-registering a transformer, which no mutator sees) changes the
    next materialize of the same request."""
    spine = _few(transcripts)
    cols = ["conv_id", "turn_idx", "turnLen", "asof_store_value"]

    def rows():
        return model.materialize(spine, cols).orderBy("conv_id", "turn_idx").collect()

    before = rows()
    assert rows() == before
    _MUTATIONS[mutation](model, feature_store)
    after = rows()
    assert len(after) == len(before) and after != before
