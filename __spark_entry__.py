"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship turn-feature query at sf0.001;
``queries()`` exposes each implemented operator over the driver testdata;
``oracle_sql()`` carries a DuckDB-equivalent twin (same column names and
types) for EVERY query. Hash-dependent ops (MinHash LSH, SimHash — they
depend on Spark's xxhash64) are oracle-backed by precomputed fixtures from
an independent pure-Python pipeline (scripts/make_fixtures.py over
functions/xxh64.py, locked against Spark in tests/test_xxh64.py), inlined
as typed VALUES and auto-regenerated when the testdata changes.

Cross-engine exactness rules used throughout (so value hashes match):
- time deltas via integer microseconds divided by 1e6 (identical doubles)
- money/quantity aggregates in DECIMAL (exact); final outputs cast to
  DOUBLE so both engines hash one representation
- ratios as int/int double division, or floor(x * 10^k) grids for
  order-sensitive float reductions (cosine); identical operation order on
  both sides everywhere
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from funcify_feature_eng_spark.functions.text import (
    STOPWORDS,
    alpha_ratio,
    token_count,
)
from funcify_feature_eng_spark.functions.vectors import cosine
from funcify_feature_eng_spark.operators.asof import asof_join, asof_topk
from funcify_feature_eng_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from funcify_feature_eng_spark.plans.model import FeatureModel

GAP_S = 1800.0


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_model() -> FeatureModel:
    """Events-as-transcripts: user_id = entity, (ts, event_id) = turn order."""
    m = FeatureModel(entity_key="user_id", order=("ts", "event_id"), event_time="ts")
    m.declare_window_feature("prior_event_type", op="lag", col="event_type")
    m.declare_window_feature("gap_secs", op="gap")
    m.declare_window_feature("session_id", op="session", gap_threshold_s=GAP_S)
    m.declare_window_feature("event_seq", op="row_number")
    # feature-on-feature (J5): the transformer consumes the gap_secs FEATURE,
    # so the gated queries exercise topo ordering of the feature DAG
    m.declare_transformer_feature("gap_nonneg", "negative_to_null", args=["gap_secs"])
    return m


# --------------------------------------------------------------- queries
def q_turn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return _events_model().materialize(
        ev,
        ["event_id", "user_id", "event_type", "prior_event_type",
         "gap_secs", "session_id", "event_seq", "gap_nonneg"],
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    feats = _events_model().materialize(
        ev, ["user_id", "ts", "value", "session_id"]
    )
    return (
        feats.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            # decimal-exact SUM internally; final output cast to DOUBLE so the
            # driver's value hash sees one representation on both engines
            # (exact: magnitudes here are far below 2^53)
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def q_asof_prior_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "prior_purchase_value"},
        allow_exact_matches=False,  # strictly-prior: zero leakage of same-instant rows
        right_order=["event_id"],
    )
    return out.select("event_id", "user_id", "event_type", "prior_purchase_value")


def q_asof_prior_purchase_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME point-in-time semantics through the sort-merge strategy the
    north star names (repartition-by-key + sortWithinPartitions + Arrow
    merge_asof per partition) — value-identical to the broadcast
    formulation, so it shares asof_prior_purchase's oracle."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "prior_purchase_value"},
        allow_exact_matches=False,
        right_order=["event_id"],
        strategy="merge_asof",
    )
    return out.select("event_id", "user_id", "event_type", "prior_purchase_value")


def q_asof_prior_purchase_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-proof segmented strategy (hot entities split into bounded
    segments with a cross-segment carry) on the same semantics/oracle."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "prior_purchase_value"},
        allow_exact_matches=False,
        right_order=["event_id"],
        strategy="segmented",
    )
    return out.select("event_id", "user_id", "event_type", "prior_purchase_value")


def q_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of (backfill direction): earliest purchase strictly after."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "next_purchase_value"},
        allow_exact_matches=False,
        right_order=["event_id"],
        strategy="broadcast",
        direction="forward",
    )
    return out.select("event_id", "user_id", "next_purchase_value")


def q_next_purchase_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of via the shuffle-based union_window strategy — the path
    for a large non-broadcastable right side (same semantics as
    next_purchase, distinct physical plan: one window exchange, no join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "next_purchase_value"},
        allow_exact_matches=False,
        right_order=["event_id"],
        strategy="union_window",
        direction="forward",
    )
    return out.select("event_id", "user_id", "next_purchase_value")


def q_request_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point A analog: a nested request document (variables + aliased,
    parameterized feature selections) compiled onto the same plan as the
    tabular path (plans/document.py; reference
    DefaultMaterializationPreparsedDocumentProvider.kt:250-327)."""
    from funcify_feature_eng_spark.plans.document import materialize_document

    ev = _t(spark, sf_dir, "events")
    doc = {
        "variables": {"gap": 900.0},
        "select": {
            "columns": ["event_id", "user_id", "event_type"],
            "features": {
                "prior_event_type": {},
                "tight_session": {
                    "feature": "session_id",
                    "args": {"gap_threshold_s": "$gap"},
                },
                "event_seq": {},
            },
        },
    }
    return materialize_document(_events_model(), ev, doc)


def q_request_doc_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested list selection through the document API (the ListSegment
    fan-out of schema/path/result/ListSegment.kt:9-29, composer direction
    DefaultGQLDocumentComposer.kt): the request declares entity → ordered
    collection → per-element fields, one field being a windowed FEATURE
    (lag) evaluated at element grain. The result is one row per entity with
    an ordered array<struct>; the gate flattens it to hashable scalars
    (size + order-sensitive CSVs) so the DuckDB twin is string_agg."""
    from funcify_feature_eng_spark.plans.document import materialize_document

    ev = _t(spark, sf_dir, "events")
    doc = {
        "select": {
            "columns": ["user_id"],
            "collections": {
                "turns": {
                    "fields": {
                        "event_type": {},                       # element column
                        "prior": {"feature": "prior_event_type"},  # element feature
                    }
                }
            },
        },
    }
    out = materialize_document(_events_model(), ev, doc)
    return out.select(
        "user_id",
        F.size("turns").alias("n_turns"),
        F.concat_ws(",", F.transform("turns", lambda x: x["event_type"])).alias("types_csv"),
        F.concat_ws(
            ",", F.transform("turns", lambda x: F.coalesce(x["prior"], F.lit("-")))
        ).alias("prior_csv"),
    )


def q_request_graphql_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point A front door: GraphQL document TEXT (the reference's
    primary API — DefaultRawGraphQLRequest.kt; the fixed query shape of
    stream/StreamFunctions.kt:62-102 transcribed to the events schema).
    Exercises: typed+defaulted variables, domain wrappers, entity grouping,
    an unnested to-many collection, a fragment spread, an aliased feature
    selection, and an ad-hoc transformer invocation with a literal arg."""
    from funcify_feature_eng_spark.plans.graphql import materialize_graphql

    src = """
    query UserTurns($gap: Float = 1800.0) {
        dataElement {
            user {
                userId
                turns @unnest {
                    eventType
                    priorEventType
                }
            }
        }
        transformer {
            jq {
                negOne: negative_to_null(input: -1)
            }
        }
        features {
            userFeatures {
                nTurns: eventSeq
                ...SessionFragment
            }
        }
    }
    fragment SessionFragment on User {
        lastSession: session_id(gap_threshold_s: $gap)
    }
    """
    ev = _t(spark, sf_dir, "events")
    return materialize_graphql(_events_model(), ev, src, variables={"gap": 900.0})


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", "value", F.col("rnk").cast("int").alias("rnk"))
    )


def q_turn_features_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-proof windowed-feature variant in the gate: (entity,
    time-bucket) partitioning + cross-bucket prefix carry must be VALUE-EXACT
    vs the plain one-window formulation (same oracle shape as turn_features,
    plus a strict-prior forward-fill)."""
    from funcify_feature_eng_spark.operators.windows_segmented import (
        turn_features_segmented,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "purchase_tag", F.when(F.col("event_type") == "purchase", F.col("event_type"))
    )
    out = turn_features_segmented(
        ev,
        keys=("user_id",),
        order=("ts", "event_id"),
        ts_col="ts",
        role_col="event_type",
        tool_col="purchase_tag",
        text_col=None,
        gap_threshold_s=GAP_S,
        bucket_seconds=7 * 86400,  # weekly buckets → real cross-bucket carry
    )
    return out.select(
        "event_id", "user_id",
        F.col("prior_role").alias("prior_event_type"),
        F.col("prior_tool").alias("last_purchase_tag"),
        "gap_secs", "session_id",
    )


def q_window_fills(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ffill / bfill / lead coverage (§2.5): last and next purchase value per
    user plus the next event type — all three share ONE window exchange."""
    from funcify_feature_eng_spark.operators.windows import (
        bfill_col,
        ffill_col,
        lead_col,
    )

    ev = _t(spark, sf_dir, "events")
    keys, order = ("user_id",), ("ts", "event_id")
    ev = ev.withColumn(
        "__pv", F.when(F.col("event_type") == "purchase", F.col("value"))
    )
    return ev.select(
        "event_id",
        "user_id",
        ffill_col("__pv", keys, order).alias("last_purchase_value"),
        lead_col("event_type", keys, order).alias("next_event_type"),
        bfill_col("__pv", keys, order).alias("future_purchase_value"),
    )


def q_golden_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3 golden transformers in the driver gate (exact jq semantics:
    jq-transformers.yml:2-19)."""
    from funcify_feature_eng_spark.functions.scalars import (
        decimal7,
        extract_decade,
        negative_to_null,
    )

    ev = _t(spark, sf_dir, "events")
    # F9 HALF_EVEN on exactly-representable quarters: x.0/.25/.5/.75 have
    # exact binary forms, so Spark's bround and DuckDB's roundbankers see
    # the IDENTICAL value at every tie — banker's rounding is hash-provable
    # without double→decimal representation ambiguity
    # % 1000 bounds the domain so decimal(7,1) can never ANSI-overflow on a
    # larger fixture; double fmod is IEEE-identical across engines
    quarters = F.floor((F.col("value") % F.lit(1000.0)) * F.lit(4.0)) / F.lit(4.0)
    return ev.select(
        "event_id",
        negative_to_null(F.col("value") - F.lit(100.0)).alias("value_minus_100"),
        extract_decade(F.year("ts")).alias("yy"),
        decimal7(quarters, 1).cast("double").alias("d7_q"),
    )


def q_jq_transformers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 closed: the reference's jq transformer YAML declared VERBATIM
    (jq-transformers.yml:2-19, evaluated per-value by
    DefaultJacksonJqTransformer.kt:43-62) now COMPILES to Column
    expressions via functions/jq_compile.py — plus extra jq programs
    exercising pipe, //-alternative, elif chains, floor, string concat and
    jq truthiness, so the gate covers the language, not just 3 programs."""
    from funcify_feature_eng_spark.functions.jq_compile import (
        REFERENCE_TRANSFORMERS_YAML,
    )
    from funcify_feature_eng_spark.functions.registry import TransformerRegistry
    from funcify_feature_eng_spark.functions.yaml_loader import load_transformers_yaml

    reg = TransformerRegistry()
    load_transformers_yaml(reg, REFERENCE_TRANSFORMERS_YAML)
    load_transformers_yaml(reg, r"""
transformers:
  - name: value_band
    args: [input]
    jq: 'if . < 100.0 then "low" elif . < 500.0 then "mid" else "big" end'
    input_schema: {type: number}
  - name: half_floor_or_neg1
    args: [input]
    jq: "(numbers | if . < 0.0 then null else floor end) // -1"
    input_schema: {type: number}
  - name: type_tag
    args: [input]
    jq: 'strings | ascii_upcase + "_T"'
    input_schema: {type: string}
  - name: band_mask
    args: [input]
    jq: 'map(select(. >= 100.0) | . * 0.5) | add // -1.0'
    input_schema: {type: array}
  - name: top_tag
    args: [input]
    jq: 'sort | reverse | first // "none"'
    input_schema: {type: array}
  - name: any_big
    args: [input]
    jq: 'any(. > 300.0)'
    input_schema: {type: array}
  - name: sqrt_round
    args: [input]
    jq: 'sqrt | round'
    input_schema: {type: number}
  - name: label_fmt
    args: [input]
    jq: '"\(ascii_upcase)#\(length)"'
    input_schema: {type: string}
  - name: small_count
    args: [input]
    jq: '[.[] | select(. < 200.0)] | length'
    input_schema: {type: array}
  - name: sum_sq
    args: [input]
    jq: 'reduce .[] as $x (0; . + ($x * $x))'
    input_schema: {type: array}
  - name: mean_v
    args: [input]
    jq: 'reduce .[] as $x (0; . + $x) as $s | $s / length'
    input_schema: {type: array}
  - name: ent_sum
    args: [input]
    jq: 'to_entries | map(.value) | add'
    input_schema: {type: object, properties: {a: {type: number}, b: {type: number}}}
  - name: double_a
    args: [input]
    jq: 'with_entries(.value |= (. * 2.0)) | .a'
    input_schema: {type: object, properties: {a: {type: number}, b: {type: number}}}
  - name: path_b
    args: [input]
    jq: 'getpath(["b"])'
    input_schema: {type: object, properties: {a: {type: number}, b: {type: number}}}
  - name: gb_max_run
    args: [input]
    jq: 'group_by(floor) | map(length) | max'
    input_schema: {type: array}
  - name: uniq_floors
    args: [input]
    jq: 'unique_by(floor) | length'
    input_schema: {type: array}
  - name: mid_sum
    args: [input]
    jq: 'sort | .[1:3] | add // -1.0'
    input_schema: {type: array}
  - name: re_parts
    args: [input]
    jq: '[splits("[ae]")] | length'
    input_schema: {type: string}
  - name: cap_name
    args: [input]
    jq: 'capture("(?<n>^[a-z]+)") | .n'
    input_schema: {type: string}
  - name: str_mid
    args: [input]
    jq: '.[1:3]'
    input_schema: {type: string}
  - name: mb_floor
    args: [input]
    jq: 'min_by(floor)'
    input_schema: {type: array}
  - name: mv_obj
    args: [input]
    jq: 'map_values(. * 2.0) | .b'
    input_schema: {type: object, properties: {a: {type: number}, b: {type: number}}}
  - name: tf_i
    args: [input]
    jq: 'test("ER"; "i")'
    input_schema: {type: string}
""")
    from funcify_feature_eng_spark.operators.util import spread_small_input

    # ~28 compiled jq expressions over 1M rows is the densest map stage in
    # the suite; a single-split parquet input runs it all on ONE core
    # (guide §6 — measured 22.8s → ~2s at sf1.0). Hash-spread by event_id
    # (keyless round-robin would pay a single-core sort-before-repartition
    # of the full table) and project the 4 consumed columns first so the
    # spread never shuffles props.
    ev = spread_small_input(
        _t(spark, sf_dir, "events").select("event_id", "ts", "value", "event_type"),
        "event_id",
    )
    return ev.select(
        "event_id",
        reg.get("negative_to_null")(F.col("value") - F.lit(100.0)).alias("v_nn"),
        reg.get("extract_decade")(F.year("ts")).alias("yy_jq"),
        reg.get("value_band")(F.col("value")).alias("band"),
        reg.get("half_floor_or_neg1")(F.col("value") - F.lit(500.0)).alias("flo"),
        reg.get("type_tag")(F.col("event_type")).alias("tag"),
        # round-4 widened surface: higher-order map/select (F.filter +
        # F.transform), sort/reverse/first, any(f), sqrt|round — all JVM HOFs
        reg.get("band_mask")(
            F.array(F.col("value"), F.col("value") * 2, F.lit(50.0))
        ).alias("bm"),
        reg.get("top_tag")(F.array(F.col("event_type"), F.lit("m"))).alias("tt"),
        reg.get("any_big")(F.array(F.col("value"), F.col("value") / 2)).alias("ab"),
        reg.get("sqrt_round")(F.col("value")).alias("sr"),
        # string interpolation + [.[]|select] stream-collect sugar
        reg.get("label_fmt")(F.col("event_type")).alias("lf"),
        reg.get("small_count")(
            F.array(F.col("value"), F.col("value") * 2, F.lit(50.0))
        ).alias("sc"),
        # reduce: aggregate-HOF fold with $var binding, plus a top-level
        # `as` binding feeding a second pass over the input
        reg.get("sum_sq")(F.array(F.col("value"), F.col("value") / 2)).alias("ssq"),
        reg.get("mean_v")(F.array(F.col("value"), F.col("value") / 2)).alias("mv"),
        # round-5 builtin tail: object introspection (to_entries /
        # with_entries / getpath over a struct object), group_by/unique_by
        # runs, array+string slices, regex splits stream, capture groups
        reg.get("ent_sum")(
            F.struct(F.col("value").alias("a"), (F.col("value") * 2).alias("b"))
        ).alias("es"),
        reg.get("double_a")(
            F.struct(F.col("value").alias("a"), (F.col("value") * 2).alias("b"))
        ).alias("da"),
        reg.get("path_b")(
            F.struct(F.col("value").alias("a"), (F.col("value") * 2).alias("b"))
        ).alias("pb"),
        reg.get("gb_max_run")(
            F.array(F.col("value"), F.col("value"), F.col("value") * 2)
        ).alias("gbr"),
        reg.get("uniq_floors")(
            F.array(F.col("value"), F.col("value") + 0.25, F.col("value") * 2)
        ).alias("uf"),
        reg.get("mid_sum")(
            F.array(F.col("value"), F.col("value") * 2, F.lit(50.0), F.lit(5.0))
        ).alias("ms"),
        reg.get("re_parts")(F.col("event_type")).alias("rp"),
        reg.get("cap_name")(F.col("event_type")).alias("cn"),
        reg.get("str_mid")(F.col("event_type")).alias("sm"),
        # wave-2: min_by fold, map_values over an object, test(re; flags)
        reg.get("mb_floor")(
            F.array(F.col("value"), F.col("value") * 2, F.lit(50.0))
        ).alias("mbf"),
        reg.get("mv_obj")(
            F.struct(F.col("value").alias("a"), (F.col("value") * 2).alias("b"))
        ).alias("mvo"),
        reg.get("tf_i")(F.col("event_type")).alias("tfi"),
    )


def q_doc_list_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F6/F7 golden transformers: list split + size, name components."""
    from funcify_feature_eng_spark.functions.scalars import (
        first_name,
        last_name,
        list_size,
        split_list,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        list_size(split_list(F.col("text"), " ")).alias("n_items"),
        first_name(F.col("text")).alias("first_tok"),
        last_name(F.col("text")).alias("last_tok"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_quantity") < 50)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal-exact SUMs; DOUBLE only on the final output columns
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return exact_dup_groups(docs, "doc_id", "text")


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("char_len"),
        F.floor(F.lit(1000000.0) * alpha_ratio(F.col("text"))).alias("alpha_e6"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from funcify_feature_eng_spark.functions.text import lang_id_from_tokens, tokens
    from funcify_feature_eng_spark.operators.util import spread_small_input

    # the stopword-profile expression is compute-dense; spread the
    # single-split input across cores (guide §6)
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    # tokenize once in its own projection: 4x smaller codegen tree
    tok = docs.select("doc_id", tokens(F.lower(F.col("text"))).alias("__tk"))
    return tok.select("doc_id", lang_id_from_tokens(F.col("__tk")).alias("lang_pred"))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # parameter fetch (O(1) driver-side), then the query vector folds into codegen
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.floor(cosine(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qvec]))
                * F.lit(10000.0)).alias("cos_e4"),
    )
    return scored.orderBy(F.col("cos_e4").desc(), F.col("vec_id").asc()).limit(10)


def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-scan ANN baseline: int8 symmetric quantization (4x scan
    shrink + integer dots — the memory-bandwidth lever at 100 TB), cosine
    over the quantized vectors (scale-free, so per-vector scales cancel).
    Integer dots are exact in both engines; the floor grid pins the one
    float quotient (operators/similarity.py::cosine_topk_int8)."""
    from funcify_feature_eng_spark.operators.similarity import cosine_topk_int8

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    out = cosine_topk_int8(
        emb.filter("vec_id != 0"), [float(x) for x in qvec], k=10, round_to=None,
    )
    return out.select(
        "vec_id", F.floor(F.col("qcos_sim") * F.lit(1000000.0)).alias("qcos_e6")
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path in the gate: random-hyperplane LSH probe (Hamming ≤ 2
    of the query signature) + exact cosine rerank of the probed rows only.
    The hyperplanes are seeded literals shared verbatim with the DuckDB twin,
    so both engines compute identical signatures."""
    import numpy as np

    from funcify_feature_eng_spark.functions.vectors import hyperplane_signature
    from funcify_feature_eng_spark.operators.similarity import make_hyperplanes

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    planes = make_hyperplanes(len(qvec), n_planes=12, seed=42)
    qsig = sum((1 << i) for i, p in enumerate(planes) if float(np.dot(qvec, p)) >= 0)
    sig = (
        emb.filter(F.col("vec_id") != 0)
        .withColumn("__vd", F.transform(F.col("embedding"), lambda x: x.cast("double")))
        .withColumn("__sig", hyperplane_signature(F.col("__vd"), planes, precast=True))
    )
    probed = sig.filter(F.bit_count(F.col("__sig").bitwiseXOR(F.lit(qsig))) <= 2)
    scored = probed.select(
        "vec_id",
        F.floor(cosine(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qvec]))
                * F.lit(10000.0)).alias("cos_e4"),
    )
    return scored.orderBy(F.col("cos_e4").desc(), F.col("vec_id").asc()).limit(10)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN in the gate: coarse-quantize every vector to its nearest
    centroid, probe the 2 centroids nearest the query, exact-rerank only the
    probed clusters (operators/similarity.py::ivf_assign). Centroids here
    are data-derived literals (the embeddings of vec_id 1..16) so the DuckDB
    twin computes the identical assignment; production centroids come from
    make_ivf_centroids (seeded Lloyd) with partition-by-cluster at ingest."""
    from funcify_feature_eng_spark.operators.similarity import ivf_assign
    from funcify_feature_eng_spark.operators.util import spread_small_input

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 16))
        .orderBy("vec_id").select("embedding").collect()
    )
    centroids = [[float(x) for x in r[0]] for r in cent_rows]  # index i ↔ vec_id i+1
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]

    def seq_cos(a: list[float], b: list[float]) -> float:
        dot = n1 = n2 = 0.0
        for x, y in zip(a, b):  # sequential fold — mirrors the engines' order
            dot += x * y
            n1 += x * x
            n2 += y * y
        return dot / ((n1 ** 0.5) * (n2 ** 0.5))

    ranked = sorted(
        range(len(centroids)),
        key=lambda i: (seq_cos(qvec, centroids[i]), i),
        reverse=True,
    )
    probes = ranked[:2]
    assigned = ivf_assign(spread_small_input(emb.filter(F.col("vec_id") != 0)), centroids)
    pruned = assigned.filter(F.col("ivf_cluster").isin(probes))
    scored = pruned.select(
        "vec_id",
        F.floor(cosine(F.col("embedding"), F.array(*[F.lit(x) for x in qvec]))
                * F.lit(10000.0)).alias("cos_e4"),
    )
    return scored.orderBy(F.col("cos_e4").desc(), F.col("vec_id").asc()).limit(10)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard — intrinsically O(sum df²); the scale
    path is minhash_lsh_pairs. SPARK_GRAFT_NGRAM_CAP (bench) bounds the
    corpus so timing runs don't execute a billion-row self-join on the
    tiny-vocabulary synthetic docs."""
    docs = _t(spark, sf_dir, "documents")
    cap = int(os.environ.get("SPARK_GRAFT_NGRAM_CAP", "0"))
    if cap > 0:
        docs = docs.filter(F.col("doc_id") < cap)
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.3)


def q_top_nations_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join coverage: lineitem⋈orders⋈customer⋈nation with broadcast dims.

    nation/customer are small → F.broadcast keeps the big fact table from
    shuffling (one exchange for the final groupBy only).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return rev


def q_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered nested collection per entity (collect_ordered operator)."""
    from funcify_feature_eng_spark.operators.windows import collect_ordered

    ev = _t(spark, sf_dir, "events")
    return collect_ordered(
        ev, "event_type", keys=("user_id",), order=("ts", "event_id"), out_col="event_seq"
    ).select("user_id", F.concat_ws(",", "event_seq").alias("event_seq_csv"))


def q_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based running aggregates (rows-between windows)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("events_so_far"),
        F.max(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
        .alias("running_max_value"),
    )


def q_rolling_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing event-time RANGE-frame aggregates, strictly prior.

    ROWS frames (user_running_stats) answer "over the last k events"; this
    answers "over the last hour" — the frame width adapts to event density.
    upper bound -1 second excludes the current row AND same-second ties, so
    the feature is leakage-free and tie-deterministic by construction."""
    from funcify_feature_eng_spark.operators.windows import rolling_time_agg

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    out = rolling_time_agg(
        ev, keys=["user_id"], ts_col="ts", value_col="v_e6", window_s=3600, out_prefix="h1"
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("h1_cnt").alias("n_prev_1h"),
        F.col("h1_sum").alias("sum_prev_1h_e6"),
    )


def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct event types per user over the trailing 24h, strictly prior
    (set-valued RANGE frame — the 'breadth of recent activity' feature)."""
    from funcify_feature_eng_spark.operators.windows import rolling_distinct_count

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    return rolling_distinct_count(
        ev, keys=["user_id"], ts_col="ts", col="event_type", window_s=86400,
        out_col="n_types_24h",
    ).select("event_id", "user_id", "n_types_24h")


def q_context_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-window assembly: the previous 3 turn types per user joined in
    turn order, strictly prior (the row's own value never leaks into its
    context). First rows get the empty string (no prior context)."""
    from funcify_feature_eng_spark.operators.windows import prior_context_col

    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        prior_context_col(
            "event_type", ["user_id"], ["ts", "event_id"], k=3, sep="|"
        ).alias("ctx3"),
    )


def q_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star allclose check as a DISTRIBUTED operator: audit a
    feature frame against a deliberately-perturbed twin (user 3 dropped →
    presence violations; +1.0 planted on event_id % 997 == 0 → value
    violations) and return exactly the planted violations. An engine
    migration would run this with the reference's export as `right`."""
    from funcify_feature_eng_spark.operators.parity import allclose_audit

    a = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    b = a.filter(F.col("user_id") != 3).withColumn(
        "v_e6",
        F.col("v_e6")
        + F.when(F.col("event_id") % 997 == 0, F.lit(1000000)).otherwise(F.lit(0)),
    )
    return allclose_audit(
        a.drop("user_id"), b.drop("user_id"), keys=["event_id"],
        value_cols=["v_e6"], atol=0.5,
    )


def q_interval_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-interval (range) join in the gate: every event against every
    session CONTEXT WINDOW of its user — per-(user, session) spans widened
    by ±1h (operators/intervals.py::session_windows), so windows overlap and
    events near a boundary genuinely multi-match. Runs the `bucket` strategy
    (interval explode → pure equi-join on (user, hour-bucket) → exact
    containment filter): the 100 TB path — one shuffle per side, no
    BroadcastNestedLoopJoin anywhere (plan-audited). Broadcast-strategy
    value-identity is pinned by tests/test_intervals.py. Output aggregates
    the matches per event (count + first/last covering window) so the
    result is one row per event regardless of fan-out."""
    from funcify_feature_eng_spark.operators.intervals import (
        interval_join,
        session_windows,
    )
    from funcify_feature_eng_spark.operators.windows import session_id

    ev = _t(spark, sf_dir, "events")
    g = ev.withColumn(
        "session_id", session_id("ts", ["user_id"], ["ts", "event_id"], 1800.0)
    )
    wins = session_windows(
        g, on="user_id", ts="ts", session_col="session_id", margin_s=3600
    ).withColumnRenamed("session_id", "ctx_session")
    out = interval_join(
        g.select("event_id", "user_id", "ts"),
        wins,
        on="user_id",
        ts="ts",
        strategy="bucket",
        bucket_s=3600,
    )
    return out.groupBy("event_id", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ctx"),
        F.min("ctx_session").alias("first_ctx"),
        F.max("ctx_session").alias("last_ctx"),
    )


def q_scd2_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 builder in the gate: events as a per-user change log of
    event_type; same-instant changes collapse to the max-event_id one and
    consecutive identical states merge (operators/intervals.py::
    scd2_from_changes). ONE hash exchange end-to-end (plan-audited): the
    explicit keys-repartition satisfies the instant groupBy, the run
    windows, the run collapse, and the final lead. Timestamps emitted as
    epoch micros; NULL to_us marks each user's still-open current epoch."""
    from funcify_feature_eng_spark.operators.intervals import scd2_from_changes

    ev = _t(spark, sf_dir, "events")
    ep = scd2_from_changes(
        ev.select("user_id", "ts", "event_type", "event_id"),
        on="user_id",
        ts="ts",
        state_cols=["event_type"],
        order=["event_id"],
    )
    return ep.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("to_us"),
    )


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_prior_purchase with a 1-day staleness bound (pandas merge_asof
    `tolerance`): a prior purchase older than 24h is as good as missing, so
    its payload nulls out. The bound is a shuffle-free Column post pass that
    composes with every physical strategy — strategy value-identity is
    pinned in tests/test_asof.py."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "prior_purchase_value"},
        allow_exact_matches=False,
        right_order=["event_id"],
        tolerance_s=86400,
    )
    return out.select("event_id", "user_id", "event_type", "prior_purchase_value")


def q_scd2_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD-2 round trip as ONE composed job: build per-user event_type
    epochs from the events change log, then containment-read each user's
    status 15 minutes AFTER every event through the bucketed interval join
    with the open current epoch matching via NULL valid_to
    (null_end_is_open). Disjointness of the built epochs is what makes the
    left read exactly one row per probe."""
    from funcify_feature_eng_spark.operators.intervals import (
        interval_join,
        scd2_from_changes,
    )

    ev = _t(spark, sf_dir, "events")
    epochs = scd2_from_changes(
        ev.select("user_id", "ts", "event_type", "event_id"),
        on="user_id", ts="ts", state_cols=["event_type"], order=["event_id"],
    )
    probes = ev.select(
        "event_id", "user_id",
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp")) + 900 * 1_000_000
        ).alias("ts"),
    )
    out = interval_join(
        probes,
        epochs.select(
            "user_id", F.col("event_type").alias("status"),
            "valid_from", "valid_to",
        ),
        on="user_id", ts="ts", strategy="bucket", bucket_s=86400,
        how="left", null_end_is_open=True,
    )
    return out.select("event_id", "user_id", "status")


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch in the gate (operators/sketches.py): per
    lang, the 128 smallest distinct 63-bit text hashes; groups under k
    report exactly, the over-k group (en: 218 distinct) takes the
    order-statistic estimator path. Oracle = fixture precomputed by an
    INDEPENDENT pure-Python xxh64 + estimator (scripts/make_fixtures.py::
    kmv_distinct_counts) — same pattern as the MinHash/SimHash gates.
    Scale shape: shuffle carries distinct hashes only; the stored sketch
    is a ≤k-element array whose merge is lossless (property-tested)."""
    from funcify_feature_eng_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    docs = _t(spark, sf_dir, "documents")
    sk = kmv_sketch(docs, ["text"], group_by=["lang"], k=128)
    return sk.select("lang", kmv_estimate("kmv", 128).alias("est_distinct"))


def q_group_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity ROC-AUC (operators/metrics.py::group_auc): does `value`
    rank purchase/signup events above the rest for each user? Mann-Whitney
    rank-sum with average-rank ties — ONE window exchange + a combinable
    aggregation, never the O(n²) pair enumeration. Engine-portable
    arithmetic (integer ranks, exact-half tie adjustments, one final
    division) lets the DuckDB twin reproduce the doubles bit-exactly.
    Eval family capstone alongside knn_label_eval and parity_audit."""
    from funcify_feature_eng_spark.operators.metrics import group_auc

    ev = _t(spark, sf_dir, "events")
    label = F.col("event_type").isin("purchase", "signup")
    return group_auc(ev, label, F.col("value"), ["user_id"])


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-INTERSECTION estimate in the gate (operators/sketches.py
    ::kmv_overlap_estimate): documents split by doc_id parity into two
    corpora, per-lang KMV sketches (k=64) of each half's texts, then the
    Beyer et al. 2007 sketch algebra estimates |A ∩ B| distinct texts per
    lang from the two ≤k arrays alone — the sketch-level pre-flight for
    decontamination (estimate cross-corpus overlap BEFORE paying the exact
    n-gram semi-join in operators/contamination.py). k=64 keeps the large
    'en' group on the estimator path while small langs stay exact.
    Oracle = fixture precomputed by an INDEPENDENT pure-Python xxh64 +
    estimator (scripts/make_fixtures.py::kmv_overlap_counts).
    Scale shape: each half's shuffle carries distinct hashes only; the
    overlap estimate itself is array arithmetic on two ≤k-element columns —
    no row-level join between the corpora ever happens."""
    from funcify_feature_eng_spark.operators.sketches import (
        kmv_difference_estimate,
        kmv_overlap_estimate,
        kmv_sketch,
    )

    k = 64
    docs = _t(spark, sf_dir, "documents")
    ska = kmv_sketch(
        docs.filter(F.col("doc_id") % 2 == 0), ["text"], group_by=["lang"], k=k
    ).withColumnRenamed("kmv", "ka")
    skb = kmv_sketch(
        docs.filter(F.col("doc_id") % 2 == 1), ["text"], group_by=["lang"], k=k
    ).withColumnRenamed("kmv", "kb")
    return ska.join(skb, "lang").select(
        "lang",
        kmv_overlap_estimate("ka", "kb", k).alias("est_overlap"),
        kmv_difference_estimate("ka", "kb", k).alias("est_only_a"),
    )


def q_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch in the gate (operators/sketches.py::
    cms_sketch/cms_estimate): single-space document tokens counted into a
    4×512 counter table (one combinable shuffle of ≤ depth×width counters),
    then every token with exact count ≥ 30 (threshold-set membership —
    tie-free, unlike top-k) gets its CMS estimate = min over depth rows of
    its bucket counts. Oracle = fixture precomputed by an INDEPENDENT
    pure-Python xxh64 + counter table (scripts/make_fixtures.py::
    cms_token_estimates) — the hash proves the never-underestimate property
    AND the exact collision arithmetic. Completes the mergeable sketch
    family: KMV = cardinality, binned histogram = quantiles, CMS = point
    frequency; at 100 TB per-day counter tables merge by summing."""
    from funcify_feature_eng_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    width, depth = 512, 4
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt")).filter(
        F.col("exact_cnt") >= 30
    )
    sk = cms_sketch(tok, "tok", width=width, depth=depth)
    # exact_cnt rides through the estimate's groupBy (carry_cols) so the
    # token aggregation subtree is computed ONCE, not re-joined
    est = cms_estimate(
        sk, exact, "tok", width=width, depth=depth, carry_cols=["exact_cnt"]
    )
    return est.select("tok", "exact_cnt", "est_count")


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership in the gate (operators/sketches.py::
    bloom_sketch/bloom_contains): per-lang 512-bit filters over even-doc
    texts (ONE combinable shuffle of sparse 64-bit words), collected into
    per-lang dense bitmaps and broadcast; the distinct odd-doc texts ship
    their JVM xxhash64 bit positions to one vectorized worker-side probe
    (no explode, join or probe-side shuffle). Output = (lang, probed, hits);
    at this m/n ratio the filter is intentionally tight enough that hits
    include deterministic FALSE POSITIVES beyond the true cross-half
    overlap — the fixture (scripts/make_fixtures.py::bloom_probe_counts,
    independent pure-Python xxh64 + bit sets) reproduces both exactly.
    Completes the mergeable sketch family: membership, after cardinality
    (KMV), quantiles (histogram), frequency (CMS). At 100 TB: ship
    yesterday's membership (m_bits/8 bytes per group) to the ingest job
    and drop seen documents map-side BEFORE any shuffle."""
    from funcify_feature_eng_spark.operators.sketches import (
        bloom_contains,
        bloom_sketch,
    )

    m_bits, depth = 512, 3
    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1).select("lang", "text").distinct()
    sk = bloom_sketch(a, "text", ["lang"], m_bits=m_bits, depth=depth)
    pr = bloom_contains(sk, b, "text", ["lang"], m_bits=m_bits, depth=depth)
    return pr.groupBy("lang").agg(
        F.count(F.lit(1)).alias("probed"),
        F.sum(F.when(F.col("maybe_present"), 1).otherwise(0)).alias("hits"),
    )


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned-histogram quantiles (the mergeable 100 TB quantile path,
    complementing the exact value_quantiles gate): per event_type, nearest-
    rank p50/p90/p99 at bin width 1.0 via the pure-integer predicate
    100·cum >= p·n over per-bin counts — the shuffle carries
    O(groups × bins), never O(rows)."""
    from funcify_feature_eng_spark.operators.sketches import histogram_quantiles

    ev = _t(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", ["event_type"], percents=(50, 90, 99), bin_width=1.0
    )


def q_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-grain window composition: derive session_id (cumsum window),
    then attach SESSION-grain context to every turn via a second window
    partitioned on the derived (user, session) key — turn position within
    session, session length, session span. No join: the session key is a
    window product, so the whole thing is two window passes over one
    exchange each."""
    from funcify_feature_eng_spark.operators.windows import session_id

    ev = _t(spark, sf_dir, "events")
    keys, order = ["user_id"], ["ts", "event_id"]
    g = ev.withColumn("session_id", session_id("ts", keys, order, 900.0))
    ws = Window.partitionBy("user_id", "session_id")
    wso = ws.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return g.select(
        "event_id",
        "user_id",
        "session_id",
        F.row_number().over(wso).cast("int").alias("turn_in_session"),
        F.count(F.lit(1)).over(ws).cast("long").alias("session_len"),
        (F.max(us).over(ws) - F.min(us).over(ws)).cast("long").alias("session_span_us"),
    )


def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bundle under the session's pinned UTC zone: dow (ISO
    1=Mon..7=Sun), hour, day-of-month, weekend flag."""
    ev = _t(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    dow = F.dayofweek(ts)  # Spark: 1=Sunday..7=Saturday
    iso_dow = F.when(dow == 1, F.lit(7)).otherwise(dow - 1)
    return ev.select(
        "event_id",
        iso_dow.cast("int").alias("dow_iso"),
        F.hour(ts).cast("int").alias("hour_utc"),
        F.dayofmonth(ts).cast("int").alias("dom"),
        (iso_dow >= 6).cast("int").alias("is_weekend"),
    )


def q_feature_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-based feature crossing: event_type gets a dense index
    from a sorted vocabulary (broadcast dictionary join — the categorical
    encoder's index table), crossed with ISO day-of-week into one integer
    id ready for embedding lookup / one-hot. The vocab join is the
    pattern; at 100 TB the vocabulary table is the only state and it
    broadcasts. The single-partition ranking window is O(|vocab|) (the
    DISTINCT runs first), never O(rows)."""
    ev = _t(spark, sf_dir, "events")
    vocab = (
        ev.select("event_type").distinct()
        .withColumn(
            "type_idx",
            (F.row_number().over(Window.partitionBy().orderBy("event_type")) - 1).cast("int"),
        )
    )
    ts = F.col("ts").cast("timestamp")
    dow = F.dayofweek(ts)
    iso_dow = F.when(dow == 1, F.lit(7)).otherwise(dow - 1).cast("int")
    return (
        ev.join(F.broadcast(vocab), "event_type")
        .select(
            "event_id",
            "type_idx",
            iso_dow.alias("dow_iso"),
            (F.col("type_idx") * 7 + iso_dow - 1).cast("int").alias("cross_id"),
        )
    )


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity temporal train/eval split (last 20% of each user's rows by
    time = eval). A hash split here would train on events LATER than the
    same user's eval rows — the temporal rule is the leakage-safe protocol
    for temporal features."""
    from funcify_feature_eng_spark.operators.sampling import temporal_split

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return temporal_split(
        ev, keys=["user_id"], order=["ts", "event_id"], eval_fraction_pct=20
    ).select("event_id", "user_id", "split")


def q_future_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction-target builder: did the user purchase within the NEXT 7
    days (strictly after this row)? The same RANGE primitive as the
    trailing features, bounds flipped to (1, +604800) — leakage here would
    be using the row's own second, so the lower bound is +1."""
    from funcify_feature_eng_spark.operators.windows import time_range_window

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.lit(1)).alias("is_p"),
    )
    from funcify_feature_eng_spark.operators.windows import epoch_seconds

    base = ev.withColumn("__es", epoch_seconds("ts"))
    w = time_range_window(["user_id"], "__es", 1, 604800)
    return base.select(
        "event_id",
        "user_id",
        (F.count("is_p").over(w) > 0).cast("int").alias("label_buys_7d"),
    )


def q_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-example capstone: one job assembling, per turn,
    strictly-prior FEATURES (context window, trailing-hour activity,
    cumulative type encoding, session id) and a strictly-FUTURE label
    (the next event type). The leakage contract is structural: every
    feature frame ends at -1 row/second, the label starts at +1 — the
    north rule's zero-temporal-leakage requirement as a composed
    pipeline. Rows without a next event (each user's last) are dropped,
    as a trainer would."""
    from funcify_feature_eng_spark.operators.encoding import cumulative_target_encode
    from funcify_feature_eng_spark.operators.windows import (
        prior_context_col,
        rolling_time_agg,
        session_id,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    keys, order = ["user_id"], ["ts", "event_id"]
    # stage order matters for shuffles: the type-partitioned encoding runs
    # FIRST so the user-partitioned windows (rolling + context + session +
    # label) sit adjacent and share ONE user_id exchange — type-between-user
    # ordering costs a third exchange (verified with the plan audit)
    base = cumulative_target_encode(
        ev,
        category_col="event_type",
        target_col="v_e6",
        order=order,
        smoothing_m=10,
        prior=245000000,
        out_col="type_enc_e6",
    )
    base = rolling_time_agg(
        base, keys=keys, ts_col="ts", value_col="v_e6", window_s=3600, out_prefix="h1"
    )
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    out = base.select(
        "event_id",
        "user_id",
        prior_context_col("event_type", keys, order, k=3, sep="|").alias("ctx3"),
        F.col("h1_cnt").alias("n_prev_1h"),
        F.col("h1_sum").alias("sum_prev_1h_e6"),
        "type_enc_e6",
        session_id("ts", keys, order, gap_threshold_s=900.0).alias("session_id"),
        F.lead("event_type").over(w).alias("label_next_type"),
    )
    return out.filter(F.col("label_next_type").isNotNull())


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free cumulative target encoding of event_type by value.

    Each row's encoding uses only strictly-earlier rows of its category
    (ROWS .. 1 PRECEDING over a total order) — what an online counter
    store would have seen at that instant. Smoothing on the integer grid:
    (sum + m*prior) div (cnt + m), never leaves BIGINT."""
    from funcify_feature_eng_spark.operators.encoding import cumulative_target_encode

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    out = cumulative_target_encode(
        ev,
        category_col="event_type",
        target_col="v_e6",
        order=("ts", "event_id"),
        smoothing_m=10,
        prior=245000000,
        out_col="enc_e6",
    )
    return out.select("event_id", "event_type", "enc_e6_cnt", "enc_e6_sum", "enc_e6")


def q_resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly state grid: the point-in-time read evaluated at every
    tick of a synthetic clock, via the engine's own as-of join. Leading
    ticks before a user's first event stay NULL (no invented state)."""
    from funcify_feature_eng_spark.operators.resample import resample_to_grid

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    return resample_to_grid(
        ev,
        keys=["user_id"],
        ts_col="ts",
        value_col="v_e6",
        tie_col="event_id",
        step_s=3600,
        out_value="value_at_tick",
    ).select("user_id", "tick_es", "value_at_tick")


def q_conv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-grain feature vector: one window pass for inter-turn
    gaps (microsecond-integer), then ONE groupBy — events count, session
    count, distinct types, max/mean gap, total value. The entity-level
    summary a transcript curation pipeline feeds to quality filters."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    g = ev.select(
        "user_id",
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            F.lit(1)
            + F.coalesce(
                F.sum(F.when(F.col("gap_us") > F.lit(900000000), 1).otherwise(0)), F.lit(0)
            )
        )
        .cast("long")
        .alias("n_sessions"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
        F.sum("gap_us").cast("long").alias("__sum_gap"),
        F.sum("v_e6").cast("long").alias("total_v_e6"),
    )
    return agg.select(
        "user_id",
        "n_events",
        "n_sessions",
        "n_types",
        "max_gap_us",
        F.when(F.col("n_events") > 1, F.expr("`__sum_gap` div (`n_events` - 1)"))
        .cast("long")
        .alias("mean_gap_us"),
        "total_v_e6",
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter profile of the entity key — the offline
    full-fidelity counterpart of choose_asof_strategy's skew sampling."""
    from funcify_feature_eng_spark.operators.profiling import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), keys=["user_id"], top_k=10)


def q_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window in batch mode, hash-proved equivalent
    to the windowed gap formulation. Semantics note: session_window starts
    a new session when the inter-event gap is >= the gap duration (window
    is [ts, ts+gap)), vs the engine's gap-based sessionizer which uses
    strict >; the oracle encodes >= — the gate pins the native operator's
    exact published boundary behavior. session_end = last event + gap by
    definition (the window's expiry instant, not the last event)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window(F.col("ts").cast("timestamp"), "900 seconds")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain aggregate in ONE pass: Spark's native rollup emits
    detail / per-type subtotal / grand total with grouping_id tagging the
    grain — the OLAP summary table pattern (partial-aggregable, one
    shuffle, no per-grain re-scan)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    return ev.rollup("event_type", "day").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v_e6").cast("long").alias("sum_v_e6"),
    )


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long form (label, dim, count, integer
    component sum): posexplode + one combinable groupBy — the vector-mean
    pattern IVF centroid refinement uses at scale (never collect vectors;
    sums are partial-aggregable). Components on the e6 integer grid
    (float→double is exact, one correctly-rounded multiply) so the hash is
    cross-engine exact."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("x").cast("double") * F.lit(1000000.0)).cast("long").alias("x_e6"),
    )
    return e.groupBy("label", "pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("x_e6").cast("long").alias("sum_e6"),
    )


def q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift of `value` between the two halves of the time
    range: per-bucket ref/cur counts + global TVD on an integer grid (no
    log, so the score is cross-engine bit-exact — deliberately TVD, not
    PSI/KL)."""
    from funcify_feature_eng_spark.operators.drift import drift_report

    ev = _t(spark, sf_dir, "events")
    return drift_report(ev, value_col="value", ts_col="ts", n_bins=10, bin_width=50.0)


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score on a cross-engine-exact floor grid."""
    from funcify_feature_eng_spark.functions.text import alpha_ratio, stopword_ratio

    docs = _t(spark, sf_dir, "documents")
    n = F.length("text")
    len_score = (
        F.when((n >= 50) & (n <= 5000), F.lit(1.0)).when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    q = (len_score + alpha_ratio(F.col("text")) + stopword_ratio(F.col("text"))) / F.lit(3.0)
    return docs.select("doc_id", F.floor(q * F.lit(1000000.0)).alias("quality_e6"))


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the vector flavor of dedup).

    Small corpus → broadcast cross join; at scale the LSH-bucketed variant
    (similarity.ann_lsh_topk signatures) bounds the candidate set. Cosine on
    a floor-1e4 grid for cross-engine exactness."""
    from funcify_feature_eng_spark.functions.vectors import dot_raw, norm

    emb = _t(spark, sf_dir, "embeddings")
    cap = int(os.environ.get("SPARK_GRAFT_PAIRS_CAP", "0"))
    if cap > 0:  # bench-only bound; exact all-pairs is O(n²) by definition
        emb = emb.filter(F.col("vec_id") < cap)
    # precompute norms AND the float→double cast per ROW (O(n)) so the pair
    # loop does exactly one zip_with + fold, no per-pair array casts
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # the quadratic work lives on the STREAM side of the broadcast NL join;
    # a small parquet arrives as one input split, so spread it explicitly
    # (a shuffle of n rows buys n·(n-1)/2 pair evaluations of parallelism)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = emb.repartition(n_part, "vec_id").select(
        F.col("vec_id").alias("vec_a"), ed.alias("ea"),
        norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), ed.alias("eb"),
        norm(F.col("embedding")).alias("nb"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_e4",
            F.floor(dot_raw(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
                    * F.lit(10000.0)),
        )
        .filter(F.col("cos_e4") >= 4500)
        .select("vec_a", "vec_b", "cos_e4")
    )
    return pairs


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public) in the gate: coarse-cluster the
    embeddings on the same deterministic centroids as the IVF gate
    (vec_id 1..16), drop every vector that has a smaller-id in-cluster
    neighbor at floor-grid cosine >= 0.45, return the kept rows + cluster
    (operators/similarity.py::semantic_dedup). Pair work is per-cluster
    (sum |c|^2), never corpus-quadratic — the published semantic-dedup
    recipe in its at-scale shape."""
    from funcify_feature_eng_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") >= 1) & (F.col("vec_id") <= 16))
        .orderBy("vec_id").select("embedding").collect()
    )
    centroids = [[float(x) for x in r[0]] for r in cent_rows]
    kept = semantic_dedup(emb, centroids, threshold_grid=4500)
    return kept.select("vec_id", "sem_cluster")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental exact dedup (operators/dedup.py::
    incremental_exact_dedup): the documents table ingested as two
    id-ordered batches; batch 2 dedups against itself AND batch 1's
    fingerprint table (8 bytes/doc — the only state carried between
    ingests). The oracle is the WHOLE-CORPUS min-id rule over the same
    normalization, i.e. the gate hashes the incremental ≡ one-pass
    equivalence itself. At 100 TB each ingest shuffles only the new
    batch's fingerprints and anti-joins a bucketed fingerprint store,
    instead of re-shuffling everything ever seen."""
    from funcify_feature_eng_spark.operators.dedup import incremental_exact_dedup

    docs = _t(spark, sf_dir, "documents")
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).head()
    split = (int(lo) + int(hi)) // 2
    b1 = docs.filter(F.col("doc_id") <= split)
    b2 = docs.filter(F.col("doc_id") > split)
    kept1, fps1 = incremental_exact_dedup(b1, None, "doc_id", "text")
    kept2, _fps2 = incremental_exact_dedup(b2, fps1, "doc_id", "text")
    return kept1.select("doc_id", "lang").union(kept2.select("doc_id", "lang"))


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair mining (operators/selection.py::
    preference_pairs): per user, the (chosen, rejected) = (argmax,
    argmin) of `value` with struct-order tie rules (chosen tie -> larger
    event_id, rejected tie -> smaller), strict margin > 0, carrying the
    `props` payload through as chosen_text/rejected_text (the DPO
    training unit) via max_by/min_by on the same ordering struct. One
    map-side-combined groupBy — a single shuffle of one row per group, no
    window/self-join. Oracle recomputes both argselects as rank-1 windows."""
    from funcify_feature_eng_spark.operators.selection import preference_pairs

    ev = _t(spark, sf_dir, "events")
    return preference_pairs(ev, "user_id", "event_id", "value", text_col="props")


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (operators/bpe.py::bpe_train; Sennrich et
    al. 2016, arXiv:1508.07909): one distributed word-count aggregate
    truncated to the top vocab_words (count desc, word asc), bounded
    driver merge loop with incremental pair recounting — training cost is
    independent of corpus size. Returns the ordered merge table. Oracle =
    fixture from an INDEPENDENT pure-Python pipeline
    (scripts/make_fixtures.py::bpe_merges). Params must mirror
    make_fixtures.BPE."""
    from funcify_feature_eng_spark.operators.bpe import bpe_merge_table, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=60, vocab_words=4096, min_count=2)
    return bpe_merge_table(spark, merges)


def q_bpe_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenization with the trained merges (operators/bpe.py::
    bpe_tokenize): GPT-2-style lowest-rank-pair apply in ONE Arrow-batched
    pandas-UDF map pass (per-batch word memoization, no shuffle). Oracle =
    fixture from the independent pure-Python twin
    (scripts/make_fixtures.py::bpe_pieces)."""
    from funcify_feature_eng_spark.operators.bpe import bpe_tokenize, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, "text", n_merges=60, vocab_words=4096, min_count=2)
    out = bpe_tokenize(docs, "text", merges)
    return out.select(
        "doc_id",
        F.size("pieces").cast("int").alias("n_pieces"),
        F.concat_ws(" ", "pieces").alias("pieces_str"),
    )


def q_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-1..3 n-gram counts over documents (operators/ngram_lm.py::
    ngram_counts): all orders built JVM-side per row (transform + slice +
    array_join), exploded once, one map-side-combined groupBy — a
    word-count at any scale. Top 400 by (ord, cnt desc, gram) with
    cnt >= 5; the oracle recomputes the same grams in pure DuckDB SQL."""
    from funcify_feature_eng_spark.operators.ngram_lm import ngram_counts

    docs = _t(spark, sf_dir, "documents")
    return (
        ngram_counts(docs, "text", n=3, min_count=5)
        .orderBy("ord", F.col("cnt").desc(), "gram")
        .limit(400)
    )


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/ngram_lm.py; Wenzek et
    al. 2020, arXiv:1911.00359; stupid backoff per Brants et al. 2007):
    train a pruned order-3 model in one corpus pass + bounded collect,
    broadcast it into one Arrow-batched scoring pass, emit per-doc
    log10-prob and perplexity as fixed-point micros. Oracle = fixture
    from an INDEPENDENT pure-Python twin (scripts/make_fixtures.py::
    doc_perplexity). Params must mirror make_fixtures.NGRAM_LM."""
    from funcify_feature_eng_spark.operators.ngram_lm import lm_score, train_ngram_lm

    docs = _t(spark, sf_dir, "documents")
    model = train_ngram_lm(docs, "text", n=3, min_count=2, max_grams=20000)
    return lm_score(docs, "text", model)


def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (operators/substrings.py; the
    shuffle-friendly k-gram form of Lee et al. 2022, arXiv:2107.06499
    suffix-array dedup): per doc, positions whose 8-gram repeats
    corpus-wide and the UNION length of their spans (gaps-and-islands,
    overlaps counted once), as exact integer ppm. hashed=False keeps gram
    strings so DuckDB can rebuild the identical pipeline (production
    hashes grams to 8 bytes pre-shuffle; equality is pytest-pinned)."""
    from funcify_feature_eng_spark.operators.substrings import dup_span_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_span_stats(docs, "doc_id", "text", k=8, min_dup=2, hashed=False)


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (operators/selection.py::dsir_select;
    Xie et al. 2023, arXiv:2302.03169): the 200 documents whose hashed
    unigram+bigram distribution is most English-target-like (target =
    lang='en', raw = whole corpus). Integer micro-nat bucket scores are
    computed once driver-side from exact collected counts (bounded to
    n_buckets=4096 rows), so engine arithmetic stays integer-exact.
    Oracle = fixture precomputed by an INDEPENDENT pure-Python xxh64 +
    counting pipeline (scripts/make_fixtures.py::dsir_topk). Params must
    mirror make_fixtures.DSIR."""
    from funcify_feature_eng_spark.operators.selection import dsir_select

    docs = _t(spark, sf_dir, "documents")
    return dsir_select(
        docs, "doc_id", "text", F.col("lang") == "en", k=200, n_buckets=4096
    )


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap (operators/selection.py::frequency_cap,
    RefinedWeb/C4-style domain capping): at most 10 documents per source,
    chosen by the knuth multiplicative key (hash=False — the SQL twin) with
    doc_id tie-break, via the TWO-PHASE hot-group path (salted local prune
    to cap, then the per-group window over <= cap x n_salts survivors);
    pytest pins two_phase == single-window. Oracle recomputes the same
    rank in pure SQL."""
    from funcify_feature_eng_spark.operators.selection import frequency_cap

    docs = _t(spark, sf_dir, "documents")
    return frequency_cap(
        docs, "source", "doc_id", 10, hash=False, two_phase=True
    ).select("doc_id", "source")


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword-proxy token count (regex class runs)."""
    from funcify_feature_eng_spark.functions.text import bpe_ish_token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens")
    )


def q_doc_tokens_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow path in the gate: a vectorized pandas UDF (Series→Series)
    whose result must match the JVM/SQL oracle exactly — the 'transformer
    source as pandas-UDF stage' contract from the north star."""
    # no type hints: `from __future__ import annotations` stringifies them,
    # which PySpark's pandas_udf signature inspection can't resolve
    def _py_token_count(texts):
        # vectorized pandas string ops end-to-end (no per-row .map lambda)
        return texts.fillna("").str.split().str.len().astype("int32")

    py_token_count = F.pandas_udf(_py_token_count, "int")

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", py_token_count(F.col("text")).alias("n_tokens_py"))


def q_event_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 parity: JSON value extraction by path over the untyped props blob."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode via mapInPandas, oracle-checkable: the fake decoders
    are sha2-based and integer-valued, and the extraction computes moments in
    a fixed op order, so DuckDB reproduces the doubles bit-for-bit. TWO media
    kinds alternate per row (even doc_id → image grid, odd → audio waveform
    with a different byte transform), exercising the DecoderRegistry
    per-row dispatch — a dispatch bug changes values, not just the label."""
    from funcify_feature_eng_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
    )

    docs = _t(spark, sf_dir, "documents")
    kind = F.when(F.col("doc_id") % 2 == 0, F.lit("image")).otherwise(F.lit("audio"))
    return extract_media_features(
        attach_fake_media(docs, "doc_id", kind=kind), batch_cols=("doc_id",)
    )


def q_video_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video kind: frame-sampling plumbing (every 2nd of 4
    frames), one row per sampled frame with integer-exact per-frame means
    (operators/multimodal.py::sample_video_frames; the deterministic fake
    decoder stands in for av/ffmpeg — the swap point is the registry)."""
    from funcify_feature_eng_spark.operators.multimodal import (
        attach_fake_media,
        sample_video_frames,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs, "doc_id", kind="video", n_frames=4)
    return sample_video_frames(media, every_k=2)


def q_doc_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization (Arrow pandas-UDF path). The input is
    forced non-trivial on every row by appending a DECOMPOSED a+combining-
    acute, which NFC must compose — so the gate checks real normalization,
    not an ASCII no-op."""
    from funcify_feature_eng_spark.functions.text import nfc_normalize

    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(F.substring("text", 1, 12), F.lit("a\u0301"))
    return docs.select(
        "doc_id",
        F.length(raw).alias("len_before"),
        nfc_normalize(raw).alias("nfc_text"),
        F.length(nfc_normalize(raw)).alias("len_after"),
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal (Gopher-style): the most frequent word
    bigram per document and the fraction of characters its occurrences
    cover (count x len / doc len, the standard approximation). Exploded
    bigrams + one groupBy + one window — scalable, unlike per-row O(B²)
    array scans."""
    from funcify_feature_eng_spark.functions.text import shingles
    from funcify_feature_eng_spark.operators.util import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id",
        F.length("text").alias("doc_len"),
        F.explode(shingles(F.col("text"), 2)).alias("g"),
    )
    counts = grams.groupBy("doc_id", "doc_len", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # top bigram per doc via min_by on (-cnt, g): highest count, ties broken
    # by gram ascending — a hash aggregate with map-side partial combine,
    # where a row_number window would sort every doc's gram counts
    top = counts.groupBy("doc_id").agg(
        F.min_by(
            F.struct("cnt", "g", "doc_len"), F.struct((-F.col("cnt")).alias("nc"), "g")
        ).alias("t")
    )
    return top.select(
        "doc_id",
        F.col("t.cnt").alias("top_bigram_count"),
        F.floor(
            F.lit(1000000.0)
            * (F.col("t.cnt") * F.length("t.g") * F.lit(1.0) / F.col("t.doc_len"))
        ).alias("rep_e6"),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: ~40-token chunks with 10-token overlap, one
    columnar map stage (operators/chunking.py)."""
    from funcify_feature_eng_spark.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=40, overlap_tokens=10)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval docs (doc_id % 10 == 0) checked for
    word-5-gram overlap against the train split (the rest) via an
    8-byte-hash inverted-index semi join (operators/contamination.py)."""
    from funcify_feature_eng_spark.operators.contamination import contamination_report

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    return contamination_report(train, ev, "doc_id", "text", k=5, min_shared=3)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the end-to-end training-corpus curation pipeline — exact
    dedup (keep min id per text) → near-dup clusters → keep the best-quality
    member per cluster → language + quality filters. Composes exact_dedup,
    minhash_lsh_pairs, connected_components, keep_best_per_cluster, lang_id
    and quality_score into ONE job, the actual 100 TB use-case."""
    from funcify_feature_eng_spark.functions.text import (
        lang_id_from_tokens,
        stopword_ratio,
        tokens,
    )
    from funcify_feature_eng_spark.operators.dedup import exact_dedup
    from funcify_feature_eng_spark.operators.graph import (
        connected_components,
        keep_best_per_cluster,
    )

    from funcify_feature_eng_spark.operators.util import spread_small_input

    # quality + lang-id expressions are the dense map stage; spread the
    # single-split input (guide §6; the minhash leg spreads internally)
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    n = F.length("text")
    len_score = (
        F.when((n >= 50) & (n <= 5000), F.lit(1.0)).when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    quality = F.floor(
        (len_score + alpha_ratio(F.col("text")) + stopword_ratio(F.col("text")))
        / F.lit(3.0) * F.lit(1000000.0)
    )
    scored = docs.select(
        "doc_id", "text",
        quality.alias("quality_e6"),
        lang_id_from_tokens(tokens(F.lower(F.col("text")))).alias("lang_pred"),
    )
    survivors = exact_dedup(scored, "doc_id", "text")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16,
                              shingle_k=3, verify_threshold=0.5)
    comp = connected_components(pairs, "doc_a", "doc_b")
    kept = keep_best_per_cluster(survivors, comp, "doc_id", "quality_e6")
    return kept.filter(
        (F.col("lang_pred") == "en") & (F.col("quality_e6") >= 600000)
    ).select("doc_id", "lang_pred", "quality_e6")


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declare-then-materialize for corpus work (pipeline.py::CorpusPipeline
    — the reference's registry/materializer philosophy applied to the
    training-data ops): the SAME curation steps as the hand-composed
    capstone, declared as pipeline stages and run as one composed job.
    Oracle = the corpus_curation DuckDB twin — the hashed property is that
    the declarative layer adds sequencing and validation, never new
    semantics (value identity with q_corpus_curation)."""
    from funcify_feature_eng_spark.functions.text import (
        lang_id_from_tokens,
        stopword_ratio,
        tokens,
    )
    from funcify_feature_eng_spark.operators.util import spread_small_input
    from funcify_feature_eng_spark.pipeline import CorpusPipeline

    # same spread as the hand-composed capstone (value identity holds:
    # round-robin placement never feeds any result)
    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    n = F.length("text")
    len_score = (
        F.when((n >= 50) & (n <= 5000), F.lit(1.0)).when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    quality = F.floor(
        (len_score + alpha_ratio(F.col("text")) + stopword_ratio(F.col("text")))
        / F.lit(3.0) * F.lit(1000000.0)
    )
    pipe = (
        CorpusPipeline()
        .derive("quality_e6", quality)
        .derive("lang_pred", lang_id_from_tokens(tokens(F.lower(F.col("text")))))
        .exact_dedup()
        .near_dedup(quality_col="quality_e6", num_hashes=64, bands=16,
                    shingle_k=3, verify_threshold=0.5)
        .filter((F.col("lang_pred") == "en") & (F.col("quality_e6") >= 600000))
        .select("doc_id", "lang_pred", "quality_e6")
    )
    return pipe.run(docs)


def q_shows_reshaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 CSV scan + reshaping (StreamFunctions.kt:289-375 semantics): parse
    duration/seasons regexes, month-name dates, comma-joined lists. Input is
    the deterministic repo fixture CSV (the driver testdata has no raw-CSV
    table); the oracle reads the same file via DuckDB read_csv."""
    from funcify_feature_eng_spark.functions.scalars import list_size
    from funcify_feature_eng_spark.sources.tables import read_netflix_csv

    df = read_netflix_csv(spark, os.path.join(_REPO, "fixtures", "shows_raw.csv"))
    return df.select(
        "show_id",
        "type",
        "release_year",
        "duration_min",
        "num_seasons",
        list_size(F.col("cast")).alias("cast_count"),
        "date_added",
    )


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/sampling.py).
    The oracle uses the mod-bucket variant; production uses hash=True
    (xxhash64 buckets — layout- and rerun-stable), covered by pytest."""
    from funcify_feature_eng_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    out = assign_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
        resolution=100, hash=False,
    )
    return out.select("doc_id", "split")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling (operators/sampling.py::weighted_sample):
    keep each document with probability byte_length/4000 — the importance-
    sampling primitive for corpus mixing (up-weight long/high-quality docs
    while downsampling). The gate runs the hash=False integer-exact rule
    (Knuth key * denom < weight * num * 2^32, pure BIGINT both engines —
    zero float arithmetic); production uses xxhash64 (hash=True), pinned by
    tests/test_sampling_weighted.py. Scale shape: a pure map — no shuffle,
    no state, decision is a function of (id, weight) alone, so retries and
    layout changes keep the same rows. Companion weighted_topk is value-
    gated at q_weighted_topk (round 5)."""
    from funcify_feature_eng_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(
        docs.withColumn("w_bytes", F.octet_length("text").cast("long")),
        "doc_id", "w_bytes", 1, 4000, hash=False,
    )
    return out.select("doc_id", "lang", "w_bytes")


def q_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted top-k WITHOUT replacement (operators/sampling.py::
    weighted_topk): per-language keep the 5 documents with the largest
    Efraimidis-Spirakis keys ln(u)/w (u from the hash=False Knuth key,
    w = byte length) — the per-source quota draw for corpus mixing where
    long docs get proportionally better odds but a source can't flood.

    Value-gated since round 5: the only float step is ln over an input u
    that is bit-identical in both engines (a dyadic rational (knuth+1)/2^32,
    exactly representable). A cross-engine ln can differ by <= 1 ulp
    (~1e-16 relative); the fixture's measured min adjacent-key gap within
    any language is 8e-05 relative (~1e11 ulps, asserted by
    tests/test_sampling_weighted.py::test_topk_oracle_gap_margin), so no
    boundary rank can flip. Closes the last non-value-gated operator
    (round-4 verdict task 4)."""
    from funcify_feature_eng_spark.operators.sampling import weighted_topk

    docs = _t(spark, sf_dir, "documents")
    out = weighted_topk(
        docs.withColumn("w_bytes", F.octet_length("text").cast("long")),
        "lang", "doc_id", "w_bytes", k=5, hash=False,
    )
    return out.select("doc_id", "lang", "w_bytes")


def q_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus mixing (operators/sampling.py::budget_mixture_sample):
    target shares {en:5, es:2, de:1, fr:1, zh:1} under a 60 kB total budget —
    ONE per-source aggregate broadcast back, then a pure-map keep decision
    p_s = min(1, budget·w_s/(W·T_s)), so expected kept bytes per lang land
    on budget·w_s/W without hand-tuned rates (the mixture PLANNER + sampler
    in one op). Gate runs hash=False: the decision is the pure-BIGINT
    comparison key·W·T_s < budget·w_s·2^32 — the DuckDB twin recomputes
    T_s in a CTE and applies identical integer arithmetic. Production
    hash=True (xxhash64) is pytest-pinned."""
    from funcify_feature_eng_spark.operators.sampling import budget_mixture_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w_bytes", F.octet_length("text").cast("long")
    )
    out = budget_mixture_sample(
        docs, "lang", "doc_id", "w_bytes", budget=60_000,
        weights={"en": 5, "es": 2, "de": 1, "fr": 1, "zh": 1}, hash=False,
    )
    return out.select("doc_id", "lang", "w_bytes")


def q_doc_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: dense global positions in a
    pseudorandom permutation keyed only on doc_id — stable across reruns /
    layouts / retries (operators/sampling.py::deterministic_shuffle;
    range-partition + per-partition ranks + O(partitions) driver offsets).
    Gate uses the mod-arithmetic key (hash=False) so DuckDB computes the
    identical permutation."""
    from funcify_feature_eng_spark.operators.sampling import deterministic_shuffle

    docs = _t(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, "doc_id", seed=0, hash=False).select(
        "doc_id", "pos"
    )


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: weighted fair interleave across sources — each doc's
    mix_pos is its virtual time (rank_in_source - 0.5) / weight, so sorting
    by mix_pos plays sources at their target rates
    (operators/sampling.py::interleave_by_ratio). Unlisted sources → NULL
    (excluded from the schedule)."""
    from funcify_feature_eng_spark.operators.sampling import interleave_by_ratio

    docs = _t(spark, sf_dir, "documents")
    weights = {"src0": 0.5, "src1": 0.25, "src2": 0.15, "src3": 0.1}
    return interleave_by_ratio(docs, "source", weights, "doc_id").select(
        "doc_id", "source", "mix_pos"
    )


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (data-quality stats). Exact quantiles sort
    within groups — fine for dashboard-scale groups; at 100 TB row counts use
    approx_percentile (t-digest) instead, same call shape."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
    )


def q_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB swap for value_quantiles, actually gated:
    approx_percentile (Greenwald-Khanna sketch, bounded memory, partial-
    aggregable — no per-group sort). With accuracy ≥ group size the sketch
    retains every sample and returns the exact nearest-rank order statistic.
    Both engines select rank ceil(p·n): Spark by its documented rule, and
    DuckDB's quantile_disc empirically matches it at every n tested
    (n=3..13 across tie-prone p) — note floor(p·(n-1))+1 is NOT the same
    formula (n=7, p=0.9 gives 6 vs 7), the agreement is the engines', not
    algebra's. At real scale drop accuracy to 10^4: same call shape, rank
    error ≤ n/10^4."""
    ev = _t(spark, sf_dir, "events")
    acc = 1_000_000
    return ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("p50"),
        F.expr(f"approx_percentile(value, 0.9, {acc})").alias("p90"),
        F.expr(f"approx_percentile(value, 0.99, {acc})").alias("p99"),
    )


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per event type (one groupBy, map-side combine)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.floor(F.col("value") / F.lit(50.0)).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/crosstab reshaping: per-user event-type counts as columns."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for absent combos; normalize to 0 for the oracle
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard fixed-budget sequence packing (LLM pretraining batch prep):
    one window pass per shard, no global sort (operators/packing.py)."""
    from funcify_feature_eng_spark.operators.packing import pack_documents

    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn("n_tokens", token_count(F.col("text")))
    out = pack_documents(
        docs, "doc_id", "n_tokens", budget=2048,
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return out.select(
        "doc_id", F.col("shard").cast("int").alias("shard"), "pack_id", "offset_in_pack"
    )


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching over documents: padding-waste reducer for
    eval/non-packed training (operators/packing.py::length_bucketed_batches);
    token counts via the whitespace tokenizer the other doc gates use."""
    from funcify_feature_eng_spark.operators.packing import length_bucketed_batches

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return length_bucketed_batches(docs, "doc_id", "n_tokens",
                                   bucket_width=16, batch_rows=8)


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit as one composed job: deterministic split
    assignment (hash buckets) -> exact n-gram near-dup pairs -> keep pairs
    that CROSS the split boundary. The pre-training hygiene check: an eval
    doc with a near-dup in train invalidates the eval."""
    from funcify_feature_eng_spark.operators.dedup import ngram_jaccard_pairs
    from funcify_feature_eng_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    # resolution 10: small gate ids spread across buckets (mod 10000 would
    # put every doc < 500 in train — a 0-row gate verifies nothing)
    split = assign_split(docs, "doc_id", {"train": 0.8, "eval": 0.2},
                         hash=False, resolution=10)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.6)
    sa = split.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components (the retention-policy input):
    iterative min-label propagation, one shuffle per round
    (operators/graph.py)."""
    from funcify_feature_eng_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16,
                              shingle_k=3, verify_threshold=0.5)
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=16,
                             shingle_k=3, verify_threshold=0.5)


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


def q_doc_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + audit counts (pre-tokenization scrubbing pass every
    production training pipeline runs). The corpus is digit-free, so a
    deterministic synthetic suffix (email + phone + SSN derived from doc_id)
    makes redaction observable; the pure-regexp_replace chain is JVM-side
    and scan-speed at 100 TB (functions/text.py::pii_redact)."""
    from funcify_feature_eng_spark.functions.text import pii_counts, pii_redact

    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
        F.lit(" or call 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789"),
    )
    n_email, n_ssn, n_phone = pii_counts(raw)
    return docs.select(
        "doc_id",
        pii_redact(raw).alias("clean_text"),
        n_email.alias("n_emails"),
        n_ssn.alias("n_ssns"),
        n_phone.alias("n_phones"),
    )


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (tokenizer/vocab construction input):
    term frequency + document frequency per lowercased whitespace token,
    top 50 by TF with a deterministic tie-break. One explode + one groupBy
    (map-side combine) + TakeOrdered — no global sort at 100 TB."""
    from funcify_feature_eng_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    agg = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    return agg.orderBy(F.col("term_freq").desc(), F.col("term").asc()).limit(50)


_BM25_QUERY = ["hash", "join", "vector", "slow"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: integer-exact BM25 top-10 over documents for a
    fixed bag-of-terms query (operators/retrieval.py — query-term filter
    pushed before the first shuffle, df/stats broadcast, TakeOrdered)."""
    from funcify_feature_eng_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_QUERY, k=10)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval capstone: BM25 candidates (lexical) + cosine
    candidates (dense, query = vec 0's embedding, doc_id ≡ vec_id in the
    testdata) fused by integer-exact reciprocal-rank fusion
    (operators/retrieval.py::rrf_fuse). Each ranker is top-50-bounded by
    TakeOrdered before ranking, so the rank windows run on 50-row
    single-partition frames — the fusion shuffle is candidate-sized, never
    corpus-sized."""
    from funcify_feature_eng_spark.operators.retrieval import bm25_topk, rrf_fuse

    lex = bm25_topk(_t(spark, sf_dir, "documents"), _BM25_QUERY, k=50)
    lex_ranked = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    dense = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.floor(
                cosine(F.col("embedding"), F.array(*[F.lit(float(x)) for x in qvec]))
                * F.lit(10000.0)
            ).alias("cos_e4"),
        )
        .orderBy(F.col("cos_e4").desc(), F.col("doc_id").asc())
        .limit(50)
    )
    dense_ranked = dense.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos_e4").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    return rrf_fuse([lex_ranked, dense_ranked], k=10)


def q_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval in the gate: per-vector kNN label precision@10
    over the embeddings table (operators/retrieval.py::knn_label_precision) —
    also the driver-gated witness for all_pairs_topk's exact ranking
    (previously pytest-only). Rounded-cosine ranking with id tie-breaks is
    deterministic cross-engine; precision is integer-exact."""
    from funcify_feature_eng_spark.operators.retrieval import knn_label_precision

    return knn_label_precision(_t(spark, sf_dir, "embeddings"), k=10)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide line dedup (C4/RefinedWeb boilerplate pass): first
    occurrence of each line in the corpus survives, every later occurrence —
    in ANY document — is dropped (operators/dedup.py::line_dedup). The
    corpus has no newlines, so the gate builds a deterministic 3-line text:
    two document-derived lines plus one boilerplate line shared by every
    doc; only doc 0 keeps the boilerplate."""
    from funcify_feature_eng_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents")
    raw = F.concat_ws(
        "\n",
        F.substring("text", 1, 60),
        F.lit("subscribe to our newsletter today"),
        F.substring("text", 61, 60),
    )
    return line_dedup(docs.select("doc_id", raw.alias("text")), "doc_id", "text")


def q_doc_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document salient terms: top-3 terms by TF weighted by corpus
    rarity, score_e6 = floor(tf·10^6/df). Integer-exact across engines —
    IEEE division of exactly-representable ints is correctly rounded, where
    an ln()-based idf is transcendental and may differ in the last ulp
    between libm implementations (at production scale swap in ln(N/df);
    the plan shape is identical). Two groupBys (doc-term tf, term df — both
    map-side combinable) + one join on term + one per-doc top-3 window."""
    from funcify_feature_eng_spark.functions.text import tokens
    from funcify_feature_eng_spark.operators.util import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derived FROM tf (one row per (doc, term) ⇒ count per term = number
    # of docs containing it) — no second pass over the raw token explode
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score_e6", F.floor(F.col("tf") * F.lit(1000000.0) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("rank").cast("int").alias("rank"), "term", "score_e6")
    )


def q_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule resumability in the DRIVER gate: two watermark-based
    incremental runs of the same stage (lineage.py::run_incremental). Pass 1
    sees events before the cut (computes + records the high-watermark);
    pass 2 sees the FULL spine but by contract computes only rows after the
    watermark and appends. Each compute tags its rows with the pass number,
    so the hashed result proves the increment: if pass 2 recomputed old rows
    they would carry tag 2 and the hash would diverge from the oracle, whose
    CASE reconstructs the (deterministic, data-derived) watermark as
    max(ts) below the cut."""
    import shutil

    from funcify_feature_eng_spark.lineage import LineageTracker

    base = os.path.join(
        "/tmp", f"spark_graft_lineage_gate_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    if os.path.exists(base):
        shutil.rmtree(base)
    tracker = LineageTracker(spark, base)
    ev = _t(spark, sf_dir, "events")
    cut = _STORE_CUT
    state = {"pass": 0}

    def compute(new: DataFrame) -> DataFrame:
        state["pass"] += 1
        return new.select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.floor(F.col("value") * F.lit(1000000.0)).alias("value_e6"),
            F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
            F.lit(state["pass"]).cast("int").alias("pass_no"),
        )

    tracker.run_incremental(
        "ev_features", ev.filter(F.col("ts") < F.lit(cut)), compute, ts_col="ts"
    )
    out = tracker.run_incremental("ev_features", ev, compute, ts_col="ts")
    return out.select(
        "event_id", "user_id", "event_type", "value_e6", "prop_k", "pass_no"
    )


def q_doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document — the KenLM-free quality proxy:
    the fraction of a doc's tokens outside the corpus's top-30 vocabulary.
    Integer-exact across engines (counts and one IEEE division; a log-prob
    LM score would hinge on transcendental libm agreement). Two passes over
    the token explode: a 30-row vocab broadcast, then a per-doc count of
    non-members — both map-side combinable."""
    from funcify_feature_eng_spark.functions.text import tokens
    from funcify_feature_eng_spark.operators.util import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(30)
        .select("term")
    )
    scored = (
        tok.join(F.broadcast(vocab.withColumn("__in", F.lit(1))), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.col("n_oov").cast("long").alias("n_oov"),
        F.floor(F.col("n_oov") * F.lit(1000000.0) / F.col("n_tokens")).alias("oov_e6"),
    )


_RAG_QUERY = "key table scan window"


def q_chunk_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-ingest capstone (the RAG shape): context-window chunking →
    per-chunk embedding → exact cosine top-k for a query string, one job.
    The embedding is the deterministic sha-stub (vectors.sha_embed_dims —
    a real model is the single swap point; everything around it is the
    production plumbing). Integer components keep every sum exact, so the
    only FP ops are the final norm/divide, deterministic on both engines."""
    import math

    from funcify_feature_eng_spark.functions.vectors import (
        sha_embed_dims,
        sha_embed_py,
    )
    from funcify_feature_eng_spark.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=40, overlap_tokens=10)
    base = chunks.select(
        "doc_id", "chunk_idx", F.sha2(F.col("chunk_text"), 256).alias("__hx")
    )
    dims = sha_embed_dims(F.col("__hx"))
    q = sha_embed_py(_RAG_QUERY)
    qn = math.sqrt(sum(x * x for x in q))
    dot = None
    sq = None
    for d_expr, qi in zip(dims, q):
        term = d_expr * F.lit(qi)
        term2 = d_expr * d_expr
        dot = term if dot is None else dot + term
        sq = term2 if sq is None else sq + term2
    scored = base.select(
        "doc_id",
        "chunk_idx",
        F.floor(F.lit(10000.0) * dot / (F.sqrt(sq) * F.lit(qn))).alias("cos_e4"),
    )
    return scored.orderBy(
        F.col("cos_e4").desc(), F.col("doc_id").asc(), F.col("chunk_idx").asc()
    ).limit(10)


def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quota sampling (corpus mixing): at most 700 events per
    event_type, chosen by deterministic pseudo-random order
    (operators/sampling.py::quota_per_group). The oracle uses the
    Knuth-multiplicative order variant (hash=False), exact in BIGINT
    arithmetic on both engines; the xxhash64 production path is
    pytest-covered, same convention as doc_split."""
    from funcify_feature_eng_spark.operators.sampling import quota_per_group

    ev = _t(spark, sf_dir, "events")
    out = quota_per_group(ev, "event_type", "event_id", 700, hash=False)
    return out.select("event_id", "event_type")


def q_value_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 VALUE-level validation in the driver gate: a JSON-Schema-subset
    check compiled to pure Column predicates (plans/validation.py — no
    Python UDF) splits rows into valid/quarantined with named reasons.
    The corpus props are all valid, so three deterministic corruption
    classes are planted by event_id: malformed JSON, a missing required
    key, and an out-of-range value; the oracle reconstructs the same
    verdicts and reason strings."""
    from funcify_feature_eng_spark.operators.util import spread_small_input
    from funcify_feature_eng_spark.plans.validation import validate_json_values

    # hash-spread (no sort-before-repartition) — the JSON validation
    # predicates are the dense stage
    ev = spread_small_input(_t(spark, sf_dir, "events"), "event_id")
    planted = ev.select(
        "event_id",
        F.when(F.col("event_id") % 10 == 1, F.lit("not json"))
        .when(F.col("event_id") % 10 == 2, F.lit('{"j": 5}'))
        .when(F.col("event_id") % 10 == 3, F.lit('{"k": 1000}'))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    schema = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 100}},
    }
    from funcify_feature_eng_spark.plans.validation import violations_col

    # one pass: the valid/quarantined SPLIT (validate_json_values, pytest-
    # covered) is two filters over the same scan — a union of both branches
    # would evaluate every JSON check twice; deriving status from the
    # violations array keeps the gate single-scan
    _ = validate_json_values  # split API exercised in tests/test_validation.py
    # materialize the violations array in its own projection so the three
    # references below don't each re-run every JSON check (CollapseProject
    # keeps non-cheap multiply-referenced aliases in place)
    tagged = planted.select(
        "event_id", violations_col("props", schema).alias("__v")
    )
    return tagged.select(
        "event_id",
        F.when(F.size("__v") > 0, F.lit("quarantined")).otherwise("valid").alias("status"),
        F.when(F.size("__v") > 0, F.array_join("__v", "; ")).alias("reasons"),
    )


_STREAM_GATE_SEQ = [0]


def _stream_parts(spark: SparkSession, src_dir: str) -> str:
    """Scale-adaptive shuffle/state-partition count for the streaming
    gates (guide §2: never a constant tuned to one scale). Each micro-batch
    spins up one state-store partition per shuffle partition, so tiny
    inputs want few partitions (32x4 empty-ish state stores are pure
    overhead at gate scale) while sf1.0's 500k-row batches are
    Python-state-bound and want every core. The row count is summed from
    the parquet footers of the already-written micro-batch dir: no job."""
    from funcify_feature_eng_spark.operators.util import footer_rows

    n = footer_rows(src_dir)
    cores = spark.sparkContext.defaultParallelism
    return str(max(4, min(cores, n // 25_000 + 1)))


def _run_stream_gate(
    spark: SparkSession, src_dir: str, out, name: str = "", mode: str = "append"
) -> DataFrame | None:
    """Run one streaming gate to completion with the shuffle/state partition
    count scoped to ``_stream_parts(src_dir)`` for the query's lifetime
    (each micro-batch spins up one state-store partition per shuffle
    partition), restoring the session value afterwards. ``out`` is either a
    streaming frame, drained into an availableNow memory sink named
    ``{name}_{seq}`` whose table is returned, or a zero-argument callable
    that starts its own query (the ledger gates; returns None)."""
    if isinstance(out, DataFrame):
        _STREAM_GATE_SEQ[0] += 1
        qname = f"{name}_{_STREAM_GATE_SEQ[0]}"

        def start():
            return (
                out.writeStream.format("memory").queryName(qname)
                .outputMode(mode).trigger(availableNow=True).start()
            )
    else:
        qname, start = None, out
    shuffle_conf = "spark.sql.shuffle.partitions"
    session_parts = spark.conf.get(shuffle_conf)
    spark.conf.set(shuffle_conf, _stream_parts(spark, src_dir))
    try:
        start().awaitTermination()
    finally:
        spark.conf.set(shuffle_conf, session_parts)
    return None if qname is None else spark.table(qname)


def q_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 publish + store maintenance in the DRIVER gate: publish the same
    deterministic feature twice (the replayed-job shape — identical values,
    later calculated_ts), compact, and return the surviving store records
    plus the before/after row counts. The oracle reconstructs the survivors
    directly from the events table: exactly one record per identity point,
    carrying the value the SECOND publish wrote (identical by construction,
    proving latest-wins), with rows_before = 2x rows_after proving the
    shadowed generation was actually removed."""
    import shutil

    from funcify_feature_eng_spark.store import FeatureStore

    base = os.path.join(
        "/tmp", f"spark_graft_compact_gate_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    if os.path.exists(base):
        shutil.rmtree(base)
    store = FeatureStore(spark, base, entity_col="user_id")
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", F.floor(F.col("value") * F.lit(1000000.0)).alias("v_e6")
    )
    store.publish(ev, "features/value_e6", "v_e6")
    store.publish(ev, "features/value_e6", "v_e6")  # replayed job: shadowed
    stats = store.compact()
    return store.read().select(
        "feature_id",
        F.col("conv_id").cast("long").alias("user_id"),
        "params_hash",
        "value",
        "value_at_ts",
        F.lit(stats["rows_before"]).cast("long").alias("rows_before"),
        F.lit(stats["rows_after"]).cast("long").alias("rows_after"),
    )



def _content_stamp(path: str, version: str) -> str:
    """Cheap content-based cache stamp: size + sha256 of three sampled
    64 KiB slices (head / middle / tail) + a version suffix — immune to
    mtime churn from copies/checkouts, O(1) at any file size."""
    import hashlib

    h = hashlib.sha256()
    sz = os.path.getsize(path)
    with open(path, "rb") as fh:
        for off in (0, sz // 2, max(0, sz - 65536)):
            fh.seek(off)
            h.update(fh.read(65536))
    return f"{sz}:{h.hexdigest()[:16]}:{version}"


def _write_micro_batches(
    tmp: str, src: str, version: str, parts_builder, write_opts: dict | None = None
) -> str:
    """Shared micro-batch gate scaffolding: a content-stamped parquet dir
    whose file mtimes pin the batch ingestion order. ``parts_builder()``
    (-> ordered pandas frames, one per micro-batch) runs ONLY when the
    stamp is stale, so bench re-runs time the stream, not file prep."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    stamp_val = _content_stamp(src, version)
    stamp_fp = os.path.join(tmp, "_stamp")
    if os.path.exists(stamp_fp) and open(stamp_fp).read() == stamp_val:
        return tmp
    parts = parts_builder()
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    for i, part in enumerate(parts):
        fp = os.path.join(tmp, f"b{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False), fp,
            **(write_opts or {}),
        )
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))  # batch order
    with open(stamp_fp, "w") as f:
        f.write(stamp_val)
    return tmp


def _stream_batch_files(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the 2-file ts-ordered micro-batch split of the
    events table used by the streaming gates."""

    def parts():
        pdf = (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_id", F.col("event_type").alias("role"), "ts")
            .orderBy("ts", "event_id")
            .toPandas()
        )
        n = len(pdf)
        return [pdf.iloc[i * n // 2 : (i + 1) * n // 2] for i in range(2)]

    tmp = os.path.join(
        "/tmp", f"spark_graft_stream_gate_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "events.parquet"), "3", parts,
        {"coerce_timestamps": "us", "allow_truncated_timestamps": True},
    )


def _decay_stream_files(spark: SparkSession, sf_dir: str) -> str:
    """2-file ts-ordered split of events CARRYING the value column (the
    shared split projects it away; the decay gate aggregates it)."""

    def parts():
        pdf = (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_id", "ts", "value")
            .orderBy("ts", "event_id")
            .toPandas()
        )
        n = len(pdf)
        return [pdf.iloc[i * n // 2 : (i + 1) * n // 2] for i in range(2)]

    tmp = os.path.join(
        "/tmp",
        f"spark_graft_decay_stream_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "events.parquet"), "1", parts,
        {"coerce_timestamps": "us", "allow_truncated_timestamps": True},
    )


def _stream_source(spark: SparkSession, src_dir: str) -> DataFrame:
    """The micro-batch contract of every stream gate: a file stream over
    the micro-batch dir ``src_dir`` (see _write_micro_batches), read with
    the dir's own schema, one file per micro-batch."""
    sch = spark.read.parquet(src_dir).schema
    return (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src_dir)
    )


def _doc_stream_files(spark: SparkSession, sf_dir: str) -> str:
    """2-file micro-batch split of documents WITH PLANTED DUPLICATES for the
    streaming-dedup gate: batch 0 = originals + same-batch copies of the
    first 50 docs (ids +20000, exercising the deterministic within-batch
    min-id winner), batch 1 = a full duplicate copy (ids +10000) whose
    suppression requires the seen-state to CROSS the batch boundary.
    Content-stamped scaffolding, rebuilt only when the source changes."""
    import pandas as pd

    def parts():
        pdf = (
            _t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .toPandas()
        )
        lo = pdf["doc_id"].min()
        same_batch_dups = pdf[pdf["doc_id"] < lo + 50].assign(
            doc_id=lambda d: d["doc_id"] + 20000
        )
        cross_batch_dups = pdf.assign(doc_id=lambda d: d["doc_id"] + 10000)
        return [pd.concat([pdf, same_batch_dups], ignore_index=True), cross_batch_dups]

    tmp = os.path.join(
        "/tmp", f"spark_graft_dedup_stream_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "documents.parquet"), "1", parts
    )


def _doc_kmv_stream_files(spark: SparkSession, sf_dir: str) -> str:
    """2-file micro-batch split of documents by doc_id parity for the
    streaming-KMV gate — each batch carries roughly half of every lang's
    texts, so the final per-lang sketch provably merges state across the
    batch boundary. Content-stamped scaffolding like _doc_stream_files."""

    def parts():
        pdf = (
            _t(spark, sf_dir, "documents")
            .select("lang", "doc_id", "text")
            .orderBy("doc_id")
            .toPandas()
        )
        return [pdf[pdf["doc_id"] % 2 == 0], pdf[pdf["doc_id"] % 2 == 1]]

    tmp = os.path.join(
        "/tmp", f"spark_graft_kmv_stream_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "documents.parquet"), "1", parts
    )


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct-count in the DRIVER gate (streaming/runner.py
    ::stateful_kmv_stream): per-lang sketches maintained across 2 micro-
    batches (documents split by doc_id parity), final estimate taken from
    each lang's max-rows_cum emission. The oracle is the SAME independent
    pure-Python fixture as the batch kmv_distinct gate — i.e. the hashed
    property is stream ≡ batch: a sketch merged incrementally across
    batches equals the sketch of the whole corpus exactly (KMV union+trim
    algebra). Hashes are JVM Columns; Python only merges ≤k long arrays."""
    from funcify_feature_eng_spark.operators.sketches import kmv_estimate
    from funcify_feature_eng_spark.streaming.runner import stateful_kmv_stream

    k = 128
    tmp = _doc_kmv_stream_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    stream = stream.withColumn(
        "__h", F.xxhash64("text").bitwiseAND(F.lit((1 << 63) - 1))
    )
    out = stateful_kmv_stream(stream, group_col="lang", hash_col="__h", k=k)
    sink = _run_stream_gate(spark, tmp, out, "stream_kmv_sink")
    final = sink.groupBy("lang").agg(F.max_by("kmv", "rows_cum").alias("kmv"))
    return final.select("lang", kmv_estimate("kmv", k).alias("est_distinct"))


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup in the DRIVER gate: stateful_dedup_stream over
    2 micro-batches with planted duplicates (see _doc_stream_files). The
    oracle is the BATCH dedup semantics (min-id per text) over the same
    constructed input — which collapses to the original documents rows —
    so the hash proves both the within-batch deterministic winner AND the
    cross-batch suppression."""
    from funcify_feature_eng_spark.streaming.runner import stateful_dedup_stream

    tmp = _doc_stream_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    stream = stream.withColumn("char_len", F.length("text").cast("int"))
    out = stateful_dedup_stream(
        stream, id_col="doc_id", key_col="text", keep_cols=["char_len"]
    )
    sink = _run_stream_gate(spark, tmp, out, "stream_dedup_sink")
    return sink.select("doc_id", "char_len")


def q_stream_model_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 parity path in the DRIVER gate: ``materialize_stream`` runs the
    SAME batch FeatureModel DAG on each micro-batch via foreachBatch (the
    reference's message-stream entry, StreamFunctions.kt:180-287, upgraded
    to Structured Streaming). Window features are BATCH-LOCAL by contract
    (cross-batch state belongs to the store read-through / stateful
    operator), so the oracle partitions its windows on (user, batch-half) —
    the per-batch semantics themselves are what the gate hashes."""
    import shutil

    from funcify_feature_eng_spark.streaming.runner import materialize_stream

    tmp = _stream_batch_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    stream = stream.withColumnRenamed("role", "event_type")
    # SIBLING of the input dir — inside it, the file stream source (and the
    # schema read) would ingest the sink's own output as new batches
    out_dir = tmp + "_model_out"
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    cols = ["event_id", "user_id", "event_type", "prior_event_type",
            "gap_secs", "session_id", "event_seq"]

    def sink(df: DataFrame, batch_id: int) -> None:
        df.withColumn("batch_id", F.lit(batch_id + 1).cast("int")).write.mode(
            "append"
        ).parquet(out_dir)

    q = materialize_stream(stream, _events_model(), cols, sink=sink)
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(*cols, "batch_id")


def q_stream_turn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 streaming in the DRIVER gate: the cross-batch stateful
    sessionizer (streaming/runner.py::stateful_turn_features_stream,
    applyInPandasWithState) run as a real Structured Streaming query over 2
    micro-batches, its appended output returned as a batch frame. The input
    is split into 2 files by global ts order (per-user in-order arrival
    across batches — the transcript ingest contract), so per-user state
    (prior role, session id) provably crosses micro-batch boundaries; the
    oracle is the BATCH formulation (global lag + gap-cumsum), i.e. the
    stream ≡ batch equivalence itself is what the gate hashes. The
    pandas round-trip below is gate input scaffolding (building ordered
    micro-batch files), not part of the operator."""
    from funcify_feature_eng_spark.streaming.runner import (
        stateful_turn_features_stream,
    )

    tmp = _stream_batch_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    out = stateful_turn_features_stream(
        stream, entity_col="user_id", order_col="event_id", ts_col="ts",
        gap_seconds=GAP_S,
    )
    sink = _run_stream_gate(spark, tmp, out, "stream_turn_features_sink")
    return sink.select(
        "user_id",
        "event_id",
        "role",
        "prior_role",
        F.col("session_id").cast("int").alias("session_id"),
    )


_SENTINEL_UID = 2_000_000_000


def _stream_disorder_files(spark: SparkSession, sf_dir: str) -> str:
    """4-file micro-batch layout with BOUNDED DISORDER: rows from the
    trailing D/2 window of batch 1 whose event_id % 3 == 0 arrive one batch
    LATE (still inside the operator's disorder bound D and the global
    watermark delay); two far-future sentinel batches advance the watermark
    so every buffered tail flushes through the event-time timeout. Pure
    gate scaffolding, content-stamped like _stream_batch_files."""
    import pandas as pd

    D_s = 2 * GAP_S

    def parts():
        pdf = (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_id", F.col("event_type").alias("role"), "ts")
            .orderBy("ts", "event_id")
            .toPandas()
        )
        n = len(pdf)
        t_cut = pdf["ts"].iloc[n // 2]
        first_half = pdf["ts"] <= t_cut
        in_window = first_half & (pdf["ts"] > t_cut - pd.Timedelta(seconds=D_s / 2))
        delayed = in_window & (pdf["event_id"] % 3 == 0)
        max_ts = pdf["ts"].max()

        def sentinel(j: int, off_s: float):
            return pd.DataFrame({
                "user_id": [_SENTINEL_UID],
                "event_id": [1_000_000_000 + j],
                "role": ["sentinel"],
                "ts": [max_ts + pd.Timedelta(seconds=off_s)],
            })

        # 3 batches: sentinel 1 rides WITH batch 2 (the watermark only
        # advances at batch end, so one trailing sentinel batch remains to
        # let the event-time timeouts fire with the advanced watermark)
        return [
            pdf[first_half & ~delayed],
            pd.concat([pdf[~first_half | delayed], sentinel(0, 2.5 * D_s)],
                      ignore_index=True),
            sentinel(1, 3.0 * D_s),
        ]

    tmp = os.path.join(
        "/tmp",
        f"spark_graft_stream_disorder_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "events.parquet"), "2", parts,
        {"coerce_timestamps": "us", "allow_truncated_timestamps": True},
    )


def q_stream_disorder_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 + out-of-order arrival in the DRIVER gate: the bounded-disorder
    sessionizer (max_disorder_s) fed a stream where a deterministic subset
    of rows arrives one micro-batch LATE (within the bound). The oracle is
    the IN-ORDER batch formulation over all events — i.e. the gate hashes
    the property that bounded disorder is fully absorbed: buffered rows are
    emitted in order with identical features, tails flushed by the
    watermark-driven timeout (sentinel batches advance the watermark and
    are filtered from the output)."""
    from funcify_feature_eng_spark.streaming.runner import (
        stateful_turn_features_stream,
    )

    tmp = _stream_disorder_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    D_s = 2 * GAP_S
    out = stateful_turn_features_stream(
        stream, entity_col="user_id", order_col="event_id", ts_col="ts",
        gap_seconds=GAP_S, state_ttl_s=8 * GAP_S, max_disorder_s=D_s,
    )
    sink = _run_stream_gate(spark, tmp, out, "stream_disorder_sink")
    return sink.filter(F.col("user_id") < _SENTINEL_UID).select(
        "user_id",
        F.col("event_id").cast("int").alias("event_id"),
        "role",
        "prior_role",
        F.col("session_id").cast("int").alias("session_id"),
    )


_STORE_CUT = "2024-01-16 00:00:00"
_STORE_T2 = "2024-01-31 00:00:00"


def q_store_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's defining semantic end-to-end in the gate: the
    Planned→Calculated→Tracked feature-store lifecycle
    (schema/tracking/TrackableValue.kt:17-41,147-193, read-through
    FeatureJsonValueStore.kt:11-18, publish FeatureJsonValuePublisher.kt:11-18,
    dispatch DefaultSingleRequestMaterializationDispatchService.kt:891-929).

    Pass 1: per-user requests at a cutoff time against an EMPTY store — every
    value is Planned, gets Calculated (events-so-far count), and is published
    (value_at_ts = request time). Pass 2: the same requests again PLUS a later
    request per user — every value must now come back as a Tracked
    read-through hit: the cutoff request by exact match, the later request by
    the point-in-time as-of rule (value valid-from cutoff served at t2, so
    ``value_at`` = cutoff ≠ ``req_ts`` is the as-of witness). The ``served``
    column is the engine's own branch tag; a read-through miss would flip it
    to 'computed' and (for t2) move ``value_at`` — either breaks the hash.
    """
    import atexit
    import shutil
    import tempfile

    from funcify_feature_eng_spark.store import FeatureStore

    store_dir = tempfile.mkdtemp(prefix="sgstore_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    store = FeatureStore(spark, os.path.join(store_dir, "fs"), entity_col="user_id")
    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()

    def compute(planned: DataFrame) -> DataFrame:
        # events-so-far at the request time, computed ONLY for store misses
        e = ev.select(F.col("user_id").alias("__u"), F.col("ts").alias("__ev_ts"),
                      "event_id")
        j = planned.join(
            e, (planned["user_id"] == e["__u"]) & (e["__ev_ts"] <= planned["ts"]), "left"
        )
        return j.groupBy(planned["user_id"], planned["ts"]).agg(
            F.count("event_id").cast("double").alias("events_so_far")
        )

    spine1 = users.select("user_id", F.lit(_STORE_CUT).cast("timestamp").alias("ts"))
    p1 = store.materialize_with_store(
        spine1, "events_so_far", compute, "events_so_far", ts_col="ts",
        tag_col="served",
    )  # publish happens eagerly here: Calculated → Tracked in the store
    spine2 = users.select(
        "user_id",
        F.explode(
            F.array(F.lit(_STORE_CUT).cast("timestamp"), F.lit(_STORE_T2).cast("timestamp"))
        ).alias("ts"),
    )
    p2 = store.materialize_with_store(
        spine2, "events_so_far", compute, "events_so_far", ts_col="ts",
        tag_col="served",
    )

    def shape(df: DataFrame, pass_no: int) -> DataFrame:
        return df.select(
            F.lit(pass_no).alias("pass_no"),
            "user_id",
            F.col("ts").alias("req_ts"),
            F.get_json_object("events_so_far", "$.v").cast("double").alias("events_so_far"),
            "served",
            F.col("events_so_far_at_ts").alias("value_at"),
        )

    return shape(p1, 1).unionByName(shape(p2, 2))


def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental NEAR-dup dedup (operators/dedup.py::
    incremental_minhash_dedup): two-batch chain (even doc_ids, then odd
    against the signature store) — each ingest shuffles O(batch) band
    keys; the store holds 8·64 bytes/doc, never text. Params must mirror
    scripts/make_fixtures.py::INC_MINHASH; oracle = the INDEPENDENT
    pure-Python twin fixture (incremental_minhash_kept)."""
    from funcify_feature_eng_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    k1, s1 = incremental_minhash_dedup(b1, None, "doc_id", "text")
    k2, _ = incremental_minhash_dedup(b2, s1, "doc_id", "text")
    kept = (
        k1.select("doc_id").unionByName(k2.select("doc_id"))
        .withColumn("kept", F.lit(True))
    )
    return docs.select("doc_id").join(kept, "doc_id", "left").select(
        "doc_id", F.coalesce("kept", F.lit(False)).alias("kept")
    )


def _events_roleaudit_stream_files(spark: SparkSession, sf_dir: str) -> str:
    """2-file micro-batch split of events: each user's FIRST half of turns
    (by ts, event_id) in batch 1, the rest in batch 2 — every multi-turn
    user has a role transition STRADDLING the batch boundary, so the
    stream gate provably exercises cross-batch state."""

    def parts():
        pdf = (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_id", "ts", "event_type")
            .orderBy("ts", "event_id")
            .toPandas()
        )
        rn = pdf.groupby("user_id").cumcount()
        half = pdf.groupby("user_id")["event_id"].transform("size") // 2
        return [pdf[rn < half], pdf[rn >= half]]

    tmp = os.path.join(
        "/tmp",
        f"spark_graft_roleaudit_stream_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "events.parquet"), "1", parts,
        {"coerce_timestamps": "us", "allow_truncated_timestamps": True},
    )


def q_stream_role_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming role-machine audit in the DRIVER gate (streaming/
    runner.py::stateful_role_audit_stream): per-user audit state crosses
    2 micro-batches split mid-conversation, final audit = each user's
    max-n_turns emission. The oracle is the SAME SQL twin as the batch
    role_sequence_audit gate — the hashed property is stream ≡ batch."""
    from funcify_feature_eng_spark.streaming.runner import (
        stateful_role_audit_stream,
    )

    tmp = _events_roleaudit_stream_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    out = stateful_role_audit_stream(
        stream, entity_col="user_id", order=("ts", "event_id"),
        role_col="event_type", allowed=_ROLE_MACHINE,
        allowed_start=("signup", "view"),
    )
    sink = _run_stream_gate(spark, tmp, out, "stream_roleaudit_sink")
    return (
        sink.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_turns", "n_violations", "first_violation_ord",
                         "is_valid"),
                "n_turns",
            ).alias("__s")
        )
        .select("user_id", "__s.n_turns", "__s.n_violations",
                "__s.first_violation_ord", "__s.is_valid")
    )


def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/checks.py; the Deequ
    shape, Schelter et al. VLDB 2018): 8 constraints over events
    evaluated in ONE aggregate pass, one integer-exact verdict row each.
    The oracle recomputes every metric in a single SQL scan."""
    from funcify_feature_eng_spark.operators.checks import (
        check_constraints, complete, isin, matches, max_at_most,
        min_at_least, row_count_between, unique,
    )

    ev = _t(spark, sf_dir, "events")
    return check_constraints(ev, [
        complete("event_type", 1.0),
        complete("props", 0.99),
        unique("event_id"),
        min_at_least("value", 0.0),
        max_at_most("value", 1000.0),
        matches("props", r'^\{"k": [0-9]+\}$', 0.95),
        isin("event_type",
             ["view", "click", "purchase", "signup", "error"], 1.0),
        row_count_between(1, 100_000_000),
    ])


def q_quality_checks_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (mergeable-state) data quality — Deequ §3.3's
    state-store analog (operators/checks.py::check_state/
    merge_check_states/check_verdicts): events ingested as THREE
    disjoint batches (event_id mod 3), each contributing a mergeable
    state frame (O(1) counters per constraint + an exact per-key
    frequency table for `unique`); the merged state yields the verdicts.
    Oracle = the whole-table one-pass SQL, so the hashed property is
    incremental ≡ batch. At 100 TB, re-verifying after each daily ingest
    costs one scan of the new batch plus a constraint-sized merge."""
    from funcify_feature_eng_spark.operators.checks import (
        check_state, check_verdicts, complete, isin, matches, max_at_most,
        merge_check_states, min_at_least, row_count_between, unique,
    )

    constraints = [
        complete("event_type", 1.0),
        complete("props", 0.99),
        unique("event_id"),
        min_at_least("value", 0.0),
        max_at_most("value", 1000.0),
        matches("props", r'^\{"k": [0-9]+\}$', 0.95),
        isin("event_type",
             ["view", "click", "purchase", "signup", "error"], 1.0),
        row_count_between(1, 100_000_000),
    ]
    ev = _t(spark, sf_dir, "events")
    states = [
        check_state(ev.filter(F.col("event_id") % 3 == r), constraints)
        for r in range(3)
    ]
    return check_verdicts(merge_check_states(*states), constraints)


def q_quality_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-history anomaly detection — Deequ §3.4 (operators/
    checks.py::detect_metric_anomalies): events ingested as FOUR batches
    (event_id mod 4), each contributing one verdict row per constraint
    to a metric ledger; the relative-rate-of-change strategy (5% cap,
    integer ppm) then compares every metric against its own series. The
    oracle recomputes the per-batch metrics and the lag comparison in
    SQL. The ledger is batches × constraints — at 100 TB the anomaly
    pass never re-touches data, only the ledger."""
    from funcify_feature_eng_spark.operators.checks import (
        check_state, check_verdicts, complete, detect_metric_anomalies,
        row_count_between, unique,
    )

    constraints = [
        complete("props", 0.99),
        unique("event_id"),
        row_count_between(1, 100_000_000),
    ]
    ev = _t(spark, sf_dir, "events")
    hist = None
    for b in range(4):
        v = (
            check_verdicts(
                check_state(ev.filter(F.col("event_id") % 4 == b), constraints),
                constraints,
            )
            .select(
                F.lit(b).cast("bigint").alias("batch_id"),
                "check_id", "kind", "column", "metric",
            )
        )
        hist = v if hist is None else hist.unionByName(v)
    return detect_metric_anomalies(hist, rel_max_change_ppm=50_000).select(
        "batch_id", "check_id", "kind", "column", "metric",
        "prev_metric", "change_ppm", "anomalous",
    )


def q_feature_parity_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed allclose parity diff (operators/diffing.py::
    frame_diff) — the engine's own acceptance criterion ("feature
    vectors match via numpy allclose at every entity × timestamp; text
    equality") as a Spark job. Expected = events projection; actual = a
    deterministic perturbation (rows dropped at event_id%101, value
    nudged +1.0 at %97 / +1e-6 at odd ids, event_type uppercased at
    %53); the summary counts one-sided rows, per-column mismatches at
    atol=1e-3, and MAX |diff| (order-independent — no float SUM). The
    oracle recomputes the identical full-outer-join summary in SQL."""
    from funcify_feature_eng_spark.operators.diffing import frame_diff

    ev = _t(spark, sf_dir, "events")
    exp = ev.select("event_id", "value", "event_type")
    act = ev.filter(F.col("event_id") % 101 != 0).select(
        "event_id",
        (
            F.col("value")
            + F.when(F.col("event_id") % 97 == 0, F.lit(1.0)).otherwise(
                F.lit(1e-6) * (F.col("event_id") % 2).cast("double")
            )
        ).alias("value"),
        F.when(
            F.col("event_id") % 53 == 0, F.upper("event_type")
        ).otherwise(F.col("event_type")).alias("event_type"),
    )
    return frame_diff(exp, act, keys=["event_id"], atol=1e-3)


def q_constraint_suggestions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion from a one-pass profile (operators/
    checks.py::suggest_constraints; Deequ §4): every events column gets
    a complete() suggestion at its observed ppm floor; unique() where
    distinct == non-NULL; isin() for low-cardinality strings with the
    sorted compact-JSON value set; numeric min/max bounds. The oracle
    recomputes the profile and every conditional suggestion arm in SQL,
    so which suggestions exist — not just their values — is hashed."""
    from funcify_feature_eng_spark.operators.checks import suggest_constraints

    return suggest_constraints(_t(spark, sf_dir, "events"), low_card_max=10)


def q_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality monitoring in the DRIVER gate
    (streaming/runner.py::quality_monitor_stream): the 2-micro-batch
    events stream runs check_state per batch via foreachBatch, appending
    each mergeable state to a parquet ledger; the merged ledger's
    verdicts are returned. The oracle computes the same verdicts from
    the WHOLE table in SQL — the hashed property is stream ≡ batch:
    per-batch states merged across the boundary equal one-pass verdicts.
    Executor state never grows (the ledger is the only cross-batch
    state), which is the 100 TB-safe posture."""
    import shutil

    from funcify_feature_eng_spark.operators.checks import (
        check_verdicts, complete, isin, merge_check_states,
        row_count_between, unique,
    )
    from funcify_feature_eng_spark.streaming.runner import (
        quality_monitor_stream,
    )

    constraints = [
        complete("role", 1.0),
        complete("user_id", 1.0),
        unique("event_id"),
        isin("role", ["view", "click", "purchase", "signup", "error"], 1.0),
        row_count_between(1, 100_000_000),
    ]
    tmp = _stream_batch_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    _STREAM_GATE_SEQ[0] += 1
    base = f"{tmp}_quality_{_STREAM_GATE_SEQ[0]}"
    ledger, ckpt = base + "_ledger", base + "_ckpt"
    shutil.rmtree(ledger, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    _run_stream_gate(spark, tmp, lambda: quality_monitor_stream(
        stream, constraints, ledger_dir=ledger, checkpoint_dir=ckpt
    ))
    states = spark.read.parquet(ledger).drop("batch_id")
    return check_verdicts(merge_check_states(states), constraints)


def _rater_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic raters over events: rater a = event_type, rater
    b = the same label except every 7th event_id is relabeled 'error' —
    the replicable disagreement pattern both agreement gates share."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        (F.col("user_id") % 4).alias("cohort"),
        F.col("event_type").alias("a"),
        F.when(F.col("event_id") % 7 == 0, F.lit("error"))
        .otherwise(F.col("event_type")).alias("b"),
    )


def q_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per cohort (operators/agreement.py::cohen_kappa):
    chance-corrected inter-rater agreement as exact integer ppm —
    κ·1e6 = floor(1e6·(n·agree − Σ marg_a·marg_b)/(n² − Σ)) in DECIMAL.
    The oracle recomputes the identity in HUGEINT with an explicit
    floor-division fixup (DuckDB's // truncates toward zero). The label
    marginals shuffle group×label rows only — never data-sized."""
    from funcify_feature_eng_spark.operators.agreement import cohen_kappa

    return cohen_kappa(
        _rater_frame(spark, sf_dir), rater_a="a", rater_b="b",
        group_by=["cohort"],
    )


def q_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix (operators/agreement.py::confusion_matrix): exact
    (expected, predicted) pair counts with integer-floor millionths
    shares; NULL-bearing pairs excluded. One groupBy plus a broadcast
    totals join."""
    from funcify_feature_eng_spark.operators.agreement import (
        confusion_matrix,
    )

    return confusion_matrix(
        _rater_frame(spark, sf_dir).drop("cohort"),
        expected="a", predicted="b",
    )


def q_ranking_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro-averaged retrieval verdict (operators/retrieval.py::
    ranking_summary) over the ranking_eval per-query frame: exact
    floor-ppm means per metric, NULL-metric queries excluded from their
    own mean only — the headline "mean NDCG@10" as one reproducible
    integer."""
    from funcify_feature_eng_spark.operators.retrieval import ranking_summary

    return ranking_summary(q_ranking_eval(spark, sf_dir))


def q_stream_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous calibration monitoring (streaming/runner.py::
    calibration_monitor_stream): the 2-micro-batch events stream scores
    itself with the deterministic knuth fixture per batch, appends each
    mergeable per-bin state (three integer sums) to the parquet ledger,
    and the merged ledger projects to reliability bins. The oracle is
    the whole-table calibration_bins SQL — the hashed property is
    stream ≡ batch. Executor state never grows; the ledger IS the
    state."""
    import shutil

    from funcify_feature_eng_spark.operators.calibration import (
        merge_calibration_states, reliability_from_state,
    )
    from funcify_feature_eng_spark.operators.sampling import knuth_key
    from funcify_feature_eng_spark.streaming.runner import (
        calibration_monitor_stream,
    )

    tmp = _stream_batch_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    y = (F.col("event_id") % 3 == 0).cast("int")
    scored = stream.filter(F.col("event_id").isNotNull()).select(
        (F.pmod(knuth_key("event_id"), F.lit(600_000))
         + y.cast("long") * F.lit(400_000)).cast("long").alias("score_e6"),
        y.alias("y"),
    )
    _STREAM_GATE_SEQ[0] += 1
    base = f"{tmp}_calib_{_STREAM_GATE_SEQ[0]}"
    ledger, ckpt = base + "_ledger", base + "_ckpt"
    shutil.rmtree(ledger, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    _run_stream_gate(spark, tmp, lambda: calibration_monitor_stream(
        scored, ledger, score_e6="score_e6", label="y", checkpoint_dir=ckpt,
    ))
    states = spark.read.parquet(ledger).drop("batch_id")
    return reliability_from_state(merge_calibration_states(states))


def _bootstrap_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-replicate Poisson-bootstrap means of the purchase rate (the
    shared frame behind both bootstrap gates): metric x = purchase
    indicator, 16 replicates, hash=False knuth keys so the DuckDB twin
    reproduces every weight exactly."""
    from funcify_feature_eng_spark.operators.metrics import poisson_bootstrap

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    frame = ev.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    return poisson_bootstrap(
        frame, value="x", id_col="event_id", n_replicates=16, hash=False
    )


def q_bootstrap_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson bootstrap (operators/metrics.py::
    poisson_bootstrap, Owen & Eckles 2012): per-replicate deterministic
    Poisson(1) weights from plan-time CDF thresholds on the u32 grid
    (no transcendental in either plan), exact floor-ppm weighted means.
    The 100 TB CI method — resampling is a map-side expression, the
    shuffle carries B rows per partition."""
    return _bootstrap_reps(spark, sf_dir)


def q_bootstrap_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based percentile-bootstrap interval (operators/metrics.py::
    bootstrap_ci) over the 16 replicate means: exact integer ranks
    (floor/ceil via DIV), no interpolation — the uncertainty verdict on
    the corpus purchase rate."""
    from funcify_feature_eng_spark.operators.metrics import bootstrap_ci

    return bootstrap_ci(_bootstrap_reps(spark, sf_dir))


def q_label_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature-value label purity (operators/metrics.py::label_gini):
    exact floor-ppm Gini impurity + majority share per event_type,
    against the deterministic every-3rd-event label — the rational
    (log-free) split-quality screen pairing with chi2_label_assoc.
    Two label-alphabet-sized aggregates, map-side combined."""
    from funcify_feature_eng_spark.operators.metrics import label_gini

    ev = _t(spark, sf_dir, "events")
    return label_gini(
        ev.select(
            "event_type",
            (F.col("event_id") % 3 == 0).cast("int").alias("y"),
        ),
        feature="event_type", label="y",
    )


def q_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval (operators/retrieval.py::ranking_metrics):
    per-query MRR / precision@10 / recall@10 / NDCG@10 as exact integer
    ppm. Four synthetic queries partition documents by doc_id mod 4;
    each query's ranking is the knuth-key order (top 15 retrieved),
    relevance is graded 2/1 on doc_id mod 9 / mod 3. DCG uses the
    plan-time integer weight grid floor(1e9/log2(r+1)) — embedded as
    literals in BOTH engines, so no libm call enters either plan."""
    from funcify_feature_eng_spark.operators.retrieval import ranking_metrics
    from funcify_feature_eng_spark.operators.sampling import knuth_key

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).alias("query_id"), "doc_id"
    )
    w = Window.partitionBy("query_id").orderBy(
        knuth_key("doc_id"), F.col("doc_id")
    )
    results = docs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 15
    )
    labels = docs.select(
        "query_id", "doc_id",
        F.when(F.col("doc_id") % 9 == 0, 2)
        .when(F.col("doc_id") % 3 == 0, 1).otherwise(0).alias("rel"),
    ).filter(F.col("rel") > 0)
    return ranking_metrics(results, labels, k=10)


def _calibration_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic scored-classifier fixture over events: label fires on
    every 3rd event_id; the integer-ppm score is the knuth key mod 6e5,
    shifted +4e5 for positives — overlapping score ranges so bins 4/5
    carry mixed labels (non-trivial calibration gaps)."""
    from funcify_feature_eng_spark.operators.sampling import knuth_key

    ev = _t(spark, sf_dir, "events")
    y = (F.col("event_id") % 3 == 0).cast("int")
    s = (
        F.pmod(knuth_key("event_id"), F.lit(600_000))
        + y.cast("long") * F.lit(400_000)
    ).cast("long")
    return ev.select(
        (F.col("user_id") % 4).alias("cohort"),
        s.alias("score_e6"),
        y.alias("y"),
    )


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table (operators/calibration.py::
    reliability_bins): per score decile, exact integer-ppm accuracy /
    mean confidence / |acc−conf| gap — scores enter as fixed-point
    millionths so no float crosses an aggregation boundary. One groupBy
    onto <=10 rows, map-side combined."""
    from funcify_feature_eng_spark.operators.calibration import (
        reliability_bins,
    )

    return reliability_bins(
        _calibration_frame(spark, sf_dir), score_e6="score_e6", label="y",
        n_bins=10,
    )


def q_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort calibration verdict (operators/calibration.py::
    calibration_summary): ECE·1e6 = floor(Σ_b |1e6·pos_b − ssum_b| / N)
    — the exact bin-mass-weighted |accuracy − confidence| — plus the
    max-gap MCE, all integer arithmetic in DECIMAL."""
    from funcify_feature_eng_spark.operators.calibration import (
        calibration_summary,
    )

    return calibration_summary(
        _calibration_frame(spark, sf_dir), score_e6="score_e6", label="y",
        n_bins=10, group_by=["cohort"],
    )


def q_fleiss_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa per cohort (operators/agreement.py::fleiss_kappa):
    chance-corrected agreement among THREE deterministic raters per
    event (rater 1 = event_type; raters 2/3 relabel every 7th / 11th
    event_id 'error'), computed as the exact integer identity
    κ·1e6 = floor(1e6·(T(A−T) − S(n−1)) / ((n−1)(T²−S))) in DECIMAL.
    The oracle replays the identity in HUGEINT with the floor fixup for
    DuckDB's truncating //. All shuffles are item- or label-sized."""
    from funcify_feature_eng_spark.operators.agreement import fleiss_kappa

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    r1 = F.col("event_type")
    r2 = F.when(F.col("event_id") % 7 == 0, F.lit("error")).otherwise(r1)
    r3 = F.when(F.col("event_id") % 11 == 0, F.lit("error")).otherwise(r1)
    tall = ev.select(
        (F.col("user_id") % 4).alias("cohort"),
        F.col("event_id").alias("item"),
        F.explode(F.array(r1, r2, r3)).alias("cat"),
    )
    return fleiss_kappa(
        tall, item="item", category="cat", n_raters=3, group_by=["cohort"]
    )


def q_chi2_label_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact chi-square association (operators/agreement.py::
    chi2_association) between event_type and a derived user cohort:
    χ²·1e6 floored per contingency cell via exact integer floor-division
    (plus the closed-form missing mass for zero-observed cells). The
    oracle replays the identical HUGEINT identity; all arithmetic is
    positive so DuckDB's truncating // IS floor here."""
    from funcify_feature_eng_spark.operators.agreement import (
        chi2_association,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("a"),
        (F.col("user_id") % 3).cast("string").alias("b"),
    )
    return chi2_association(ev, col_a="a", col_b="b")


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity checks (operators/checks.py::
    referential_integrity; the dbt `relationships` test): three FK
    relations verified by distinct-key anti-joins — the two TPC-H
    relations hold by construction, events.user_id -> customer.c_custkey
    is deliberately violated (user ids start at 0, customer keys at 1).
    The oracle recomputes each count with NOT EXISTS."""
    from funcify_feature_eng_spark.operators.checks import (
        referential_integrity,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")
    a = referential_integrity(
        orders, customer, on=[("o_custkey", "c_custkey")],
        relation="orders->customer",
    )
    b = referential_integrity(
        lineitem, orders, on=[("l_orderkey", "o_orderkey")],
        relation="lineitem->orders",
    )
    c = referential_integrity(
        events, customer, on=[("user_id", "c_custkey")],
        relation="events->customer",
    )
    return a.unionByName(b).unionByName(c)


def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas merge_asof direction='nearest' parity (operators/asof.py):
    the closer of the prior/next purchase per event, ties to the PRIOR —
    composed from the two directional passes with a pure Column combine
    (zero extra shuffles). Right side deduped per (user, instant) first
    so both engines face one candidate per instant."""
    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "nearest_purchase_value"},
        direction="nearest",
    )
    return out.select("event_id", "user_id", "nearest_purchase_value")


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD-2 CDC merge (operators/intervals.py::
    scd2_apply_changes): build the epoch table from the first half of the
    change log (ts midpoint split), then APPLY the second half as a CDC
    batch — closed history untouched, only affected open epochs rebuild.
    The oracle is the WHOLE-log build in pure SQL: the hashed property is
    incremental ≡ rebuild-from-scratch."""
    from funcify_feature_eng_spark.operators.intervals import (
        scd2_apply_changes,
        scd2_from_changes,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    b = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    mid = b["lo"] + (b["hi"] - b["lo"]) / 2
    cur = scd2_from_changes(
        ev.where(F.col("ts") < F.lit(mid)),
        on="user_id", ts="ts", state_cols=["event_type"],
    )
    out = scd2_apply_changes(
        cur, ev.where(F.col("ts") >= F.lit(mid)),
        on="user_id", ts="ts", state_cols=["event_type"],
    )
    return out.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from").cast("timestamp")).alias("from_us"),
        F.unix_micros(F.col("valid_to").cast("timestamp")).alias("to_us"),
    )


def q_events_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source (sources/tables.py::read_jsonl): events
    serialized to content-stamped JSONL, re-read with a DECLARED schema
    (never inferSchema — no second corpus pass, no type drift), predicate
    + projection pushed like read_table. The oracle reads the SAME rows
    from the parquet twin."""
    import pandas as pd  # noqa: F401 (toPandas)

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from funcify_feature_eng_spark.sources.tables import read_jsonl

    src = os.path.join(sf_dir, "events.parquet")
    tmp = os.path.join(
        "/tmp", f"spark_graft_jsonl_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    stamp_val = _content_stamp(src, "1")
    stamp_fp = os.path.join(tmp, "_stamp")
    if not (os.path.exists(stamp_fp) and open(stamp_fp).read() == stamp_val):
        os.makedirs(tmp, exist_ok=True)
        pdf = (
            _t(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value", "props")
            .orderBy("event_id")
            .toPandas()
        )
        pdf.to_json(os.path.join(tmp, "events.jsonl"), orient="records",
                    lines=True, double_precision=10)
        with open(stamp_fp, "w") as f:
            f.write(stamp_val)
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    return read_jsonl(
        spark, os.path.join(tmp, "events.jsonl"), schema,
        columns=["event_id", "user_id", "value", "props"],
        predicate=F.col("event_type") == "purchase",
    )


def q_sdl_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-first front door (plans/sdl.py — the reference's SDL
    composition direction, schema/FeatureEngineeringModel.kt:24-52): the
    events model declared as GraphQL SDL TEXT, double round-tripped
    (from_sdl ∘ to_sdl ∘ from_sdl) before materializing, so the gate
    pins that the SDL rendering loses nothing. Oracle = the SAME SQL
    twin as turn_features."""
    from funcify_feature_eng_spark.plans.sdl import from_sdl, to_sdl

    sdl = f'''
type Events @entity(key: "user_id", order: ["ts", "event_id"], eventTime: "ts") {{
    prior_event_type: String @window(op: "lag", col: "event_type")
    gap_secs: Float @window(op: "gap")
    session_id: Int @window(op: "session", gap_threshold_s: {float(GAP_S)!r})
    event_seq: Int @window(op: "row_number")
    gap_nonneg: Float @transformer(name: "negative_to_null", args: ["gap_secs"])
}}
'''
    model = from_sdl(to_sdl(from_sdl(sdl)))
    ev = _t(spark, sf_dir, "events")
    return model.materialize(
        ev,
        ["event_id", "user_id", "event_type", "prior_event_type",
         "gap_secs", "session_id", "event_seq", "gap_nonneg"],
    )


def q_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template geometry (operators/transcript_qa.py::
    render_offsets/render_text): per-turn content offsets inside the
    rendered ``<|role|>content\\n`` conversation + the conversation's
    rendered length — the loss-mask arithmetic, one window exchange.
    Offset-into-text consistency is pytest-pinned; the oracle recomputes
    the offsets with pure SQL window sums."""
    from funcify_feature_eng_spark.operators.transcript_qa import (
        render_offsets,
        render_text,
    )

    ev = _t(spark, sf_dir, "events")
    kw = dict(entity_col="user_id", order=("ts", "event_id"),
              role_col="event_type", text_col="props")
    offs = render_offsets(ev, trainable_roles=("purchase", "signup"), **kw)
    txt = render_text(ev, **kw).select("user_id", "conv_chars")
    return offs.select(
        "user_id", "event_id", "start_off", "end_off", "trainable"
    ).join(txt, "user_id")


def q_doc_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility quality signal (functions/text.py::
    compression_stats): one Arrow-batched map pass, exact integer ppm.
    Oracle = fixture from the INDEPENDENT pure-Python zlib twin
    (scripts/make_fixtures.py::doc_compression)."""
    from funcify_feature_eng_spark.functions.text import compression_stats

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", compression_stats(F.col("text")).alias("__c")
    ).select(
        "doc_id",
        F.col("__c.n_bytes").alias("n_bytes"),
        F.col("__c.zlib_bytes").alias("zlib_bytes"),
        F.col("__c.compression_ppm").alias("compression_ppm"),
    )


def q_request_graphql_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional GraphQL document: spec 5.7.3 @skip/@include evaluated
    at lowering (plans/graphql.py::_prune_directives) — a defaulted
    $debug variable drops the gapSecs branch and keeps priorEventType,
    a literal @include keeps the fragment spread, and the session
    threshold arrives through a required variable. The oracle computes
    exactly the INCLUDED columns."""
    from funcify_feature_eng_spark.plans.graphql import materialize_graphql

    src = """
    query Cond($debug: Boolean = false, $gap: Float!) {
        features {
            userFeatures {
                eventId
                seq: eventSeq
                prior: priorEventType @skip(if: $debug)
                dbg: gapSecs @include(if: $debug)
                ...S @include(if: true)
            }
        }
    }
    fragment S on User {
        sess: sessionId(gap_threshold_s: $gap)
    }
    """
    ev = _t(spark, sf_dir, "events")
    return materialize_graphql(_events_model(), ev, src, variables={"gap": 900.0})


_ROLE_MACHINE = [
    ("signup", "view"), ("view", "view"), ("view", "click"),
    ("click", "view"), ("click", "purchase"), ("click", "error"),
    ("purchase", "view"), ("error", "view"),
]


def q_role_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-structure validation (operators/transcript_qa.py::
    role_sequence_audit): each user's event-type sequence checked against
    a declared role machine — one window pass (lag + row_number share the
    sort) and one map-side-combined aggregate per entity. The transcript
    analog: a `tool` turn must follow an assistant tool call; here the
    machine is an 8-edge event grammar with signup/view openers."""
    from funcify_feature_eng_spark.operators.transcript_qa import (
        role_sequence_audit,
    )

    ev = _t(spark, sf_dir, "events")
    return role_sequence_audit(
        ev, entity_col="user_id", order=("ts", "event_id"),
        role_col="event_type", allowed=_ROLE_MACHINE,
        allowed_start=("signup", "view"),
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Markov transition matrix (operators/transcript_qa.py::
    state_transitions) over per-user event-type sequences — the
    statistical twin of role_sequence_audit (measure the machine before
    declaring it). Exact counts + floor-ppm row-normalized
    probabilities; one window exchange + alphabet²-sized aggregates."""
    from funcify_feature_eng_spark.operators.transcript_qa import (
        state_transitions,
    )

    ev = _t(spark, sf_dir, "events")
    return state_transitions(
        ev, entity_col="user_id", order=("ts", "event_id"),
        state_col="event_type",
    )


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-conversation exact dedup (operators/transcript_qa.py::
    conversation_dedup): the unit of duplication is the ORDERED payload
    sequence. Gate input = each user's first 3 events (5^3 possible
    journeys over 150 users guarantees real dup groups); hashed=False so
    the DuckDB twin reproduces the grouping with string_agg ORDER BY.
    Production hashed=True shuffles 8-byte turn hashes (hashed==plain is
    pytest-pinned, tests/test_transcript_qa.py)."""
    from funcify_feature_eng_spark.operators.transcript_qa import (
        conversation_dedup,
    )

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    head3 = ev.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= 3)
    return conversation_dedup(
        head3, entity_col="user_id", order=("__rn",),
        payload_cols=("event_type",), hashed=False,
    )


def q_conv_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation (operators/transcript_qa.py::
    truncate_to_budget): keep the longest SUFFIX of each user's events
    whose cumulative cost (props byte length) fits budget 25 — the SFT
    keep-the-most-recent-turns rule. One ROWS-framed window exchange, no
    join; pin_first (system-prompt reservation) is pytest-pinned."""
    from funcify_feature_eng_spark.operators.transcript_qa import (
        truncate_to_budget,
    )

    ev = _t(spark, sf_dir, "events").withColumn("cost", F.length("props"))
    out = truncate_to_budget(
        ev, entity_col="user_id", order=("ts", "event_id"),
        cost="cost", budget=25,
    )
    return out.where(F.col("kept")).select("user_id", "event_id", "cost")


def q_boilerplate_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-turn detection (operators/transcript_qa.py::
    boilerplate_stats): payloads appearing in >= half the DISTINCT
    entities (whitespace-normalized; 75 at the sf0.01 gate scale) — the
    distinct-entity threshold separates cross-conversation boilerplate
    from one conversation's retry loop. Exact two-level aggregate with
    map-side combine; the threshold derives from one bounded count so
    the gate stays non-degenerate at every sf."""
    from funcify_feature_eng_spark.operators.transcript_qa import (
        boilerplate_stats,
    )

    ev = _t(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    return boilerplate_stats(
        ev, entity_col="user_id", text_col="props",
        min_entities=max(2, n_users // 2),
    )


def _bf_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )


def _bf_compute(df: DataFrame, keys) -> DataFrame:
    from funcify_feature_eng_spark.operators.windows import rolling_time_agg

    return rolling_time_agg(
        df, keys=keys, ts_col="ts", value_col="v_e6", window_s=3600, out_prefix="h1"
    )


def q_bounded_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-range backfill as ONE distributed job (operators/
    backfill.py::bounded_backfill, the north rule's named backfill
    capability): trailing-1h features recomputed independently per
    30-minute bucket with a 1h lookback margin (3 replicas/row via
    explode(sequence), bucket id appended to the window keys), own rows
    kept. The oracle computes the ONE-SHOT whole-range window — a value
    hash match proves bounded-lookback partitioned recomputation is
    exact, including frames crossing bucket boundaries."""
    from funcify_feature_eng_spark.operators.backfill import bounded_backfill

    ev = _bf_events(spark, sf_dir)
    out = bounded_backfill(
        ev, _bf_compute, ts_col="ts", keys=["user_id"], bucket_s=1800, lookback_s=3600
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("h1_cnt").alias("n_prev_1h"),
        F.col("h1_sum").alias("sum_prev_1h_e6"),
    )


def q_backfill_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational backfill orchestrator (operators/backfill.py::
    backfill_partitions): one idempotent Spark job per time bucket, each
    reading only its bucket + lookback margin (range predicate pushed to
    the scan) and dynamic-partition-overwriting its own output. The gate
    runs it in TWO legs — first half of the range, then the full range
    with resume=True (the crash-restart path: already-written buckets are
    skipped, so the second leg computes only the tail) — reads the
    assembled partitions back and must hash-equal the one-shot window."""
    import atexit
    import shutil
    import tempfile

    from funcify_feature_eng_spark.operators.backfill import (
        backfill_partitions,
        read_backfill,
    )

    from funcify_feature_eng_spark.operators.windows import epoch_seconds

    ev = _bf_events(spark, sf_dir)
    # the CANONICAL epoch-seconds key (windows.epoch_seconds): bucket
    # ranges here must line up exactly with backfill_partitions' internal
    # bucketing, so a hand-inlined twin expression would silently diverge
    # if the canonical one ever changes
    es = epoch_seconds("ts")
    lo, hi = ev.agg(F.min(es), F.max(es)).first()
    lo, hi = int(lo), int(hi)
    bucket_s = max(1, (hi - lo) // 4 + 1)  # ~5 buckets at any sf
    tmp = tempfile.mkdtemp(prefix="bf_run_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    out_path = os.path.join(tmp, "out")
    common = dict(
        ts_col="ts",
        keys=["user_id"],
        bucket_s=bucket_s,
        lookback_s=3600,
        out_path=out_path,
    )
    mid = lo + (hi + 1 - lo) // 2
    s1 = backfill_partitions(ev, _bf_compute, start_s=lo, end_s=mid, **common)
    s2 = backfill_partitions(
        ev, _bf_compute, start_s=lo, end_s=hi + 1, resume=True, **common
    )
    # resume contract: leg 2 must skip every bucket leg 1 wrote
    if s2["skipped"] != s1["computed"]:
        raise AssertionError(f"backfill resume mismatch: {s1} then {s2}")
    return read_backfill(spark, out_path).select(
        "event_id",
        "user_id",
        F.col("h1_cnt").alias("n_prev_1h"),
        F.col("h1_sum").alias("sum_prev_1h_e6"),
    )


def q_store_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal feature-store read (store.py::read_through
    knowledge_time + publish calculated_at): the same (entity, event-time)
    point read at three KNOWLEDGE instants. v1 (events-so-far at the
    cutoff) is published with knowledge stamp K1; a corrected v1+1000 for
    the SAME value_at_ts is published at K2. A reader before K1 sees
    Planned (NULL), between K1 and K2 sees v1, after K2 sees the
    correction — "what did the store believe at K", the reproducibility
    axis (re-running yesterday's job must not see today's corrections;
    reference dual stamps: TrackableValue.kt:109-193). The oracle
    recomputes all three knowledge levels from events directly."""
    import atexit
    import shutil
    import tempfile

    from funcify_feature_eng_spark.store import FeatureStore

    store_dir = tempfile.mkdtemp(prefix="sgbitemp_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    store = FeatureStore(spark, os.path.join(store_dir, "fs"), entity_col="user_id")
    ev = _t(spark, sf_dir, "events")
    cut = F.lit(_STORE_CUT).cast("timestamp")
    base = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") <= cut, 1)).cast("double").alias("v")
    )
    k1, k2 = "2025-01-01 00:00:00", "2025-02-01 00:00:00"
    store.publish(
        base.withColumn("ts", cut), "events_so_far", "v", ts_col="ts",
        calculated_at=k1,
    )
    store.publish(
        base.withColumn("v", F.col("v") + F.lit(1000.0)).withColumn("ts", cut),
        "events_so_far", "v", ts_col="ts", calculated_at=k2,
    )
    spine = base.select("user_id", F.lit(_STORE_T2).cast("timestamp").alias("ts"))

    def at(label: str, know: str) -> DataFrame:
        r = store.read_through(
            spine, "events_so_far", "val", ts_col="ts", knowledge_time=know
        )
        return r.select(
            F.lit(label).alias("knowledge"),
            "user_id",
            F.get_json_object("val", "$.v").cast("double").alias("value"),
        )

    return (
        at("k0", "2024-12-01 00:00:00")
        .unionByName(at("k1", "2025-01-15 00:00:00"))
        .unionByName(at("k2", "2025-03-01 00:00:00"))
    )


def q_entity_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-complete backfill (operators/backfill.py::entity_backfill):
    recompute UNBOUNDED-lookback per-entity features (running seq +
    cumulative sum — the shape bounded_backfill's fixed time margin
    cannot serve) for every user touched by the middle third of the time
    range. The oracle computes the same one-shot windows restricted to
    touched users — equality proves the semi-join slice hands compute
    complete per-entity history."""
    from funcify_feature_eng_spark.operators.backfill import entity_backfill
    from funcify_feature_eng_spark.operators.windows import epoch_seconds

    ev = _bf_events(spark, sf_dir)
    lo, hi = ev.agg(
        F.min(epoch_seconds("ts")), F.max(epoch_seconds("ts"))
    ).first()
    lo, hi = int(lo), int(hi)
    third = (hi - lo) // 3
    start_s, end_s = lo + third, lo + 2 * third

    def compute(d: DataFrame, keys) -> DataFrame:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__es").asc(), F.col("event_id").asc())
        )
        return (
            d.withColumn("__es", epoch_seconds("ts"))
            .withColumn("seq", F.row_number().over(w))
            .withColumn(
                "cum_e6",
                F.sum("v_e6").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .drop("__es")
        )

    out = entity_backfill(
        ev, compute, ts_col="ts", keys=["user_id"], start_s=start_s, end_s=end_s
    )
    return out.select("event_id", "user_id", "seq", "cum_e6")


def q_store_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store retention (store.py::expire): three published vintages per
    user (value_at = T0 < T1 < cutoff < T2); expire(cutoff,
    keep_latest=True) must drop ONLY the T0 row — T1 survives as each
    identity's latest at-or-before-cutoff record (the row every as-of
    read at request time >= cutoff resolves to), T2 is inside the
    retained horizon. The oracle recomputes the expected post-expire
    store contents from events alone."""
    import atexit
    import shutil
    import tempfile

    from funcify_feature_eng_spark.store import FeatureStore

    store_dir = tempfile.mkdtemp(prefix="sgretain_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    store = FeatureStore(spark, os.path.join(store_dir, "fs"), entity_col="user_id")
    ev = _t(spark, sf_dir, "events")
    t0 = "2024-01-08 00:00:00"
    cut = F.lit(t0).cast("timestamp")
    base = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") <= cut, 1)).cast("double").alias("v")
    )
    vintages = [(t0, 0.0), (_STORE_CUT, 1000.0), (_STORE_T2, 2000.0)]
    for at_ts, bump in vintages:
        store.publish(
            base.withColumn("v", F.col("v") + F.lit(bump))
            .withColumn("ts", F.lit(at_ts).cast("timestamp")),
            "events_so_far", "v", ts_col="ts",
            calculated_at="2025-01-01 00:00:00",
        )
    stats = store.expire("2024-01-20 00:00:00", keep_latest=True)
    if (stats["rows_before"], stats["rows_after"]) != (
        3 * base.count(), 2 * base.count()
    ):
        raise AssertionError(f"unexpected expire counts: {stats}")
    # raw store schema keeps the canonical entity column name (conv_id)
    return store.read("events_so_far").select(
        F.col("conv_id").alias("user_id"),
        F.get_json_object("value", "$.v").cast("double").alias("value"),
        F.date_format("value_at_ts", "yyyy-MM-dd HH:mm:ss").alias("value_at"),
    )


def _events_value_stream_files(spark: SparkSession, sf_dir: str) -> str:
    """2-file micro-batch split of events (value column included): each
    user's FIRST half of rows by (ts, event_id) in batch 0, the ordered
    tail in batch 1 — every multi-row user's store state must cross the
    batch boundary."""

    def parts():
        pdf = (
            _t(spark, sf_dir, "events")
            .select("user_id", "event_id", "ts", "value")
            .orderBy("ts", "event_id")
            .toPandas()
        )
        rn = pdf.groupby("user_id").cumcount()
        half = pdf.groupby("user_id")["event_id"].transform("size") // 2
        return [pdf[rn < half], pdf[rn >= half]]

    tmp = os.path.join(
        "/tmp",
        f"spark_graft_valuepub_stream_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "events.parquet"), "1", parts,
        {"coerce_timestamps": "us", "allow_truncated_timestamps": True},
    )


def q_stream_store_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online feature materialization in the DRIVER gate (streaming/
    runner.py::store_publish_stream): two micro-batches each publish
    their per-user latest-event value into the point-in-time store with
    DETERMINISTIC knowledge stamps (batch 0 → K1, batch 1 → K2); the
    post-stream read_through must resolve every user to the GLOBAL
    latest event — batch 1's candidate beats batch 0's on value_at_ts
    (or, at a tied instant, on calculated_ts), so the hashed property is
    exactly 'streaming ingestion + as-of read ≡ one-shot latest-per-user'
    (oracle: global argmax by (ts, event_id))."""
    import atexit
    import shutil
    import tempfile

    from funcify_feature_eng_spark.store import FeatureStore
    from funcify_feature_eng_spark.streaming.runner import store_publish_stream

    files = _events_value_stream_files(spark, sf_dir)
    stream = _stream_source(spark, files)
    store_dir = tempfile.mkdtemp(prefix="sgstreampub_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    store = FeatureStore(spark, os.path.join(store_dir, "fs"), entity_col="user_id")

    def compute(b: DataFrame) -> DataFrame:
        return (
            b.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("ts"),
                        F.floor(F.col("value") * F.lit(1000000.0))
                        .cast("long")
                        .alias("v"),
                    ),
                    F.struct("ts", "event_id"),
                ).alias("r")
            )
            .select("user_id", F.col("r.ts").alias("ts"), F.col("r.v").alias("lv"))
        )

    q = store_publish_stream(
        stream, store, "latest_value", compute, "lv", ts_col="ts",
        calculated_at=lambda b: f"2025-01-0{b + 1} 00:00:00",
    )
    q.awaitTermination()
    spine = (
        spark.read.parquet(files)
        .select("user_id")
        .distinct()
        .withColumn("ts", F.lit("2030-01-01 00:00:00").cast("timestamp"))
    )
    out = store.read_through(spine, "latest_value", "val", ts_col="ts")
    return out.select(
        "user_id",
        F.get_json_object("val", "$.v").cast("long").alias("latest_v_e6"),
    )


def q_store_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store freshness monitoring (store.py::freshness): two
    features published at deterministic stamps — 'fast' with a recent
    vintage, 'stale' whose last publish predates it; the report row per
    feature (value count, distinct entities, latest event-time coverage,
    latest knowledge stamp) is what an alerting rule reads. The pinned
    knowledge_time variant must hide the later publish entirely."""
    import atexit
    import shutil
    import tempfile

    from funcify_feature_eng_spark.store import FeatureStore

    store_dir = tempfile.mkdtemp(prefix="sgfresh_")
    atexit.register(shutil.rmtree, store_dir, ignore_errors=True)
    store = FeatureStore(spark, os.path.join(store_dir, "fs"), entity_col="user_id")
    ev = _t(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("double").alias("v"))
    pubs = [
        ("fast", _STORE_CUT, "2025-01-01 00:00:00"),
        ("fast", _STORE_T2, "2025-02-01 00:00:00"),
        ("stale", _STORE_CUT, "2025-01-01 00:00:00"),
    ]
    for fid, at_ts, know in pubs:
        store.publish(
            base.withColumn("ts", F.lit(at_ts).cast("timestamp")),
            fid, "v", ts_col="ts", calculated_at=know,
        )
    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731

    def shape(df: DataFrame, label: str) -> DataFrame:
        return df.select(
            F.lit(label).alias("report"),
            "feature_id",
            F.col("n_values").cast("long").alias("n_values"),
            F.col("n_entities").cast("long").alias("n_entities"),
            fmt("latest_value_at").alias("latest_value_at"),
            fmt("latest_calculated").alias("latest_calculated"),
        )

    now_view = shape(store.freshness(), "now")
    pinned = shape(store.freshness(knowledge_time="2025-01-15 00:00:00"), "at_k1")
    return now_view.unionByName(pinned)


def q_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free training-set capstone — the engine's end-to-end story
    in ONE composed job: strictly-prior multi-horizon features
    (rolling_multi_horizon_agg, frames ending at -1s), a strictly-FUTURE
    label (purchase within 7d, frame starting at +1s), and purged k-fold
    CV roles with 24h purge + 12h embargo (operators/cv.py) — every
    temporal boundary is structural, so no feature can see the label
    window and no training row can see the test period. Features + label
    share one window Exchange/sort; fold roles are a broadcast fan-out.
    The oracle recomposes all three from their closed forms."""
    from funcify_feature_eng_spark.operators.cv import purged_folds
    from funcify_feature_eng_spark.operators.windows import (
        epoch_seconds,
        rolling_multi_horizon_agg,
        time_range_window,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )
    feats = rolling_multi_horizon_agg(
        ev, keys=["user_id"], ts_col="ts", value_col="v_e6",
        horizons={"h1": 3600, "d1": 86400},
    )
    wf = time_range_window(["user_id"], "__es", 1, 604800)
    labeled = (
        feats.withColumn("__es", epoch_seconds("ts"))
        .withColumn(
            "is_p", F.when(F.col("event_type") == "purchase", F.lit(1))
        )
        .withColumn(
            "label_buys_7d", (F.count("is_p").over(wf) > 0).cast("int")
        )
        .drop("__es", "is_p")
    )
    out = purged_folds(
        labeled, ts_col="ts", k=4, purge_before_s=86400, embargo_after_s=43200
    )
    return out.select(
        "event_id", "test_fold", "role",
        "h1_cnt", "h1_sum", "d1_cnt", "d1_sum", "label_buys_7d",
    )


def q_events_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source breadth (sources/tables.py::read_table/write_table
    file_format='orc', Spark's native vectorized ORC reader): events
    round-tripped through an ORC copy with projection + predicate applied
    on the ORC scan (same Catalyst pushdown path as parquet). The oracle
    reads the ORIGINAL parquet — a hash match proves the ORC round trip
    preserves every value (timestamps to the microsecond, doubles
    bit-for-bit via the e6 grid)."""
    import atexit
    import shutil
    import tempfile

    from funcify_feature_eng_spark.sources.tables import read_table, write_table

    tmp = tempfile.mkdtemp(prefix="sgorc_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    loc = os.path.join(tmp, "events_orc")
    write_table(
        _t(spark, sf_dir, "events"), loc, mode="overwrite", file_format="orc"
    )
    df = read_table(
        spark,
        loc,
        columns=["event_id", "user_id", "event_type", "ts", "value"],
        predicate=F.col("event_type") != "noop__",
        file_format="orc",
    )
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("v_e6"),
    )


def q_multi_horizon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-horizon trailing feature block in ONE pass (operators/
    windows.py::rolling_multi_horizon_agg): count+sum over the trailing
    1h / 6h / 24h per user — all six window columns share one Exchange
    and one materialized order key (plan-asserted in tests/
    test_windows.py), so the cost at 100 TB is one shuffle regardless of
    horizon count. Strictly-prior frames; the oracle layers three RANGE
    frames over the same window clause."""
    from funcify_feature_eng_spark.operators.windows import (
        rolling_multi_horizon_agg,
    )

    ev = _bf_events(spark, sf_dir)
    out = rolling_multi_horizon_agg(
        ev,
        keys=["user_id"],
        ts_col="ts",
        value_col="v_e6",
        horizons={"h1": 3600, "h6": 21600, "d1": 86400},
    )
    return out.select(
        "event_id", "user_id",
        "h1_cnt", "h1_sum", "h6_cnt", "h6_sum", "d1_cnt", "d1_sum",
    )


def q_purged_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal CV protocol (operators/cv.py::purged_folds,
    López de Prado's purged k-fold with embargo): contiguous equal-width
    time folds, training rows PURGED in the 24h before each test fold
    (forward-label overlap) and EMBARGOED in the 12h after it (serial
    correlation). Pure integer arithmetic over epoch seconds + a
    broadcast join against the k-row fold table — the oracle recomputes
    every row's role from the same (lo, width) closed form."""
    from funcify_feature_eng_spark.operators.cv import purged_folds

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    out = purged_folds(
        ev, ts_col="ts", k=4, purge_before_s=86400, embargo_after_s=43200
    )
    return out.select("event_id", "test_fold", "role")


def q_sft_context_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-context SFT example extraction (operators/transcript_qa.py::
    context_examples): one training example per target-role turn — context
    = rendered previous ≤3 turns (the render_text ``<|role|>content\\n``
    contract), target = the turn's content, zero leakage by construction
    (frame ends at -1). ONE window Exchange. The oracle recomputes the
    context with a windowed string_agg over the identical frame."""
    from funcify_feature_eng_spark.operators.transcript_qa import context_examples

    ev = _t(spark, sf_dir, "events")
    return context_examples(
        ev, entity_col="user_id", order=("ts", "event_id"),
        role_col="event_type", text_col="props",
        target_roles=("purchase", "signup"), k=3,
    ).select("user_id", "event_id", "context", "target", "n_context_turns")


def q_tool_call_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent-trajectory loop detection (operators/transcript_qa.py::
    tool_call_loops): gaps-and-islands run-length over consecutive
    identical non-NULL tool calls per conversation ('error' turns carry
    no tool, so they BREAK runs — exercising the NULL-break path).
    One window Exchange + two run-grain aggregates. The oracle rebuilds
    the islands with the classic lag/running-sum SQL."""
    from funcify_feature_eng_spark.operators.transcript_qa import tool_call_loops

    ev = _t(spark, sf_dir, "events").withColumn(
        "tool", F.when(F.col("event_type") != "error", F.col("event_type"))
    )
    return tool_call_loops(
        ev, entity_col="user_id", order=("ts", "event_id"),
        tool_col="tool", min_run=3,
    )


def q_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-conversation self-repetition (operators/transcript_qa.py::
    self_repetition_stats): per conversation, occurrences of view/click
    turns whose exact payload repeats an earlier counted turn — exact
    integer ppm, one (conv, text) window + one conv-grain aggregate."""
    from funcify_feature_eng_spark.operators.transcript_qa import (
        self_repetition_stats,
    )

    ev = _t(spark, sf_dir, "events")
    return self_repetition_stats(
        ev, entity_col="user_id", order=("ts", "event_id"),
        role_col="event_type", text_col="props", roles=("view", "click"),
    )


def q_embedding_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group embedding pooling on the int8 grid (operators/
    similarity.py::pool_embeddings, explode strategy — the 100 TB path:
    per-component partial aggregation, reduce memory O(dim) regardless of
    group size). Mean = component-wise floor(sum/n), exact integers end
    to end, so the oracle reproduces the pooled vectors bit-for-bit from
    the same quantization formula."""
    from funcify_feature_eng_spark.operators.similarity import pool_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    return pool_embeddings(emb, "label", strategy="explode", how="mean")


def q_retry_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive near-retry detection (operators/transcript_qa.py::
    retry_similarity): JVM-side Levenshtein between consecutive counted
    turns, exact floor-ppm relative distance, inputs capped at 2000
    chars (O(len²) bound). Spark counts codepoint edits vs DuckDB's
    bytes — identical on this ASCII corpus (divergence documented in the
    operator)."""
    from funcify_feature_eng_spark.operators.transcript_qa import retry_similarity

    ev = _t(spark, sf_dir, "events")
    return retry_similarity(
        ev, entity_col="user_id", order=("ts", "event_id"),
        role_col="event_type", text_col="props", roles=("view", "click"),
    ).select("user_id", "event_id", "lev_dist", "rel_dist_ppm", "is_near_retry")


def q_event_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory motif mining (operators/transcript_qa.py::path_ngrams):
    corpus-wide trigram counts over each user's ordered event-type path —
    the n-gram generalization of the state_transitions matrix (n=2).
    One window Exchange (both lags share the sort) + one map-side-combined
    aggregate onto alphabet³ rows; counts merge by addition across
    shards."""
    from funcify_feature_eng_spark.operators.transcript_qa import path_ngrams

    ev = _t(spark, sf_dir, "events")
    return path_ngrams(
        ev, entity_col="user_id", order=("ts", "event_id"),
        state_col="event_type", n=3,
    )


def q_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric feature conditioning (operators/scaling.py): per-language
    equi-depth NTILE(5) discretization (exact integer rank semantics,
    doc_id tiebreak), plan-time cut-point binning (zero shuffle), min-max
    scaling on the e6 grid (exact remainder-identity floor division), and
    a deterministic z-score — exact integer moments n/s1/s2, then
    z = (n*x - s1)/sqrt(n*s2 - s1^2): every double operation's inputs are
    exact integers, so IEEE-754 engines agree to the last bit. Stats sides
    are group-grain aggregates broadcast back; only the NTILE rank sort
    shuffles the data."""
    from funcify_feature_eng_spark.operators.scaling import (
        bin_by_cuts,
        minmax_scale,
        quantile_bin,
        standardize,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = quantile_bin(
        docs, "n_chars", n_bins=5, tiebreak="doc_id", group_by=["lang"],
        out_col="depth_bin",
    )
    out = bin_by_cuts(out, "n_chars", [100, 200, 400], out_col="cut_bin")
    out = minmax_scale(out, "n_chars", group_by=["lang"], out_col="minmax_e6")
    out = standardize(out, "n_chars", group_by=["lang"], out_col="zscore")
    return out.select(
        "doc_id", "lang", "n_chars", "depth_bin", "cut_bin", "minmax_e6", "zscore"
    )


def q_winsorized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (operators/scaling.py::winsorize): clip each event
    type's values to its exact [5%, 95%] band on the e6 fixed-point grid.
    Thresholds are the repo's rank rule — value at rank max(1, ceil(p*n))
    — computed in one per-group rank window, then broadcast back for a
    map-only clip; no interpolation, so the bounds are actual data values
    and the SQL twin reproduces them exactly."""
    from funcify_feature_eng_spark.operators.scaling import winsorize

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v_e6"),
    )
    return winsorize(
        ev, "v_e6", lower_ppm=50_000, upper_ppm=950_000, tiebreak="event_id",
        group_by=["event_type"], out_col="v_winsor",
    )


def q_count_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency encoding (operators/encoding.py::count_encode): attach
    each event's category prevalence — exact count + floor-ppm share of
    the corpus. One map-side-combined aggregate onto category-grain rows
    (plus a category-grain window for the total), broadcast back; the
    data side never shuffles."""
    from funcify_feature_eng_spark.operators.encoding import count_encode

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    return count_encode(ev, "event_type", out_prefix="cat")


def q_hash_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick for feature crosses (operators/encoding.py::
    hash_cross): bucket = xxhash64(lang, source) pmod 64 — a bounded id
    for the lang x source INTERACTION without materializing the cross
    vocabulary. Zero shuffle (pure Column expression). Oracle = fixture
    from the INDEPENDENT pure-Python xxh64 chain
    (scripts/make_fixtures.py::hash_cross_buckets); params must mirror
    it (n_buckets=64 over (lang, source))."""
    from funcify_feature_eng_spark.operators.encoding import hash_cross

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return hash_cross(docs, ["lang", "source"], n_buckets=64)


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer (operators/vectorize.py::
    hashed_count_vector — the HashingVectorizer/HashingTF analog as a pure
    Catalyst expression): every 20th doc's single-space tokens hashed into
    a signed 64-slot sparse vector (slot = xxhash64(int(5), tok) pmod 64,
    contribution ±1 from the hash's sign bit so collisions cancel in
    expectation), exploded back to (doc_id, slot, val) rows so the fold's
    slot alignment is value-gated per doc. Map-only, zero shuffle, zero
    Python. Oracle = fixture from the INDEPENDENT pure-Python xxh64 twin
    (scripts/make_fixtures.py::hashed_vector_rows); dim/seed/doc-subset
    MUST mirror HV_DIM/HV_SEED/HV_DOC_MOD there."""
    from funcify_feature_eng_spark.operators.vectorize import hashed_count_vector

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select(
            "doc_id",
            F.filter(F.split("text", " "), lambda t: t != "").alias("toks"),
        )
    )
    vec = hashed_count_vector(docs, "toks", 64, seed=5, signed=True)
    z = F.explode(F.arrays_zip("indices", "values")).alias("z")
    return vec.select("doc_id", z).select(
        "doc_id",
        F.col("z.indices").alias("slot"),
        F.col("z.values").alias("val"),
    )


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage (operators/linkage.py::blocked_edit_pairs):
    distinct part names at Levenshtein distance ≤ 2, compared only inside
    last-token blocks (Fellegi–Sunter blocking — one shuffle on the block
    key, size-guarded before any quadratic work, |len| band pruning before
    levenshtein). The edit-distance family the token/hash dedup tier can't
    express. Oracle = the identical SQL: DuckDB ships the same classic
    levenshtein."""
    from funcify_feature_eng_spark.operators.linkage import blocked_edit_pairs

    part = _t(spark, sf_dir, "part")
    return blocked_edit_pairs(
        part,
        "p_name",
        block=lambda c: F.regexp_extract(c, r"([^ ]+)$", 1),
        max_dist=2,
    )


def q_canonical_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (operators/linkage.py::canonicalize):
    transitive closure over the fuzzy pairs (connected components on the
    64-name match graph — the quadratic piece runs on the VOCABULARY, rows
    rejoin by a broadcast equality map), canonical = minimum member
    spelling, then parts per resolved entity. Oracle = DuckDB recursive-CTE
    reachability over the same edges."""
    from funcify_feature_eng_spark.operators.linkage import (
        blocked_edit_pairs,
        canonicalize,
    )

    part = _t(spark, sf_dir, "part")
    pairs = blocked_edit_pairs(
        part,
        "p_name",
        block=lambda c: F.regexp_extract(c, r"([^ ]+)$", 1),
        max_dist=2,
    )
    resolved = canonicalize(part, "p_name", pairs)
    return resolved.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("p_name").alias("n_spellings"),
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel (operators/funnel.py::funnel_steps): per user,
    how far through signup → view → purchase the event stream gets within
    7 days of first touch — first-touch anchoring, strictly-after on the
    (ts, event_id) tuple, collect+array_sort+F.aggregate fold (JVM HOFs,
    one shuffle, zero Python). Oracle = step-at-a-time earliest-qualifying
    joins (QUALIFY row_number) — a structurally different evaluation of
    the same pinned semantics."""
    from funcify_feature_eng_spark.operators.funnel import funnel_steps

    return funnel_steps(
        _t(spark, sf_dir, "events"),
        ["signup", "view", "purchase"],
        within_s=7 * 86400,
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts (operators/funnel.py::retention_cohorts): users
    cohorted by the epoch-aligned DAY of their first event; distinct-user
    activity counts at each day offset. Integer period grid (never
    date_trunc — week-start anchors are engine config), two aggregates +
    one co-partitioned join. Oracle = the same grid in DuckDB integer
    division."""
    from funcify_feature_eng_spark.operators.funnel import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"), period_s=86400)


def q_copart_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence graph construction (operators/cooccurrence.py::
    co_occurrence_edges): parts co-ordered in the same order, thinned to
    pairs seen in >= 2 orders. Pairs expand from a per-group collected set
    (ONE shuffle, size-guarded before the quadratic, JVM HOFs) — never a
    row-level self-join. Oracle = the distinct-pair self-join formulation
    (structurally different evaluation)."""
    from funcify_feature_eng_spark.operators.cooccurrence import (
        co_occurrence_edges,
    )

    return co_occurrence_edges(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_count=2
    )


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting + local clustering coefficient
    (operators/cooccurrence.py::triangle_stats) over the thinned co-order
    graph: degree-oriented wedge enumeration (Suri & Vassilvitskii — the
    hottest node's fan-out bounded by oriented out-degree, O(sqrt m)),
    integer-exact floor-ppm clustering. Oracle = DuckDB id-ordered 3-way
    self-join (a<b<c), a different enumeration of the same triangle set."""
    from funcify_feature_eng_spark.operators.cooccurrence import (
        co_occurrence_edges,
        triangle_stats,
    )

    edges = co_occurrence_edges(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_count=2
    )
    return triangle_stats(edges)


def q_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (operators/experiment.py::
    cuped_readout, Deng et al. WSDM'13): units = users, arm = user_id % 2,
    covariate = first-half-of-month value sum (pre-period), metric =
    second-half sum — both on the e3 fixed-point grid (unit sums stay
    under the 2^31 LONG-product witness). Exact integer moments; doubles
    only in the final mirrored expression, duplicated verbatim in the
    DuckDB twin."""
    from funcify_feature_eng_spark.operators.experiment import cuped_readout

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    vq = F.coalesce(F.floor(F.col("value") * 1000).cast("long"), F.lit(0))
    unit = (
        ev.filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("ts") < split, vq).otherwise(F.lit(0)))
            .cast("long")
            .alias("x_q"),
            F.sum(F.when(F.col("ts") >= split, vq).otherwise(F.lit(0)))
            .cast("long")
            .alias("y_q"),
        )
        .withColumn("arm", F.pmod(F.col("user_id"), F.lit(2)))
    )
    return cuped_readout(
        unit, arm_col="arm", metric_col="y_q", covariate_col="x_q"
    )


def q_attribution_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/attribution.py::
    attribute_conversions): each purchase credited to the latest view/click
    strictly before it (tuple-strict on (ts, event_id)) within a 3-day
    lookback — one shuffle + one running-last window pass. Oracle =
    join-then-rank (QUALIFY row_number DESC), a structurally different
    evaluation."""
    from funcify_feature_eng_spark.operators.attribution import (
        attribute_conversions,
    )

    return attribute_conversions(
        _t(spark, sf_dir, "events"),
        touch_types=["view", "click"],
        conversion_types=["purchase"],
        model="last_touch",
        lookback_s=3 * 86400,
    )


def q_attribution_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution within a sliding 3-day lookback: the
    RANGE-frame + lexicographic struct-min path (order-independent tie
    resolution — F.first over a range frame would be partition-order-
    dependent). Oracle = join-then-rank ascending."""
    from funcify_feature_eng_spark.operators.attribution import (
        attribute_conversions,
    )

    return attribute_conversions(
        _t(spark, sf_dir, "events"),
        touch_types=["view", "click"],
        conversion_types=["purchase"],
        model="first_touch",
        lookback_s=3 * 86400,
    )


def q_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence recommender (operators/cooccurrence.py::
    item_neighbors): top-5 "also bought" parts per part by exact integer
    squared-cosine ppm over order-incidence vectors (monotone with cosine
    — no transcendental sqrt in the result), fully tie-broken. Oracle =
    distinct-pair self-join + QUALIFY rank, structurally different from
    the Spark side's per-group set expansion + window."""
    from funcify_feature_eng_spark.operators.cooccurrence import item_neighbors

    return item_neighbors(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        k=5, min_count=2,
    )


def q_item_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact market-basket association (operators/cooccurrence.py::
    item_lift): lift (= n_both·N/(n_a·n_b); log-lift IS PMI, so lift_ppm
    ranks by pointwise mutual information) and Jaccard per co-ordered
    part pair, both exact floor-ppm on DECIMAL intermediates. One
    size-guarded pair expansion + one per-item aggregate + a broadcast
    1-row total. Oracle = the distinct-pair self-join formulation with
    DuckDB integer division."""
    from funcify_feature_eng_spark.operators.cooccurrence import item_lift

    return item_lift(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_count=2
    )


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract drift between two epochs (operators/checks.py::
    column_profile + profile_drift): per-column nullability/cardinality
    deltas plus added/dropped column detection — the contract-level
    companion to the distribution-drift family (TVD/KS/MW/CUSUM). Epochs
    are the deterministic event_id-parity split; the base epoch profiles
    (user_id, event_type, value), the current (user_id, event_type,
    props), so the gate exercises kept+added+dropped paths. One aggregate
    pass per epoch, O(columns)-row outer join. Oracle = per-column UNION
    ALL profiles full-outer-joined in DuckDB."""
    from funcify_feature_eng_spark.operators.checks import (
        column_profile,
        profile_drift,
    )

    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    return profile_drift(
        column_profile(base, columns=["user_id", "event_type", "value"]),
        column_profile(cur, columns=["user_id", "event_type", "props"]),
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent users above a 0.7% share (operators/sketches.py::
    heavy_hitters): CMS candidate pass collected into ONE broadcast
    (depth, width) grid, map-side vectorized probe of the LongType user
    ids (CMS never underestimates, so candidates are a guaranteed
    superset), exact groupBy over candidates only, exact
    re-test — the shuffle carries candidate keys, never the distinct-key
    space. Oracle = plain GROUP BY ... HAVING with the same integer
    threshold; the sketch changes the PLAN, never the rows."""
    from funcify_feature_eng_spark.operators.sketches import heavy_hitters

    return heavy_hitters(
        _t(spark, sf_dir, "events"), "user_id", min_share_ppm=7_000
    )


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered equi-join (operators/sketches.py::
    bloom_prefilter_join): lineitem (fact) joined to the urgent-priority
    order subset; the fact side probes a broadcast bloom of the subset's
    keys MAP-SIDE and only maybe-matching rows shuffle into the exact
    join. No false negatives, exact join removes false positives — the
    result is bit-identical to the plain join (the oracle), only the
    shuffle volume differs."""
    from funcify_feature_eng_spark.operators.sketches import bloom_prefilter_join

    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    # SCALE-ADAPTIVE sketch sizing (guide §2/§3.2): a constant m_bits tuned
    # to one SF is useless at 10x the keys (2^16 bits over sf1.0's ~300k
    # urgent keys ≈ 100% false positives — the prefilter dropped nothing
    # and the gate demonstrated only overhead). ~13 bits/key keeps FP ~1%
    # at depth 3; the build-side count is a cheap aggregate on the already
    # filtered dimension subset. The OUTPUT is the exact join either way —
    # bloom has no false negatives and the exact join removes positives —
    # so m_bits affects shuffle volume only, never the result.
    n_keys = urgent.count()
    m_bits = 1 << max(16, (13 * max(n_keys, 1)).bit_length())
    return bloom_prefilter_join(li, urgent, "l_orderkey", m_bits=m_bits)


def _events_hh_stream_files(spark: SparkSession, sf_dir: str) -> str:
    """2-file micro-batch split of events by event_id parity for the
    streaming heavy-hitter gate — each batch carries roughly half of
    every user's rows, so the counters provably accumulate across the
    batch boundary. Content-stamped scaffolding like _doc_stream_files."""

    def parts():
        pdf = (
            _t(spark, sf_dir, "events")
            .select("event_id", "user_id")
            .orderBy("event_id")
            .toPandas()
        )
        return [pdf[pdf["event_id"] % 2 == 0], pdf[pdf["event_id"] % 2 == 1]]

    tmp = os.path.join(
        "/tmp", f"spark_graft_hh_stream_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    return _write_micro_batches(
        tmp, os.path.join(sf_dir, "events.parquet"), "1", parts
    )


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequency monitor feeding the exact heavy-hitter readout
    (streaming/runner.py::cms_monitor_stream + operators/sketches.py::
    heavy_hitters(sketch=...)): CMS counters maintained as a NATIVE
    update-mode streaming aggregate across 2 micro-batches (events split
    by event_id parity — state must cross the boundary), final state =
    max cnt per (d, bucket), handed to the batch exact-verify pass as the
    candidate sketch. The hashed property is stream ≡ batch twice over:
    the streamed counters equal cms_sketch of the corpus, so the output
    equals the plain GROUP BY ... HAVING oracle at the same integer
    threshold. No Python stage anywhere; state is bounded at width x
    depth counters no matter the stream length."""
    from funcify_feature_eng_spark.operators.sketches import heavy_hitters

    width, depth = 1024, 4
    tmp = _events_hh_stream_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    from funcify_feature_eng_spark.streaming.runner import cms_monitor_stream

    out = cms_monitor_stream(stream, value_col="user_id", width=width, depth=depth)
    sink = _run_stream_gate(spark, tmp, out, "stream_hh_sink", mode="update")
    final = sink.groupBy("d", "bucket").agg(F.max("cnt").alias("cnt"))
    return heavy_hitters(
        _t(spark, sf_dir, "events"),
        "user_id",
        min_share_ppm=8_000,
        width=width,
        depth=depth,
        sketch=final,
    )


def q_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval (operators/metrics.py::ranking_metrics):
    precision@5 / recall@5 / reciprocal rank per order, exact ppm. The
    predicted ranking is each order's parts by summed quantity (ties by
    part key — deterministic); the relevant set is the order's returned
    (l_returnflag='R') parts. Group-grain aggregates + one (query, doc)
    equi-join; nothing windows over the corpus. Oracle = the identical
    ROW_NUMBER + join formulation in DuckDB with integer division."""
    from funcify_feature_eng_spark.operators.metrics import ranking_metrics

    li = _t(spark, sf_dir, "lineitem")
    scored = li.groupBy("l_orderkey", "l_partkey").agg(
        F.sum("l_quantity").alias("__score")
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("__score").desc(), F.col("l_partkey").asc()
    )
    results = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )
    truth = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    return ranking_metrics(
        results,
        truth,
        query_col="l_orderkey",
        doc_col="l_partkey",
        rank_col="rank",
        k=5,
    )


def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py::pagerank) over the symmetrized
    thinned co-order part graph, 8 iterations, damping 85/100 — PINNED
    integer fixed-point semantics (every division an integer floor, every
    sum exact), so the DuckDB oracle replays the identical fold as 8
    unrolled CTE layers and matches bit-for-bit. O(n_iters) shuffles;
    per-iteration checkpoints released as superseded."""
    from funcify_feature_eng_spark.operators.cooccurrence import (
        co_occurrence_edges,
    )
    from funcify_feature_eng_spark.operators.graph import pagerank

    edges = co_occurrence_edges(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_count=2
    )
    sym = edges.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).unionByName(
        edges.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    )
    return pagerank(sym, n_iters=8)


def q_k_anonymity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit (operators/privacy.py::k_anonymity_report): customer
    quasi-identifier groups (nation, market segment) violating
    10-anonymity or 2-diversity on the account-balance sensitive column —
    exact integer counts, one QI-grain aggregate. Oracle = plain GROUP BY
    + HAVING."""
    from funcify_feature_eng_spark.operators.privacy import k_anonymity_report

    return k_anonymity_report(
        _t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        sensitive_col="c_acctbal",
        k=10,
        l=2,
    )


def q_k_anonymity_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level privacy verdict (operators/privacy.py::
    k_anonymity_summary): the customer table's actual k (smallest QI
    group), minimum l, singleton count and ppm — one row, all integer-
    exact."""
    from funcify_feature_eng_spark.operators.privacy import k_anonymity_summary

    return k_anonymity_summary(
        _t(spark, sf_dir, "customer"),
        ["c_nationkey", "c_mktsegment"],
        sensitive_col="c_acctbal",
    )


def q_km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival (operators/survival.py::km_survival): per
    user-id-parity arm, time in whole seconds from the user's first event
    to their first 'error' (censored at the last event when none fired).
    survival_e12 is the product-limit estimator on the fixed-point 1e-12
    grid under a PINNED integer rounding sequence (s = floor(s*(n-d)/n)
    per event time) — no doubles anywhere, so the DuckDB oracle replays
    the identical fold with a recursive CTE and matches bit-for-bit."""
    from funcify_feature_eng_spark.operators.survival import km_survival
    from funcify_feature_eng_spark.operators.util import exact_floor_div

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per = ev.groupBy("user_id").agg(
        F.min(us).alias("__t0"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("__te"),
        F.max(us).alias("__tl"),
    )
    subj = per.select(
        F.pmod(F.col("user_id"), F.lit(2)).cast("bigint").alias("arm"),
        exact_floor_div(
            (F.coalesce(F.col("__te"), F.col("__tl")) - F.col("__t0")).cast(
                "decimal(38,0)"
            ),
            F.lit(1_000_000).cast("decimal(38,0)"),
        ).alias("t"),
        F.col("__te").isNotNull().alias("e"),
    )
    return km_survival(subj, duration_col="t", event_col="e", group_by=["arm"])


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands activity streaks (operators/funnel.py::
    activity_streaks): per user on the epoch DAY grid — active days,
    island count, longest consecutive run, run still alive at the
    dataset's max day. One shuffle + a JVM array fold (no window).
    Oracle = the classic lag-free islands SQL (period - row_number
    grouping), a structurally different evaluation."""
    from funcify_feature_eng_spark.operators.funnel import activity_streaks

    return activity_streaks(_t(spark, sf_dir, "events"))


def q_time_decay_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted rollup (operators/decay.py::time_decay_agg): per
    user, exponentially decayed value sum / event count as of a pinned
    instant, decay quantized to half-life buckets so every weight is the
    integer 2^(20-k) — exact, associative, map-side combinable and
    mergeable across shards by addition. Rows after the as-of instant are
    excluded (the strictly-prior leakage rule). The double columns divide
    exact integers, so they too are bit-identical cross-engine."""
    from funcify_feature_eng_spark.operators.decay import time_decay_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "v_e6", F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long")
    )
    return time_decay_agg(
        ev, value_col="v_e6", ts_col="ts", keys=["user_id"],
        ref_ts="2024-02-01 00:00:00", halflife_s=172_800, max_pow=20,
    )


def q_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation matrix (operators/correlation.py::
    corr_matrix) over three lineitem measures on fixed-point grids, per
    return flag: ALL pairs' integer moments ride ONE map-side-combined
    aggregate (single data pass; plan-asserted in tests), r =
    (n*sxy - sx*sy)/(sqrt(n*sxx - sx^2)*sqrt(n*syy - sy^2)) with every
    double op's inputs exact integers — bit-identical cross-engine.
    Pairwise-complete NULL semantics (pandas' pairwise deletion)."""
    from funcify_feature_eng_spark.operators.correlation import corr_matrix

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * F.lit(100.0)).cast("long").alias("q_e2"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0)).cast("long").alias("p_e2"),
        F.floor(F.col("l_discount") * F.lit(10_000.0)).cast("long").alias("d_e4"),
    )
    return corr_matrix(li, ["q_e2", "p_e2", "d_e4"], group_by=["l_returnflag"])


def q_rank_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization (operators/scaling.py::
    rank_normalize): each document's n_chars as exact floor-ppm rank
    position per language — method='first' (tiebreak-unique ranks) and
    method='average' (tied values share their mid-rank, the Spearman
    convention, kept exact on a doubled grid). One Exchange per pass
    (rank + count windows share the sort)."""
    from funcify_feature_eng_spark.operators.scaling import rank_normalize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = rank_normalize(
        docs, "n_chars", tiebreak="doc_id", group_by=["lang"],
        out_col="rank_first_ppm", method="first",
    )
    return rank_normalize(
        out, "n_chars", tiebreak="doc_id", group_by=["lang"],
        out_col="rank_avg_ppm", method="average",
    )


def q_stream_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online recency-weighted counters (streaming/runner.py::
    decay_monitor_stream): the 2-micro-batch events stream appends each
    batch's mergeable decay state (exact integer sums under the PINNED
    ref_ts) to a parquet ledger; the merged ledger projects to the
    time_decay_agg output. Oracle = the SAME whole-table SQL as
    time_decay_rollup — the hashed property is stream ≡ batch (state
    merge is plain addition). Executor state never grows."""
    import shutil

    from funcify_feature_eng_spark.operators.decay import (
        decay_from_state,
        merge_decay_states,
    )
    from funcify_feature_eng_spark.streaming.runner import decay_monitor_stream

    tmp = _decay_stream_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    staged = stream.withColumn(
        "v_e6", F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long")
    )
    _STREAM_GATE_SEQ[0] += 1
    base = f"{tmp}_decay_{_STREAM_GATE_SEQ[0]}"
    ledger, ckpt = base + "_ledger", base + "_ckpt"
    shutil.rmtree(ledger, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    _run_stream_gate(spark, tmp, lambda: decay_monitor_stream(
        staged, ledger, value_col="v_e6", ts_col="ts", keys=["user_id"],
        ref_ts="2024-02-01 00:00:00", halflife_s=172_800, max_pow=20,
        checkpoint_dir=ckpt,
    ))
    states = spark.read.parquet(ledger).drop("batch_id")
    return decay_from_state(
        merge_decay_states(states, keys=["user_id"]), keys=["user_id"],
        max_pow=20,
    )


def q_spearman_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (operators/correlation.py::
    spearman_corr): per event type, does the value drift monotonically
    with time? Average ranks kept exact on the doubled integer grid
    (2*rank + ties - 1 — affine in the mid-rank, and Pearson is affine-
    invariant), then the integer-moment Pearson — rho bit-identical
    cross-engine. One Exchange carries both rank windows."""
    from funcify_feature_eng_spark.operators.correlation import spearman_corr

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("x"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("y"),
    )
    return spearman_corr(ev, "x", "y", group_by=["event_type"])


def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine matrix (operators/similarity.py::
    centroid_similarity): mean-pool each label's embeddings on the exact
    int8 grid (pool_embeddings explode path — reduce memory O(dim) at any
    group size), then pairwise cosine over the GROUP-grain centroid table
    (broadcast self-join, O(G^2) arithmetic, never data). Integer dot /
    sqrt-of-integer norms — cos_sim bit-identical cross-engine."""
    from funcify_feature_eng_spark.operators.similarity import centroid_similarity

    emb = _t(spark, sf_dir, "embeddings")
    return centroid_similarity(emb, "label")


def q_rank_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed group quantiles (operators/scaling.py::
    rank_quantiles): value at rank max(1, ceil(p*n)) per language at
    five ppm points — the distributed PRODUCER of bin_by_cuts cut
    points (the exact two-job answer to keyless equi-depth binning at
    100 TB). One rank-sort Exchange; each row tests its rank against
    the plan-time literal point list (map-only, no second pass)."""
    from funcify_feature_eng_spark.operators.scaling import rank_quantiles

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return rank_quantiles(
        docs, "n_chars", ppms=[0, 250_000, 500_000, 750_000, 1_000_000],
        tiebreak="doc_id", group_by=["lang"],
    )


# epoch micros of 2024-01-16T00:00:00Z — the literal ref/cur split for the
# two-sample test gates (events span Jan 2024; tz-proof: compared on micros)
_SPLIT_US = 1_705_363_200_000_000


def _events_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (event_type, v on the e6 grid, is_ref by time half)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v"),
        (
            F.unix_micros(F.col("ts").cast("timestamp")) <= F.lit(_SPLIT_US)
        ).alias("is_ref"),
    )


def q_ks_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov (operators/stats_tests.py::
    ks_test): per event type, max ECDF gap between the first and second
    half of January on the e6 value grid — the binning-free companion to
    drift_report's TVD. Gap kept as the exact integer
    |cum_ref*n_cur - cum_cur*n_ref| until the argmax (smallest value on
    ties); ONE data-sized map-combined aggregate to value grain, then
    distinct-value-sized ECDF windows."""
    from funcify_feature_eng_spark.operators.stats_tests import ks_test

    return ks_test(
        _events_sides(spark, sf_dir), "v", "is_ref", group_by=["event_type"]
    )


def q_mw_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum test (operators/stats_tests.py::
    mann_whitney): per event type, is the first half of January
    stochastically larger? Doubled mid-ranks keep U exact through ties
    (u_ref_x2 BIGINT, guarded); the tie-corrected z assembles from three
    exact integers with doubles only in the final mirrored expression.
    Same value-grain two-stage shape as the KS gate."""
    from funcify_feature_eng_spark.operators.stats_tests import mann_whitney

    return mann_whitney(
        _events_sides(spark, sf_dir), "v", "is_ref", group_by=["event_type"]
    )


def q_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend (operators/stats_tests.py::
    ols_trend): value (e6 grid) against hours-since-epoch per event
    type — "is this metric trending and how fast", from the same exact
    DECIMAL(38) integer moments as pearson_corr (|value| < 2^31
    runtime-guarded; hour grid keeps x at ~4.7e5). ONE map-side-combined
    aggregate, zero windows."""
    from funcify_feature_eng_spark.operators.stats_tests import ols_trend

    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.expr(
            "CAST(unix_micros(CAST(ts AS timestamp)) DIV 3600000000 AS BIGINT)"
        ).alias("x"),
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("y"),
    )
    return ols_trend(ev, "x", "y", group_by=["event_type"])


def q_cusum_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CUSUM change-point (operators/stats_tests.py::
    cusum_changepoint): per event type, WHERE in the (ts, event_id)-
    ordered stream the mean value moved — argmax of the exact integer
    d_i = n*cum_i - i*S = i*(n-i)*(mean_before - mean_after), smallest i
    on ties. ONE Exchange; the cumulative, total and argmax windows all
    share it."""
    from funcify_feature_eng_spark.operators.stats_tests import cusum_changepoint

    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * F.lit(1_000_000.0)).cast("long").alias("v"),
    )
    return cusum_changepoint(
        ev, "v", ["ts", "event_id"], group_by=["event_type"]
    )


def q_emb_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact int64 Gram sufficient statistics over quantize_vec-grid
    embeddings (operators/pca.py::embedding_gram) — the data-sized pass of
    distributed PCA/whitening. Arrow strategy: one vectorized integer QᵀQ
    partial per partition (numpy int matmul, exact), shuffle carries ONE
    O(d²) row per partition, final reduce is a bounded O(d²) collect —
    vectors never shuffle. Downstream pca_fit (driver d×d eigh) +
    pca_transform (literal-component zip_with dots, zero Python) are
    pytest-verified against numpy (tests/test_pca.py); the gate pins the
    sufficient statistics, which integer arithmetic makes cross-engine
    bit-exact. Pure-Column `explode` twin pinned value-identical."""
    from funcify_feature_eng_spark.operators.pca import embedding_gram

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_gram(emb, dim=64, strategy="arrow")


def q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) keys over (user_id, hour-of-ts) grids
    (sources/zorder.py::zvalue) — the multi-column data-skipping layout's
    sort key, pure integer bit interleaving (map-only, zero shuffle; the
    DuckDB twin runs the IDENTICAL unrolled expression via zvalue_sql).
    write_zordered lays files out along this curve so parquet footer
    min/max boxes prune scans on EITHER keyed dimension — the
    two-dimensional companion to ingest_bucketed; pruning evidence is
    pytest-pinned (tests/test_zorder.py: an x-sorted layout reads 8/8
    files on a y-only predicate, the z-layout <8)."""
    from funcify_feature_eng_spark.sources.zorder import zvalue

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    gx = F.pmod(F.col("user_id"), F.lit(1024)).cast("long")
    gy = F.pmod(
        F.expr("unix_micros(CAST(ts AS timestamp)) DIV 3600000000"), F.lit(1024)
    ).cast("long")
    return ev.select("event_id", zvalue([gx, gy], bits=10).alias("zval"))


def q_asof_topk_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-deep as-of join (operators/asof.py::asof_topk): each event picks
    up its THREE most recent strictly-prior purchases per user — rank 1 =
    newest — the "last k prior states" feature a single-row as-of can't
    express. Plan: right-side row_number index, ONE union-window pass
    carrying the latest visible index (identical leakage contract to
    asof_join), ≤k-candidate explode, equi-join back — two entity-grain
    shuffles, explode factor k, never a history-length collect. Oracle =
    DuckDB LEFT JOIN LATERAL ... ORDER BY ts DESC LIMIT 3 with the same
    (ts, event_id) tie-break."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_topk(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols={"value": "prior_value"},
        k=3,
        allow_exact_matches=False,
        right_order=["event_id"],
    )
    return out.select("event_id", "user_id", "asof_rank", "prior_value")


def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-stacking sweep (operators/intervals.py::
    concurrency_profile): peak simultaneously-open sessions per day across
    all users — sessions are the sessionize gate's (start, end+60s)
    half-open spans. The classic sweep line needs ONE global running sum;
    this plan splits it into a per-day-bucket window (parallel across
    buckets) plus a bucket-grain carry-in prefix sum (thousands of rows,
    not billions) — exact integers, two bucket-grain shuffles. Oracle =
    the identical two-level prefix-sum formulation in SQL."""
    from funcify_feature_eng_spark.operators.intervals import (
        concurrency_profile,
    )

    sess = q_sessionize(spark, sf_dir).select(
        F.col("session_start").alias("s"),
        (
            F.col("session_end").cast("timestamp")
            + F.expr("INTERVAL 60 SECONDS")
        ).alias("e"),
    )
    return concurrency_profile(sess, start_col="s", end_col="e", bucket="day")


def q_benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford audit (operators/checks.py::benford_audit)
    over order totals: value → 10^-2 DECIMAL grid → integer units →
    first character of the decimal string — no log10, no float; the
    Benford expectations are pinned literal ppm constants identical in
    both engines. One digit-grain aggregate + a 9-row window."""
    from funcify_feature_eng_spark.operators.checks import benford_audit

    return benford_audit(_t(spark, sf_dir, "orders"), "o_totalprice", scale=2)


def q_mad_outlier_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flags (operators/scaling.py::mad_outliers): per-
    priority Hampel identifier |x - median| > 3.5·MAD with the doubled-
    median trick — median_x2 = lo + hi order stats, dev_x2 = |2x -
    median_x2|, mad_x2 = doubled median of deviations, flag by the
    cross-multiplied integer comparison dev_x2·4 > mad_x2·7. No division
    anywhere; everything stays on the DECIMAL(28,2) grid so the oracle
    replays it bit-for-bit. Two rank-sort Exchanges at group grain."""
    from funcify_feature_eng_spark.operators.scaling import mad_outliers

    out = mad_outliers(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        k_num=7,
        k_den=2,
        group_by=["o_orderpriority"],
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("dev_x2").cast("decimal(28,2)").alias("dev_x2"),
        F.col("median_x2").cast("decimal(28,2)").alias("median_x2"),
        F.col("mad_x2").cast("decimal(28,2)").alias("mad_x2"),
        "is_outlier",
    )


def q_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (operators/correlation.py::acf): per
    event-type lag-1..3 Pearson r of (x_t, x_{t+k}) over the
    (ts, event_id)-ordered cents-grid series. ONE window pass emits all
    three leads, then one (type, lag)-grain exact-DECIMAL moment
    aggregate; the final r is the IEEE-deterministic /,*,sqrt chain the
    oracle replays bit-for-bit. No self-join of the series."""
    from funcify_feature_eng_spark.operators.correlation import acf

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    return acf(
        ev, "cents", ts_col="ts", order_col="event_id", max_lag=3,
        group_by=["event_type"],
    )


def q_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile (operators/profiling.py::seasonality_profile):
    hour-of-week activity distribution of events — exact counts,
    floor-ppm share, and index_ppm = share vs the uniform 1/168
    expectation ×1e6 (1_000_000 = flat). One slot-grain aggregate + a
    ≤168-row window; integer arithmetic only."""
    from funcify_feature_eng_spark.operators.profiling import (
        seasonality_profile,
    )

    return seasonality_profile(
        _t(spark, sf_dir, "events"), "ts", grain="hour_of_week"
    )


def q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (operators/selection.py::pareto_front): per-brand
    pareto-optimal parts on (minimize price, minimize size). The naive
    definition is an O(n²) self-join; this plan is sort + two RANGE-
    frame running mins over ONE per-group sort Exchange — no join. The
    oracle IS the naive NOT EXISTS definition, so the optimized plan is
    value-checked against the semantics, not against itself."""
    from funcify_feature_eng_spark.operators.selection import pareto_front

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_e2"),
        F.col("p_size").cast("long").alias("psize"),
    )
    return pareto_front(p, "price_e2", "psize", group_by=["p_brand"])


def q_priority_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence category table without the log (operators/
    encoding.py::woe_ratio_encode): per order priority, the ratio of its
    share of finished orders to its share of unfinished ones in exact
    integer ppm — ln of it IS the WOE, so ranking on evidence_ratio_ppm
    ranks on WOE with no transcendental (the item_lift/PMI device). One
    category-grain aggregate + a 5-row window."""
    from funcify_feature_eng_spark.operators.encoding import woe_ratio_encode

    return woe_ratio_encode(
        _t(spark, sf_dir, "orders"),
        category_col="o_orderpriority",
        label_col=F.col("o_orderstatus") == "F",
    )


def q_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators/graph.py::label_propagation) over
    the symmetrized thinned co-order part graph, 3 synchronous
    iterations — PINNED deterministic semantics (label_0 = node id,
    pure neighbor majority, ties to the smallest label; classic LPA's
    random tie-break is useless as a cross-engine contract), so the
    DuckDB oracle replays the identical fold as 3 unrolled CTE layers.
    One join + one count + one argmax aggregate per iteration; per-round
    checkpoints released as superseded."""
    from funcify_feature_eng_spark.operators.cooccurrence import (
        co_occurrence_edges,
    )
    from funcify_feature_eng_spark.operators.graph import label_propagation

    edges = co_occurrence_edges(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", min_count=2
    )
    return label_propagation(
        edges.select(F.col("item_a").alias("src"), F.col("item_b").alias("dst")),
        n_iters=3,
    )


def q_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration (operators/profiling.py::
    concentration_report): documents-per-source HHI, unbiased Simpson
    collision probability, top share — all exact integer ppm (hhi =
    floor(Σ nᵢ²·1e6 / N²), no float share squared). One category-grain
    count + one fold; output is 1 row."""
    from funcify_feature_eng_spark.operators.profiling import (
        concentration_report,
    )

    return concentration_report(_t(spark, sf_dir, "documents"), "source")


def q_price_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini inequality (operators/profiling.py::gini_coefficient)
    of order totals per priority on the cents grid: sort formula
    G = (2Σi·x − (n+1)Σx)/(nΣx) in floor-ppm, tie runs invariant to
    intra-tie order so no tiebreak column is needed. ONE rank-sort
    Exchange per group + one fold."""
    from funcify_feature_eng_spark.operators.profiling import gini_coefficient

    return gini_coefficient(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        scale=2,
        group_by=["o_orderpriority"],
    )


def q_window_purchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window temporal aggregate join (operators/asof.py::
    sliding_window_join): per event, the COUNT and cents-exact SUM of
    the user's purchases in the strictly-prior 7-day window — the
    windowed companion to the as-of join. Plan = the sweep device
    (birth/expiry deltas + probes through ONE per-entity sort window),
    never a range join's per-probe re-scan. Oracle = the naive
    correlated COUNT/SUM with the same half-open bounds, so the sweep
    plan is checked against bare semantics."""
    from funcify_feature_eng_spark.operators.asof import sliding_window_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    out = sliding_window_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        window_s=7 * 86400,
        sum_col="cents",
    )
    return out.select("event_id", "user_id", "w_count", "w_sum")


def q_price_reference_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-epoch score normalization (operators/scaling.py::
    reference_percentile): odd-key orders scored against the frozen
    even-key epoch's price distribution — exact floor-ppm fraction of
    reference values <= each probe, via the union-window device on the
    value axis (one sort Exchange, never a per-probe reference scan).
    Oracle = the naive correlated count."""
    from funcify_feature_eng_spark.operators.scaling import (
        reference_percentile,
    )

    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(28,2)") * 100).cast("long")
    ref = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        cents.alias("price_e2")
    )
    probe = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents.alias("price_e2")
    )
    return reference_percentile(probe, ref, "price_e2")


def q_throttle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket admission replay (operators/throttle.py::
    token_bucket_audit): per user, capacity 2 tokens refilling 1/week,
    each event costs 1 — which events would a rate limiter have
    dropped. Sequential state (min(cap, tok + rate·Δt) − cost) can't be
    a window prefix-sum; it runs as a per-entity JVM F.aggregate fold
    on the exact rate_den·1e6 micro-token grid. Oracle = a DuckDB
    RECURSIVE CTE replaying the identical integer fold — a structurally
    different evaluation of the same pinned semantics."""
    from funcify_feature_eng_spark.operators.throttle import (
        token_bucket_audit,
    )

    return token_bucket_audit(
        _t(spark, sf_dir, "events"),
        entity_col="user_id",
        ts_col="ts",
        order_col="event_id",
        id_cols=["event_id"],
        cap=2,
        rate_num=1,
        rate_den_s=7 * 86400,
    )


def q_state_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state (operators/windows.py::state_dwell_times): exact
    total/mean microseconds spent in each event type — a state lasts
    until the user's next event; each user's last event has no dwell
    and is excluded. ONE per-entity sort window + one state-grain
    aggregate, all integers."""
    from funcify_feature_eng_spark.operators.windows import state_dwell_times

    return state_dwell_times(
        _t(spark, sf_dir, "events"),
        entity_col="user_id",
        ts_col="ts",
        order_col="event_id",
        state_col="event_type",
    )


def q_price_quantile_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-matching transform (operators/scaling.py::
    quantile_match): odd-key order totals mapped onto the even-key
    epoch's distribution — each probe takes the reference order
    statistic at its own exact rank fraction (rank max(1, c), clamping
    below-min probes to the reference minimum). Two sort Exchanges +
    one rank equi-join, never a per-probe scan; oracle = the naive
    correlated count + rank-indexed lookup."""
    from funcify_feature_eng_spark.operators.scaling import quantile_match

    orders = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(28,2)") * 100).cast("long")
    ref = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        cents.alias("price_e2")
    )
    probe = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents.alias("price_e2")
    )
    return quantile_match(probe, ref, "price_e2")


def q_stream_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-bucket admission (streaming/runner.py::
    stateful_throttle_stream): the wave-28 rate limiter as a live
    stateful operator — per-user (tokens, last-ts) GroupState crosses
    the micro-batch boundary (events split in event-time order), each
    batch replays its rows through the identical integer fold. Stream ≡
    batch: the emitted decisions hash against the SAME recursive-CTE
    oracle as the batch throttle_audit gate — the stateful-streaming
    parity contract, cap 2 tokens / 1 per week / cost 1. Reuses the
    shared _stream_batch_files split (same (ts, event_id) order + half
    boundary; the extra `role` column passes through the stateful fold
    untouched since the output schema projects only entity/id/decision
    columns)."""
    from funcify_feature_eng_spark.streaming.runner import (
        stateful_throttle_stream,
    )

    tmp = _stream_batch_files(spark, sf_dir)
    stream = _stream_source(spark, tmp)
    out = stateful_throttle_stream(
        stream,
        entity_col="user_id",
        ts_col="ts",
        order_col="event_id",
        id_col="event_id",
        cap=2,
        rate_num=1,
        rate_den_s=7 * 86400,
    )
    sink = _run_stream_gate(spark, tmp, out, "stream_throttle_sink")
    return sink.select(
        "user_id", "event_id", "admitted", "tokens_after_e6den"
    )


def q_doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease on the integer milli-point grid (functions/
    text.py::flesch_milli): three pinned regexp counts (non-space runs,
    [.!?]+ runs floored at 1, [aeiouy]+ vowel runs) and two exact floor
    divisions — no float anywhere, pure Column expressions inside
    whole-stage codegen. Oracle = the same three regexp_extract_all
    counts + integer // in DuckDB."""
    from funcify_feature_eng_spark.functions.text import (
        flesch_milli_from_counts,
        readability_counts,
    )
    from funcify_feature_eng_spark.operators.util import spread_small_input

    # two-level projection: the three regexp counts evaluate ONCE in the
    # lower project (n_words is multiply-referenced and non-cheap, so
    # CollapseProject keeps the split), and flesch assembles from the
    # columns — flesch_milli(text) inline would re-run the word regex ~5x
    # inside its conditional (subexpression elimination skips branches).
    # spread_small_input parallelizes the regex stage off the single
    # parquet split (guide §6).
    d = spread_small_input(_t(spark, sf_dir, "documents"))
    w, s, y = readability_counts(F.col("text"))
    base = d.select(
        "doc_id",
        w.alias("n_words"),
        s.alias("n_sentences"),
        y.alias("n_syllables"),
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch_milli_from_counts(
            F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
        ).alias("flesch_milli"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: windowed turn features + strictly-prior as-of join at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    feats = q_turn_features(spark, sf_dir)
    prior = q_asof_prior_purchase(spark, sf_dir).select("event_id", "prior_purchase_value")
    return feats.join(prior, "event_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
    # ORDERING CONTRACT (round 5): the driver snapshots the FIRST 50
    # entries into CORRECTNESS_r{N}.json — its hard value gate. The first
    # 50 therefore span EVERY operator family: windows/sessions/skew, the
    # full as-of strategy matrix, request documents + GraphQL + validation,
    # sources + the scalar/jq function library, aggregations and joins,
    # feature store + validity intervals, stateful structured streaming,
    # the dedup family (exact/minhash/simhash/ngram/line/CC/embedding/
    # substring-span), similarity + retrieval, mergeable sketches, LM
    # perplexity scoring, trained BPE tokenization, conversation-structure
    # QA (role_sequence_audit for the transcript_qa family), declarative
    # data-quality verdicts (quality_checks for operators/checks.py), and one
    # representative each for sampling, the curation pipeline, text
    # analysis, eval metrics, and multimodal — plus the round-5 late
    # families: Kaplan-Meier survival (km_survival) and the privacy audit
    # (k_anonymity_summary). Entries 51+ are the family tails, verified
    # by scripts/check_oracle.py into CORRECTNESS_local.json (same
    # harness). Keep new entries AFTER position 50 unless they open a new
    # family; never push a family's only representative past 50.
        "turn_features": q_turn_features,
        "sessionize": q_sessionize,
        "window_fills": q_window_fills,
        "turn_features_segmented": q_turn_features_segmented,
        # round-5 late waves opened the survival + privacy families; their
        # representatives take first-50 slots per the ordering contract —
        # top_events_per_user moved to the windows family tail (the family
        # keeps 4 window reps) and simhash_near_pairs to the dedup tail
        # (the family keeps exact, minhash, ngram, CC)
        "km_survival": q_km_survival,
        "asof_prior_purchase": q_asof_prior_purchase,
        "role_sequence_audit": q_role_sequence_audit,
        "event_transitions": q_event_transitions,
        "next_purchase": q_next_purchase,
        "request_doc_features": q_request_doc_features,
        "request_doc_nested": q_request_doc_nested,
        "request_graphql_doc": q_request_graphql_doc,
        "value_validation": q_value_validation,
        "event_props_extract": q_event_props_extract,
        "shows_reshaped": q_shows_reshaped,
        "golden_scalars": q_golden_scalars,
        "jq_transformers": q_jq_transformers,
        "doc_list_ops": q_doc_list_ops,
        "pricing_summary": q_pricing_summary,
        "top_nations_revenue": q_top_nations_revenue,
        "event_sequences": q_event_sequences,
        "store_lifecycle": q_store_lifecycle,
        "incremental_refresh": q_incremental_refresh,
        "scd2_point_read": q_scd2_point_read,
        "interval_context": q_interval_context,
        "stream_turn_features": q_stream_turn_features,
        "stream_disorder_features": q_stream_disorder_features,
        "stream_dedup": q_stream_dedup,
        "dedup_exact": q_dedup_exact,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "k_anonymity_summary": q_k_anonymity_summary,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        # round-5 wave 8 opened the feature-conditioning family
        # (scaling/encoding/correlation/decay); its representative takes a
        # first-50 slot per the ordering contract — line_dedup moved to the
        # dedup family tail (the family keeps 5 window reps: exact, minhash,
        # simhash, ngram, CC)
        "feature_scaling": q_feature_scaling,
        "dup_clusters": q_dup_clusters,
        "quality_checks": q_quality_checks,
        "ann_cosine_topk": q_ann_cosine_topk,
        # backfill is the north rule's named capability — its family
        # representative holds a first-50 slot (ann_lsh_topk moved to the
        # ANN family tail; ann_cosine_topk remains the representative)
        "bounded_backfill": q_bounded_backfill,
        # new round-5 families inside the hard driver window (each
        # displaced family keeps >=2 window representatives; the third
        # reps ann_ivf_topk / bloom_probe moved to the tail)
        "feature_parity_diff": q_feature_parity_diff,
        "bm25_topk": q_bm25_topk,
        "kmv_distinct": q_kmv_distinct,
        "cms_tokens": q_cms_tokens,
        "rater_agreement": q_rater_agreement,
        "doc_split": q_doc_split,
        # sampling keeps ONE first-50 rep (doc_split); weighted_topk moved
        # to the tail so bpe_pieces — its own family (trained tokenizer),
        # previously off-by-one at slot 51 — actually sits in the window
        # the contract claims
        "bpe_pieces": q_bpe_pieces,
        "corpus_pipeline": q_corpus_pipeline,
        "lang_id": q_lang_id,
        "group_auc": q_group_auc,
        "media_features": q_media_features,
        "doc_perplexity": q_doc_perplexity,
        "dup_span_stats": q_dup_span_stats,
        # ---- entries 51+: family tails (locally gated) ----
        "weighted_topk": q_weighted_topk,
        "top_events_per_user": q_top_events_per_user,
        "simhash_near_pairs": q_simhash_near_pairs,
        "ann_ivf_topk": q_ann_ivf_topk,
        "bloom_probe": q_bloom_probe,
        "asof_tolerance": q_asof_tolerance,
        "asof_prior_purchase_merge": q_asof_prior_purchase_merge,
        "asof_prior_purchase_segmented": q_asof_prior_purchase_segmented,
        "stream_kmv": q_stream_kmv,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "next_purchase_shuffle": q_next_purchase_shuffle,
        "doc_stats": q_doc_stats,
        "ann_int8_topk": q_ann_int8_topk,
        "doc_nfc": q_doc_nfc,
        "doc_repetition": q_doc_repetition,
        "doc_chunks": q_doc_chunks,
        "decontamination": q_decontamination,
        "corpus_curation": q_corpus_curation,
        "weighted_sample": q_weighted_sample,
        "budget_mixture": q_budget_mixture,
        "doc_shuffle": q_doc_shuffle,
        "length_buckets": q_length_buckets,
        "split_leakage": q_split_leakage,
        "corpus_mixture": q_corpus_mixture,
        "value_quantiles": q_value_quantiles,
        "value_quantiles_approx": q_value_quantiles_approx,
        "value_histogram": q_value_histogram,
        "events_pivot": q_events_pivot,
        "doc_packing": q_doc_packing,
        "user_running_stats": q_user_running_stats,
        "rolling_time_stats": q_rolling_time_stats,
        "rolling_distinct": q_rolling_distinct,
        "context_concat": q_context_concat,
        "parity_audit": q_parity_audit,
        "target_encoding": q_target_encoding,
        "sft_examples": q_sft_examples,
        "temporal_split": q_temporal_split,
        "future_label": q_future_label,
        "session_features": q_session_features,
        "scd2_epochs": q_scd2_epochs,
        "kmv_overlap": q_kmv_overlap,
        "hist_quantiles": q_hist_quantiles,
        "calendar_features": q_calendar_features,
        "feature_cross": q_feature_cross,
        "resample_grid": q_resample_grid,
        "conv_rollup": q_conv_rollup,
        "feature_drift": q_feature_drift,
        "skew_report": q_skew_report,
        "sessionize_native": q_sessionize_native,
        "events_rollup": q_events_rollup,
        "emb_centroids": q_emb_centroids,
        "doc_quality": q_doc_quality,
        "doc_bpe_tokens": q_doc_bpe_tokens,
        "doc_tokens_pandas": q_doc_tokens_pandas,
        "video_frame_features": q_video_frame_features,
        "doc_pii": q_doc_pii,
        "vocab_top_terms": q_vocab_top_terms,
        "hybrid_rrf": q_hybrid_rrf,
        "knn_label_eval": q_knn_label_eval,
        "ranking_eval": q_ranking_eval,
        "ranking_summary": q_ranking_summary,
        "doc_salient_terms": q_doc_salient_terms,
        "stream_model_features": q_stream_model_features,
        "store_compaction": q_store_compaction,
        "quota_sample": q_quota_sample,
        "chunk_ann_topk": q_chunk_ann_topk,
        "doc_oov_rate": q_doc_oov_rate,
        "semantic_dedup": q_semantic_dedup,
        "incremental_dedup": q_incremental_dedup,
        "dsir_select": q_dsir_select,
        "source_cap": q_source_cap,
        "preference_pairs": q_preference_pairs,
        "bpe_vocab": q_bpe_vocab,
        "ngram_lm_counts": q_ngram_lm_counts,
        "conv_dedup": q_conv_dedup,
        "conv_truncate": q_conv_truncate,
        "boilerplate_turns": q_boilerplate_turns,
        "request_graphql_cond": q_request_graphql_cond,
        "doc_compression": q_doc_compression,
        "incremental_minhash": q_incremental_minhash,
        "stream_role_audit": q_stream_role_audit,
        "sft_render": q_sft_render,
        "sdl_model": q_sdl_model,
        "events_jsonl": q_events_jsonl,
        "scd2_incremental": q_scd2_incremental,
        "asof_nearest": q_asof_nearest,
        "quality_checks_incremental": q_quality_checks_incremental,
        "quality_anomalies": q_quality_anomalies,
        "constraint_suggestions": q_constraint_suggestions,
        "stream_quality": q_stream_quality,
        "stream_calibration": q_stream_calibration,
        "label_confusion": q_label_confusion,
        "fleiss_agreement": q_fleiss_agreement,
        "calibration_bins": q_calibration_bins,
        "calibration_report": q_calibration_report,
        "label_gini": q_label_gini,
        "bootstrap_rate": q_bootstrap_rate,
        "bootstrap_rate_ci": q_bootstrap_rate_ci,
        "chi2_label_assoc": q_chi2_label_assoc,
        "fk_integrity": q_fk_integrity,
        "ann_lsh_topk": q_ann_lsh_topk,
        "backfill_run": q_backfill_run,
        "multi_horizon_stats": q_multi_horizon_stats,
        "purged_folds": q_purged_folds,
        "store_bitemporal": q_store_bitemporal,
        "entity_backfill": q_entity_backfill,
        "store_retention": q_store_retention,
        "events_orc": q_events_orc,
        "training_set": q_training_set,
        "stream_store_publish": q_stream_store_publish,
        "store_freshness": q_store_freshness,
        "sft_context_examples": q_sft_context_examples,
        "tool_call_loops": q_tool_call_loops,
        "self_repetition": q_self_repetition,
        "embedding_pool": q_embedding_pool,
        "retry_similarity": q_retry_similarity,
        "event_path_ngrams": q_event_path_ngrams,
        # round-5 wave 8: numeric feature conditioning + hashed crosses +
        # recency decay (operators/scaling.py, encoding.py, decay.py);
        # family rep feature_scaling holds a first-50 slot above
        "line_dedup": q_line_dedup,
        "winsorized_values": q_winsorized_values,
        "count_encoding": q_count_encoding,
        "hash_crosses": q_hash_crosses,
        "hashed_features": q_hashed_features,
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        "canonical_parts": q_canonical_parts,
        "funnel_conversion": q_funnel_conversion,
        "retention_cohorts": q_retention_cohorts,
        "copart_edges": q_copart_edges,
        "part_triangles": q_part_triangles,
        "cuped_readout": q_cuped_readout,
        "attribution_last": q_attribution_last,
        "attribution_first": q_attribution_first,
        "activity_streaks": q_activity_streaks,
        "item_neighbors": q_item_neighbors,
        "k_anonymity_groups": q_k_anonymity_groups,
        "pagerank_parts": q_pagerank_parts,
        "time_decay_rollup": q_time_decay_rollup,
        "feature_corr": q_feature_corr,
        "rank_normalized": q_rank_normalized,
        "stream_decay": q_stream_decay,
        "spearman_drift": q_spearman_drift,
        "label_centroid_sim": q_label_centroid_sim,
        "value_rank_quantiles": q_rank_quantiles,
        # round-5 wave 15: exact two-sample tests + trend/change-point
        # (operators/stats_tests.py) — the binning-free monitoring family
        "ks_value_shift": q_ks_value_shift,
        "mw_value_shift": q_mw_value_shift,
        "value_trend": q_value_trend,
        "cusum_value_shift": q_cusum_value_shift,
        # round-5 wave 16: distributed PCA sufficient statistics
        # (operators/pca.py) — the embedding linear-algebra family
        "emb_gram": q_emb_gram,
        # round-5 wave 16: z-order layout keys (sources/zorder.py)
        "zorder_keys": q_zorder_keys,
        # round-5 wave 17: association strength + data-contract drift
        "item_lift": q_item_lift,
        "profile_drift": q_profile_drift,
        # round-5 wave 18: CMS heavy hitters + bloom-prefiltered join
        "heavy_hitters": q_heavy_hitters,
        "bloom_join": q_bloom_join,
        # round-5 wave 19: retrieval-quality eval metrics
        "ranking_metrics": q_ranking_metrics,
        # round-5 wave 20: streaming CMS monitor -> exact heavy hitters
        "stream_heavy_hitters": q_stream_heavy_hitters,
        # round-5 wave 21: k-deep as-of (asof family tail) + interval
        # stacking (intervals family tail)
        "asof_topk_purchases": q_asof_topk_purchases,
        "session_concurrency": q_session_concurrency,
        # round-5 wave 22: Benford digit audit (checks family tail) +
        # MAD robust outliers (conditioning family tail)
        "benford_prices": q_benford_prices,
        "mad_outlier_prices": q_mad_outlier_prices,
        # round-5 wave 23: autocorrelation (correlation family tail) +
        # calendar seasonality profile (profiling family tail)
        "value_acf": q_value_acf,
        "hourly_seasonality": q_hourly_seasonality,
        # round-5 wave 24: 2-D skyline (selection family tail) + WOE
        # evidence-ratio encoder (encoding family tail)
        "pareto_parts": q_pareto_parts,
        "priority_evidence": q_priority_evidence,
        # round-5 wave 25: label-propagation communities (graph tail)
        "part_communities": q_part_communities,
        # round-5 wave 26: concentration/diversity + exact Gini
        # (profiling family tail)
        "source_concentration": q_source_concentration,
        "price_gini": q_price_gini,
        # round-5 wave 27: sliding-window aggregate join (asof family
        # tail) + cross-epoch reference percentile (conditioning tail)
        "window_purchase_stats": q_window_purchase_stats,
        "price_reference_pct": q_price_reference_pct,
        # round-5 wave 28: token-bucket admission replay (stateful JVM
        # fold, recursive-CTE oracle) + time-in-state dwell
        "throttle_audit": q_throttle_audit,
        "state_dwell": q_state_dwell,
        # round-5 wave 29: quantile-matching transform (conditioning
        # family tail)
        "price_quantile_match": q_price_quantile_match,
        # round-5 wave 30: streaming token-bucket twin (streaming tail)
        "stream_throttle": q_stream_throttle,
        # round-5 wave 31: integer-grid Flesch readability (text tail)
        "doc_readability": q_doc_readability,
    }


_ROLE_AUDIT_SQL = """
WITH t AS (
  SELECT user_id,
         row_number() OVER w AS pos,
         event_type AS role,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), v AS (
  SELECT user_id, pos,
         CASE WHEN (prev IS NULL AND role IN ('signup', 'view'))
                OR (prev IS NOT NULL AND concat(prev, '|', role) IN (
                  'signup|view', 'view|view', 'view|click', 'click|view',
                  'click|purchase', 'click|error', 'purchase|view',
                  'error|view'))
              THEN 0 ELSE 1 END AS viol
  FROM t
)
SELECT user_id,
       COUNT(*) AS n_turns,
       CAST(SUM(viol) AS BIGINT) AS n_violations,
       CAST(coalesce(MIN(CASE WHEN viol = 1 THEN pos END), 0) AS INT)
         AS first_violation_ord,
       SUM(viol) = 0 AS is_valid
FROM v GROUP BY user_id
"""


_TURN_FEATURES_SQL = f"""
WITH g AS (
  SELECT event_id, user_id, event_type, ts,
         lag(event_type) OVER w AS prior_event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs,
         CAST(row_number() OVER w AS INT) AS event_seq
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, event_type, prior_event_type, gap_secs,
       CAST(SUM(CASE WHEN gap_secs > {GAP_S} THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id,
       event_seq,
       CASE WHEN gap_secs >= 0 THEN gap_secs END AS gap_nonneg
FROM g
"""

_SESSIONIZE_SQL = f"""
WITH g AS (
  SELECT user_id, ts, event_id, value,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         CAST(SUM(CASE WHEN gap_secs > {GAP_S} THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
  FROM g
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_id
"""

_ASOF_SQL = """
SELECT e.event_id, e.user_id, e.event_type,
       (SELECT p.value FROM events p
         WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts < e.ts
         ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS prior_purchase_value
FROM events e
"""

_TOP_EVENTS_SQL = """
SELECT user_id, event_id, value, CAST(rnk AS INT) AS rnk FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3
"""

_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem WHERE l_quantity < 50
GROUP BY l_returnflag, l_linestatus
"""

_DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM documents GROUP BY text
"""

_DOC_STATS_SQL = """
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) > 0
            THEN len(regexp_split_to_array(trim(text), '\\s+')) ELSE 0 END AS INTEGER) AS n_tokens,
       CAST(length(text) AS INTEGER) AS char_len,
       CAST(floor(CASE WHEN length(text) > 0
                  THEN 1000000.0 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                                    / length(text))
                  ELSE 0.0 END) AS BIGINT) AS alpha_e6
FROM documents
"""


def _lang_sql() -> str:
    def cnt(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            "len(list_filter(CASE WHEN length(trim(lower(text))) > 0 "
            "THEN regexp_split_to_array(trim(lower(text)), '\\s+') ELSE [] END, "
            f"x -> list_contains([{words}], x))) AS n_{lang}"
        )

    return f"""
WITH c AS (
  SELECT doc_id, {cnt('en')}, {cnt('es')}, {cnt('fr')}, {cnt('de')} FROM documents
)
SELECT doc_id,
  CASE WHEN greatest(n_en, n_es, n_fr, n_de) = 0 THEN 'und'
       WHEN n_fr = greatest(n_en, n_es, n_fr, n_de) THEN 'fr'
       WHEN n_es = greatest(n_en, n_es, n_fr, n_de) THEN 'es'
       WHEN n_en = greatest(n_en, n_es, n_fr, n_de) THEN 'en'
       ELSE 'de' END AS lang_pred
FROM c
"""


_ANN_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qe) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.qe, q.qe))) AS c
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(floor(c * 10000.0) AS BIGINT) AS cos_e4
FROM s ORDER BY cos_e4 DESC, vec_id ASC LIMIT 10
"""

_NGRAM_JACCARD_SQL = """
WITH docs AS (SELECT doc_id, lower(text) AS s FROM documents),
grams AS (
  SELECT DISTINCT doc_id, substr(s, CAST(i AS INT), 5) AS g
  FROM docs, LATERAL (SELECT unnest(range(1, length(s) - 3)) AS i) t
  WHERE length(s) >= 5
  UNION
  SELECT DISTINCT doc_id, s AS g FROM docs WHERE length(s) < 5
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT co.doc_a, co.doc_b,
       shared / (sa.sz + sb.sz - shared) AS jaccard
FROM co JOIN sizes sa ON sa.doc_id = co.doc_a
        JOIN sizes sb ON sb.doc_id = co.doc_b
WHERE shared / (sa.sz + sb.sz - shared) >= 0.3
"""


_TOP_NATIONS_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""

_EVENT_SEQ_SQL = """
SELECT user_id,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS event_seq_csv
FROM events GROUP BY user_id
"""

_RUNNING_STATS_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS events_so_far,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_max_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _doc_quality_sql() -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH t AS (
  SELECT doc_id, text, length(text) AS n,
         CASE WHEN length(trim(lower(text))) > 0
              THEN regexp_split_to_array(trim(lower(text)), '\\s+')
              ELSE [] END AS tk
  FROM documents
)
SELECT doc_id, CAST(floor(1000000.0 * (
    (CASE WHEN n >= 50 AND n <= 5000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
  + (CASE WHEN n > 0
          THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / n
          ELSE 0.0 END)
  + (CASE WHEN len(tk) > 0
          THEN len(list_filter(tk, x -> list_contains([{words}], x))) * 1.0 / len(tk)
          ELSE 0.0 END)
) / 3.0) AS BIGINT) AS quality_e6
FROM t
"""


def _fixture_values(filename: str, cols: list[str]) -> str:
    """Render a fixture parquet as a typed SQL VALUES relation (tiny rows).

    The fixtures are precomputed by the independent pure-Python pipeline in
    scripts/make_fixtures.py; inlining them keeps the oracle self-contained —
    no filesystem reads inside the driver's DuckDB connection. Columns are
    CAST to match the parquet types (a bare float literal in VALUES would be
    typed DECIMAL and render '0.900000' instead of the double's '0.9')."""
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.abspath(__file__))
    # self-healing: if the driver regenerated the sf0.01 testdata since the
    # fixtures were built, recompute them (pure Python, seconds) instead of
    # serving stale expected values. The stamp is keyed on a CONTENT hash of
    # documents.parquet (not mtime), so a byte-identical rewrite never
    # triggers a regeneration; an actual data change regenerates LOUDLY.
    try:
        import scripts.make_fixtures as mf

        stamp_path = os.path.join(repo, "fixtures", ".stamp_sf0.01")
        stamp = open(stamp_path).read() if os.path.exists(stamp_path) else ""
        current = mf.source_stamp("/root/testdata/sf0.01")
        if stamp != current:
            print(
                "WARNING: fixtures/ stale vs /root/testdata/sf0.01 "
                f"(stamp {stamp[-16:] or '<none>'} != {current[-16:]}); "
                "regenerating oracle fixtures from the independent pure-"
                "Python pipeline (scripts/make_fixtures.py)",
                file=sys.stderr,
            )
            mf.main("/root/testdata/sf0.01")
    except FileNotFoundError:
        pass  # no driver testdata present (unit-test environments)
    path = os.path.join(repo, "fixtures", filename)
    tbl = pq.read_table(path, columns=cols)
    sql_type = {}
    for c in cols:
        t = str(tbl.schema.field(c).type)
        sql_type[c] = {"double": "DOUBLE", "float": "DOUBLE", "int64": "BIGINT",
                       "int32": "INTEGER", "bool": "BOOLEAN"}.get(t, "VARCHAR")
    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):  # before int: bool is an int subclass
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):  # SQL string literal, not Python repr
            return "'" + v.replace("'", "''") + "'"
        return repr(v)  # ints / floats: repr round-trips exactly

    data = list(zip(*[tbl[c].to_pylist() for c in cols]))
    # double-quote identifiers: fixture columns like rank/left/right are
    # DuckDB reserved words
    q = {c: f'"{c}"' for c in cols}
    typed = ", ".join(f"CAST({q[c]} AS {sql_type[c]}) AS {q[c]}" for c in cols)
    if not data:
        nulls = ", ".join(f"CAST(NULL AS {sql_type[c]}) AS {q[c]}" for c in cols)
        return f"SELECT {nulls} WHERE FALSE"
    rows = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in data)
    cols_q = ", ".join(q[c] for c in cols)
    return f"SELECT {typed} FROM (VALUES {rows}) AS t({cols_q})"


def _ann_lsh_sql() -> str:
    """DuckDB twin of q_ann_lsh_topk: identical literal hyperplanes; the
    Hamming distance is the count of per-plane sign disagreements with the
    query's signs (no packed-long bit ops needed)."""
    from funcify_feature_eng_spark.operators.similarity import make_hyperplanes

    planes = make_hyperplanes(64, n_planes=12, seed=42)

    def arr(p: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    ham = " + ".join(
        f"(CASE WHEN (list_dot_product(e.embedding::DOUBLE[], {arr(p)}) >= 0) "
        f"<> (list_dot_product(q.qe, {arr(p)}) >= 0) THEN 1 ELSE 0 END)"
        for p in planes
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
         ({ham}) AS hamming,
         list_dot_product(e.embedding::DOUBLE[], q.qe) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.qe, q.qe))) AS c
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(floor(c * 10000.0) AS BIGINT) AS cos_e4
FROM s WHERE hamming <= 2 ORDER BY cos_e4 DESC, vec_id ASC LIMIT 10
"""


def _corpus_curation_sql() -> str:
    """DuckDB twin of the curation capstone: quality + lang subqueries reuse
    the per-op oracles; near-dup components come from the fixture pair graph
    via a recursive closure; exact dedup groups on the fingerprint's
    normalization (Java-semantics whitespace collapse + space trim + lower)."""
    norm = "lower(trim(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g'), ' '))"
    return f"""
WITH RECURSIVE qual AS ({_doc_quality_sql()}),
lang AS ({_lang_sql()}),
surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY {norm}),
pairs AS (
  {_fixture_values("minhash_pairs_sf0.01.parquet", ["doc_a", "doc_b"])}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b AS a, doc_a AS b FROM pairs
), reach AS (
  SELECT a, b FROM edges
  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS doc_id, least(a, MIN(b)) AS comp FROM reach GROUP BY a
), m AS (
  SELECT s.doc_id, COALESCE(c.comp, s.doc_id) AS grp
  FROM surv s LEFT JOIN comp c USING (doc_id)
), ranked AS (
  SELECT m.doc_id, m.grp,
         row_number() OVER (PARTITION BY m.grp
                            ORDER BY q.quality_e6 DESC, m.doc_id ASC) AS rn
  FROM m JOIN qual q ON q.doc_id = m.doc_id
)
SELECT r.doc_id, l.lang_pred, q.quality_e6
FROM ranked r
JOIN lang l ON l.doc_id = r.doc_id
JOIN qual q ON q.doc_id = r.doc_id
WHERE r.rn = 1 AND l.lang_pred = 'en' AND q.quality_e6 >= 600000
"""


def _doc_pii_sql() -> str:
    """DuckDB twin of q_doc_pii: identical regexes (ASCII classes — Java and
    RE2 agree), identical application order (email → SSN → phone, since an
    SSN also matches the phone shape); 'g' flag because DuckDB's
    regexp_replace is first-match-only by default while Spark's replaces all."""
    from funcify_feature_eng_spark.functions.text import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        PII_SSN_RE,
    )

    e, s, p = PII_EMAIL_RE, PII_SSN_RE, PII_PHONE_RE
    return f"""
WITH r AS (
  SELECT doc_id,
         substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com' || ' or call 415-555-'
           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
           || ' ssn 123-45-6789' AS raw
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(raw,
           '{e}', '<EMAIL>', 'g'), '{s}', '<SSN>', 'g'), '{p}', '<PHONE>', 'g')
         AS clean_text,
       CAST(len(regexp_extract_all(raw, '{e}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{s}')) AS INT) AS n_ssns,
       CAST(len(regexp_extract_all(regexp_replace(regexp_replace(raw,
                '{e}', '<EMAIL>', 'g'), '{s}', '<SSN>', 'g'), '{p}'))
            AS INT) AS n_phones
FROM r
"""


_CHUNK_CTE = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) > 0
              THEN regexp_split_to_array(trim(text), '\\s+')
              ELSE [] END AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk, len(tk) AS n,
         CASE WHEN len(tk) > 0
              THEN 1 + greatest(0, CAST(floor((len(tk) - 11) / 30) AS INT))
              ELSE 0 END AS n_chunks
  FROM t
)"""  # chunk_tokens=40, overlap=10, step=30 — shared by doc_chunks + chunk_ann_topk


def _chunk_ann_sql() -> str:
    """DuckDB twin of q_chunk_ann_topk: same chunking CTE as doc_chunks,
    sha256-ascii embedding dims written out explicitly (integer-exact), the
    query vector and its norm inlined as literals shared with the Spark
    side."""
    import math

    from funcify_feature_eng_spark.functions.vectors import sha_embed_py

    q = sha_embed_py(_RAG_QUERY)
    qn = repr(math.sqrt(sum(x * x for x in q)))
    dim_defs = ", ".join(
        "("
        + " + ".join(f"ascii(substr(hx, {d * 8 + j + 1}, 1))" for j in range(8))
        + f") AS d{d}"
        for d in range(8)
    )
    dot = " + ".join(f"d{d} * {q[d]}" for d in range(8))
    sq = " + ".join(f"d{d} * d{d}" for d in range(8))
    return _CHUNK_CTE + f""", ch AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         sha256(array_to_string(tk[CAST(i*30+1 AS INT):CAST(i*30+40 AS INT)], ' ')) AS hx
  FROM s, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) u
), d AS (
  SELECT doc_id, chunk_idx, {dim_defs} FROM ch
)
SELECT doc_id, chunk_idx,
       CAST(floor(10000.0 * ({dot}) / (sqrt({sq}) * {qn})) AS BIGINT) AS cos_e4
FROM d
ORDER BY cos_e4 DESC, doc_id ASC, chunk_idx ASC
LIMIT 10
"""


def oracle_sql() -> dict[str, str]:
    from funcify_feature_eng_spark.operators.retrieval import bm25_oracle_sql

    sqls = {
        "turn_features": _TURN_FEATURES_SQL,
        "sessionize": _SESSIONIZE_SQL,
        "asof_prior_purchase": _ASOF_SQL,
        # same semantics through different physical strategies — the gate
        # proves all three produce identical values
        "asof_prior_purchase_merge": _ASOF_SQL,
        "asof_prior_purchase_segmented": _ASOF_SQL,
        "next_purchase": """
SELECT e.event_id, e.user_id,
       (SELECT p.value FROM events p
         WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts > e.ts
         ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_purchase_value
FROM events e
""",
        # same semantics, different physical strategy on the Spark side
        "next_purchase_shuffle": """
SELECT e.event_id, e.user_id,
       (SELECT p.value FROM events p
         WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts > e.ts
         ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS next_purchase_value
FROM events e
""",
        "request_doc_features": """
WITH g AS (
  SELECT event_id, user_id, event_type, ts,
         lag(event_type) OVER w AS prior_event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs,
         CAST(row_number() OVER w AS INT) AS event_seq
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, event_type, prior_event_type,
       CAST(SUM(CASE WHEN gap_secs > 900.0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS tight_session,
       event_seq
FROM g
""",
        "request_doc_nested": """
WITH g AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prior
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS INT) AS n_turns,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS types_csv,
       string_agg(coalesce(prior, '-'), ',' ORDER BY ts, event_id) AS prior_csv
FROM g GROUP BY user_id
""",
        # GraphQL text ≡ dict twin ≡ this plain-SQL formulation: session_id
        # is a cumulative sum, so latest-in-order == MAX per user
        "length_buckets": """
WITH t AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) > 0
              THEN len(regexp_split_to_array(trim(text), '\\s+')) ELSE 0 END AS INTEGER) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor(n_tokens / 16) AS INT) AS len_bucket,
       CAST(floor((row_number() OVER (PARTITION BY floor(n_tokens / 16)
                                      ORDER BY n_tokens, doc_id) - 1) / 8) AS INT)
         AS batch_in_bucket,
       CAST((floor(n_tokens / 16) + 1) * 16 AS INT) AS pad_to
FROM t
""",
        "split_leakage": """
WITH docs AS (SELECT doc_id, lower(text) AS s FROM documents WHERE doc_id < 500),
grams AS (
  SELECT DISTINCT doc_id, substr(s, CAST(i AS INT), 5) AS g
  FROM docs, LATERAL (SELECT unnest(range(1, length(s) - 3)) AS i) t
  WHERE length(s) >= 5
  UNION
  SELECT DISTINCT doc_id, s AS g FROM docs WHERE length(s) < 5
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT co.doc_a, co.doc_b,
         shared / (sa.sz + sb.sz - shared) AS jaccard
  FROM co JOIN sizes sa ON sa.doc_id = co.doc_a
          JOIN sizes sb ON sb.doc_id = co.doc_b
  WHERE shared / (sa.sz + sb.sz - shared) >= 0.6
),
sp AS (
  SELECT doc_id,
         CASE WHEN (doc_id % 10) < 8 THEN 'train' ELSE 'eval' END AS split
  FROM docs
)
SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b, p.jaccard
FROM pairs p JOIN sp a ON a.doc_id = p.doc_a JOIN sp b ON b.doc_id = p.doc_b
WHERE a.split <> b.split
""",
        "doc_shuffle": """
SELECT doc_id,
       CAST(row_number() OVER (
         ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648, doc_id) - 1 AS BIGINT) AS pos
FROM documents
""",
        # weighted fair interleave: same (rank - 0.5)/weight virtual time;
        # int/double division is IEEE-exact on both engines
        "corpus_mixture": """
SELECT doc_id, source,
       (CAST(row_number() OVER (
          PARTITION BY source
          ORDER BY ((doc_id % 2147483648) * 2654435761) % 2147483648, doc_id) AS DOUBLE)
        - 1.0 + 0.5) /
       CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.25
                   WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.1 END AS mix_pos
FROM documents
""",
        "request_graphql_doc": """
WITH g AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prior_event_type,
         CAST(row_number() OVER w AS INT) AS seq,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, CAST(SUM(CASE WHEN gap_secs > 900.0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
  FROM s0
)
SELECT user_id AS "userId",
       CAST(max(seq) OVER (PARTITION BY user_id) AS INT) AS "nTurns",
       CAST(max(session_id) OVER (PARTITION BY user_id) AS INT) AS "lastSession",
       CAST(NULL AS INT) AS "negOne",
       CAST(seq - 1 AS INT) AS turns_idx,
       event_type AS "eventType",
       prior_event_type AS "priorEventType"
FROM s
""".replace("FROM s0", "FROM g"),
        "top_events_per_user": _TOP_EVENTS_SQL,
        # the segmented (skew-proof) variant must equal the plain window
        # formulation — the oracle IS the plain formulation
        "turn_features_segmented": f"""
WITH g AS (
  SELECT event_id, user_id, event_type, ts,
         lag(event_type) OVER w AS prior_event_type,
         last_value(CASE WHEN event_type = 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_purchase_tag,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, prior_event_type, last_purchase_tag, gap_secs,
       CAST(SUM(CASE WHEN gap_secs > {GAP_S} THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
FROM g
""",
        "window_fills": """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER wpast AS last_purchase_value,
       lead(event_type) OVER w AS next_event_type,
       first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER wfut AS future_purchase_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wpast AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       wfut AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
""",
        # jq-compiled transformers ≡ hand-written SQL semantics; BIGINT casts
        # mirror jq's integer-truncating % and floor (jq_compile.py)
        "jq_transformers": """
SELECT event_id,
       CASE WHEN (value - 100.0) >= 0.0 THEN value - 100.0 END AS v_nn,
       CASE WHEN year(ts) >= 1900 THEN year(ts) % 100 END AS yy_jq,
       CASE WHEN value < 100.0 THEN 'low'
            WHEN value < 500.0 THEN 'mid'
            ELSE 'big' END AS band,
       COALESCE(CASE WHEN (value - 500.0) < 0.0 THEN NULL
                     ELSE CAST(floor(value - 500.0) AS BIGINT) END, -1) AS flo,
       translate(event_type, 'abcdefghijklmnopqrstuvwxyz',
                 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || '_T' AS tag,
       COALESCE(list_sum(list_transform(
                  list_filter([value, value * 2, 50.0], x -> x >= 100.0),
                  x -> x * 0.5)), -1.0) AS bm,
       GREATEST(event_type, 'm') AS tt,
       COALESCE(value > 300.0 OR value / 2 > 300.0, FALSE) AS ab,
       CAST(round(sqrt(value)) AS BIGINT) AS sr,
       translate(event_type, 'abcdefghijklmnopqrstuvwxyz',
                 'ABCDEFGHIJKLMNOPQRSTUVWXYZ')
         || '#' || CAST(length(event_type) AS VARCHAR) AS lf,
       len(list_filter([value, value * 2, 50.0], x -> x < 200.0)) AS sc,
       0.0 + value * value + (value / 2) * (value / 2) AS ssq,
       (0.0 + value + value / 2) / 2 AS mv,
       value + value * 2 AS es,
       value * 2.0 AS da,
       value * 2 AS pb,
       CAST(CASE WHEN floor(value) = floor(value * 2) THEN 3 ELSE 2 END
            AS INT) AS gbr,
       CAST(len(list_distinct([floor(value), floor(value + 0.25),
                               floor(value * 2)])) AS INT) AS uf,
       list_sum(list_transform(
         list_sort([value, value * 2, 50.0, 5.0])[2:3], x -> 0.0 + x)) AS ms,
       CAST(len(regexp_split_to_array(event_type, '[ae]')) AS INT) AS rp,
       CASE WHEN regexp_matches(event_type, '^[a-z]+')
            THEN regexp_extract(event_type, '^([a-z]+)', 1) END AS cn,
       event_type[2:3] AS sm,
       CASE WHEN floor(value) = least(floor(value), floor(value * 2), 50)
                 THEN value
            WHEN floor(value * 2) = least(floor(value), floor(value * 2), 50)
                 THEN value * 2
            ELSE 50.0 END AS mbf,
       value * 2 * 2.0 AS mvo,
       regexp_matches(event_type, '(?i)ER') AS tfi
FROM events
""",
        "golden_scalars": """
SELECT event_id,
       CASE WHEN (value - 100.0) >= 0 THEN value - 100.0 END AS value_minus_100,
       CAST(CASE WHEN year(ts) >= 1900 THEN year(ts) % 100 END AS INT) AS yy,
       roundbankers(floor((value % 1000.0) * 4.0) / 4.0, 1) AS d7_q
FROM events
""",
        "doc_list_ops": """
SELECT doc_id,
       CASE WHEN text IS NOT NULL AND length(text) > 0
            THEN CAST(len(str_split(text, ' ')) AS INT) END AS n_items,
       regexp_split_to_array(trim(text), '\\s+')[1] AS first_tok,
       CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) > 1
            THEN regexp_split_to_array(trim(text), '\\s+')[-1] END AS last_tok
FROM documents
""",
        "pricing_summary": _PRICING_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "doc_stats": _DOC_STATS_SQL,
        "lang_id": _lang_sql(),
        "ann_cosine_topk": _ANN_SQL,
        # int8 quantized cosine: integer dots exact cross-engine; identical
        # op order on the single float quotient; floor-grid score
        "ann_int8_topk": """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS e,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
  FROM embeddings
), qz AS (
  SELECT vec_id,
         CASE WHEN amax > 0
              THEN list_transform(e, x -> CAST(floor(x * 127 / amax + 0.5) AS BIGINT))
              ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS q
  FROM base
), qq AS (SELECT q FROM qz WHERE vec_id = 0),
s AS (
  SELECT z.vec_id,
         list_dot_product(z.q, qq.q) AS idot,
         list_dot_product(z.q, z.q) AS inorm,
         list_dot_product(qq.q, qq.q) AS qnorm
  FROM qz z, qq WHERE z.vec_id <> 0
)
SELECT vec_id,
       CAST(floor(CASE WHEN inorm > 0 AND qnorm > 0
                       THEN idot / (sqrt(inorm) * sqrt(qnorm)) ELSE 0.0 END
                  * 1000000.0) AS BIGINT) AS qcos_e6
FROM s ORDER BY qcos_e6 DESC, vec_id ASC LIMIT 10
""",
        "ann_lsh_topk": _ann_lsh_sql(),
        # IVF: identical tie rule to ivf_assign's greatest-struct (equal
        # cosine → larger index wins → cid DESC); centroids are vec_id 1..16
        "ann_ivf_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
  FROM embeddings WHERE vec_id BETWEEN 1 AND 16
),
probes AS (
  SELECT cid FROM cents, q
  ORDER BY list_dot_product(q.qe, ce) /
           (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(ce, ce))) DESC,
           cid DESC
  LIMIT 2
),
assigned AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         (SELECT cid FROM cents
           ORDER BY list_dot_product(e.embedding::DOUBLE[], ce) /
                    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                     sqrt(list_dot_product(ce, ce))) DESC,
                    cid DESC
           LIMIT 1) AS cl
  FROM embeddings e WHERE e.vec_id <> 0
)
SELECT vec_id,
       CAST(floor(list_dot_product(v, q.qe) /
                  (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(q.qe, q.qe)))
                  * 10000.0) AS BIGINT) AS cos_e4
FROM assigned, q WHERE cl IN (SELECT cid FROM probes)
ORDER BY cos_e4 DESC, vec_id ASC LIMIT 10
""",
        "ngram_jaccard_pairs": _NGRAM_JACCARD_SQL,
        "top_nations_revenue": _TOP_NATIONS_SQL,
        "event_sequences": _EVENT_SEQ_SQL,
        "user_running_stats": _RUNNING_STATS_SQL,
        # RANGE frame over integer epoch-seconds: both engines define the
        # frame as [cur-3600, cur-1] over the ORDER BY value, so same-second
        # ties are excluded identically
        "rolling_time_stats": """
WITH g AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
)
SELECT event_id, user_id,
       CAST(count(v_e6) OVER w AS BIGINT) AS n_prev_1h,
       CAST(coalesce(sum(v_e6) OVER w, 0) AS BIGINT) AS sum_prev_1h_e6
FROM g
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
""",
        "rolling_distinct": """
WITH g AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) // 1000000 AS es FROM events
)
SELECT event_id, user_id,
       CAST(count(DISTINCT event_type) OVER
            (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_types_24h
FROM g
""",
        # the audit must return EXACTLY the planted violations: dropped user
        # -> left_only presence rows, +1.0 perturbation -> value rows
        "parity_audit": """
WITH a AS (
  SELECT event_id, user_id, CAST(floor(value * 1000000.0) AS BIGINT) AS v FROM events
),
b AS (
  SELECT event_id,
         v + CASE WHEN event_id % 997 = 0 THEN 1000000 ELSE 0 END AS v
  FROM a WHERE user_id <> 3
)
SELECT a.event_id, CAST(NULL AS VARCHAR) AS col, CAST(NULL AS DOUBLE) AS left_val,
       CAST(NULL AS DOUBLE) AS right_val, 'left_only' AS kind
FROM a LEFT JOIN b ON a.event_id = b.event_id WHERE b.event_id IS NULL
UNION ALL
SELECT a.event_id, 'v_e6' AS col, CAST(a.v AS DOUBLE) AS left_val,
       CAST(b.v AS DOUBLE) AS right_val, 'value' AS kind
FROM a JOIN b ON a.event_id = b.event_id WHERE abs(a.v - b.v) > 0.5
""",
        # empty frame: Spark concat_ws(collect_list)='' vs DuckDB
        # string_agg=NULL -> coalesce aligns them
        "context_concat": """
SELECT event_id, user_id,
       coalesce(string_agg(event_type, '|') OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '') AS ctx3
FROM events
""",
        "session_features": """
WITH o AS (
  SELECT event_id, user_id, ts, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > 900000000 THEN 1 ELSE 0 END AS boundary
  FROM events
),
g AS (
  SELECT event_id, user_id, ts, us,
         CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_id
  FROM o
)
SELECT event_id, user_id, session_id,
       CAST(row_number() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS INT) AS turn_in_session,
       CAST(count(*) OVER (PARTITION BY user_id, session_id) AS BIGINT) AS session_len,
       CAST(max(us) OVER (PARTITION BY user_id, session_id)
            - min(us) OVER (PARTITION BY user_id, session_id) AS BIGINT)
         AS session_span_us
FROM g
""",
        "interval_context": """
WITH o AS (
  SELECT event_id, user_id, ts, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > 1800000000 THEN 1 ELSE 0 END AS boundary
  FROM events
),
s AS (
  SELECT event_id, user_id, ts, us,
         CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_id
  FROM o
),
w AS (
  SELECT user_id, session_id AS ctx_session,
         MIN(us) - 3600000000 AS from_us,
         MAX(us) + 3600000000 AS to_us
  FROM s GROUP BY user_id, session_id
)
SELECT s.event_id, s.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_ctx,
       MIN(w.ctx_session) AS first_ctx,
       MAX(w.ctx_session) AS last_ctx
FROM s JOIN w ON s.user_id = w.user_id
             AND s.us >= w.from_us AND s.us < w.to_us
GROUP BY s.event_id, s.user_id
""",
        "scd2_epochs": """
WITH one AS (
  SELECT user_id, ts, arg_max(event_type, event_id) AS event_type
  FROM events GROUP BY user_id, ts
),
chg AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type IS DISTINCT FROM
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
              THEN 1 ELSE 0 END AS is_new
  FROM one
),
r AS (
  SELECT user_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM chg
),
g AS (
  SELECT user_id, event_type, MIN(ts) AS valid_from
  FROM r GROUP BY user_id, run, event_type
)
SELECT user_id, event_type, epoch_us(valid_from) AS from_us,
       epoch_us(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from))
         AS to_us
FROM g
""",
        "scd2_point_read": """
WITH one AS (
  SELECT user_id, ts, arg_max(event_type, event_id) AS event_type
  FROM events GROUP BY user_id, ts
),
chg AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type IS DISTINCT FROM
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
              THEN 1 ELSE 0 END AS is_new
  FROM one
),
r AS (
  SELECT user_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM chg
),
g AS (
  SELECT user_id, event_type AS status, epoch_us(MIN(ts)) AS from_us
  FROM r GROUP BY user_id, run, event_type
),
ep AS (
  SELECT user_id, status, from_us,
         lead(from_us) OVER (PARTITION BY user_id ORDER BY from_us) AS to_us
  FROM g
),
probes AS (
  SELECT event_id, user_id, epoch_us(ts) + 900000000 AS us FROM events
)
SELECT p.event_id, p.user_id, e.status
FROM probes p LEFT JOIN ep e
  ON p.user_id = e.user_id AND p.us >= e.from_us
     AND (e.to_us IS NULL OR p.us < e.to_us)
""",
        # staleness bound: the nearest prior IS the only candidate, so
        # restricting the subquery window equals null-if-stale
        "asof_tolerance": """
SELECT e.event_id, e.user_id, e.event_type,
       (SELECT p.value FROM events p
         WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
           AND p.ts < e.ts
           AND epoch_us(e.ts) - epoch_us(p.ts) <= 86400000000
         ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS prior_purchase_value
FROM events e
""",
        # isodow: DuckDB has it native; Spark derives it from dayofweek
        "calendar_features": """
SELECT event_id,
       CAST(isodow(ts) AS INT) AS dow_iso,
       CAST(hour(ts) AS INT) AS hour_utc,
       CAST(day(ts) AS INT) AS dom,
       CAST(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END AS INT) AS is_weekend
FROM events
""",
        "feature_cross": """
WITH vocab AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY event_type) - 1 AS INT) AS type_idx
  FROM (SELECT DISTINCT event_type FROM events)
)
SELECT e.event_id, v.type_idx,
       CAST(isodow(e.ts) AS INT) AS dow_iso,
       CAST(v.type_idx * 7 + isodow(e.ts) - 1 AS INT) AS cross_id
FROM events e JOIN vocab v USING (event_type)
""",
        "temporal_split": """
WITH g AS (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT event_id, user_id,
       CASE WHEN rn * 100 > n * 80 THEN 'eval' ELSE 'train' END AS split
FROM g
""",
        # future RANGE frame [+1s, +7d]: the label window starts strictly
        # after the row's own second (mirror of the trailing features)
        "future_label": """
WITH g AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CASE WHEN event_type = 'purchase' THEN 1 END AS is_p
  FROM events
)
SELECT event_id, user_id,
       CAST(CASE WHEN count(is_p) OVER
                 (PARTITION BY user_id ORDER BY es
                  RANGE BETWEEN 1 FOLLOWING AND 604800 FOLLOWING) > 0
            THEN 1 ELSE 0 END AS INT) AS label_buys_7d
FROM g
""",
        # the capstone composes the gated pieces; structural leakage rule:
        # feature frames end at -1, the label starts at +1
        "sft_examples": """
WITH o AS (
  SELECT event_id, user_id, event_type, ts, epoch_us(ts) AS us,
         epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
),
g AS (
  SELECT event_id, user_id, ts, event_type,
    coalesce(string_agg(event_type, '|') OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), '') AS ctx3,
    CAST(count(v_e6) OVER wr AS BIGINT) AS n_prev_1h,
    CAST(coalesce(sum(v_e6) OVER wr, 0) AS BIGINT) AS sum_prev_1h_e6,
    count(v_e6) OVER we AS enc_cnt,
    coalesce(sum(v_e6) OVER we, 0) AS enc_sum,
    CASE WHEN us - lag(us) OVER wo > 900000000 THEN 1 ELSE 0 END AS boundary,
    lead(event_type) OVER wo AS label_next_type
  FROM o
  WINDOW wr AS (PARTITION BY user_id ORDER BY es
                RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING),
         we AS (PARTITION BY event_type ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wo AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, ctx3, n_prev_1h, sum_prev_1h_e6,
       CAST((enc_sum + 10::BIGINT * 245000000::BIGINT) // (enc_cnt + 10) AS BIGINT)
         AS type_enc_e6,
       CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
         AS session_id,
       label_next_type
FROM g
WHERE label_next_type IS NOT NULL
""",
        # integer-grid smoothed cumulative mean: Spark `div` and DuckDB `//`
        # agree on non-negative BIGINT operands
        "target_encoding": """
WITH g AS (
  SELECT event_id, event_type, ts,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
),
c AS (
  SELECT event_id, event_type,
         CAST(count(v_e6) OVER w AS BIGINT) AS enc_e6_cnt,
         CAST(coalesce(sum(v_e6) OVER w, 0) AS BIGINT) AS enc_e6_sum
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, enc_e6_cnt, enc_e6_sum,
       CAST((enc_e6_sum + 10::BIGINT * 245000000::BIGINT) // (enc_e6_cnt + 10) AS BIGINT)
         AS enc_e6
FROM c
""",
        # DuckDB's native ASOF JOIN is the independent twin of the engine's
        # union-window as-of; latest-wins is pre-resolved per second so the
        # as-of sees unique right timestamps (tie-deterministic)
        "resample_grid": """
WITH g AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
),
latest AS (SELECT user_id, es, max_by(v_e6, event_id) AS v_e6 FROM g GROUP BY 1, 2),
bounds AS (SELECT user_id, min(es) // 3600 AS g0, max(es) // 3600 AS g1 FROM g GROUP BY 1),
grid AS (SELECT user_id, CAST(unnest(range(g0, g1 + 1)) * 3600 AS BIGINT) AS tick_es
         FROM bounds)
SELECT grid.user_id, grid.tick_es, latest.v_e6 AS value_at_tick
FROM grid ASOF LEFT JOIN latest
  ON grid.user_id = latest.user_id AND latest.es <= grid.tick_es
""",
        "conv_rollup": """
WITH o AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
),
g AS (
  SELECT user_id, event_type, v_e6,
         us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
  FROM o
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(1 + coalesce(sum(CASE WHEN gap_us > 900000000 THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_sessions,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
       CAST(CASE WHEN count(*) > 1 THEN sum(gap_us) // (count(*) - 1) END AS BIGINT)
         AS mean_gap_us,
       CAST(sum(v_e6) AS BIGINT) AS total_v_e6
FROM g GROUP BY user_id
""",
        # TVD stays in integer arithmetic end-to-end (the reason it was
        # chosen over PSI/KL): |cnt_ref*n_cur - cnt_cur*n_ref| products,
        # one floor division at the very end
        "feature_drift": """
WITH b AS (
  SELECT CAST(least(9, CAST(floor(value / 50.0) AS BIGINT)) AS INT) AS bucket,
         epoch_us(ts) AS us
  FROM events
),
s AS (SELECT (min(us) + max(us)) // 2 AS split FROM b),
c AS (
  SELECT bucket,
         CAST(sum(CASE WHEN us <= (SELECT split FROM s) THEN 1 ELSE 0 END) AS BIGINT)
           AS cnt_ref,
         CAST(sum(CASE WHEN us > (SELECT split FROM s) THEN 1 ELSE 0 END) AS BIGINT)
           AS cnt_cur
  FROM b GROUP BY bucket
),
t AS (
  SELECT sum(cnt_ref) AS n_ref, sum(cnt_cur) AS n_cur,
         sum(abs(cnt_ref * (SELECT sum(cnt_cur) FROM c)
                 - cnt_cur * (SELECT sum(cnt_ref) FROM c))) AS num
  FROM c
)
SELECT c.bucket, c.cnt_ref, c.cnt_cur,
       CAST(t.n_ref AS BIGINT) AS n_ref, CAST(t.n_cur AS BIGINT) AS n_cur,
       CAST((t.num * 1000000) // (2 * t.n_ref * t.n_cur) AS BIGINT) AS tvd_e6
FROM c, t
""",
        "skew_report": """
WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows FROM events GROUP BY user_id),
t AS (SELECT sum(n_rows) AS total FROM c)
SELECT c.user_id, c.n_rows, CAST(t.total AS BIGINT) AS total,
       CAST((c.n_rows * 1000000) // t.total AS BIGINT) AS share_e6
FROM c, t
ORDER BY c.n_rows DESC, c.user_id ASC
LIMIT 10
""",
        # native session_window boundary: NEW session when gap >= 900s
        # (window is [ts, ts+gap)); end = last event + gap by definition
        "sessionize_native": """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= 900000000 THEN 1 ELSE 0 END AS boundary
  FROM events
),
s AS (
  SELECT user_id, ts,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 900 SECOND AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""",
        # GROUPING() bitmask convention matches Spark grouping_id():
        # detail=0, day-collapsed=1, grand total=3
        "events_rollup": """
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
)
SELECT event_type, day,
       CAST(GROUPING(event_type, day) AS INT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(v_e6) AS BIGINT) AS sum_v_e6
FROM g GROUP BY ROLLUP(event_type, day)
""",
        # 1-indexed DuckDB list access -> pos = i-1 matches posexplode
        "emb_centroids": """
WITH e AS (
  SELECT label, CAST(i - 1 AS INT) AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x_e6
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
)
SELECT label, pos,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(x_e6) AS BIGINT) AS sum_e6
FROM e GROUP BY label, pos
""",
        "doc_quality": _doc_quality_sql(),
        "event_props_extract": (
            "SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k FROM events"
        ),
        "embedding_dup_pairs": """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       CAST(floor(
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
          sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
         * 10000.0
       ) AS BIGINT) AS cos_e4
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE floor(
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
          sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
         * 10000.0) >= 4500
""",
        "doc_bpe_tokens": r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
            AS INTEGER) AS n_bpe_tokens
FROM documents
""",
        "doc_tokens_pandas": """
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) > 0
            THEN len(regexp_split_to_array(trim(text), '\\s+')) ELSE 0 END AS INTEGER)
       AS n_tokens_py
FROM documents
""",
        "doc_nfc": """
SELECT doc_id,
       CAST(length(substr(text, 1, 12) || 'a' || chr(769)) AS INT) AS len_before,
       nfc_normalize(substr(text, 1, 12) || 'a' || chr(769)) AS nfc_text,
       CAST(length(nfc_normalize(substr(text, 1, 12) || 'a' || chr(769))) AS INT) AS len_after
FROM documents
""",
        "doc_repetition": """
WITH docs AS (
  SELECT doc_id, length(text) AS doc_len,
         CASE WHEN length(trim(lower(text))) > 0
              THEN regexp_split_to_array(trim(lower(text)), '\\s+')
              ELSE [] END AS tk
  FROM documents
), grams AS (
  SELECT doc_id, doc_len,
         CASE WHEN len(tk) >= 2
              THEN array_to_string(tk[CAST(i AS INT):CAST(i+1 AS INT)], ' ')
              ELSE array_to_string(tk, ' ') END AS g
  FROM docs, LATERAL (
    SELECT unnest(range(1, greatest(len(tk), 2))) AS i
  ) u
  WHERE len(tk) >= 2 OR i = 1
), counts AS (
  SELECT doc_id, doc_len, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, doc_len, g
), ranked AS (
  SELECT doc_id, doc_len, g, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn
  FROM counts
)
SELECT doc_id, cnt AS top_bigram_count,
       CAST(floor(1000000.0 * (cnt * length(g) * 1.0 / doc_len)) AS BIGINT) AS rep_e6
FROM ranked WHERE rn = 1
""",
        "doc_chunks": _CHUNK_CTE + """
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       array_to_string(tk[CAST(i*30+1 AS INT):CAST(i*30+40 AS INT)], ' ') AS chunk_text,
       CAST(least(n - i*30, 40) AS INT) AS n_chunk_tokens
FROM s, LATERAL (SELECT unnest(range(0, n_chunks)) AS i) u
""",
        "decontamination": """
WITH docs AS (
  SELECT doc_id,
         CASE WHEN length(trim(lower(text))) > 0
              THEN regexp_split_to_array(trim(lower(text)), '\\s+')
              ELSE [] END AS tk
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(tk) >= 5
              THEN array_to_string(tk[CAST(i AS INT):CAST(i+4 AS INT)], ' ')
              ELSE array_to_string(tk, ' ') END AS g
  FROM docs, LATERAL (
    SELECT unnest(range(1, greatest(len(tk) - 3, 2))) AS i
  ) u
  WHERE len(tk) >= 5 OR i = 1
), train_grams AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 10 <> 0
), eg AS (
  SELECT doc_id, g FROM grams WHERE doc_id % 10 = 0
), tot AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM eg GROUP BY doc_id
), sh AS (
  SELECT eg.doc_id, COUNT(*) AS n_shared
  FROM eg JOIN train_grams tg ON tg.g = eg.g
  GROUP BY eg.doc_id
)
SELECT t.doc_id, t.n_grams,
       COALESCE(sh.n_shared, 0) AS n_shared,
       COALESCE(sh.n_shared, 0) >= 3 AS contaminated
FROM tot t LEFT JOIN sh ON sh.doc_id = t.doc_id
""",
        "corpus_curation": _corpus_curation_sql(),
        # declarative twin: same steps via CorpusPipeline — identical values
        "corpus_pipeline": _corpus_curation_sql(),
        "shows_reshaped": rf"""
SELECT show_id, type,
       CAST(release_year AS INT) AS release_year,
       CAST(CASE WHEN regexp_extract(duration, '(\d+)\s+min', 1) <> ''
            THEN regexp_extract(duration, '(\d+)\s+min', 1) END AS INT) AS duration_min,
       CAST(CASE WHEN regexp_extract(duration, '(\d+)\s+[Ss]easons?', 1) <> ''
            THEN regexp_extract(duration, '(\d+)\s+[Ss]easons?', 1) END AS INT) AS num_seasons,
       CAST(CASE WHEN "cast" IS NOT NULL AND length("cast") > 0
            THEN len(str_split("cast", ', ')) END AS INT) AS cast_count,
       CAST(strptime(date_added, '%B %d, %Y') AS DATE) AS date_added
FROM read_csv('{os.path.join(_REPO, "fixtures", "shows_raw.csv")}', header=true, all_varchar=true)
""",
        "doc_split": """
SELECT doc_id,
       CASE WHEN doc_id % 100 < 80 THEN 'train'
            WHEN doc_id % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
        "weighted_sample": """
SELECT doc_id, lang, strlen(text) AS w_bytes
FROM documents
WHERE (((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761
      % 4294967296 * 4000
      < strlen(text) * 4294967296
""",
        # weighted_topk: same Knuth u; ln's cross-engine <=1-ulp drift
        # cannot flip a rank (fixture min adjacent gap ~1e11 ulps, see
        # q_weighted_topk docstring)
        "weighted_topk": """
WITH s AS (
  SELECT doc_id, lang, strlen(text) AS w_bytes,
         ln(((((doc_id % 2147483648) + 2147483648) % 2147483648)
             * 2654435761 % 4294967296 + 1) / 4294967296.0)
           / strlen(text) AS es_key
  FROM documents
  WHERE strlen(text) > 0
),
r AS (
  SELECT doc_id, lang, w_bytes,
         row_number() OVER (PARTITION BY lang
                            ORDER BY es_key DESC, doc_id ASC) AS rn
  FROM s
)
SELECT doc_id, lang, w_bytes FROM r WHERE rn <= 5
""",
        # budget_mixture: per-source totals in a CTE, then the identical
        # pure-BIGINT keep rule key*W*T_s < budget*w_s*2^32 (p>=1 keeps all)
        "budget_mixture": """
WITH t AS (
  SELECT lang, SUM(strlen(text)) AS t_s FROM documents
  WHERE lang IN ('en','es','de','fr','zh') GROUP BY lang
),
w(lang, w_s) AS (VALUES ('en',5),('es',2),('de',1),('fr',1),('zh',1))
SELECT d.doc_id, d.lang, strlen(d.text) AS w_bytes
FROM documents d JOIN t USING (lang) JOIN w USING (lang)
WHERE 60000 * w_s >= 10 * t_s
   OR (((d.doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761
      % 4294967296 * 10 * t_s
      < 60000 * w_s * 4294967296
""",
        "value_quantiles": """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
""",
        "value_quantiles_approx": """
SELECT event_type,
       quantile_disc(value, 0.5) AS p50,
       quantile_disc(value, 0.9) AS p90,
       quantile_disc(value, 0.99) AS p99
FROM events GROUP BY event_type
""",
        "value_histogram": """
SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin, COUNT(*) AS n
FROM events GROUP BY event_type, floor(value / 50.0)
""",
        "events_pivot": """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY user_id
""",
        "doc_packing": """
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CASE WHEN length(trim(text)) > 0
              THEN len(regexp_split_to_array(trim(text), '\\s+')) ELSE 0 END AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_tok
  FROM t
)
SELECT doc_id, CAST(shard AS INT) AS shard,
       CAST(floor(start_tok / 2048) AS BIGINT) AS pack_id,
       CAST(start_tok % 2048 AS BIGINT) AS offset_in_pack
FROM c
""",
        # dup_clusters: transitive closure over the (fixture) dup-pair graph;
        # tractable in DuckDB at gate scale, while the Spark side runs the
        # iterative min-label propagation that scales
        "dup_clusters": f"""
WITH RECURSIVE pairs AS (
  {_fixture_values("minhash_pairs_sf0.01.parquet", ["doc_a", "doc_b"])}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, least(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
""",
        # minhash/simhash depend on Spark's xxhash64, which DuckDB cannot
        # compute — the oracle is a parquet fixture precomputed by an
        # independent pure-Python reimplementation of the full pipeline
        # (scripts/make_fixtures.py on functions/xxh64.py, locked against
        # Spark in tests/test_xxh64.py; freshness in test_fixture_oracles.py)
        # media: payload = sha2(doc_id, 256) hex cast to binary = the 64
        # ASCII bytes of the hex string. image (even doc_id): tiled to a
        # 64x64 grid = exactly 64 copies, so grid moments = one copy's
        # moments with S,Q,n scaled by 64. audio (odd): (3·byte) mod 256
        # waveform tiled 16x (sample_rate/1000) = 1024 samples. All
        # integer-exact, divisions mirrored in Python's op order.
        "media_features": """
WITH h AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS hx FROM documents
), c AS (
  SELECT doc_id, hx, unnest(range(1, 65)) AS i FROM h
), s AS (
  SELECT doc_id,
         MIN(length(hx)) AS plen,
         SUM(ascii(substr(hx, CAST(i AS INT), 1))) AS s1,
         SUM(ascii(substr(hx, CAST(i AS INT), 1)) * ascii(substr(hx, CAST(i AS INT), 1))) AS q1,
         SUM((ascii(substr(hx, CAST(i AS INT), 1)) * 3) % 256) AS s3,
         SUM(((ascii(substr(hx, CAST(i AS INT), 1)) * 3) % 256)
             * ((ascii(substr(hx, CAST(i AS INT), 1)) * 3) % 256)) AS q3
  FROM c GROUP BY doc_id
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CASE WHEN doc_id % 2 = 0
            THEN ((64 * s1) / 4096) / 255.0
            ELSE ((16 * s3) / 1024) / 255.0 END AS mean_intensity,
       CASE WHEN doc_id % 2 = 0
            THEN sqrt((64 * q1) / 4096 - ((64 * s1) / 4096) * ((64 * s1) / 4096)) / 255.0
            ELSE sqrt((16 * q3) / 1024 - ((16 * s3) / 1024) * ((16 * s3) / 1024)) / 255.0
       END AS std_intensity,
       CAST(plen AS INTEGER) AS n_bytes
FROM s
""",
        # video frames: byte b of frame f = (ascii + 97*f) % 256 over the
        # 64 sha256-hex chars; mean in the decoder's fixed (sum/n)/255 order
        "video_frame_features": """
WITH h AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS hx FROM documents
), c AS (
  SELECT doc_id, hx, unnest(range(1, 65)) AS i FROM h
), fr AS (SELECT unnest([0, 2]) AS frame_idx),
s AS (
  SELECT doc_id, frame_idx,
         SUM((ascii(substr(hx, CAST(i AS INT), 1)) + 97 * frame_idx) % 256) AS sm
  FROM c, fr GROUP BY doc_id, frame_idx
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       (sm / 64) / 255.0 AS frame_mean,
       CAST(4 AS INT) AS n_frames
FROM s
""",
        "doc_pii": _doc_pii_sql(),
        "chunk_ann_topk": _chunk_ann_sql(),
        # incremental ≡ one-pass: min doc_id per fingerprint64-normalized
        # text (lower / trim / whitespace collapse), engine-agnostic on the
        # normalized string rather than the hash
        "incremental_dedup": r"""
WITH norm AS (
  SELECT doc_id, lang,
         lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS k
  FROM documents
)
SELECT doc_id, lang FROM norm
WHERE doc_id IN (SELECT MIN(doc_id) FROM norm GROUP BY k)
""",
        # SemDeDup: identical coarse assignment as ann_ivf (cos DESC, cid
        # DESC tie = Spark's greatest-struct larger-index-wins, minus 1 to
        # the 0-based index), then the smaller-id in-cluster witness rule
        # on the shared floor-1e4 grid
        "semantic_dedup": """
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
  FROM embeddings WHERE vec_id BETWEEN 1 AND 16
),
assigned AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
         (SELECT cid FROM cents
           ORDER BY list_dot_product(e.embedding::DOUBLE[], ce) /
                    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                     sqrt(list_dot_product(ce, ce))) DESC,
                    cid DESC
           LIMIT 1) - 1 AS cl
  FROM embeddings e
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cl = b.cl AND a.vec_id < b.vec_id
  WHERE sqrt(list_dot_product(a.v, a.v)) > 0
    AND sqrt(list_dot_product(b.v, b.v)) > 0
    AND floor(list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              * 10000.0) >= 4500
)
SELECT vec_id, CAST(cl AS INT) AS sem_cluster
FROM assigned WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
""",
        "doc_oov_rate": """
WITH tk AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS tf FROM tk GROUP BY term
    ORDER BY tf DESC, term ASC LIMIT 30
  )
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov,
       CAST(floor(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                  * 1000000.0 / COUNT(*)) AS BIGINT) AS oov_e6
FROM tk LEFT JOIN (SELECT term, 1 AS x FROM vocab) v USING (term)
GROUP BY doc_id
""",
        "quota_sample": """
SELECT event_id, event_type FROM (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ((((event_id % 2147483648) + 2147483648)
                                       % 2147483648) * 2654435761)
                                     % 4294967296 ASC,
                                     event_id ASC) AS rn
  FROM events
) WHERE rn <= 700
""",
        # value_validation: verdicts + reason strings reconstructed from the
        # planted corruption classes (clean rows all satisfy the schema)
        "value_validation": """
SELECT event_id,
       CASE WHEN event_id % 10 IN (1, 2, 3) THEN 'quarantined' ELSE 'valid' END AS status,
       CASE WHEN event_id % 10 = 1 THEN 'malformed JSON'
            WHEN event_id % 10 = 2 THEN 'k: required'
            WHEN event_id % 10 = 3 THEN 'k: above maximum 100'
       END AS reasons
FROM events
""",
        # incremental_refresh: pass_no reconstructs the watermark semantics
        # — pass 1 iff ts <= max(ts) below the cut (the recorded watermark)
        "incremental_refresh": f"""
SELECT event_id, user_id, event_type,
       CAST(floor(value * 1000000.0) AS BIGINT) AS value_e6,
       CAST(json_extract(props, '$.k') AS INT) AS prop_k,
       CASE WHEN ts <= (SELECT max(ts) FROM events
                        WHERE ts < TIMESTAMP '{_STORE_CUT}')
            THEN 1 ELSE 2 END AS pass_no
FROM events
""",
        # store_compaction survivors reconstructed straight from events;
        # duplicate (user,ts) points cannot occur (ts unique per user)
        "store_compaction": """
SELECT 'features/value_e6' AS feature_id,
       user_id,
       '44136fa355b3678a1146ad16f7e8649e94fb4fc21fe77e8310c060f61caaff8a' AS params_hash,
       CASE WHEN value IS NULL THEN '{}'
            ELSE '{"v":' || CAST(CAST(floor(value * 1000000.0) AS BIGINT) AS VARCHAR) || '}'
       END AS value,
       ts AS value_at_ts,
       2 * (SELECT COUNT(*) FROM events) AS rows_before,
       (SELECT COUNT(*) FROM events) AS rows_after
FROM events
""",
        # stream_model_features: foreachBatch reuses the batch DAG with
        # BATCH-LOCAL windows — the oracle partitions on (user, batch half)
        "stream_model_features": f"""
WITH o AS (
  SELECT event_id, user_id, event_type, ts,
         row_number() OVER (ORDER BY ts, event_id) AS grn,
         COUNT(*) OVER () AS nn
  FROM events
), b AS (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN grn <= CAST(floor(nn / 2.0) AS BIGINT) THEN 1 ELSE 2 END AS batch
  FROM o
), g AS (
  SELECT event_id, user_id, event_type, batch, ts,
         lag(event_type) OVER w AS prior_event_type,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs,
         CAST(row_number() OVER w AS INT) AS event_seq
  FROM b
  WINDOW w AS (PARTITION BY user_id, batch ORDER BY ts, event_id)
)
SELECT event_id, user_id, event_type, prior_event_type, gap_secs,
       CAST(SUM(CASE WHEN gap_secs > {GAP_S} THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id, batch ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id,
       event_seq, CAST(batch AS INT) AS batch_id
FROM g
""",
        # stream dedup: the min-id-per-text BATCH semantics over the planted
        # dup input collapses to exactly the original documents rows — any
        # state failure (cross-batch leak or nondeterministic within-batch
        # winner) surfaces extra/shifted doc_ids and breaks rows+hash
        "stream_dedup": """
SELECT doc_id, CAST(length(text) AS INT) AS char_len FROM documents
""",
        # stream_turn_features' oracle is the BATCH formulation: the gate
        # hashes the stream ≡ batch equivalence of the stateful sessionizer
        # disorder gate: SAME in-order batch oracle — bounded disorder
        # must be fully absorbed by the buffering sessionizer
        "stream_disorder_features": f"""
WITH o AS (
  SELECT user_id, event_id, event_type, ts,
         lag(event_type) OVER w AS prior_role,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, CAST(event_id AS INT) AS event_id, event_type AS role,
       prior_role,
       CAST(SUM(CASE WHEN prev_ts IS NOT NULL
                      AND epoch_us(ts) - epoch_us(prev_ts) > {int(GAP_S * 1_000_000)}
                 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
FROM o
""",
        "stream_turn_features": f"""
WITH o AS (
  SELECT user_id, event_id, event_type, ts,
         lag(event_type) OVER w AS prior_role,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
)
SELECT user_id, CAST(event_id AS INT) AS event_id, event_type AS role,
       prior_role,
       CAST(SUM(CASE WHEN prev_ts IS NOT NULL
                      AND epoch_us(ts) - epoch_us(prev_ts) > {int(GAP_S * 1_000_000)}
                 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
FROM o
""",
        # line_dedup: same first-occurrence-wins rule; string_agg skips the
        # NULLed-out duplicate lines and orders by original position
        "line_dedup": """
WITH r AS (
  SELECT doc_id,
         string_split(substr(text, 1, 60) || chr(10)
           || 'subscribe to our newsletter today' || chr(10)
           || substr(text, 61, 60), chr(10)) AS parts
  FROM documents
), l AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS line
  FROM r, LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
), m AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM l
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos), '') AS text,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_dropped
FROM m GROUP BY doc_id
""",
        "doc_salient_terms": """
WITH tk AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY term
), s AS (
  SELECT tf.doc_id, tf.term,
         CAST(floor(tf.tf * 1000000.0 / df.df) AS BIGINT) AS score_e6
  FROM tf JOIN df USING (term)
), ranked AS (
  SELECT doc_id, term, score_e6,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_e6 DESC, term ASC) AS rank
  FROM s
)
SELECT doc_id, CAST(rank AS INT) AS rank, term, score_e6
FROM ranked WHERE rank <= 3
""",
        # integer-exact BM25 twin generated from the same (k1=6/5, b=3/4)
        # cleared-denominator arithmetic — see operators/retrieval.py
        "bm25_topk": bm25_oracle_sql(_BM25_QUERY, k=10),
        # RRF over the bm25 (k=50) and cosine (k=50) candidate lists; the
        # bm25 subquery is the generated twin verbatim, ranks re-derived
        # with the same deterministic tie-breaks, contributions integer
        "hybrid_rrf": f"""
WITH lex AS ({bm25_oracle_sql(_BM25_QUERY, k=50)}),
lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM lex
),
q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id AS doc_id,
         CAST(floor(list_dot_product(e.embedding::DOUBLE[], q.qe) /
           (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
            sqrt(list_dot_product(q.qe, q.qe))) * 10000.0) AS BIGINT) AS cos_e4
  FROM embeddings e, q WHERE e.vec_id <> 0
),
dense AS (SELECT doc_id, cos_e4 FROM s ORDER BY cos_e4 DESC, doc_id ASC LIMIT 50),
denser AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY cos_e4 DESC, doc_id ASC) AS rank
  FROM dense
),
u AS (
  SELECT doc_id, 1000000000 // (60 + rank) AS contrib FROM lexr
  UNION ALL
  SELECT doc_id, 1000000000 // (60 + rank) AS contrib FROM denser
)
SELECT doc_id, SUM(contrib) AS rrf FROM u GROUP BY doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT 10
""",
        # exact all-pairs rounded-cosine kNN — unit-normalize per vector
        # FIRST then a single pair dot, the exact FP op order of
        # all_pairs_topk's unit_vector + dot_raw (sequential fold)
        "knn_label_eval": """
WITH v AS (
  SELECT vec_id, label,
         CASE WHEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
              THEN list_transform(embedding::DOUBLE[],
                     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
              ELSE list_transform(embedding::DOUBLE[], x -> 0.0) END AS u
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.u, b.u), 6) AS cos_sim
  FROM v a, v b WHERE a.vec_id <> b.vec_id
),
r AS (
  SELECT id_a, id_b,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY cos_sim DESC, id_b ASC) AS rank
  FROM p
),
top AS (SELECT id_a, id_b FROM r WHERE rank <= 10)
SELECT t.id_a AS vec_id,
       SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS match_cnt,
       SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) * 1000000 // 10
         AS prec_e6
FROM top t
JOIN embeddings la ON la.vec_id = t.id_a
JOIN embeddings lb ON lb.vec_id = t.id_b
GROUP BY t.id_a
""",
        "vocab_top_terms": """
WITH tk AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
)
SELECT term,
       COUNT(*) AS term_freq,
       COUNT(DISTINCT doc_id) AS doc_freq
FROM tk GROUP BY term
ORDER BY term_freq DESC, term ASC LIMIT 50
""",
        # the store lifecycle's values computed directly (no store): both
        # pass-2 rows must carry the SAME value as pass 1 with served='store'
        # and value_at pinned to the cutoff (the as-of read-through witness)
        "store_lifecycle": f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
f AS (
  SELECT u.user_id,
         CAST((SELECT COUNT(*) FROM events e
               WHERE e.user_id = u.user_id
                 AND e.ts <= TIMESTAMP '{_STORE_CUT}') AS DOUBLE) AS v
  FROM u
)
SELECT 1 AS pass_no, user_id, TIMESTAMP '{_STORE_CUT}' AS req_ts,
       v AS events_so_far, 'computed' AS served,
       TIMESTAMP '{_STORE_CUT}' AS value_at
FROM f
UNION ALL
SELECT 2, user_id, TIMESTAMP '{_STORE_CUT}', v, 'store', TIMESTAMP '{_STORE_CUT}'
FROM f
UNION ALL
SELECT 2, user_id, TIMESTAMP '{_STORE_T2}', v, 'store', TIMESTAMP '{_STORE_CUT}'
FROM f
""",
        "kmv_distinct": _fixture_values(
            "kmv_distinct_sf0.01.parquet", ["lang", "est_distinct"]
        ),
        "kmv_overlap": _fixture_values(
            "kmv_overlap_sf0.01.parquet", ["lang", "est_overlap", "est_only_a"]
        ),
        # stream ≡ batch: the streaming sketch's final state must equal the
        # batch sketch of the whole corpus — same fixture as kmv_distinct
        "stream_kmv": _fixture_values(
            "kmv_distinct_sf0.01.parquet", ["lang", "est_distinct"]
        ),
        "cms_tokens": _fixture_values(
            "cms_tokens_sf0.01.parquet", ["tok", "exact_cnt", "est_count"]
        ),
        "bloom_probe": _fixture_values(
            "bloom_probe_sf0.01.parquet", ["lang", "probed", "hits"]
        ),
        # Mann-Whitney rank-sum AUC, identical rank/tie/division arithmetic
        "group_auc": """
WITH base AS (
  SELECT user_id, event_type IN ('purchase','signup') AS y, value AS s
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
r AS (
  SELECT user_id, y,
         rank() OVER (PARTITION BY user_id ORDER BY s)
           + (count(*) OVER (PARTITION BY user_id, s) - 1) / 2.0 AS rr
  FROM base
),
a AS (
  SELECT user_id,
         SUM(CASE WHEN y THEN rr END) AS rpos,
         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
  FROM r GROUP BY user_id
)
SELECT user_id, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN (rpos - n_pos * (n_pos + 1.0) / 2) / (n_pos * 1.0 * n_neg)
       END AS auc
FROM a
""",
        "hist_quantiles": """
WITH h AS (
  SELECT event_type, CAST(floor((value - 0.0) / 1.0) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, bin
),
c AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM h
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       0.0 + MIN(CASE WHEN cum * 100 >= n * 50 THEN bin END) * 1.0 AS p50,
       0.0 + MIN(CASE WHEN cum * 100 >= n * 90 THEN bin END) * 1.0 AS p90,
       0.0 + MIN(CASE WHEN cum * 100 >= n * 99 THEN bin END) * 1.0 AS p99
FROM c GROUP BY event_type
""",
        "minhash_lsh_pairs": _fixture_values(
            "minhash_pairs_sf0.01.parquet", ["doc_a", "doc_b", "jaccard"]
        ),
        "simhash_near_pairs": (
            "SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM ("
            + _fixture_values("simhash_pairs_sf0.01.parquet", ["doc_a", "doc_b", "hamming"])
            + ")"
        ),
        # DSIR top-k: independent pure-Python xxh64 + integer micro-nat
        # scoring pipeline (scripts/make_fixtures.py::dsir_topk)
        "dsir_select": _fixture_values(
            "dsir_topk_sf0.01.parquet", ["doc_id", "dsir_score"]
        ),
        # BPE: independent pure-Python train/apply twins
        # (scripts/make_fixtures.py::bpe_merges / bpe_pieces)
        "bpe_vocab": _fixture_values(
            "bpe_merges_sf0.01.parquet", ["rank", "left", "right"]
        ),
        "bpe_pieces": _fixture_values(
            "bpe_pieces_sf0.01.parquet", ["doc_id", "n_pieces", "pieces_str"]
        ),
        # n-gram counts: a REAL cross-engine SQL twin — DuckDB rebuilds the
        # same order-1..3 grams from the same Java-semantics tokenization
        # (trim spaces, regexp-split on \s+, keep leading empties; NULL or
        # all-space text yields no tokens — matching functions/text.py
        # tokens()).
        "ngram_lm_counts": r"""
WITH toks AS (
  SELECT CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
  FROM documents
),
expanded AS (
  SELECT t, unnest([1,2,3]) AS ord FROM toks
),
grams AS (
  SELECT ord, array_to_string(t[i : i + ord - 1], ' ') AS gram
  FROM expanded,
       LATERAL (SELECT unnest(generate_series(1, len(t) - ord + 1)) AS i) AS pos(i)
)
SELECT ord, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2 HAVING COUNT(*) >= 5
ORDER BY ord, cnt DESC, gram LIMIT 400
""",
        # perplexity: independent pure-Python LM twin
        # (scripts/make_fixtures.py::doc_perplexity)
        "doc_perplexity": _fixture_values(
            "doc_perplexity_sf0.01.parquet",
            ["doc_id", "n_tokens", "lp_micro", "ppl_micro"],
        ),
        # substring dup coverage: full cross-engine SQL twin — same grams,
        # same >=2 count, same gaps-and-islands span union, integer ppm
        "dup_span_stats": r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
  FROM documents
),
base AS (SELECT doc_id, len(t) AS n_tokens FROM toks),
pg AS (
  SELECT doc_id, i AS pos, array_to_string(t[i : i + 7], ' ') AS gram
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) AS pos(i)
),
dup AS (SELECT gram FROM pg GROUP BY gram HAVING COUNT(*) >= 2),
marked AS (SELECT doc_id, pos FROM pg WHERE gram IN (SELECT gram FROM dup)),
isl AS (
  SELECT doc_id,
         GREATEST(0, pos + 7 - GREATEST(COALESCE(
           MAX(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           pos - 1), pos - 1)) AS cov
  FROM marked
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_grams, SUM(cov) AS dup_tokens
  FROM isl GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(CASE WHEN b.n_tokens > 0
                 THEN (COALESCE(p.dup_tokens, 0) * 1000000) // b.n_tokens
                 ELSE 0 END AS BIGINT) AS dup_ppm
FROM base b LEFT JOIN per_doc p USING (doc_id)
""",
        # frequency_cap hash=False: same knuth multiplicative rank in SQL.
        # (doc_id % 2^31) * 2654435761 < 2^63, no BIGINT wrap.
        "source_cap": """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296 ASC,
                    doc_id ASC
         ) AS rn
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rn <= 10
""",
        # preference_pairs: argmax/argmin as rank-1 windows with the same
        # struct-order tie rules (chosen tie -> larger id, rejected ->
        # smaller). margin = the same two doubles subtracted, IEEE-exact.
        "preference_pairs": """
WITH s AS (
  SELECT user_id, event_id, value, props FROM events WHERE value IS NOT NULL
), hi AS (
  SELECT user_id, event_id AS chosen_id, value AS chosen_score,
         props AS chosen_text,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id DESC) AS rn
  FROM s
), lo AS (
  SELECT user_id, event_id AS rejected_id, value AS rejected_score,
         props AS rejected_text,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value ASC, event_id ASC) AS rn
  FROM s
)
SELECT h.user_id, h.chosen_id, l.rejected_id, h.chosen_score,
       l.rejected_score, h.chosen_score - l.rejected_score AS margin,
       h.chosen_text, l.rejected_text
FROM hi h JOIN lo l USING (user_id)
WHERE h.rn = 1 AND l.rn = 1 AND h.chosen_score - l.rejected_score > 0
""",
        # role-machine audit: lag over (ts, event_id); first row checks
        # the opener set, later rows the 8-edge transition list ('|' is
        # outside the role alphabet, mirroring the chr(31) Spark key)
        "role_sequence_audit": _ROLE_AUDIT_SQL,
        # the streaming twin hashes the SAME batch oracle: the pinned
        # property is stream (2 mid-conversation micro-batches) ≡ batch
        "stream_role_audit": _ROLE_AUDIT_SQL,
        # empirical transition matrix: lag pairs over the same
        # (ts, event_id) sort; prob = exact floor-ppm row normalization
        # (all operands positive, so DuckDB's truncating // IS floor)
        "event_transitions": """
WITH p AS (
  SELECT LAG(event_type) OVER (
           PARTITION BY user_id
           ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS from_state,
         event_type AS to_state
  FROM events
),
cell AS (
  SELECT from_state, to_state, COUNT(*) AS n
  FROM p WHERE from_state IS NOT NULL AND to_state IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT from_state, SUM(n) AS t FROM cell GROUP BY 1)
SELECT cell.from_state, cell.to_state, CAST(n AS BIGINT) AS n,
       CAST(CAST(n AS HUGEINT) * 1000000 // t AS BIGINT) AS prob_ppm
FROM cell JOIN tot USING (from_state)
""",
        # whole-conversation dedup on each user's first-3 event journey:
        # the ordered-payload group is reproduced with string_agg(...
        # ORDER BY), winner = MIN(user_id) in the group
        "conv_dedup": """
WITH h AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), j AS (
  SELECT user_id,
         string_agg(event_type, chr(31) ORDER BY rn) AS journey
  FROM h WHERE rn <= 3 GROUP BY user_id
), w AS (
  SELECT journey, MIN(user_id) AS winner_id FROM j GROUP BY journey
)
SELECT j.user_id, w.winner_id, j.user_id <> w.winner_id AS is_dup
FROM j JOIN w USING (journey)
""",
        # suffix truncation: ROWS-framed descending cumulative cost
        "conv_truncate": """
WITH c AS (
  SELECT user_id, event_id, length(props) AS cost,
         SUM(length(props)) OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sfx
  FROM events
)
SELECT user_id, event_id, cost FROM c WHERE sfx <= 25
""",
        # boilerplate: whitespace-normalized payloads in >= 75 DISTINCT
        # entities; two-level aggregate mirrors the Spark plan
        "boilerplate_turns": """
WITH n AS (
  SELECT trim(regexp_replace(props, '\\s+', ' ', 'g')) AS turn_text, user_id
  FROM events
  WHERE props IS NOT NULL AND trim(regexp_replace(props, '\\s+', ' ', 'g')) <> ''
), p AS (
  SELECT turn_text, user_id, COUNT(*) AS c FROM n GROUP BY 1, 2
)
SELECT turn_text,
       CAST(COUNT(*) AS BIGINT) AS n_entities,
       CAST(SUM(c) AS BIGINT) AS n_rows
FROM p GROUP BY turn_text
HAVING COUNT(*) >= (SELECT GREATEST(2, COUNT(DISTINCT user_id) // 2)
                    FROM events)
""",
        # SDL front door: double round-trip then materialize — same twin
        # as turn_features
        "sdl_model": _TURN_FEATURES_SQL,
        # data-quality verdicts: every metric from ONE scan, integer ppm
        # (// floors like Spark's cast-of-positive-double)
        "quality_checks": r"""
WITH m AS (
  SELECT COUNT(*) AS n,
         COUNT(event_type) AS c_et,
         COUNT(props) AS c_props,
         COUNT(event_id) AS nn_id,
         COUNT(DISTINCT event_id) AS d_id,
         COALESCE(SUM(CASE WHEN value < 0.0 THEN 1 END), 0) AS v_lo,
         COALESCE(SUM(CASE WHEN value > 1000.0 THEN 1 END), 0) AS v_hi,
         COALESCE(SUM(CASE WHEN regexp_matches(props, '^\{"k": [0-9]+\}$')
                           THEN 1 END), 0) AS m_props,
         COALESCE(SUM(CASE WHEN event_type IN
                   ('view', 'click', 'purchase', 'signup', 'error')
                           THEN 1 END), 0) AS m_in
  FROM events
)
SELECT 0 AS check_id, 'complete' AS kind, 'event_type' AS "column",
       CAST(c_et * 1000000 // n AS BIGINT) AS metric,
       CAST(1000000 AS BIGINT) AS threshold,
       c_et * 1000000 // n >= 1000000 AS passed FROM m
UNION ALL
SELECT 1, 'complete', 'props', CAST(c_props * 1000000 // n AS BIGINT),
       990000, c_props * 1000000 // n >= 990000 FROM m
UNION ALL
SELECT 2, 'unique', 'event_id', CAST(nn_id - d_id AS BIGINT), 0,
       nn_id - d_id = 0 FROM m
UNION ALL
SELECT 3, 'min_at_least', 'value', CAST(v_lo AS BIGINT), 0, v_lo = 0 FROM m
UNION ALL
SELECT 4, 'max_at_most', 'value', CAST(v_hi AS BIGINT), 0, v_hi = 0 FROM m
UNION ALL
SELECT 5, 'matches', 'props', CAST(m_props * 1000000 // c_props AS BIGINT),
       950000, m_props * 1000000 // c_props >= 950000 FROM m
UNION ALL
SELECT 6, 'isin', 'event_type', CAST(m_in * 1000000 // c_et AS BIGINT),
       1000000, m_in * 1000000 // c_et >= 1000000 FROM m
UNION ALL
SELECT 7, 'row_count_between', '*', CAST(n AS BIGINT), 1,
       n >= 1 AND n <= 100000000 FROM m
""",
        # nearest as-of: closer of prior/next purchase, tie to prior;
        # right deduped per (user, instant) in both engines
        "asof_nearest": """
WITH r AS (
  SELECT user_id, ts, arg_max(value, event_id) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
l AS (SELECT event_id, user_id, ts FROM events),
b AS (
  SELECT l.event_id, max(r.ts) AS mts
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts <= l.ts
  GROUP BY l.event_id
),
f AS (
  SELECT l.event_id, min(r.ts) AS mts
  FROM l LEFT JOIN r ON r.user_id = l.user_id AND r.ts >= l.ts
  GROUP BY l.event_id
),
pick AS (
  SELECT l.event_id, l.user_id,
         CASE WHEN b.mts IS NOT NULL
                   AND (f.mts IS NULL OR (l.ts - b.mts) <= (f.mts - l.ts))
              THEN b.mts ELSE f.mts END AS mts
  FROM l JOIN b USING (event_id) JOIN f USING (event_id)
)
SELECT p.event_id, p.user_id, r.value AS nearest_purchase_value
FROM pick p LEFT JOIN r ON r.user_id = p.user_id AND r.ts = p.mts
""",
        # incremental CDC merge: the oracle is the WHOLE-log SCD-2 build
        # (same-instant tie = max state, the builder's default order)
        "scd2_incremental": """
WITH one AS (
  SELECT user_id, ts, max(event_type) AS event_type
  FROM events GROUP BY user_id, ts
),
chg AS (
  SELECT user_id, ts, event_type,
         CASE WHEN event_type IS DISTINCT FROM
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
              THEN 1 ELSE 0 END AS is_new
  FROM one
),
r AS (
  SELECT user_id, ts, event_type,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM chg
),
g AS (
  SELECT user_id, event_type, MIN(ts) AS valid_from
  FROM r GROUP BY user_id, run, event_type
)
SELECT user_id, event_type, epoch_us(valid_from) AS from_us,
       epoch_us(lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from))
         AS to_us
FROM g
""",
        # JSONL source: the parquet twin of the serialized rows
        "events_jsonl": """
SELECT event_id, user_id, value, props
FROM events WHERE event_type = 'purchase'
""",
        # SFT render geometry: <|role|>content\n per turn; start = prior
        # rendered length + tag length; conv_chars = total rendered length
        "sft_render": """
WITH r AS (
  SELECT user_id, event_id, ts, event_type,
         length(coalesce(props, '')) AS clen,
         length(event_type) + 5 + length(coalesce(props, '')) AS rlen
  FROM events
), o AS (
  SELECT user_id, event_id, clen, event_type,
         coalesce(SUM(rlen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + length(event_type) + 4 AS s,
         SUM(rlen) OVER (PARTITION BY user_id) AS total
  FROM r
)
SELECT user_id, event_id,
       CAST(s AS BIGINT) AS start_off,
       CAST(s + clen AS BIGINT) AS end_off,
       event_type IN ('purchase', 'signup') AS trainable,
       CAST(total AS BIGINT) AS conv_chars
FROM o
""",
        # incremental near-dup chain: fixture from the independent
        # pure-Python twin (scripts/make_fixtures.py::incremental_minhash_kept)
        "incremental_minhash": _fixture_values(
            "incremental_minhash_sf0.01.parquet", ["doc_id", "kept"]
        ),
        # zlib compressibility: fixture from the independent pure-Python
        # twin (scripts/make_fixtures.py::doc_compression)
        "doc_compression": _fixture_values(
            "doc_compression_sf0.01.parquet",
            ["doc_id", "n_bytes", "zlib_bytes", "compression_ppm"],
        ),
        # conditional GraphQL document: only the @skip/@include-INCLUDED
        # branches exist in the twin (prior kept, dbg dropped)
        "request_graphql_cond": """
WITH g AS (
  SELECT event_id, user_id, event_type, ts,
         lag(event_type) OVER w AS prior,
         CAST(row_number() OVER w AS INT) AS seq,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id AS "eventId", seq, prior,
       CAST(SUM(CASE WHEN gap_secs > 900.0 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
         AS sess
FROM g
""",
    }
    # Incremental quality verdicts share the one-pass gate's oracle: the
    # hashed property IS "merged per-batch states ≡ whole-data verdicts".
    sqls["quality_checks_incremental"] = sqls["quality_checks"]
    # metric-history anomaly detection over event_id-mod-4 ingest batches
    sqls["quality_anomalies"] = r"""
WITH b AS (
  SELECT event_id % 4 AS batch_id,
         COUNT(*) AS n,
         COUNT(props) AS c_props,
         COUNT(event_id) AS nn_id,
         COUNT(DISTINCT event_id) AS d_id
  FROM events GROUP BY 1
),
m AS (
  SELECT batch_id, 0 AS check_id, 'complete' AS kind, 'props' AS "column",
         CAST(CASE WHEN n = 0 THEN 1000000
                   ELSE c_props * 1000000 // n END AS BIGINT) AS metric
  FROM b
  UNION ALL
  SELECT batch_id, 1, 'unique', 'event_id',
         CAST(nn_id - d_id AS BIGINT) FROM b
  UNION ALL
  SELECT batch_id, 2, 'row_count_between', '*', CAST(n AS BIGINT) FROM b
),
l AS (
  SELECT *,
         lag(metric) OVER (PARTITION BY check_id ORDER BY batch_id)
           AS prev_metric
  FROM m
)
SELECT batch_id, check_id, kind, "column", metric, prev_metric,
       CASE WHEN prev_metric IS NULL OR prev_metric = 0 THEN NULL
            ELSE CAST(ABS(metric - prev_metric) * 1000000
                      // ABS(prev_metric) AS BIGINT) END AS change_ppm,
       CASE WHEN prev_metric IS NULL THEN FALSE
            WHEN prev_metric = 0 THEN metric <> 0
            ELSE ABS(metric - prev_metric) * 1000000
                 // ABS(prev_metric) > 50000 END AS anomalous
FROM l
"""
    # distributed-allclose parity summary vs a deterministic perturbation
    sqls["feature_parity_diff"] = r"""
WITH e AS (SELECT event_id, value, event_type FROM events),
a AS (
  SELECT event_id,
         value + CASE WHEN event_id % 97 = 0 THEN 1.0
                      ELSE 0.000001 * (event_id % 2) END AS value,
         CASE WHEN event_id % 53 = 0 THEN upper(event_type)
              ELSE event_type END AS event_type
  FROM events WHERE event_id % 101 <> 0
),
j AS (
  SELECT e.value AS ev, a.value AS av,
         e.event_type AS es, a.event_type AS a_s,
         (e.event_id IS NOT NULL) AS ep, (a.event_id IS NOT NULL) AS ap
  FROM e FULL OUTER JOIN a ON e.event_id = a.event_id
),
agg AS (
  SELECT
    COALESCE(SUM(CASE WHEN ep THEN 1 END), 0) AS ne,
    COALESCE(SUM(CASE WHEN ap THEN 1 END), 0) AS na,
    COALESCE(SUM(CASE WHEN ep AND ap THEN 1 END), 0) AS nb,
    COALESCE(SUM(CASE WHEN ep AND ap AND ev IS NOT NULL THEN 1 END), 0)
      AS ev_nn,
    COALESCE(SUM(CASE WHEN ep AND ap AND av IS NOT NULL THEN 1 END), 0)
      AS av_nn,
    COALESCE(SUM(CASE WHEN ep AND ap AND (
        (ev IS NULL) <> (av IS NULL)
        OR (ev IS NOT NULL AND av IS NOT NULL
            AND NOT (ev = av OR ABS(ev - av) <= 0.001))
      ) THEN 1 END), 0) AS v_mis,
    MAX(CASE WHEN ep AND ap AND ev IS NOT NULL AND av IS NOT NULL
             THEN ABS(ev - av) END) AS v_max,
    COALESCE(SUM(CASE WHEN ep AND ap AND es IS NOT NULL THEN 1 END), 0)
      AS es_nn,
    COALESCE(SUM(CASE WHEN ep AND ap AND a_s IS NOT NULL THEN 1 END), 0)
      AS as_nn,
    COALESCE(SUM(CASE WHEN ep AND ap AND (es IS DISTINCT FROM a_s)
                 THEN 1 END), 0) AS s_mis
  FROM j
)
SELECT '__rows__' AS "column", CAST(ne AS BIGINT) AS n_expected,
       CAST(na AS BIGINT) AS n_actual, CAST(nb AS BIGINT) AS n_compared,
       CAST(ne + na - 2 * nb AS BIGINT) AS n_mismatch,
       CAST(NULL AS DOUBLE) AS max_abs_diff FROM agg
UNION ALL
SELECT 'value', CAST(ev_nn AS BIGINT), CAST(av_nn AS BIGINT),
       CAST(nb AS BIGINT), CAST(v_mis AS BIGINT), v_max FROM agg
UNION ALL
SELECT 'event_type', CAST(es_nn AS BIGINT), CAST(as_nn AS BIGINT),
       CAST(nb AS BIGINT), CAST(s_mis AS BIGINT),
       CAST(NULL AS DOUBLE) FROM agg
"""
    # constraint suggestion: profile + conditional suggestion arms
    sqls["constraint_suggestions"] = r"""
WITH m AS (
  SELECT COUNT(*) AS n,
         COUNT(event_id) AS c_id, COUNT(DISTINCT event_id) AS d_id,
         CAST(MIN(event_id) AS DOUBLE) AS lo_id,
         CAST(MAX(event_id) AS DOUBLE) AS hi_id,
         COUNT(ts) AS c_ts, COUNT(DISTINCT ts) AS d_ts,
         COUNT(user_id) AS c_uid, COUNT(DISTINCT user_id) AS d_uid,
         CAST(MIN(user_id) AS DOUBLE) AS lo_uid,
         CAST(MAX(user_id) AS DOUBLE) AS hi_uid,
         COUNT(event_type) AS c_et, COUNT(DISTINCT event_type) AS d_et,
         COUNT(value) AS c_v, COUNT(DISTINCT value) AS d_v,
         MIN(value) AS lo_v, MAX(value) AS hi_v,
         COUNT(props) AS c_p, COUNT(DISTINCT props) AS d_p
  FROM events
),
et_list AS (
  SELECT '[' || string_agg('"' || v || '"', ',' ORDER BY v) || ']' AS j
  FROM (SELECT DISTINCT event_type AS v FROM events
        WHERE event_type IS NOT NULL)
),
p_list AS (
  SELECT '[' || string_agg('"' || v || '"', ',' ORDER BY v) || ']' AS j
  FROM (SELECT DISTINCT props AS v FROM events WHERE props IS NOT NULL)
)
SELECT 'event_id' AS "column", 'complete' AS kind,
       CAST(NULL AS DOUBLE) AS param_num, CAST(NULL AS VARCHAR) AS param_str,
       CAST(c_id * 1000000 // n AS BIGINT) AS observed FROM m
UNION ALL SELECT 'ts', 'complete', NULL, NULL,
       CAST(c_ts * 1000000 // n AS BIGINT) FROM m
UNION ALL SELECT 'user_id', 'complete', NULL, NULL,
       CAST(c_uid * 1000000 // n AS BIGINT) FROM m
UNION ALL SELECT 'event_type', 'complete', NULL, NULL,
       CAST(c_et * 1000000 // n AS BIGINT) FROM m
UNION ALL SELECT 'value', 'complete', NULL, NULL,
       CAST(c_v * 1000000 // n AS BIGINT) FROM m
UNION ALL SELECT 'props', 'complete', NULL, NULL,
       CAST(c_p * 1000000 // n AS BIGINT) FROM m
UNION ALL SELECT 'event_id', 'unique', NULL, NULL, CAST(d_id AS BIGINT)
  FROM m WHERE d_id = c_id AND c_id > 0
UNION ALL SELECT 'ts', 'unique', NULL, NULL, CAST(d_ts AS BIGINT)
  FROM m WHERE d_ts = c_ts AND c_ts > 0
UNION ALL SELECT 'user_id', 'unique', NULL, NULL, CAST(d_uid AS BIGINT)
  FROM m WHERE d_uid = c_uid AND c_uid > 0
UNION ALL SELECT 'event_type', 'unique', NULL, NULL, CAST(d_et AS BIGINT)
  FROM m WHERE d_et = c_et AND c_et > 0
UNION ALL SELECT 'value', 'unique', NULL, NULL, CAST(d_v AS BIGINT)
  FROM m WHERE d_v = c_v AND c_v > 0
UNION ALL SELECT 'props', 'unique', NULL, NULL, CAST(d_p AS BIGINT)
  FROM m WHERE d_p = c_p AND c_p > 0
UNION ALL SELECT 'event_type', 'isin', NULL, (SELECT j FROM et_list),
       CAST(d_et AS BIGINT) FROM m WHERE d_et BETWEEN 1 AND 10
UNION ALL SELECT 'props', 'isin', NULL, (SELECT j FROM p_list),
       CAST(d_p AS BIGINT) FROM m WHERE d_p BETWEEN 1 AND 10
UNION ALL SELECT 'event_id', 'min_at_least', lo_id, NULL, NULL
  FROM m WHERE c_id > 0
UNION ALL SELECT 'event_id', 'max_at_most', hi_id, NULL, NULL
  FROM m WHERE c_id > 0
UNION ALL SELECT 'user_id', 'min_at_least', lo_uid, NULL, NULL
  FROM m WHERE c_uid > 0
UNION ALL SELECT 'user_id', 'max_at_most', hi_uid, NULL, NULL
  FROM m WHERE c_uid > 0
UNION ALL SELECT 'value', 'min_at_least', lo_v, NULL, NULL
  FROM m WHERE c_v > 0
UNION ALL SELECT 'value', 'max_at_most', hi_v, NULL, NULL
  FROM m WHERE c_v > 0
"""
    # streaming quality monitor: merged per-micro-batch states ≡ the
    # one-pass whole-table verdicts (events' event_type rides as `role`)
    sqls["stream_quality"] = r"""
WITH m AS (
  SELECT COUNT(*) AS n,
         COUNT(event_type) AS c_r,
         COUNT(user_id) AS c_u,
         COUNT(event_id) AS nn_id,
         COUNT(DISTINCT event_id) AS d_id,
         COALESCE(SUM(CASE WHEN event_type IN
                   ('view', 'click', 'purchase', 'signup', 'error')
                           THEN 1 END), 0) AS m_in
  FROM events
)
SELECT 0 AS check_id, 'complete' AS kind, 'role' AS "column",
       CAST(CASE WHEN n = 0 THEN 1000000
                 ELSE c_r * 1000000 // n END AS BIGINT) AS metric,
       CAST(1000000 AS BIGINT) AS threshold,
       (CASE WHEN n = 0 THEN 1000000 ELSE c_r * 1000000 // n END)
         >= 1000000 AS passed FROM m
UNION ALL
SELECT 1, 'complete', 'user_id',
       CAST(CASE WHEN n = 0 THEN 1000000
                 ELSE c_u * 1000000 // n END AS BIGINT), 1000000,
       (CASE WHEN n = 0 THEN 1000000 ELSE c_u * 1000000 // n END)
         >= 1000000 FROM m
UNION ALL
SELECT 2, 'unique', 'event_id', CAST(nn_id - d_id AS BIGINT), 0,
       nn_id - d_id = 0 FROM m
UNION ALL
SELECT 3, 'isin', 'role',
       CAST(CASE WHEN c_r = 0 THEN 1000000
                 ELSE m_in * 1000000 // c_r END AS BIGINT), 1000000,
       (CASE WHEN c_r = 0 THEN 1000000 ELSE m_in * 1000000 // c_r END)
         >= 1000000 FROM m
UNION ALL
SELECT 4, 'row_count_between', '*', CAST(n AS BIGINT), 1,
       n >= 1 AND n <= 100000000 FROM m
"""
    # Cohen's kappa per cohort: exact integer identity in HUGEINT with a
    # floor-division fixup (DuckDB // truncates toward zero; Spark floors)
    _RATER_PAIRS = r"""
  SELECT user_id % 4 AS cohort, event_type AS a,
         CASE WHEN event_id % 7 = 0 THEN 'error' ELSE event_type END AS b
  FROM events WHERE event_type IS NOT NULL
"""
    sqls["rater_agreement"] = r"""
WITH p AS (
""" + _RATER_PAIRS + r"""
),
base AS (
  SELECT cohort, COUNT(*) AS n,
         COALESCE(SUM(CASE WHEN a = b THEN 1 END), 0) AS agree
  FROM p GROUP BY cohort
),
ma AS (SELECT cohort, a AS l, COUNT(*) AS ca FROM p GROUP BY 1, 2),
mb AS (SELECT cohort, b AS l, COUNT(*) AS cb FROM p GROUP BY 1, 2),
s AS (
  SELECT ma.cohort, SUM(CAST(ca AS HUGEINT) * cb) AS s
  FROM ma JOIN mb ON ma.cohort = mb.cohort AND ma.l = mb.l
  GROUP BY 1
),
k AS (
  SELECT b.cohort, b.n, b.agree,
         CAST(b.n AS HUGEINT) * b.agree - COALESCE(s.s, 0) AS num,
         CAST(b.n AS HUGEINT) * b.n - COALESCE(s.s, 0) AS den
  FROM base b LEFT JOIN s ON b.cohort = s.cohort
)
SELECT cohort, CAST(n AS BIGINT) AS n_pairs, CAST(agree AS BIGINT) AS n_agree,
       CASE WHEN n > 0 AND den <> 0 THEN CAST(
         (num * 1000000) // den
         - CASE WHEN num < 0 AND (num * 1000000) % den <> 0
                THEN 1 ELSE 0 END AS BIGINT) END AS kappa_ppm
FROM k
"""
    sqls["label_confusion"] = r"""
WITH p AS (
""" + _RATER_PAIRS + r"""
),
cell AS (
  SELECT a AS expected, b AS predicted, COUNT(*) AS n_pairs
  FROM p GROUP BY 1, 2
),
t AS (SELECT SUM(n_pairs) AS tot FROM cell)
SELECT expected, predicted, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(CAST(n_pairs AS HUGEINT) * 1000000 // tot AS BIGINT) AS share_e6
FROM cell, t
"""
    # Poisson bootstrap: the SAME plan-time Poisson(1) CDF thresholds on
    # the u32 grid as Spark (Python-computed literals in both engines);
    # knuth keys exact in BIGINT; all aggregates non-negative so // IS floor
    from funcify_feature_eng_spark.operators.metrics import (
        poisson_cdf_thresholds_u32,
    )

    _pth = poisson_cdf_thresholds_u32()
    _wsum = " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _pth
    )
    _BOOT_REPS = r"""
WITH e AS (
  SELECT event_id AS id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events WHERE event_id IS NOT NULL
),
reps AS (SELECT CAST(range AS INT) AS replicate FROM range(16)),
p AS (
  SELECT reps.replicate, e.x,
         ((e.id % 2147483648) * 2654435761 + reps.replicate * 40503)
           % 4294967296 AS u
  FROM e CROSS JOIN reps
),
w AS (SELECT replicate, x, """ + _wsum + r""" AS w FROM p),
agg AS (
  SELECT replicate, SUM(w) AS n_eff, SUM(CAST(w AS HUGEINT) * x) AS wx
  FROM w GROUP BY replicate
)
SELECT replicate, CAST(n_eff AS BIGINT) AS n_eff,
       CASE WHEN n_eff > 0
            THEN CAST(wx * 1000000 // n_eff AS BIGINT) END AS mean_e6
FROM agg
"""
    sqls["bootstrap_rate"] = _BOOT_REPS
    sqls["bootstrap_rate_ci"] = r"""
WITH agg AS (
""" + _BOOT_REPS + r"""
),
s AS (
  SELECT list(mean_e6 ORDER BY mean_e6) AS ms,
         COUNT(mean_e6) AS b
  FROM agg WHERE mean_e6 IS NOT NULL
)
SELECT CAST(b AS INT) AS n_replicates,
       ms[CAST((b - 1) * 50000 // 1000000 + 1 AS INT)] AS lo_e6,
       ms[CAST((b - 1) // 2 + 1 AS INT)] AS median_e6,
       ms[CAST(((b - 1) * 950000 + 999999) // 1000000 + 1 AS INT)] AS hi_e6
FROM s
"""
    # label purity: rational Gini identity, all operands positive so
    # DuckDB's truncating // IS floor
    sqls["label_gini"] = r"""
WITH p AS (
  SELECT event_type AS f,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y
  FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
),
cell AS (SELECT f, y, COUNT(*) AS c FROM p GROUP BY 1, 2),
per AS (
  SELECT f, SUM(c) AS n, COUNT(*) AS n_labels, MAX(c) AS maj,
         SUM(CAST(c AS HUGEINT) * c) AS sq
  FROM cell GROUP BY 1
)
SELECT f AS event_type, CAST(n AS BIGINT) AS n,
       CAST(n_labels AS BIGINT) AS n_labels,
       CAST(CAST(maj AS HUGEINT) * 1000000 // n AS BIGINT) AS majority_ppm,
       CAST((CAST(n AS HUGEINT) * n - sq) * 1000000
            // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gini_ppm
FROM per
"""
    # ranking eval: the SAME plan-time integer DCG weight grid as Spark
    # (floor(1e9/log2(r+1)) computed once in Python, embedded as literals
    # in both engines) — no libm call in either plan
    from funcify_feature_eng_spark.operators.retrieval import ndcg_weights_e9

    _w10 = "[" + ", ".join(str(x) for x in ndcg_weights_e9(10)) + "]"
    sqls["ranking_eval"] = r"""
WITH res AS (
  SELECT doc_id % 4 AS q, doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id % 4
           ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
                    doc_id) AS rank
  FROM documents
  QUALIFY rank <= 15
),
lab AS (
  SELECT doc_id % 4 AS q, doc_id,
         CASE WHEN doc_id % 9 = 0 THEN 2
              WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
  FROM documents
  WHERE doc_id % 3 = 0
),
j AS (
  SELECT r.q, r.rank, COALESCE(l.rel, 0) AS rel
  FROM res r LEFT JOIN lab l ON r.q = l.q AND r.doc_id = l.doc_id
  WHERE r.rank <= 10
),
per_res AS (
  SELECT q, COUNT(*) AS n_results,
         SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS hits,
         MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel_rank,
         SUM(CAST(rel AS HUGEINT) * (""" + _w10 + r""")[rank]) AS dcg
  FROM j GROUP BY q
),
ideal AS (
  SELECT q, doc_id, rel,
         ROW_NUMBER() OVER (PARTITION BY q ORDER BY rel DESC, doc_id) AS rn
  FROM lab WHERE rel > 0
),
per_lab AS (
  SELECT q, COUNT(*) AS n_rel,
         SUM(CASE WHEN rn <= 10
             THEN CAST(rel AS HUGEINT) * (""" + _w10 + r""")[rn]
             ELSE 0 END) AS idcg
  FROM ideal GROUP BY q
)
SELECT r.q AS query_id, CAST(n_results AS BIGINT) AS n_results,
       CAST(COALESCE(n_rel, 0) AS BIGINT) AS n_rel_total,
       CAST(hits AS BIGINT) AS hits_at_k,
       CAST(first_rel_rank AS INT) AS first_rel_rank,
       COALESCE(1000000 // first_rel_rank, 0) AS mrr_ppm,
       hits * 1000000 // 10 AS precision_ppm,
       CASE WHEN n_rel > 0
            THEN CAST(hits * 1000000 // n_rel AS BIGINT) END AS recall_ppm,
       CASE WHEN idcg > 0
            THEN CAST(dcg * 1000000 // idcg AS BIGINT) END AS ndcg_ppm
FROM per_res r LEFT JOIN per_lab l ON r.q = l.q
"""
    sqls["ranking_summary"] = r"""
WITH per AS (
""" + sqls["ranking_eval"] + r"""
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(mrr_ppm) // COUNT(mrr_ppm) AS BIGINT) AS mean_mrr_ppm,
       CAST(SUM(precision_ppm) // COUNT(precision_ppm) AS BIGINT)
         AS mean_precision_ppm,
       CASE WHEN COUNT(recall_ppm) > 0 THEN CAST(
         SUM(recall_ppm) // COUNT(recall_ppm) AS BIGINT) END
         AS mean_recall_ppm,
       CASE WHEN COUNT(ndcg_ppm) > 0 THEN CAST(
         SUM(ndcg_ppm) // COUNT(ndcg_ppm) AS BIGINT) END AS mean_ndcg_ppm
FROM per
"""
    # calibration fixture: label on every 3rd event_id; score = knuth key
    # mod 6e5, +4e5 for positives. All arithmetic positive, so DuckDB's
    # truncating // IS floor throughout both calibration twins.
    _CALIB = r"""
  SELECT user_id % 4 AS cohort,
         ((event_id % 2147483648) * 2654435761) % 4294967296 % 600000
         + CASE WHEN event_id % 3 = 0 THEN 400000 ELSE 0 END AS s,
         CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS y
  FROM events WHERE event_id IS NOT NULL
"""
    sqls["calibration_bins"] = r"""
WITH c AS (
""" + _CALIB + r"""
),
b AS (
  SELECT LEAST(9, GREATEST(0, (s * 10) // 1000000)) AS bin,
         COUNT(*) AS n, SUM(y) AS n_pos, SUM(CAST(s AS HUGEINT)) AS ssum
  FROM c GROUP BY 1
)
SELECT CAST(bin AS INT) AS bin, CAST(n AS BIGINT) AS n,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(CAST(n_pos AS HUGEINT) * 1000000 // n AS BIGINT) AS acc_ppm,
       CAST(ssum // n AS BIGINT) AS conf_ppm,
       CAST(ABS(CAST(n_pos AS HUGEINT) * 1000000 - ssum) // n AS BIGINT)
         AS gap_ppm
FROM b
"""
    sqls["calibration_report"] = r"""
WITH c AS (
""" + _CALIB + r"""
),
b AS (
  SELECT cohort, LEAST(9, GREATEST(0, (s * 10) // 1000000)) AS bin,
         COUNT(*) AS n, SUM(y) AS n_pos, SUM(CAST(s AS HUGEINT)) AS ssum
  FROM c GROUP BY 1, 2
)
SELECT cohort, CAST(SUM(n) AS BIGINT) AS n,
       CAST(SUM(ABS(CAST(n_pos AS HUGEINT) * 1000000 - ssum)) // SUM(n)
            AS BIGINT) AS ece_ppm,
       CAST(MAX(ABS(CAST(n_pos AS HUGEINT) * 1000000 - ssum) // n)
            AS BIGINT) AS mce_ppm
FROM b GROUP BY cohort
"""
    # streaming calibration ≡ batch: merged per-batch ledger states equal
    # the whole-table bins (same SQL as the batch gate)
    sqls["stream_calibration"] = sqls["calibration_bins"]
    # Fleiss' kappa per cohort: three deterministic raters unpivoted to a
    # tall rating frame, then the exact HUGEINT identity with floor fixup
    sqls["fleiss_agreement"] = r"""
WITH r AS (
  SELECT user_id % 4 AS cohort, event_id AS item, event_type AS cat
  FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
  UNION ALL
  SELECT user_id % 4, event_id,
         CASE WHEN event_id % 7 = 0 THEN 'error' ELSE event_type END
  FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
  UNION ALL
  SELECT user_id % 4, event_id,
         CASE WHEN event_id % 11 = 0 THEN 'error' ELSE event_type END
  FROM events WHERE event_type IS NOT NULL AND event_id IS NOT NULL
),
nij AS (SELECT cohort, item, cat, COUNT(*) AS c FROM r GROUP BY 1, 2, 3),
itot AS (
  SELECT cohort, item, SUM(c) AS tot, SUM(CAST(c AS HUGEINT) * c) AS sq
  FROM nij GROUP BY 1, 2
),
ok AS (SELECT * FROM itot WHERE tot = 3),
base AS (
  -- all-items spine (conditional eligibility), mirroring the operator:
  -- a cohort whose items are ALL partial still emits its row
  SELECT cohort,
         COUNT(CASE WHEN tot = 3 THEN 1 END) AS n_items,
         SUM(CASE WHEN tot = 3 THEN sq END) AS a,
         COUNT(CASE WHEN tot <> 3 THEN 1 END) AS nd
  FROM itot GROUP BY 1
),
cj AS (
  SELECT nij.cohort, nij.cat, SUM(nij.c) AS cj
  FROM nij JOIN ok ON nij.cohort = ok.cohort AND nij.item = ok.item
  GROUP BY 1, 2
),
s AS (SELECT cohort, SUM(CAST(cj AS HUGEINT) * cj) AS s FROM cj GROUP BY 1),
k AS (
  SELECT b.cohort, b.n_items, b.nd,
         CAST(b.n_items AS HUGEINT) * 3 AS t, b.a AS a,
         COALESCE(s.s, 0) AS s
  FROM base b
  LEFT JOIN s ON b.cohort = s.cohort
)
SELECT cohort, CAST(n_items AS BIGINT) AS n_items,
       CAST(nd AS BIGINT) AS n_items_dropped,
       CASE WHEN n_items > 0 AND (t * t - s) * 2 <> 0 THEN CAST(
         (t * (a - t) - s * 2) * 1000000 // ((t * t - s) * 2)
         - CASE WHEN (t * (a - t) - s * 2) < 0
                 AND ((t * (a - t) - s * 2) * 1000000)
                     % ((t * t - s) * 2) <> 0
                THEN 1 ELSE 0 END AS BIGINT) END AS kappa_ppm
FROM k
"""
    # exact chi-square: per-cell floored HUGEINT identity + missing mass
    sqls["chi2_label_assoc"] = r"""
WITH p AS (
  SELECT event_type AS a, CAST(user_id % 3 AS VARCHAR) AS b
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
cell AS (SELECT a, b, COUNT(*) AS o FROM p GROUP BY 1, 2),
ra AS (SELECT a, COUNT(*) AS r FROM p GROUP BY 1),
cb AS (SELECT b, COUNT(*) AS c FROM p GROUP BY 1),
tot AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb
  FROM p
),
terms AS (
  SELECT CAST(t.n AS HUGEINT) * cell.o
           - CAST(ra.r AS HUGEINT) * cb.c AS num0,
         CAST(t.n AS HUGEINT) * ra.r * cb.c AS d,
         CAST(ra.r AS HUGEINT) * cb.c AS rc
  FROM cell JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot t
),
obs AS (
  SELECT SUM((num0 * num0) // d * 1000000
             + ((num0 * num0) % d) * 1000000 // d) AS x,
         SUM(rc) AS src
  FROM terms
)
SELECT CAST(t.n AS BIGINT) AS n_pairs,
       CAST((t.ka - 1) * (t.kb - 1) AS BIGINT) AS dof,
       CASE WHEN (t.ka - 1) * (t.kb - 1) > 0 THEN
         CAST(o.x + (CAST(t.n AS HUGEINT) * t.n - o.src) * 1000000 // t.n
              AS BIGINT) END AS chi2_e6
FROM tot t, obs o
"""
    # referential integrity: distinct-key NOT EXISTS counts per relation
    sqls["fk_integrity"] = r"""
SELECT 'orders->customer' AS relation,
       (SELECT COUNT(*) FROM orders) AS n_child,
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL)
         AS n_checked,
       (SELECT COUNT(*) FROM orders o WHERE o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS n_orphans,
       (SELECT COUNT(*) FROM orders o WHERE o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0 AS ok
UNION ALL
SELECT 'lineitem->orders',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
       (SELECT COUNT(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT COUNT(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) = 0
UNION ALL
SELECT 'events->customer',
       (SELECT COUNT(*) FROM events),
       (SELECT COUNT(*) FROM events WHERE user_id IS NOT NULL),
       (SELECT COUNT(*) FROM events e WHERE user_id IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = e.user_id)),
       (SELECT COUNT(*) FROM events e WHERE user_id IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = e.user_id)) = 0
"""
    # both backfill gates must reproduce the ONE-SHOT whole-range window —
    # the oracle is deliberately the un-partitioned computation, so a hash
    # match proves bucketed recomputation (single-job replication form AND
    # the resumable per-bucket orchestrator) is exact across bucket edges
    _backfill_oracle = r"""
WITH g AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
)
SELECT event_id, user_id,
       CAST(count(v_e6) OVER w AS BIGINT) AS n_prev_1h,
       CAST(coalesce(sum(v_e6) OVER w, 0) AS BIGINT) AS sum_prev_1h_e6
FROM g
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
"""
    sqls["bounded_backfill"] = _backfill_oracle
    sqls["backfill_run"] = _backfill_oracle
    sqls["multi_horizon_stats"] = r"""
WITH g AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
)
SELECT event_id, user_id,
       CAST(count(v_e6) OVER w1 AS BIGINT) AS h1_cnt,
       CAST(coalesce(sum(v_e6) OVER w1, 0) AS BIGINT) AS h1_sum,
       CAST(count(v_e6) OVER w6 AS BIGINT) AS h6_cnt,
       CAST(coalesce(sum(v_e6) OVER w6, 0) AS BIGINT) AS h6_sum,
       CAST(count(v_e6) OVER wd AS BIGINT) AS d1_cnt,
       CAST(coalesce(sum(v_e6) OVER wd, 0) AS BIGINT) AS d1_sum
FROM g
WINDOW
  w1 AS (PARTITION BY user_id ORDER BY es
         RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING),
  w6 AS (PARTITION BY user_id ORDER BY es
         RANGE BETWEEN 21600 PRECEDING AND 1 PRECEDING),
  wd AS (PARTITION BY user_id ORDER BY es
         RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING)
"""
    # same (lo, width) closed form as operators/cv.py: width =
    # ceil(span/k) via (hi - lo + k) // k; fold/purge/embargo roles are
    # pure integer comparisons so the two engines agree bit-for-bit
    sqls["purged_folds"] = r"""
WITH g AS (
  SELECT event_id, epoch_us(ts) // 1000000 AS es
  FROM events WHERE ts IS NOT NULL
),
w AS (SELECT min(es) AS lo, (max(es) - min(es) + 4) // 4 AS width FROM g),
f AS (SELECT * FROM range(4) t(test_fold))
SELECT g.event_id,
       CAST(f.test_fold AS INT) AS test_fold,
       CASE
         WHEN (g.es - w.lo) // w.width = f.test_fold THEN 'test'
         WHEN g.es >= w.lo + f.test_fold * w.width - 86400
          AND g.es <  w.lo + f.test_fold * w.width THEN 'purged'
         WHEN g.es >= w.lo + (f.test_fold + 1) * w.width
          AND g.es <  w.lo + (f.test_fold + 1) * w.width + 43200
           THEN 'embargoed'
         ELSE 'train'
       END AS role
FROM g, w, f
"""
    # three knowledge levels of the same (entity, event-time) point:
    # before K1 nothing is calculated (NULL), between K1 and K2 the
    # original value, after K2 the correction (+1000) — recomputed from
    # events alone, independent of the store the Spark side builds
    sqls["store_bitemporal"] = f"""
WITH base AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE ts <= TIMESTAMP '{_STORE_CUT}')
              AS DOUBLE) AS v
  FROM events GROUP BY user_id
)
SELECT 'k0' AS knowledge, user_id, CAST(NULL AS DOUBLE) AS value FROM base
UNION ALL
SELECT 'k1', user_id, v FROM base
UNION ALL
SELECT 'k2', user_id, v + 1000.0 FROM base
"""
    # unbounded per-entity windows over the COMPLETE history of every
    # user touched by the middle third of the range — same closed-form
    # range arithmetic as the Spark side
    sqls["entity_backfill"] = r"""
WITH g AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
),
b AS (SELECT min(es) AS lo, max(es) AS hi FROM g),
r AS (SELECT lo + (hi - lo) // 3 AS s, lo + 2 * ((hi - lo) // 3) AS e FROM b),
touched AS (
  SELECT DISTINCT user_id FROM g, r WHERE g.es >= r.s AND g.es < r.e
)
SELECT g.event_id, g.user_id,
       CAST(row_number() OVER w AS INT) AS seq,
       CAST(sum(v_e6) OVER w AS BIGINT) AS cum_e6
FROM g JOIN touched USING (user_id)
WINDOW w AS (PARTITION BY g.user_id ORDER BY es, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""
    # post-expire store contents: T0 vintage gone, T1 survives as the
    # latest at-or-before-cutoff record, T2 is inside the horizon
    sqls["store_retention"] = f"""
WITH base AS (
  SELECT user_id,
         CAST(count(*) FILTER (WHERE ts <= TIMESTAMP '2024-01-08 00:00:00')
              AS DOUBLE) AS v
  FROM events GROUP BY user_id
)
SELECT user_id, v + 1000.0 AS value,
       '{_STORE_CUT}' AS value_at FROM base
UNION ALL
SELECT user_id, v + 2000.0, '{_STORE_T2}' FROM base
"""
    # oracle reads the ORIGINAL parquet: hash match <=> lossless ORC trip
    sqls["events_orc"] = r"""
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
FROM events
WHERE event_type <> 'noop__'
"""
    # capstone = the three closed forms composed: strictly-prior feature
    # frames, strictly-future label frame, purged-fold role arithmetic
    sqls["training_set"] = r"""
WITH g AS (
  SELECT event_id, user_id, epoch_us(ts) // 1000000 AS es,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6,
         CASE WHEN event_type = 'purchase' THEN 1 END AS is_p
  FROM events WHERE ts IS NOT NULL
),
f AS (
  SELECT event_id, user_id, es,
         CAST(count(v_e6) OVER w1 AS BIGINT) AS h1_cnt,
         CAST(coalesce(sum(v_e6) OVER w1, 0) AS BIGINT) AS h1_sum,
         CAST(count(v_e6) OVER wd AS BIGINT) AS d1_cnt,
         CAST(coalesce(sum(v_e6) OVER wd, 0) AS BIGINT) AS d1_sum,
         CAST(CASE WHEN count(is_p) OVER wf > 0 THEN 1 ELSE 0 END AS INT)
           AS label_buys_7d
  FROM g
  WINDOW
    w1 AS (PARTITION BY user_id ORDER BY es
           RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING),
    wd AS (PARTITION BY user_id ORDER BY es
           RANGE BETWEEN 86400 PRECEDING AND 1 PRECEDING),
    wf AS (PARTITION BY user_id ORDER BY es
           RANGE BETWEEN 1 FOLLOWING AND 604800 FOLLOWING)
),
b AS (SELECT min(es) AS lo, (max(es) - min(es) + 4) // 4 AS width FROM g),
k AS (SELECT * FROM range(4) t(test_fold))
SELECT f.event_id,
       CAST(k.test_fold AS INT) AS test_fold,
       CASE
         WHEN (f.es - b.lo) // b.width = k.test_fold THEN 'test'
         WHEN f.es >= b.lo + k.test_fold * b.width - 86400
          AND f.es <  b.lo + k.test_fold * b.width THEN 'purged'
         WHEN f.es >= b.lo + (k.test_fold + 1) * b.width
          AND f.es <  b.lo + (k.test_fold + 1) * b.width + 43200
           THEN 'embargoed'
         ELSE 'train'
       END AS role,
       h1_cnt, h1_sum, d1_cnt, d1_sum, label_buys_7d
FROM f, b, k
"""
    # stream ≡ batch: after two per-user-split publishes, the as-of read
    # resolves each user to the GLOBAL latest event (batch 1 holds the
    # per-user ordered tail; at a tied instant calculated_ts breaks to it)
    sqls["stream_store_publish"] = r"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v
  FROM events
),
w AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM g
)
SELECT user_id, v AS latest_v_e6 FROM w WHERE rn = 1
"""
    # freshness rows from the publish constants + events cardinalities;
    # the pinned-knowledge report hides the later 'fast' publish
    sqls["store_freshness"] = f"""
WITH u AS (SELECT count(DISTINCT user_id) AS n FROM events)
SELECT 'now' AS report, 'fast' AS feature_id,
       CAST(2 * n AS BIGINT) AS n_values, CAST(n AS BIGINT) AS n_entities,
       '{_STORE_T2}' AS latest_value_at,
       '2025-02-01 00:00:00' AS latest_calculated FROM u
UNION ALL
SELECT 'now', 'stale', CAST(n AS BIGINT), CAST(n AS BIGINT),
       '{_STORE_CUT}', '2025-01-01 00:00:00' FROM u
UNION ALL
SELECT 'at_k1', 'fast', CAST(n AS BIGINT), CAST(n AS BIGINT),
       '{_STORE_CUT}', '2025-01-01 00:00:00' FROM u
UNION ALL
SELECT 'at_k1', 'stale', CAST(n AS BIGINT), CAST(n AS BIGINT),
       '{_STORE_CUT}', '2025-01-01 00:00:00' FROM u
"""
    # sliding-context SFT examples: windowed string_agg over the IDENTICAL
    # ROWS frame (3 PRECEDING .. 1 PRECEDING); frame order = window ORDER BY
    sqls["sft_context_examples"] = """
WITH r AS (
  SELECT user_id, event_id, ts, event_type,
         coalesce(props, '') AS content,
         '<|' || event_type || '|>' || coalesce(props, '') || chr(10) AS rendered
  FROM events
), c AS (
  SELECT user_id, event_id, event_type, content,
         coalesce(string_agg(rendered, '') OVER w3, '') AS context,
         CAST(count(*) OVER w3 AS INT) AS n_context_turns
  FROM r
  WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, context, content AS target, n_context_turns
FROM c WHERE event_type IN ('purchase', 'signup')
"""
    # tool-call loop detection: classic lag/running-sum islands, NULL tool
    # ('error' turns) breaks runs; longest-run tie breaks to earliest run
    sqls["tool_call_loops"] = """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type <> 'error' THEN event_type END AS tool
  FROM events
), c AS (
  SELECT user_id, ts, event_id, tool,
         CASE WHEN tool IS NOT DISTINCT FROM lag(tool) OVER w THEN 0 ELSE 1 END AS chg
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, tool,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM c
), runs AS (
  SELECT user_id, run, MIN(tool) AS tool, COUNT(*) AS len
  FROM s WHERE tool IS NOT NULL GROUP BY user_id, run
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY len DESC, run ASC) AS rk
  FROM runs
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_tool_turns,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(len) AS BIGINT) AS max_run_len,
       CAST(SUM(CASE WHEN len >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_loops,
       MAX(CASE WHEN rk = 1 THEN tool END) AS loop_tool
FROM rk GROUP BY user_id
"""
    # within-conversation self-repetition over view/click payloads; ppm by
    # truncating // (operands non-negative, so truncation = floor)
    sqls["self_repetition"] = """
WITH b AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id, props
                            ORDER BY ts, event_id) AS rn
  FROM events
  WHERE event_type IN ('view', 'click') AND props IS NOT NULL
), a AS (
  SELECT user_id, COUNT(*) AS n_turns,
         SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS n_repeated
  FROM b GROUP BY user_id
)
SELECT user_id,
       CAST(n_turns AS BIGINT) AS n_turns,
       CAST(n_repeated AS BIGINT) AS n_repeated,
       CAST(n_turns - n_repeated AS BIGINT) AS n_distinct,
       CAST((n_repeated * 1000000) // n_turns AS BIGINT) AS repetition_ppm
FROM a
"""
    # exact int8-grid mean pooling: the same floor-based quantization
    # formula (IEEE double ops on exact inputs), per-position integer sums,
    # floor division via the remainder identity (sums may be negative —
    # DuckDB's // truncates, so feed it an exact multiple)
    sqls["embedding_pool"] = """
WITH q AS (
  SELECT label,
         CASE WHEN amax > 0 THEN list_transform(
                embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 127 / amax + 0.5) AS BIGINT))
              ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
         END AS qv
  FROM (
    SELECT label, embedding,
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) AS amax
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
  )
), cells AS (
  SELECT label, generate_subscripts(qv, 1) AS pos, unnest(qv) AS val FROM q
), sums AS (
  SELECT label, pos, SUM(val) AS s, COUNT(*) AS n
  FROM cells GROUP BY label, pos
)
SELECT label,
       list(CAST((s - ((s % n) + n) % n) // n AS BIGINT) ORDER BY pos) AS pooled,
       CAST(MIN(n) AS BIGINT) AS n_vecs
FROM sums GROUP BY label
"""
    # consecutive near-retry: levenshtein over the role-filtered lag chain;
    # operands non-negative so // = floor; NULL distance on firsts
    sqls["retry_similarity"] = """
WITH b AS (
  SELECT user_id, event_id, ts,
         substr(coalesce(props, ''), 1, 2000) AS t
  FROM events WHERE event_type IN ('view', 'click')
), l AS (
  SELECT user_id, event_id,
         levenshtein(lag(t) OVER w, t) AS d,
         greatest(length(lag(t) OVER w), length(t), 1) AS dn
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(d AS BIGINT) AS lev_dist,
       CAST((d * 1000000) // dn AS BIGINT) AS rel_dist_ppm,
       coalesce((d * 1000000) // dn <= 200000, false) AS is_near_retry
FROM l
"""
    # trajectory trigram counts over the per-user event-type path
    sqls["event_path_ngrams"] = """
WITH l AS (
  SELECT lag(event_type, 2) OVER w AS a,
         lag(event_type, 1) OVER w AS b,
         event_type AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT a || '>' || b || '>' || c AS ngram,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM l WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL
GROUP BY 1
"""
    # numeric feature conditioning: NTILE discretization + cut binning +
    # exact min-max + integer-moment z-score, identical formulas
    sqls["feature_scaling"] = """
WITH nn AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars IS NOT NULL
), b AS (
  SELECT doc_id, lang, n_chars,
         CAST(NTILE(5) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
              AS INTEGER) AS depth_bin
  FROM nn
), s AS (
  SELECT lang, MIN(n_chars) AS mn, MAX(n_chars) AS mx,
         COUNT(*) AS n, SUM(n_chars) AS s1, SUM(n_chars * n_chars) AS s2
  FROM nn GROUP BY lang
)
SELECT b.doc_id, b.lang, b.n_chars, b.depth_bin,
       CAST(CAST(b.n_chars >= 100 AS INT) + CAST(b.n_chars >= 200 AS INT)
            + CAST(b.n_chars >= 400 AS INT) AS INTEGER) AS cut_bin,
       CAST(CASE WHEN s.mx = s.mn THEN 0
            ELSE (b.n_chars - s.mn) * 1000000 // (s.mx - s.mn)
       END AS BIGINT) AS minmax_e6,
       CASE WHEN s.n * s.s2 - s.s1 * s.s1 <= 0 THEN NULL
            ELSE CAST(s.n * b.n_chars - s.s1 AS DOUBLE)
                 / sqrt(CAST(s.n * s.s2 - s.s1 * s.s1 AS DOUBLE))
       END AS zscore
FROM b JOIN s USING (lang)
UNION ALL
SELECT doc_id, lang, n_chars, CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM documents WHERE n_chars IS NULL
"""
    # winsorize: thresholds = value at rank max(1, ceil(p*n)) per group;
    # non-negative operands so // = floor, ceil via (a + b - 1) // b
    sqls["winsorized_values"] = """
WITH b AS (
  SELECT event_id, event_type,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v_e6
  FROM events
), nn AS (
  SELECT event_id, event_type, v_e6,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v_e6, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM b WHERE v_e6 IS NOT NULL
), th AS (
  SELECT event_type,
         MIN(CASE WHEN rn = GREATEST(1, LEAST((50000 * n + 999999) // 1000000,
                                              n)) THEN v_e6 END) AS lo,
         MIN(CASE WHEN rn = GREATEST(1, LEAST((950000 * n + 999999) // 1000000,
                                              n)) THEN v_e6 END) AS hi
  FROM nn GROUP BY event_type
)
SELECT b.event_id, b.event_type, b.v_e6,
       CASE WHEN b.v_e6 IS NULL THEN NULL
            ELSE GREATEST(th.lo, LEAST(th.hi, b.v_e6)) END AS v_winsor
FROM b LEFT JOIN th USING (event_type)
"""
    # frequency encoding: category-grain counts + floor-ppm corpus share
    sqls["count_encoding"] = """
WITH c AS (
  SELECT event_type, COUNT(*) AS cat_cnt FROM events GROUP BY event_type
), t AS (SELECT SUM(cat_cnt) AS tot FROM c)
SELECT e.event_id, e.event_type,
       CAST(c.cat_cnt AS BIGINT) AS cat_cnt,
       CAST((c.cat_cnt * 1000000) // t.tot AS BIGINT) AS cat_share_ppm
FROM events e
JOIN c ON e.event_type IS NOT DISTINCT FROM c.event_type
CROSS JOIN t
"""
    # hashed feature cross: fixture from the independent pure-Python
    # xxh64 chain (scripts/make_fixtures.py::hash_cross_buckets)
    sqls["hash_crosses"] = f"""
WITH fx AS ({_fixture_values("hash_cross_sf0.01.parquet",
                             ["doc_id", "cross_bucket"])})
SELECT d.doc_id, d.lang, d.source, fx.cross_bucket
FROM documents d JOIN fx USING (doc_id)
"""
    # hashing-trick vectorizer: fixture from the independent pure-Python
    # xxh64 twin (scripts/make_fixtures.py::hashed_vector_rows)
    sqls["hashed_features"] = f"""
SELECT doc_id, slot, val
FROM ({_fixture_values("hashed_features_sf0.01.parquet",
                       ["doc_id", "slot", "val"])})
"""
    # fuzzy record linkage: DuckDB ships the same classic levenshtein, so
    # the oracle is the IDENTICAL algorithm — last-token blocks, |len| band,
    # dist ≤ 2, canonical a < b ordering
    _FUZZY_PAIRS_SQL = """
WITH names AS (
  SELECT DISTINCT p_name AS name, regexp_extract(p_name, '([^ ]+)$', 1) AS blk
  FROM part WHERE p_name IS NOT NULL
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM names a JOIN names b ON a.blk = b.blk
WHERE a.name < b.name
  AND abs(length(a.name) - length(b.name)) <= 2
  AND levenshtein(a.name, b.name) <= 2
"""
    sqls["fuzzy_name_pairs"] = _FUZZY_PAIRS_SQL
    # entity resolution: transitive closure over the fuzzy pairs via a
    # recursive-CTE reachability (UNION dedups, so it terminates), canonical
    # = minimum member spelling; unmatched names canonicalize to themselves
    sqls["canonical_parts"] = f"""
WITH RECURSIVE pairs AS ({_FUZZY_PAIRS_SQL}),
edges AS (
  SELECT name_a AS src, name_b AS dst FROM pairs
  UNION ALL
  SELECT name_b AS src, name_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
canon AS (
  SELECT src AS name, least(src, min(dst)) AS canonical
  FROM reach GROUP BY src
)
SELECT coalesce(c.canonical, p.p_name) AS canonical,
       COUNT(*) AS n_parts,
       COUNT(DISTINCT p.p_name) AS n_spellings
FROM part p LEFT JOIN canon c ON p.p_name = c.name
GROUP BY 1
"""
    # funnel: the oracle evaluates the SAME pinned semantics (first-touch
    # anchor, strictly-after (us, oid) tuple, 7-day window from step 1)
    # step-at-a-time — earliest qualifying event per step via QUALIFY —
    # instead of the Spark side's sorted-array fold
    _FUNNEL_WIN_US = 7 * 86400 * 1_000_000
    sqls["funnel_conversion"] = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id AS oid
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
s1 AS (
  SELECT user_id, us, oid FROM e WHERE event_type = 'signup'
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY us, oid) = 1
),
s2 AS (
  SELECT s1.user_id, s1.us AS a_us, e.us, e.oid
  FROM s1 JOIN e ON e.user_id = s1.user_id AND e.event_type = 'view'
   AND (e.us > s1.us OR (e.us = s1.us AND e.oid > s1.oid))
   AND e.us <= s1.us + {_FUNNEL_WIN_US}
  QUALIFY row_number() OVER (PARTITION BY s1.user_id ORDER BY e.us, e.oid) = 1
),
s3 AS (
  SELECT s2.user_id, e.us, e.oid
  FROM s2 JOIN e ON e.user_id = s2.user_id AND e.event_type = 'purchase'
   AND (e.us > s2.us OR (e.us = s2.us AND e.oid > s2.oid))
   AND e.us <= s2.a_us + {_FUNNEL_WIN_US}
  QUALIFY row_number() OVER (PARTITION BY s2.user_id ORDER BY e.us, e.oid) = 1
)
SELECT s1.user_id,
       CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                 WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS INT)
         AS steps_completed,
       make_timestamp(s1.us) AS ts_1,
       make_timestamp(s2.us) AS ts_2,
       make_timestamp(s3.us) AS ts_3
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""
    # retention: epoch-aligned integer day grid (NOT date_trunc) — engine
    # week-start / locale config can never shift a bucket
    sqls["retention_cohorts"] = """
WITH b AS (
  SELECT user_id AS u, epoch_us(ts) // 86400000000 AS p
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
firsts AS (SELECT u, min(p) AS cohort FROM b GROUP BY u),
active AS (SELECT DISTINCT u, p FROM b),
ret AS (
  SELECT f.cohort, a.p - f.cohort AS "offset", COUNT(*) AS n_active
  FROM active a JOIN firsts f USING (u) GROUP BY 1, 2
),
sizes AS (SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY 1)
SELECT cohort, "offset", n_active, cohort_size
FROM ret JOIN sizes USING (cohort)
"""
    # co-occurrence edges: the oracle builds pairs via a distinct-pair
    # self-join — a structurally different evaluation of the same set
    _COPART_EDGES_SQL = """
WITH gi AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
)
SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_groups
FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""
    sqls["copart_edges"] = _COPART_EDGES_SQL
    # item neighbors: symmetric view of the same edges + per-item group
    # counts; squared-cosine ppm as pure integer floor division; QUALIFY
    # rank with the identical (cos2 DESC, n_both DESC, neighbor ASC)
    # tie-break
    sqls["item_neighbors"] = f"""
WITH gi AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
cnt AS (SELECT i AS item, COUNT(*) AS n_item FROM gi GROUP BY 1),
e AS ({_COPART_EDGES_SQL}),
sym AS (
  SELECT item_a AS item, item_b AS neighbor, n_groups AS n_both FROM e
  UNION ALL
  SELECT item_b, item_a, n_groups FROM e
)
SELECT s.item, s.neighbor, CAST(s.n_both AS BIGINT) AS n_both,
       CAST(ci.n_item AS BIGINT) AS n_item,
       CAST(cn.n_item AS BIGINT) AS n_neighbor,
       CAST((s.n_both * s.n_both * 1000000) // (ci.n_item * cn.n_item)
            AS BIGINT) AS cosine2_ppm,
       CAST(row_number() OVER (
         PARTITION BY s.item
         ORDER BY (s.n_both * s.n_both * 1000000) // (ci.n_item * cn.n_item)
           DESC, s.n_both DESC, s.neighbor ASC) AS INT) AS rank
FROM sym s
JOIN cnt ci ON ci.item = s.item
JOIN cnt cn ON cn.item = s.neighbor
QUALIFY rank <= 5
"""
    # triangles: id-ordered 3-way self-join (a<b<c) enumerates each
    # triangle once; Spark's degree-oriented wedges count the same set
    sqls["part_triangles"] = f"""
WITH e AS (SELECT item_a AS u, item_b AS v FROM ({_COPART_EDGES_SQL})),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
pn AS (
  SELECT node, COUNT(*) AS triangles
  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY 1
)
SELECT d.node, d.degree, coalesce(pn.triangles, 0) AS triangles,
       CASE WHEN d.degree >= 2
            THEN (2 * coalesce(pn.triangles, 0) * 1000000)
                 // (d.degree * (d.degree - 1)) END AS clustering_ppm
FROM deg d LEFT JOIN pn USING (node)
"""
    # CUPED: exact HUGEINT moments (the Spark side's DECIMAL(38) twin),
    # doubles only in the final expression — shape mirrored VERBATIM so
    # both engines round identically at every step
    sqls["cuped_readout"] = """
WITH unit AS (
  SELECT user_id, user_id % 2 AS arm,
    sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        THEN coalesce(CAST(floor(value * 1000) AS BIGINT), 0) ELSE 0 END) AS x,
    sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        THEN coalesce(CAST(floor(value * 1000) AS BIGINT), 0) ELSE 0 END) AS y
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1
),
arm_m AS (
  SELECT arm, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM unit GROUP BY 1
),
pool AS (
  SELECT arm, n, sx, sy, sxx, sxy,
         sum(n) OVER () AS np, sum(sx) OVER () AS sxp,
         sum(sxx) OVER () AS sxxp, sum(sxy) OVER () AS sxyp,
         sum(sy) OVER () AS syp
  FROM arm_m
)
SELECT arm, CAST(n AS BIGINT) AS n,
  CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS mean_y,
  CASE WHEN (np * sxxp - sxp * sxp) > 0 THEN
    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
    - (CAST(np * sxyp - sxp * syp AS DOUBLE)
       / CAST(np * sxxp - sxp * sxp AS DOUBLE))
      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
         - CAST(sxp AS DOUBLE) / CAST(np AS DOUBLE))
  ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) END AS mean_adj,
  CASE WHEN (np * sxxp - sxp * sxp) > 0 THEN
    CAST(np * sxyp - sxp * syp AS DOUBLE)
    / CAST(np * sxxp - sxp * sxp AS DOUBLE) END AS theta
FROM pool
"""
    # attribution: join-then-rank oracle — every qualifying touch joins,
    # the rank picks the credited one; Spark's single window pass must
    # agree row-for-row
    _ATTR_LB_US = 3 * 86400 * 1_000_000

    def _attr_sql(direction: str) -> str:
        return f"""
WITH e AS (
  SELECT user_id, event_type, event_id AS oid, epoch_us(ts) AS us
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IN ('view', 'click', 'purchase')
),
conv AS (SELECT * FROM e WHERE event_type = 'purchase'),
t AS (SELECT * FROM e WHERE event_type IN ('view', 'click')),
j AS (
  SELECT c.user_id, c.oid AS conversion_id, c.event_type AS conversion_type,
         c.us AS cus, t.event_type AS tt, t.us AS tus, t.oid AS toid
  FROM conv c LEFT JOIN t ON t.user_id = c.user_id
   AND (t.us < c.us OR (t.us = c.us AND t.oid < c.oid))
   AND t.us >= c.us - {_ATTR_LB_US}
)
SELECT user_id, conversion_id, conversion_type,
       make_timestamp(cus) AS conversion_ts,
       tt AS touch_type, make_timestamp(tus) AS touch_ts
FROM j
QUALIFY row_number() OVER (PARTITION BY conversion_id
                           ORDER BY tus {direction}, toid {direction}) = 1
"""

    sqls["attribution_last"] = _attr_sql("DESC")
    sqls["attribution_first"] = _attr_sql("ASC")
    # PageRank: the oracle replays the pinned integer fold as n_iters
    # UNROLLED CTE layers (generated here in a loop — aggregation inside a
    # recursive CTE is not portable); every term is BIGINT floor division,
    # so equality with Spark's DECIMAL loop is by construction
    _PR_ITERS, _PR_NUM, _PR_DEN = 8, 85, 100
    _pr_layers = [
        "r0 AS (SELECT v, CAST(1000000000000 // n.cnt AS BIGINT) AS r "
        "FROM nodes CROSS JOIN n)"
    ]
    for _k in range(1, _PR_ITERS + 1):
        _pr_layers.append(f"""
r{_k} AS (
  SELECT no.v, b.b + coalesce(c.s, 0) AS r
  FROM nodes no CROSS JOIN base b
  LEFT JOIN (
    SELECT e.d AS v,
           sum(({_PR_NUM} * p.r) // ({_PR_DEN} * dg.od)) AS s
    FROM e JOIN r{_k - 1} p ON p.v = e.s JOIN deg dg ON dg.v = e.s
    GROUP BY e.d
  ) c ON c.v = no.v
)""")
    sqls["pagerank_parts"] = f"""
WITH sym AS (
  SELECT item_a AS s, item_b AS d FROM ({_COPART_EDGES_SQL})
  UNION ALL
  SELECT item_b, item_a FROM ({_COPART_EDGES_SQL})
),
e AS (SELECT DISTINCT s, d FROM sym WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
nodes AS (SELECT s AS v FROM e UNION SELECT d FROM e),
deg AS (SELECT s AS v, count(*) AS od FROM e GROUP BY 1),
n AS (SELECT count(*) AS cnt FROM nodes),
base AS (
  SELECT CAST((({_PR_DEN} - {_PR_NUM}) * 1000000000000)
              // ({_PR_DEN} * cnt) AS BIGINT) AS b FROM n
),
{",".join(_pr_layers)}
SELECT no.v AS node, CAST(r{_PR_ITERS}.r AS BIGINT) AS rank_e12,
       CAST(coalesce(dg.od, 0) AS BIGINT) AS out_degree
FROM nodes no JOIN r{_PR_ITERS} ON r{_PR_ITERS}.v = no.v
LEFT JOIN deg dg ON dg.v = no.v
"""
    # k-anonymity: plain GROUP BY + HAVING reproduces the violation set
    sqls["k_anonymity_groups"] = """
SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
       count(*) < 10 AS k_violation,
       count(DISTINCT c_acctbal) < 2 AS l_violation
FROM customer
GROUP BY c_nationkey, c_mktsegment
HAVING count(*) < 10 OR count(DISTINCT c_acctbal) < 2
"""
    sqls["k_anonymity_summary"] = """
WITH g AS (
  SELECT count(*) AS n, count(DISTINCT c_acctbal) AS l
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(n) AS BIGINT) AS k_anonymity,
       CAST(min(l) AS BIGINT) AS l_diversity,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // sum(n)
            AS BIGINT) AS singleton_row_ppm
FROM g
"""
    # Kaplan-Meier: the oracle replays the PINNED integer rounding fold
    # (s = floor(s*(n-d)/n), 1e-12 fixed point, HUGEINT intermediates)
    # with a recursive CTE over the life-table rows — bit-for-bit equal to
    # Spark's DECIMAL(38) array fold by construction
    sqls["km_survival"] = """
WITH RECURSIVE per AS (
  SELECT user_id, min(epoch_us(ts)) AS t0,
         min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS te,
         max(epoch_us(ts)) AS tl
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
subj AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
         (coalesce(te, tl) - t0) // 1000000 AS t,
         CASE WHEN te IS NOT NULL THEN 1 ELSE 0 END AS e
  FROM per
),
lt AS (SELECT arm, t, sum(e) AS d, sum(1 - e) AS c FROM subj GROUP BY arm, t),
o AS (
  SELECT arm, t, d, c,
         sum(d + c) OVER (PARTITION BY arm ORDER BY t DESC) AS n_risk,
         row_number() OVER (PARTITION BY arm ORDER BY t) AS rn
  FROM lt
),
r AS (
  SELECT arm, t, d, c, n_risk, rn,
         CASE WHEN d > 0
              THEN (CAST(1000000000000 AS HUGEINT) * (n_risk - d)) // n_risk
              ELSE CAST(1000000000000 AS HUGEINT) END AS s
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.arm, o.t, o.d, o.c, o.n_risk, o.rn,
         CASE WHEN o.d > 0 THEN (r.s * (o.n_risk - o.d)) // o.n_risk
              ELSE r.s END
  FROM o JOIN r ON o.arm = r.arm AND o.rn = r.rn + 1
)
SELECT arm, CAST(t AS BIGINT) AS duration, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_event, CAST(c AS BIGINT) AS n_censored,
       CAST(s AS BIGINT) AS survival_e12
FROM r
"""
    # activity streaks: classic islands SQL — (period - row_number) groups
    # consecutive runs; the Spark side is a window-free array fold
    sqls["activity_streaks"] = """
WITH p AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS per
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
a AS (SELECT max(per) AS am FROM p),
g AS (
  SELECT user_id, per,
         per - row_number() OVER (PARTITION BY user_id ORDER BY per) AS grp
  FROM p, a WHERE per <= am
),
i AS (
  SELECT user_id, grp, count(*) AS len, min(per) AS s, max(per) AS e
  FROM g GROUP BY user_id, grp
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(coalesce(max(CASE WHEN e = (SELECT am FROM a) THEN len END), 0)
            AS BIGINT) AS current_streak,
       CAST(min(s) AS BIGINT) AS first_period,
       CAST(max(e) AS BIGINT) AS last_period
FROM i GROUP BY user_id
"""
    # recency-decayed rollup: half-life-bucketed integer weights
    # 2^(20-k), strictly-prior cutoff, exact integer sums
    sqls["time_decay_rollup"] = """
WITH b AS (
  SELECT user_id,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v,
         CAST((epoch_us(TIMESTAMP '2024-02-01 00:00:00') - epoch_us(ts))
              // 172800000000 AS INTEGER) AS k
  FROM events
  WHERE ts IS NOT NULL AND ts <= TIMESTAMP '2024-02-01 00:00:00'
), w AS (
  SELECT user_id, v,
         CASE WHEN k > 20 THEN 0
              ELSE (CAST(1 AS BIGINT) << (20 - k)) END AS wq
  FROM b
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(v * wq), 0) AS BIGINT) AS decayed_sum_q,
       CAST(SUM(wq) AS BIGINT) AS decayed_wsum_q,
       CAST(CAST(COALESCE(SUM(v * wq), 0) AS BIGINT) AS DOUBLE) / 1048576.0
         AS decayed_sum,
       CASE WHEN SUM(CASE WHEN v IS NOT NULL THEN wq END) > 0
            THEN CAST(CAST(COALESCE(SUM(v * wq), 0) AS BIGINT) AS DOUBLE)
                 / CAST(SUM(CASE WHEN v IS NOT NULL THEN wq END) AS DOUBLE)
       END AS decayed_mean
FROM w GROUP BY user_id
"""
    # exact Pearson matrix: one moment block per pair, generated by the
    # same Python loop shape as the Spark side (pairwise-complete FILTERs)
    def _corr_pair(x: str, y: str) -> str:
        f = f"FILTER ({x} IS NOT NULL AND {y} IS NOT NULL)"
        return f"""
  SELECT l_returnflag, '{x}' AS col_x, '{y}' AS col_y,
         COUNT(*) {f} AS n,
         COALESCE(SUM({x}) {f}, 0) AS sx,
         COALESCE(SUM({y}) {f}, 0) AS sy,
         COALESCE(SUM({x} * {x}) {f}, 0) AS sxx,
         COALESCE(SUM({y} * {y}) {f}, 0) AS syy,
         COALESCE(SUM({x} * {y}) {f}, 0) AS sxy
  FROM b GROUP BY l_returnflag"""

    _corr_pairs = " UNION ALL ".join(
        _corr_pair(x, y)
        for x, y in [("q_e2", "p_e2"), ("q_e2", "d_e4"), ("p_e2", "d_e4")]
    )
    sqls["feature_corr"] = f"""
WITH b AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100.0) AS BIGINT) AS q_e2,
         CAST(floor(l_extendedprice * 100.0) AS BIGINT) AS p_e2,
         CAST(floor(l_discount * 10000.0) AS BIGINT) AS d_e4
  FROM lineitem
), m AS ({_corr_pairs})
SELECT l_returnflag, col_x, col_y,
       CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS pearson_r
FROM m
"""
    # rank normalization: first = (rn-1)/(n-1), average = mid-rank of the
    # tie run, both on the doubled grid with non-negative // = floor
    sqls["rank_normalized"] = """
WITH nn AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars IS NOT NULL
), r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         RANK() OVER (PARTITION BY lang ORDER BY n_chars) AS lo,
         COUNT(*) OVER (PARTITION BY lang, n_chars) AS tie_n,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM nn
)
SELECT doc_id, lang, n_chars,
       CAST(CASE WHEN n = 1 THEN 0
            ELSE ((rn - 1) * 2 * 1000000) // (2 * (n - 1))
       END AS BIGINT) AS rank_first_ppm,
       CAST(CASE WHEN n = 1 THEN 0
            ELSE ((lo + (tie_n + lo - 1) - 2) * 1000000) // (2 * (n - 1))
       END AS BIGINT) AS rank_avg_ppm
FROM r
UNION ALL
SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM documents WHERE n_chars IS NULL
"""
    # stream == batch: the merged decay ledger must equal the one-shot
    # whole-table rollup (state merge is plain addition)
    sqls["stream_decay"] = sqls["time_decay_rollup"]
    # Spearman: 2*rank + ties - 1 doubled-grid mid-ranks, then the exact
    # integer-moment Pearson identity (affine-invariant, so identical rho)
    sqls["spearman_drift"] = """
WITH b AS (
  SELECT event_type,
         CAST(floor(value * 1000000.0) AS BIGINT) AS x,
         epoch_us(ts) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), r AS (
  SELECT event_type,
         2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
           + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS rx,
         2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
           + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS ry
  FROM b
), m AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy, SUM(rx * ry) AS sxy
  FROM r GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS spearman_rho
FROM m
"""
    # inter-label centroid cosine: the embedding_pool quantize+pool CTEs,
    # then pairwise integer dot / sqrt-of-integer norms over label pairs
    sqls["label_centroid_sim"] = """
WITH q AS (
  SELECT label,
         CASE WHEN amax > 0 THEN list_transform(
                embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * 127 / amax + 0.5) AS BIGINT))
              ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
         END AS qv
  FROM (
    SELECT label, embedding,
           list_max(list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))) AS amax
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) > 0
  )
), cells AS (
  SELECT label, generate_subscripts(qv, 1) AS pos, unnest(qv) AS val FROM q
), sums AS (
  SELECT label, pos, SUM(val) AS s, COUNT(*) AS n
  FROM cells GROUP BY label, pos
), pooled AS (
  SELECT label, pos,
         CAST((s - ((s % n) + n) % n) // n AS BIGINT) AS pv,
         CAST(MIN(n) OVER (PARTITION BY label) AS BIGINT) AS n_vecs
  FROM sums
), pairdot AS (
  SELECT a.label AS group_a, b.label AS group_b,
         CAST(MIN(a.n_vecs) AS BIGINT) AS n_vecs_a,
         CAST(MIN(b.n_vecs) AS BIGINT) AS n_vecs_b,
         SUM(a.pv * b.pv) AS dot,
         SUM(a.pv * a.pv) AS na, SUM(b.pv * b.pv) AS nb
  FROM pooled a JOIN pooled b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT group_a, group_b, n_vecs_a, n_vecs_b,
       CAST(dot AS BIGINT) AS dot_q,
       CASE WHEN na = 0 OR nb = 0 THEN NULL
            ELSE CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
       END AS cos_sim
FROM pairdot
"""
    # exact group quantiles: value at rank max(1, ceil(p*n)) per ppm point
    # — non-negative operands so // = floor, ceil via (a + b - 1) // b
    sqls["value_rank_quantiles"] = """
WITH nn AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE n_chars IS NOT NULL
), r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM nn
), pts AS (
  SELECT unnest([0, 250000, 500000, 750000, 1000000]) AS ppm
)
SELECT r.lang, CAST(pts.ppm AS BIGINT) AS ppm,
       r.n_chars AS value, CAST(r.n AS BIGINT) AS n_values
FROM r JOIN pts
  ON r.rn = GREATEST(1, (pts.ppm * r.n + 999999) // 1000000)
"""
    # exact two-sample KS: integer cross-multiplied ECDF gap, argmax at
    # the smallest value among ties; 1705363200000000 us = 2024-01-16Z
    sqls["ks_value_shift"] = """
WITH b AS (
  SELECT event_type,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v,
         (epoch_us(ts) <= 1705363200000000) AS is_ref
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), g AS (
  SELECT event_type, v,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)::HUGEINT AS c1,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END)::HUGEINT AS c2
  FROM b GROUP BY event_type, v
), s AS (
  SELECT event_type, v,
         SUM(c1) OVER (PARTITION BY event_type ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum1,
         SUM(c2) OVER (PARTITION BY event_type ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cum2,
         SUM(c1) OVER (PARTITION BY event_type) AS n1,
         SUM(c2) OVER (PARTITION BY event_type) AS n2
  FROM g
), p AS (
  SELECT event_type, v, n1, n2, abs(cum1 * n2 - cum2 * n1) AS gap,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(cum1 * n2 - cum2 * n1) DESC, v ASC)
           AS rn
  FROM s
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
       CASE WHEN n1 > 0 AND n2 > 0 THEN v END AS ks_at,
       CASE WHEN n1 > 0 AND n2 > 0
            THEN CAST(gap AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
       END AS ks_d
FROM p WHERE rn = 1
"""
    # Mann-Whitney: doubled mid-rank 2*cum_below + t + 1 keeps U exact
    # through ties; z from three exact integers, doubles mirrored
    sqls["mw_value_shift"] = """
WITH b AS (
  SELECT event_type,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v,
         (epoch_us(ts) <= 1705363200000000) AS is_ref
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), g AS (
  SELECT event_type, v,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END)::HUGEINT AS c1,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END)::HUGEINT AS c2
  FROM b GROUP BY event_type, v
), s AS (
  SELECT event_type, c1, c2, (c1 + c2) AS t,
         SUM(c1 + c2) OVER (PARTITION BY event_type ORDER BY v
                            ROWS UNBOUNDED PRECEDING) - (c1 + c2)
           AS cum_below
  FROM g
), m AS (
  SELECT event_type,
         SUM(c1 * (2 * cum_below + t + 1)) AS r1x2,
         SUM(c1) AS n1, SUM(c2) AS n2,
         SUM(t * t * t - t) AS tcorr
  FROM s GROUP BY event_type
), f AS (
  SELECT event_type, n1, n2,
         r1x2 - n1 * (n1 + 1) AS u_x2,
         n1 * n2 * ((n1 + n2 + 1) * (n1 + n2) * (n1 + n2 - 1) - tcorr)
           AS v_num,
         12 * (n1 + n2) * (n1 + n2 - 1) AS v_den
  FROM m
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_ref, CAST(n2 AS BIGINT) AS n_cur,
       CAST(u_x2 AS BIGINT) AS u_ref_x2,
       CASE WHEN n1 > 0 AND n2 > 0 AND v_num > 0
            THEN CAST(u_x2 AS DOUBLE)
                 / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
       END AS auc_ref,
       CASE WHEN n1 > 0 AND n2 > 0 AND v_num > 0
            THEN CAST(u_x2 - n1 * n2 AS DOUBLE) * sqrt(CAST(v_den AS DOUBLE))
                 / (2.0 * sqrt(CAST(v_num AS DOUBLE)))
       END AS mw_z
FROM f
"""
    # OLS trend: the six exact integer moments, slope num/den in exact
    # integers, intercept as four mirrored IEEE ops over exact integers
    sqls["value_trend"] = """
WITH b AS (
  SELECT event_type,
         epoch_us(ts) // 3600000000 AS x,
         CAST(floor(value * 1000000.0) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), m AS (
  SELECT event_type, COUNT(*)::HUGEINT AS n,
         SUM(x)::HUGEINT AS sx, SUM(y)::HUGEINT AS sy,
         SUM(x * x)::HUGEINT AS sxx, SUM(x * y)::HUGEINT AS sxy
  FROM b GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n * sxx - sx * sx <= 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)
       END AS slope,
       CASE WHEN n * sxx - sx * sx <= 0 THEN NULL
            ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE))
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
       END AS intercept
FROM m
"""
    # CUSUM change-point: exact integer d_i = n*cum_i - i*S, argmax over
    # interior splits, smallest i on ties; (ts, event_id) is a total order
    sqls["cusum_value_shift"] = """
WITH b AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value * 1000000.0) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), s AS (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS i,
         SUM(v::HUGEINT) OVER (PARTITION BY event_type ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(v::HUGEINT) OVER (PARTITION BY event_type) AS s_tot,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM b
), p AS (
  SELECT event_type, i, n,
         n * cum - i * s_tot AS d,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(n * cum - i * s_tot) DESC, i ASC)
           AS rn
  FROM s WHERE i >= 1 AND i <= n - 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_rows, CAST(i AS BIGINT) AS cp_index,
       CAST(d AS DOUBLE) / (CAST(i AS DOUBLE) * CAST(n - i AS DOUBLE))
         AS mean_gap
FROM p WHERE rn = 1
"""
    # PCA Gram: same quantization SQL as ann_int8_topk, then exact integer
    # pair sums over the upper triangle (range() cross for the 2080 pairs)
    sqls["emb_gram"] = """
WITH base AS (
  SELECT embedding::DOUBLE[] AS e,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = 64
), qz AS (
  SELECT CASE WHEN amax > 0
              THEN list_transform(e, x -> CAST(floor(x * 127 / amax + 0.5) AS BIGINT))
              ELSE list_transform(e, x -> CAST(0 AS BIGINT)) END AS q
  FROM base
), prods AS (
  SELECT CAST(ai AS INT) AS i, CAST(bj AS INT) AS j,
         CAST(SUM(q[CAST(ai AS INT) + 1] * q[CAST(bj AS INT) + 1]) AS BIGINT)
           AS sxx
  FROM qz, range(64) a(ai), range(64) b(bj)
  WHERE bj >= ai
  GROUP BY 1, 2
), dims AS (
  SELECT CAST(di AS INT) AS dim,
         CAST(SUM(q[CAST(di AS INT) + 1]) AS BIGINT) AS sx
  FROM qz, range(64) t(di)
  GROUP BY 1
), cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qz)
SELECT p.i, p.j, p.sxx, di.sx AS sx_i, dj.sx AS sx_j, cnt.n
FROM prods p
JOIN dims di ON di.dim = p.i
JOIN dims dj ON dj.dim = p.j, cnt
"""
    # z-order keys: the oracle runs the IDENTICAL unrolled Morton
    # expression (sources/zorder.py::zvalue_sql generates it)
    from funcify_feature_eng_spark.sources.zorder import zvalue_sql

    sqls["zorder_keys"] = f"""
WITH g AS (
  SELECT event_id,
         CAST(user_id % 1024 AS BIGINT) AS gx,
         CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 1024 AS BIGINT)
           AS gy
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT event_id, {zvalue_sql(["gx", "gy"], bits=10)} AS zval FROM g
"""
    # item lift: same distinct-pair self-join as copart_edges, plus
    # per-item counts and the 1-row distinct-group total; integer floor
    # division replays the DECIMAL exact_floor_div (all values nonneg)
    sqls["item_lift"] = """
WITH gi AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
),
cnt AS (SELECT i, COUNT(*) AS n FROM gi GROUP BY 1),
tot AS (SELECT COUNT(DISTINCT g) AS n_tot FROM gi),
e AS (
  SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_both
  FROM gi a JOIN gi b ON a.g = b.g AND a.i < b.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT e.item_a, e.item_b, CAST(e.n_both AS BIGINT) AS n_both,
       CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
       CAST(t.n_tot AS BIGINT) AS n_groups_total,
       CAST((e.n_both * t.n_tot * 1000000) // (ca.n * cb.n) AS BIGINT)
         AS lift_ppm,
       CAST((e.n_both * 1000000) // (ca.n + cb.n - e.n_both) AS BIGINT)
         AS jaccard_ppm
FROM e
JOIN cnt ca ON ca.i = e.item_a
JOIN cnt cb ON cb.i = e.item_b
CROSS JOIN tot t
"""
    # profile drift: per-column UNION ALL profiles of the two parity
    # epochs, full-outer-joined; integer // replays Spark's LONG div
    _PROF_COLS = {
        "base": ["user_id", "event_type", "value"],
        "cur": ["user_id", "event_type", "props"],
    }
    _prof_cte = lambda side: " UNION ALL ".join(  # noqa: E731
        f"SELECT '{c}' AS col, COUNT(*) AS n_rows, COUNT({c}) AS n_nonnull,"
        f" COUNT(DISTINCT {c}) AS n_distinct FROM {side}"
        for c in _PROF_COLS[side]
    )
    sqls["profile_drift"] = f"""
WITH base AS (SELECT * FROM events WHERE event_id % 2 = 0),
cur AS (SELECT * FROM events WHERE event_id % 2 = 1),
bp AS ({_prof_cte("base")}),
cp AS ({_prof_cte("cur")}),
bq AS (
  SELECT *, CASE WHEN n_rows = 0 THEN 0
                 ELSE ((n_rows - n_nonnull) * 1000000) // n_rows
            END AS null_ppm FROM bp
),
cq AS (
  SELECT *, CASE WHEN n_rows = 0 THEN 0
                 ELSE ((n_rows - n_nonnull) * 1000000) // n_rows
            END AS null_ppm FROM cp
)
SELECT COALESCE(b.col, c.col) AS "column",
       CASE WHEN b.col IS NOT NULL AND c.col IS NOT NULL THEN 'kept'
            WHEN b.col IS NULL THEN 'added' ELSE 'dropped' END AS status,
       CAST(b.n_rows AS BIGINT) AS n_rows_base,
       CAST(c.n_rows AS BIGINT) AS n_rows_cur,
       CAST(b.null_ppm AS BIGINT) AS null_ppm_base,
       CAST(c.null_ppm AS BIGINT) AS null_ppm_cur,
       CAST(CASE WHEN b.col IS NOT NULL AND c.col IS NOT NULL
                 THEN c.null_ppm - b.null_ppm END AS BIGINT)
         AS null_ppm_delta,
       CAST(b.n_distinct AS BIGINT) AS n_distinct_base,
       CAST(c.n_distinct AS BIGINT) AS n_distinct_cur,
       CAST(CASE WHEN b.col IS NOT NULL AND c.col IS NOT NULL
                  AND b.n_distinct > 0
                 THEN (c.n_distinct * 1000000) // b.n_distinct END AS BIGINT)
         AS distinct_ratio_ppm
FROM bq b FULL OUTER JOIN cq c ON b.col = c.col
"""
    # heavy hitters: the CMS candidate pass changes only the PLAN; the
    # value contract is the plain GROUP BY ... HAVING with the exact
    # integer threshold (count*1e6 >= ppm*n) and floor-ppm share
    sqls["heavy_hitters"] = """
WITH nn AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
tot AS (SELECT COUNT(*) AS n FROM nn),
c AS (SELECT user_id, COUNT(*) AS n_count FROM nn GROUP BY 1)
SELECT c.user_id, CAST(c.n_count AS BIGINT) AS n_count,
       CAST(t.n AS BIGINT) AS n_total,
       CAST((c.n_count * 1000000) // t.n AS BIGINT) AS share_ppm
FROM c CROSS JOIN tot t
WHERE c.n_count * 1000000 >= 7000 * t.n
"""
    # bloom-prefiltered join: the bloom is a plan-level row filter with no
    # false negatives; the value contract is the plain inner equi-join
    sqls["bloom_join"] = """
SELECT l.l_orderkey, l.l_partkey, l.l_quantity, o.o_totalprice
FROM lineitem l
JOIN (SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderpriority = '1-URGENT') o
  ON l.l_orderkey = o.o_orderkey
"""
    # ranking metrics: identical ROW_NUMBER ranking + hit join; integer //
    # replays the LONG div; NULL where the denominator is 0 (precision
    # with nothing retrieved, recall with nothing relevant), rr 0 on miss
    sqls["ranking_metrics"] = """
WITH scored AS (
  SELECT l_orderkey, l_partkey, SUM(l_quantity) AS score
  FROM lineitem GROUP BY 1, 2
),
res AS (
  SELECT l_orderkey, l_partkey, rnk FROM (
    SELECT l_orderkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY score DESC, l_partkey ASC) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
tru AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_returnflag = 'R'
),
ret AS (SELECT l_orderkey, COUNT(*) AS n_retrieved FROM res GROUP BY 1),
rel AS (SELECT l_orderkey, COUNT(*) AS n_relevant FROM tru GROUP BY 1),
hit AS (
  SELECT r.l_orderkey, COUNT(*) AS n_hits, MIN(r.rnk) AS first_hit
  FROM res r JOIN tru t
    ON r.l_orderkey = t.l_orderkey AND r.l_partkey = t.l_partkey
  GROUP BY 1
)
SELECT COALESCE(rel.l_orderkey, ret.l_orderkey) AS l_orderkey,
       CAST(COALESCE(rel.n_relevant, 0) AS BIGINT) AS n_relevant,
       CAST(COALESCE(ret.n_retrieved, 0) AS BIGINT) AS n_retrieved,
       CAST(COALESCE(hit.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN COALESCE(ret.n_retrieved, 0) > 0
                 THEN (COALESCE(hit.n_hits, 0) * 1000000)
                      // ret.n_retrieved END AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN COALESCE(rel.n_relevant, 0) > 0
                 THEN (COALESCE(hit.n_hits, 0) * 1000000)
                      // rel.n_relevant END AS BIGINT) AS recall_ppm,
       CAST(COALESCE(1000000 // hit.first_hit, 0) AS BIGINT) AS rr_ppm
FROM rel FULL OUTER JOIN ret ON rel.l_orderkey = ret.l_orderkey
LEFT JOIN hit ON COALESCE(rel.l_orderkey, ret.l_orderkey) = hit.l_orderkey
"""
    # streaming heavy hitters: the streamed CMS state only shapes the
    # candidate plan; the value contract is the same exact GROUP BY ...
    # HAVING as the batch gate, at the 0.8% threshold
    sqls["stream_heavy_hitters"] = """
WITH nn AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
tot AS (SELECT COUNT(*) AS n FROM nn),
c AS (SELECT user_id, COUNT(*) AS n_count FROM nn GROUP BY 1)
SELECT c.user_id, CAST(c.n_count AS BIGINT) AS n_count,
       CAST(t.n AS BIGINT) AS n_total,
       CAST((c.n_count * 1000000) // t.n AS BIGINT) AS share_ppm
FROM c CROSS JOIN tot t
WHERE c.n_count * 1000000 >= 8000 * t.n
"""
    # k-deep as-of: LATERAL top-3 strictly-prior purchases, same
    # (ts DESC, event_id DESC) newest-first order as asof_topk's
    # row_number index + right_order tie-break; LEFT ... ON TRUE keeps
    # zero-prior events with NULL rank/payload (the left-join contract)
    sqls["asof_topk_purchases"] = """
SELECT e.event_id, e.user_id, t.asof_rank, t.prior_value
FROM events e LEFT JOIN LATERAL (
  SELECT CAST(row_number() OVER (ORDER BY p.ts DESC, p.event_id DESC) AS INT)
           AS asof_rank,
         p.value AS prior_value
  FROM events p
  WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts < e.ts
  ORDER BY p.ts DESC, p.event_id DESC LIMIT 3
) t ON TRUE
"""
    # session concurrency: sessionize CTE reused verbatim, then the same
    # two-level sweep — per-day running sum + bucket-grain carry-in.
    # MAX(r) per bucket is order-invariant among equal (t, d) ties, so
    # engine-side tie ordering can't flip the value.
    sqls["session_concurrency"] = f"""
WITH g AS (
  SELECT user_id, ts, event_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS gap_secs
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(SUM(CASE WHEN gap_secs > {GAP_S} THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_id
  FROM g
), sess AS (
  SELECT MIN(ts) AS st, MAX(ts) + INTERVAL 60 SECOND AS en
  FROM s GROUP BY user_id, session_id
), sweep AS (
  SELECT CAST(date_trunc('day', st) AS TIMESTAMP) AS b, st AS t, 1 AS d
  FROM sess
  UNION ALL
  SELECT CAST(date_trunc('day', en) AS TIMESTAMP) AS b, en AS t, -1 AS d
  FROM sess
), run AS (
  SELECT b, d,
         SUM(d) OVER (PARTITION BY b ORDER BY t, d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM sweep
), per_bucket AS (
  SELECT b, MAX(r) AS peak, SUM(d) AS net,
         SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS n_starts,
         SUM(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS n_ends
  FROM run GROUP BY b
), carried AS (
  SELECT b, peak, n_starts, n_ends,
         COALESCE(SUM(net) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
  FROM per_bucket
)
SELECT b AS bucket_ts,
       -- greatest(carry, carry+peak): a bucket opening with end events
       -- peaked at its carry-in level (mirrors the operator)
       CAST(GREATEST(carry, carry + peak) AS BIGINT) AS max_concurrent,
       CAST(n_starts AS BIGINT) AS n_starts,
       CAST(n_ends AS BIGINT) AS n_ends
FROM carried
"""
    # Benford: same pinned log10(1+1/d) ppm literals, same string-based
    # first digit over integer cents — neither engine computes a log
    sqls["benford_prices"] = """
WITH u AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS DECIMAL(38,0))
           AS units
  FROM orders WHERE o_totalprice IS NOT NULL
), d AS (
  SELECT CAST(substring(CAST(units AS VARCHAR), 1, 1) AS INT) AS digit
  FROM u WHERE units > 0
), c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
t AS (SELECT SUM(n) AS n_total FROM c),
e AS (SELECT * FROM (VALUES (1,301030),(2,176091),(3,124939),(4,96910),
      (5,79181),(6,66947),(7,57992),(8,51153),(9,45757)) v(digit, exp_ppm))
SELECT c.digit, CAST(c.n AS BIGINT) AS n, CAST(t.n_total AS BIGINT) AS n_total,
       CAST((c.n * 1000000) // t.n_total AS BIGINT) AS observed_ppm,
       CAST(e.exp_ppm AS BIGINT) AS expected_ppm,
       CAST((c.n * 1000000) // t.n_total - e.exp_ppm AS BIGINT) AS delta_ppm
FROM c CROSS JOIN t JOIN e ON e.digit = c.digit
"""
    # MAD outliers: identical doubled-median order statistics + the same
    # cross-multiplied flag — no division on either engine
    sqls["mad_outlier_prices"] = """
WITH v AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(28,2)) AS v
  FROM orders
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY v) AS rn,
         COUNT(v) OVER (PARTITION BY o_orderpriority) AS n
  FROM v
), m AS (
  SELECT o_orderpriority,
         SUM(CASE WHEN rn = (n+1)//2 THEN v END)
         + SUM(CASE WHEN rn = (n+2)//2 THEN v END) AS median_x2
  FROM r GROUP BY 1
), d AS (
  SELECT r.o_orderkey, r.o_orderpriority, r.v, m.median_x2,
         CAST(ABS(r.v * 2 - m.median_x2) AS DECIMAL(28,2)) AS dev_x2
  FROM r JOIN m USING (o_orderpriority)
), r2 AS (
  SELECT *,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY dev_x2)
           AS rn2,
         COUNT(dev_x2) OVER (PARTITION BY o_orderpriority) AS n2
  FROM d
), m2 AS (
  SELECT o_orderpriority,
         SUM(CASE WHEN rn2 = (n2+1)//2 THEN dev_x2 END)
         + SUM(CASE WHEN rn2 = (n2+2)//2 THEN dev_x2 END) AS mad_x2
  FROM r2 GROUP BY 1
)
SELECT d.o_orderkey, d.o_orderpriority, d.dev_x2,
       CAST(d.median_x2 AS DECIMAL(28,2)) AS median_x2,
       CAST(m2.mad_x2 AS DECIMAL(28,2)) AS mad_x2,
       d.dev_x2 * 4 > m2.mad_x2 * 7 AS is_outlier
FROM d JOIN m2 USING (o_orderpriority)
"""
    # ACF: identical lead columns in one window, exact HUGEINT moments,
    # the same guarded /,*,sqrt double chain as feature_corr
    sqls["value_acf"] = """
WITH s AS (
  SELECT event_type, ts, event_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
  FROM events
  WHERE ts IS NOT NULL  -- acf() drops NULL-ts rows (they'd shift every lead)
), l AS (
  SELECT event_type, x,
         lead(x, 1) OVER w AS y1,
         lead(x, 2) OVER w AS y2,
         lead(x, 3) OVER w AS y3
  FROM s WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
), p AS (
  SELECT event_type, 1 AS lag, x, y1 AS y FROM l
  UNION ALL SELECT event_type, 2, x, y2 FROM l
  UNION ALL SELECT event_type, 3, x, y3 FROM l
), m AS (
  SELECT event_type, lag,
         COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) AS n,
         COALESCE(SUM(CASE WHEN y IS NOT NULL THEN x END), 0) AS sx,
         COALESCE(SUM(CASE WHEN x IS NOT NULL THEN y END), 0) AS sy,
         COALESCE(SUM(CASE WHEN y IS NOT NULL THEN x * x END), 0) AS sxx,
         COALESCE(SUM(CASE WHEN x IS NOT NULL THEN y * y END), 0) AS syy,
         COALESCE(SUM(x * y), 0) AS sxy
  FROM p GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
            ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS acf_r
FROM m
"""
    # seasonality: isodow/hour slots, floor-ppm share, uniform index
    sqls["hourly_seasonality"] = """
WITH s AS (
  SELECT (isodow(ts) - 1) * 24 + hour(ts) AS slot
  FROM events WHERE ts IS NOT NULL
), c AS (SELECT CAST(slot AS INT) AS slot, COUNT(*) AS n FROM s GROUP BY 1),
t AS (SELECT SUM(n) AS n_total FROM c)
SELECT c.slot, CAST(c.n AS BIGINT) AS n, CAST(t.n_total AS BIGINT) AS n_total,
       CAST((c.n * 1000000) // t.n_total AS BIGINT) AS share_ppm,
       CAST((c.n * 1000000 * 168) // t.n_total AS BIGINT) AS index_ppm
FROM c CROSS JOIN t
"""
    # skyline: the oracle is the NAIVE quadratic NOT EXISTS definition —
    # the optimized running-min plan is value-checked against semantics
    sqls["pareto_parts"] = """
WITH t AS (
  SELECT p_partkey, p_brand,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS price_e2,
         CAST(p_size AS BIGINT) AS psize
  FROM part
)
SELECT r.p_partkey, r.p_brand, r.price_e2, r.psize,
       NOT EXISTS (
         SELECT 1 FROM t s
         WHERE s.p_brand = r.p_brand
           AND s.price_e2 <= r.price_e2 AND s.psize <= r.psize
           AND (s.price_e2 < r.price_e2 OR s.psize < r.psize)
       ) AS on_front
FROM t r
"""
    # WOE evidence ratio: same integer ppm shares and cross-multiplied
    # ratio; NULL where negatives (or group positives) vanish
    sqls["priority_evidence"] = """
WITH c AS (
  SELECT o_orderpriority AS category, COUNT(*) AS n,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_pos
  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY 1
), w AS (SELECT *, n - n_pos AS n_neg FROM c),
t AS (SELECT SUM(n_pos) AS tp, SUM(n_neg) AS tn FROM w)
SELECT w.category, CAST(w.n AS BIGINT) AS n,
       CAST(w.n_pos AS BIGINT) AS n_pos, CAST(w.n_neg AS BIGINT) AS n_neg,
       CAST(CASE WHEN t.tp > 0 THEN (w.n_pos * 1000000) // t.tp END
            AS BIGINT) AS pos_share_ppm,
       CAST(CASE WHEN t.tn > 0 THEN (w.n_neg * 1000000) // t.tn END
            AS BIGINT) AS neg_share_ppm,
       CAST(CASE WHEN w.n_neg > 0 AND t.tp > 0
                 THEN (w.n_pos * t.tn * 1000000) // (w.n_neg * t.tp) END
            AS BIGINT) AS evidence_ratio_ppm
FROM w CROSS JOIN t
"""
    # label propagation: the pinned fold unrolled — per layer, neighbor
    # label counts then argmax via (count DESC, label ASC) row_number
    _lpa_layers = ["l0 AS (SELECT s AS v, s AS label FROM e GROUP BY s)"]
    for _k in range(1, 4):
        _lpa_layers.append(f"""
l{_k} AS (
  SELECT v, label FROM (
    SELECT e.d AS v, p.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY e.d
                              ORDER BY count(*) DESC, p.label ASC) AS rn
    FROM e JOIN l{_k - 1} p ON p.v = e.s
    GROUP BY e.d, p.label
  ) WHERE rn = 1
)""")
    sqls["part_communities"] = f"""
WITH sym AS (
  SELECT item_a AS s, item_b AS d FROM ({_COPART_EDGES_SQL})
  UNION ALL
  SELECT item_b, item_a FROM ({_COPART_EDGES_SQL})
),
e AS (SELECT DISTINCT s, d FROM sym
      WHERE s IS NOT NULL AND d IS NOT NULL AND s <> d),
{",".join(_lpa_layers)}
SELECT v AS node, CAST(label AS BIGINT) AS label FROM l3
"""
    # concentration: same integer HHI / unbiased-Simpson floor-ppm fold
    sqls["source_concentration"] = """
WITH c AS (SELECT source AS cat, COUNT(*) AS n FROM documents GROUP BY 1),
g AS (SELECT SUM(n) AS n_rows, COUNT(*) AS n_categories, MAX(n) AS top,
             SUM(n * n) AS sq, SUM(n * (n - 1)) AS coll FROM c)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_categories AS BIGINT) AS n_categories,
       CAST((top * 1000000) // n_rows AS BIGINT) AS top_share_ppm,
       CAST((sq * 1000000) // (n_rows * n_rows) AS BIGINT) AS hhi_ppm,
       CAST(CASE WHEN n_rows > 1
                 THEN (coll * 1000000) // (n_rows * (n_rows - 1)) END
            AS BIGINT) AS simpson_d_ppm
FROM g
"""
    # gini: identical sort formula on the cents grid; tie runs are
    # order-invariant (x * sum(i) over the run), so no tiebreak needed
    sqls["price_gini"] = """
WITH u AS (
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS u
  FROM orders WHERE o_totalprice IS NOT NULL
), r AS (
  SELECT o_orderpriority, u,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY u) AS i
  FROM u
), s AS (
  SELECT o_orderpriority, COUNT(*) AS n, SUM(u) AS s1, SUM(i * u) AS s2
  FROM r GROUP BY 1
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n_values,
       CAST(CASE WHEN s1 > 0
                 THEN ((2 * s2 - (n + 1) * s1) * 1000000) // (n * s1) END
            AS BIGINT) AS gini_ppm
FROM s
"""
    # sliding-window join: the oracle is the NAIVE correlated aggregate
    # with the pinned half-open bounds — plan vs semantics
    sqls["window_purchase_stats"] = """
SELECT e.event_id, e.user_id,
       -- NULL-ts probes pin NULL (sliding_window_join contract), not the
       -- correlated COUNT's 0
       CAST(CASE WHEN e.ts IS NULL THEN NULL ELSE
            (SELECT COUNT(*) FROM events p
             WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
               AND p.ts < e.ts AND p.ts >= e.ts - INTERVAL 7 DAY) END
            AS BIGINT) AS w_count,
       CAST(CASE WHEN e.ts IS NULL THEN NULL ELSE
            COALESCE((SELECT SUM(CAST(CAST(p.value AS DECIMAL(18,2)) * 100
                                      AS BIGINT))
             FROM events p
             WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
               AND p.ts < e.ts AND p.ts >= e.ts - INTERVAL 7 DAY), 0) END
            AS BIGINT) AS w_sum
FROM events e
"""
    # reference percentile: naive correlated count vs the union-window
    # plan; <= convention pinned on both sides
    sqls["price_reference_pct"] = """
WITH ref AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS v
  FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
), n AS (SELECT COUNT(*) AS n_ref FROM ref),
p AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS price_e2
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT p.o_orderkey, p.price_e2,
       CAST(CASE WHEN p.price_e2 IS NOT NULL AND n.n_ref > 0
                 THEN ((SELECT COUNT(*) FROM ref r WHERE r.v <= p.price_e2)
                       * 1000000) // n.n_ref END AS BIGINT) AS ref_pct_ppm
FROM p CROSS JOIN n
"""
    # token bucket: recursive CTE replays the identical integer fold —
    # cap 2 tokens, 1/week refill, cost 1, on the rate_den*1e6 grid
    _tb_unit = 7 * 86400 * 1_000_000
    _tb_cap, _tb_cost, _tb_rate = 2 * _tb_unit, 1 * _tb_unit, 1
    sqls["throttle_audit"] = f"""
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
r AS (
  SELECT user_id, event_id, t, i,
         {_tb_cap} >= {_tb_cost} AS admitted,
         CASE WHEN {_tb_cap} >= {_tb_cost}
              THEN {_tb_cap} - {_tb_cost} ELSE {_tb_cap} END AS tok
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.t, s.i,
         LEAST({_tb_cap}, r.tok + (s.t - r.t) * {_tb_rate}) >= {_tb_cost}
           AS admitted,
         CASE WHEN LEAST({_tb_cap}, r.tok + (s.t - r.t) * {_tb_rate})
                   >= {_tb_cost}
              THEN LEAST({_tb_cap}, r.tok + (s.t - r.t) * {_tb_rate})
                   - {_tb_cost}
              ELSE LEAST({_tb_cap}, r.tok + (s.t - r.t) * {_tb_rate})
         END AS tok
  FROM seq s JOIN r ON s.user_id = r.user_id AND s.i = r.i + 1
)
SELECT user_id, event_id, admitted,
       CAST(tok AS BIGINT) AS tokens_after_e6den
FROM r
"""
    # dwell: lead-window spans, state-grain integer aggregate
    sqls["state_dwell"] = """
WITH s AS (
  SELECT event_type AS state,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT state, CAST(COUNT(*) AS BIGINT) AS n_spells,
       CAST(SUM(d) AS BIGINT) AS total_dwell_us,
       CAST(SUM(d) // COUNT(*) AS BIGINT) AS mean_dwell_us
FROM s WHERE d IS NOT NULL GROUP BY 1
"""
    # quantile match: naive correlated rank + order-statistic lookup vs
    # the two-pass union-window plan
    sqls["price_quantile_match"] = """
WITH ref AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS v
  FROM orders WHERE o_orderkey % 2 = 0 AND o_totalprice IS NOT NULL
),
idx AS (SELECT v, row_number() OVER (ORDER BY v) AS rk FROM ref),
n AS (SELECT COUNT(*) AS n_ref FROM ref),
p AS (
  SELECT o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS price_e2
  FROM orders WHERE o_orderkey % 2 = 1
),
c AS (
  SELECT p.*,
         GREATEST(1, (SELECT COUNT(*) FROM ref r WHERE r.v <= p.price_e2))
           AS rk
  FROM p
)
SELECT c.o_orderkey, c.price_e2,
       CASE WHEN c.price_e2 IS NOT NULL AND n.n_ref > 0 THEN i.v END
         AS matched_value
FROM c CROSS JOIN n LEFT JOIN idx i ON i.rk = c.rk
"""
    # streaming throttle: stream ≡ batch — the same recursive-CTE fold,
    # minus the batch gate's ts column ordering differences (none: the
    # output schema is user_id, event_id, admitted, tokens_after_e6den)
    sqls["stream_throttle"] = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
r AS (
  SELECT user_id, event_id, t, i,
         {cap} >= {cost} AS admitted,
         CASE WHEN {cap} >= {cost} THEN {cap} - {cost} ELSE {cap} END AS tok
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.user_id, s.event_id, s.t, s.i,
         LEAST({cap}, r.tok + (s.t - r.t) * {rate}) >= {cost} AS admitted,
         CASE WHEN LEAST({cap}, r.tok + (s.t - r.t) * {rate}) >= {cost}
              THEN LEAST({cap}, r.tok + (s.t - r.t) * {rate}) - {cost}
              ELSE LEAST({cap}, r.tok + (s.t - r.t) * {rate})
         END AS tok
  FROM seq s JOIN r ON s.user_id = r.user_id AND s.i = r.i + 1
)
SELECT user_id, event_id, admitted,
       CAST(tok AS BIGINT) AS tokens_after_e6den
FROM r
""".format(cap=2 * 7 * 86400 * 1_000_000 * 1,
            cost=7 * 86400 * 1_000_000, rate=1)
    # readability: same three regexp counts + integer floor divisions
    sqls["doc_readability"] = r"""
WITH c AS (
  SELECT doc_id,
         CASE WHEN text IS NOT NULL
              THEN len(regexp_extract_all(text, '\S+')) END AS n_words,
         len(regexp_extract_all(text, '[.!?]+')) AS sraw,
         CASE WHEN text IS NOT NULL
              THEN len(regexp_extract_all(lower(text), '[aeiouy]+'))
         END AS n_syllables
  FROM documents
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CAST(CASE WHEN n_words > 0 THEN GREATEST(1, sraw) END AS BIGINT)
         AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       CAST(CASE WHEN n_words > 0
                 THEN 206835 - (n_words * 1015) // GREATEST(1, sraw)
                      - (n_syllables * 84600) // n_words END AS BIGINT)
         AS flesch_milli
FROM c
"""
    return sqls
