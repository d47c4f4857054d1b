"""Entry point A analog: document-shaped requests (plans/document.py).

Mirrors the reference's document composition/validation tests
(schema/src/test/.../document/GQLDocumentComposerTest.kt,
preparse validation in DefaultMaterializationPreparsedDocumentProvider):
invalid documents fail at parse, arguments bind from variables or literals,
and the compiled request reuses the same plan machinery as the tabular path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.plans.document import (
    compile_document,
    materialize_document,
    parse_document,
)
from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError


def _model() -> FeatureModel:
    m = FeatureModel(entity_key="user_id", order=("ts", "event_id"), event_time="ts")
    m.declare_window_feature("prior_event_type", op="lag", col="event_type")
    m.declare_window_feature("session_id", op="session", gap_threshold_s=1800.0)
    m.declare_window_feature("event_seq", op="row_number")
    return m


def _events(spark):
    return spark.createDataFrame(
        [
            (1, "u1", "view", "2024-01-01 00:00:00"),
            (2, "u1", "click", "2024-01-01 00:10:00"),
            (3, "u1", "view", "2024-01-01 01:00:00"),
            (4, "u2", "view", "2024-01-01 00:00:00"),
        ],
        "event_id long, user_id string, event_type string, ts_s string",
    ).select("event_id", "user_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))


# ------------------------------------------------------------- validation
def test_unknown_top_level_key_rejected():
    with pytest.raises(PlanError, match="unknown top-level"):
        parse_document({"select": {"columns": ["a"]}, "operationName": "x"})


def test_unknown_selection_key_rejected():
    with pytest.raises(PlanError, match="unknown 'select' keys"):
        parse_document({"select": {"cols": ["a"]}})


def test_empty_document_rejected():
    with pytest.raises(PlanError, match="selects nothing"):
        parse_document({"select": {}})


def test_unknown_feature_rejected():
    with pytest.raises(PlanError, match="unknown feature"):
        compile_document(_model(), {"select": {"features": {"nope": {}}}})


def test_undefined_variable_rejected():
    doc = {
        "select": {"features": {"s": {"feature": "session_id",
                                      "args": {"gap_threshold_s": "$gap"}}}},
    }
    with pytest.raises(PlanError, match="undefined variable"):
        compile_document(_model(), doc)


def test_bad_feature_selection_keys_rejected():
    with pytest.raises(PlanError, match="unknown keys"):
        parse_document({"select": {"features": {"x": {"argz": {}}}}})


# ------------------------------------------------------------- execution
def test_document_matches_tabular_path(spark):
    m = _model()
    ev = _events(spark)
    doc = {
        "select": {
            "columns": ["event_id", "user_id"],
            "features": {"prior_event_type": {}, "event_seq": {}},
        }
    }
    got = materialize_document(m, ev, doc).orderBy("event_id").collect()
    exp = (
        m.materialize(ev, ["event_id", "user_id", "prior_event_type", "event_seq"])
        .orderBy("event_id")
        .collect()
    )
    assert got == exp


def test_variable_parameterizes_feature(spark):
    """One document, two variable bindings → different sessionization."""
    m = _model()
    ev = _events(spark)

    def run(gap):
        doc = {
            "variables": {"gap": gap},
            "select": {
                "columns": ["event_id"],
                "features": {
                    "sess": {"feature": "session_id", "args": {"gap_threshold_s": "$gap"}}
                },
            },
        }
        out = materialize_document(m, ev, doc).orderBy("event_id").collect()
        return [r["sess"] for r in out]

    # u1 gaps: 600s then 3000s — a 1800s threshold splits once, 10000s never
    assert run(1800.0) == [0, 0, 1, 0]
    assert run(10000.0) == [0, 0, 0, 0]
    # base model feature is untouched by the request-scoped variants
    base = m.materialize(ev, ["event_id", "session_id"]).orderBy("event_id").collect()
    assert [r["session_id"] for r in base] == [0, 0, 1, 0]


def test_alias_and_literal_arg(spark):
    m = _model()
    ev = _events(spark)
    doc = {
        "select": {
            "columns": ["event_id"],
            "features": {"tight_session": {"feature": "session_id",
                                           "args": {"gap_threshold_s": 300.0}}},
        }
    }
    out = materialize_document(m, ev, doc).orderBy("event_id")
    assert out.columns == ["event_id", "tight_session"]
    assert [r["tight_session"] for r in out.collect()] == [0, 1, 2, 0]


def test_plan_cache_reuses_compiled_request(spark):
    m = _model()
    doc = {"select": {"columns": ["event_id"], "features": {"event_seq": {}}}}
    materialize_document(m, _events(spark), doc)
    first = m._doc_cache[next(iter(m._doc_cache))]
    materialize_document(m, _events(spark), doc)
    assert m._doc_cache[next(iter(m._doc_cache))] is first


def test_model_mutation_recompiles_document_request(spark, compile_calls):
    """A feature, alias, source or store registered on the base model
    clears its request cache: the next identical document request
    recompiles and resolves against the mutated model."""
    m = _model()
    ev = _events(spark)
    store = spark.createDataFrame(
        [("u1", "2023-12-31 00:00:00", 10)], "user_id string, at_s string, value long"
    ).selectExpr("user_id", "cast(at_s as timestamp) as at", "value")
    m.register_store("st", store, last_updated="at")
    m.declare_asof_feature("sv", "st")
    doc = {
        "variables": {"flag": 7, "tier": 3},
        "select": {"columns": ["event_id"],
                   "features": {"eventType": {}, "flag": {}, "tier": {}, "sv": {}}},
    }

    def run():
        out = materialize_document(m, ev, doc).orderBy("event_id").collect()
        return {c: [r[c] for r in out] for c in ("eventType", "flag", "tier", "sv")}

    first = run()
    assert run() == first and len(compile_calls) == 1
    assert first == {"eventType": ["view", "click", "view", "view"],
                     "flag": [7] * 4, "tier": [3] * 4, "sv": [10, 10, 10, None]}
    # tier 3 (alias) outranks the tier-4 convention column
    m.alias("eventType", "prior_event_type")
    assert run()["eventType"] == [None, "view", "click", None] and len(compile_calls) == 2
    # tier 2 (feature) outranks the tier-6 variable
    m.declare_window_feature("flag", op="row_number")
    assert run()["flag"] == [1, 2, 3, 1] and len(compile_calls) == 3
    # tier 5 (source field) outranks the tier-6 variable
    m.register_source("tiers", spark.createDataFrame(
        [("u1", 1), ("u2", 2)], "user_id string, tier long"))
    assert run()["tier"] == [1, 1, 1, 2] and len(compile_calls) == 4
    # re-registering a store swaps the as-of feature's data
    m.register_store("st", store.withColumn("value", F.lit(20).cast("long")),
                     last_updated="at")
    assert run()["sv"] == [20, 20, 20, None] and len(compile_calls) == 5


# ------------------------------------------------------- nested collections
def test_collection_collect_direction(spark):
    """ListSegment fan-in: entity → ordered array<struct> with an element
    feature (lag) inside (reference schema/path/result/ListSegment.kt:9-29)."""
    doc = {
        "select": {
            "columns": ["user_id"],
            "collections": {
                "turns": {"fields": {"event_type": {},
                                     "prior": {"feature": "prior_event_type"}}}
            },
        }
    }
    out = materialize_document(_model(), _events(spark), doc)
    rows = {r["user_id"]: r["turns"] for r in out.collect()}
    assert [t["event_type"] for t in rows["u1"]] == ["view", "click", "view"]
    assert [t["prior"] for t in rows["u1"]] == [None, "view", "click"]
    assert [t["event_type"] for t in rows["u2"]] == ["view"]


def test_collection_unnest_direction(spark):
    """ListSegment fan-out: one row per element with its index."""
    doc = {
        "select": {
            "columns": ["user_id"],
            "collections": {
                "turns": {
                    "fields": {"event_type": {}, "seq": {"feature": "event_seq"}},
                    "unnest": True,
                }
            },
        }
    }
    out = materialize_document(_model(), _events(spark), doc)
    assert set(out.columns) == {"user_id", "turns_idx", "event_type", "seq"}
    got = sorted(
        (r["user_id"], r["turns_idx"], r["event_type"], r["seq"])
        for r in out.collect()
    )
    assert got == [
        ("u1", 0, "view", 1), ("u1", 1, "click", 2), ("u1", 2, "view", 3),
        ("u2", 0, "view", 1),
    ]


def test_collection_with_parameterized_element_feature(spark):
    """Variables bind inside collection fields exactly like flat features."""
    doc = {
        "variables": {"gap": 1200.0},
        "select": {
            "columns": ["user_id"],
            "collections": {
                "turns": {"fields": {"s": {"feature": "session_id",
                                           "args": {"gap_threshold_s": "$gap"}}}}
            },
        },
    }
    out = materialize_document(_model(), _events(spark), doc)
    rows = {r["user_id"]: [t["s"] for t in r["turns"]] for r in out.collect()}
    # u1 gaps: 600s (same session), 3000s (> 1200 → new session)
    assert rows["u1"] == [0, 0, 1]


def test_collection_with_entity_grain_scalars(spark):
    """Scalars alongside collections take the entity's LATEST-in-order value
    (current-state reading): n_turns == event_seq at the last event."""
    doc = {
        "select": {
            "columns": ["user_id"],
            "features": {"n_turns": {"feature": "event_seq"}},
            "collections": {"turns": {"fields": {"event_type": {}}}},
        }
    }
    out = materialize_document(_model(), _events(spark), doc)
    assert out.columns == ["user_id", "n_turns", "turns"]
    rows = {r["user_id"]: r for r in out.collect()}
    for uid, r in rows.items():
        assert r["n_turns"] == len(r["turns"])  # latest row_number == count


def test_collection_scalar_name_collision_rejected():
    doc = {
        "select": {
            "features": {"turns": {"feature": "event_seq"}},
            "collections": {"turns": {"fields": {"event_type": {}}}},
        }
    }
    with pytest.raises(PlanError, match="collides"):
        compile_document(_model(), doc)


def test_two_unnest_collections_rejected():
    doc = {
        "select": {
            "collections": {
                "a": {"fields": {"event_type": {}}, "unnest": True},
                "b": {"fields": {"event_type": {}}, "unnest": True},
            }
        }
    }
    with pytest.raises(PlanError, match="at most one"):
        parse_document(doc)
