"""GraphQL-text front door (Entry point A, reference-primary API).

The reference's main path parses GraphQL document TEXT
(``DefaultRawGraphQLRequest.kt``; fixed query
``stream/StreamFunctions.kt:62-102``). These tests parse that query's
shape — transcribed to the events schema — and prove the lowered request
materializes byte-identically to its hand-built dict twin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.plans.document import materialize_document
from funcify_feature_eng_spark.plans.graphql import (
    lower_graphql,
    materialize_graphql,
    parse_graphql,
)
from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError


def _events(spark):
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    for uid in (1, 2, 3):
        for i in range(6):
            rows.append(
                (uid * 100 + i, base + dt.timedelta(seconds=uid * 53 + i * 700),
                 uid, ["view", "click", "purchase"][i % 3], float(uid * 10 + i))
            )
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def _model():
    from funcify_feature_eng_spark.functions.registry import default_registry

    m = FeatureModel(entity_key="user_id", order=("ts", "event_id"), event_time="ts",
                     registry=default_registry())
    m.declare_window_feature("prior_event_type", op="lag", col="event_type")
    m.declare_window_feature("session_id", op="session", gap_threshold_s=1800.0)
    m.declare_window_feature("event_seq", op="row_number")
    return m


# The StreamFunctions.kt:62-102 QUERY, transcribed to the events schema:
# same shape — operation with typed variables, dataElement wrapper with an
# entity grouping field, nested to-many selection, domain-wrapped
# transformer invocation with a literal arg, features wrapper with aliased
# + fragment-spread selections.
QUERY = """
query UserTurns($gap: Float = 1800.0) {
    dataElement {
        user {
            userId
            turns {
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


def test_parse_stream_functions_query_shape():
    ops, frags = parse_graphql(QUERY)
    assert len(ops) == 1 and ops[0].name == "UserTurns"
    assert ops[0].variable_defs == {
        "gap": {"type": "Float", "required": False, "default": 1800.0}
    }
    assert "SessionFragment" in frags
    lowered = lower_graphql(QUERY)
    sel = lowered.doc["select"]
    assert "columns" not in sel  # leaves route through features, in doc order
    assert list(sel["features"]) == ["userId", "nTurns", "lastSession"]
    assert sel["features"]["userId"] == {}
    assert "turns" in sel["collections"]
    assert sel["collections"]["turns"]["fields"] == {
        "eventType": {"feature": "eventType", "args": {}},
        "priorEventType": {"feature": "priorEventType", "args": {}},
    }
    assert sel["features"]["nTurns"] == {"feature": "eventSeq", "args": {}}
    assert sel["features"]["lastSession"] == {
        "feature": "session_id", "args": {"gap_threshold_s": "$gap"}
    }
    assert lowered.transformer_calls == [("negOne", "negative_to_null", {"input": -1})]


def test_graphql_equals_dict_twin(spark):
    """The gate property: GraphQL text ≡ hand-built dict document."""
    ev = _events(spark)
    out_gql = materialize_graphql(_model(), ev, QUERY).orderBy("userId")

    m = _model()
    m.declare_transformer_feature("negOne", "negative_to_null", args=["neg_lit"])
    twin_doc = {
        "variables": {"gap": 1800.0, "neg_lit": -1},
        "select": {
            "columns": ["userId"],
            "features": {
                "nTurns": {"feature": "eventSeq"},
                "lastSession": {"feature": "session_id",
                                "args": {"gap_threshold_s": "$gap"}},
                "negOne": {},
            },
            "collections": {
                "turns": {"fields": {"eventType": {}, "priorEventType": {}}}
            },
        },
    }
    out_twin = materialize_document(m, ev, twin_doc).orderBy("userId")
    assert out_gql.columns == out_twin.columns
    assert out_gql.collect() == out_twin.collect()


def test_graphql_variable_overrides_default(spark):
    ev = _events(spark)
    # tiny gap → every turn its own session → lastSession = n-1
    out = materialize_graphql(_model(), ev, QUERY, variables={"gap": 1.0})
    rows = {r["userId"]: r for r in out.collect()}
    assert all(r["lastSession"] == len(r["turns"]) - 1 for r in rows.values())
    # default 1800 vs explicit: different plans, different values
    out_def = materialize_graphql(_model(), ev, QUERY)
    rows_def = {r["userId"]: r for r in out_def.collect()}
    assert any(rows_def[u]["lastSession"] != rows[u]["lastSession"] for u in rows)


def test_graphql_entity_lookup_filter(spark):
    ev = _events(spark)
    src = """
    query One($uid: Int!) {
        user(userId: $uid) {
            userId
            turns @unnest { eventType }
        }
    }
    """
    out = materialize_graphql(_model(), ev, src, variables={"uid": 2})
    rows = out.collect()
    assert len(rows) == 6 and all(r["userId"] == 2 for r in rows)
    assert [r["turns_idx"] for r in rows] == list(range(6))


def test_graphql_lookup_arg_colliding_transformer_alias_rejected(spark):
    """An ad-hoc transformer output aliased like the entity-lookup argument
    would shadow the spine column in the request scope's
    exact-feature tier — must be one precise PlanError, not a wrong-column
    filter or AnalysisException."""
    src = """
    query Q($uid: Int!) {
        transformer { jq { userId: negative_to_null(input: 1) } }
        dataElement {
            user(userId: $uid) {
                userId
            }
        }
    }
    """
    with pytest.raises(PlanError, match="collides"):
        materialize_graphql(_model(), _events(spark), src, variables={"uid": 2})


def test_graphql_required_variable_missing(spark):
    src = "query Q($uid: Int!) { user(userId: $uid) { userId } }"
    with pytest.raises(PlanError, match="required variable"):
        materialize_graphql(_model(), _events(spark), src)


def test_graphql_undeclared_variable_rejected(spark):
    with pytest.raises(PlanError, match="not declared"):
        materialize_graphql(_model(), _events(spark), QUERY,
                            variables={"gap": 1.0, "bogus": 2})


def test_graphql_undefined_fragment():
    with pytest.raises(PlanError, match="undefined fragment"):
        lower_graphql("query { dataElement { user { ...Nope } } }")


def test_graphql_inline_fragment_and_anonymous_op(spark):
    # wide-schema subtype convention (P4): inline-fragment fields flatten
    src = """
    {
        user {
            userId
            ... on PowerUser { nTurns: eventSeq }
        }
    }
    """
    out = materialize_graphql(_model(), _events(spark), src)
    assert set(out.columns) == {"userId", "nTurns"}
    assert out.count() == 18  # no collections → row grain


def test_graphql_operation_name_selection(spark):
    src = """
    query A { user { userId } }
    query B { user { userId nTurns: eventSeq } }
    """
    out = materialize_graphql(_model(), _events(spark), src, operation_name="B")
    assert out.columns == ["userId", "nTurns"]
    with pytest.raises(PlanError, match="multiple operations"):
        materialize_graphql(_model(), _events(spark), src)
    with pytest.raises(PlanError, match="no operation named"):
        materialize_graphql(_model(), _events(spark), src, operation_name="C")


def test_graphql_parse_errors():
    with pytest.raises(PlanError, match="only 'query'"):
        parse_graphql("mutation M { x { y } }")
    with pytest.raises(PlanError, match="empty selection"):
        parse_graphql("query { }")
    with pytest.raises(PlanError, match="cannot tokenize"):
        parse_graphql("query ~ { x }")


def test_graphql_plain_flat_query(spark):
    """No wrappers, no collections — the flat tabular path through text."""
    out = materialize_graphql(
        _model(), _events(spark),
        'query { eventId: event_id userId priorEventType sess: session_id(gap_threshold_s: 600.0) }',
    )
    assert out.columns == ["eventId", "userId", "priorEventType", "sess"]
    assert out.count() == 18


# ------------------------------------------- schema-aware validation (r5)
# The ParseAndValidate analog: selections validated against the DECLARED
# model/source schema before J1 resolution, errors naming document paths
# (DefaultMaterializationPreparsedDocumentProvider.kt:250-327).


def test_validation_unknown_field_names_document_path(spark):
    src = """
    query Q {
        dataElement {
            user {
                userId
                bogusField
            }
        }
    }
    """
    with pytest.raises(PlanError, match=r"dataElement\.user\.bogusField"):
        materialize_graphql(_model(), _events(spark), src)


def test_validation_unknown_collection_field_path(spark):
    src = """
    query Q {
        dataElement {
            user {
                userId
                turns { eventType nonsenseCol }
            }
        }
    }
    """
    with pytest.raises(
        PlanError, match=r"dataElement\.user\.turns\.nonsenseCol"
    ):
        materialize_graphql(_model(), _events(spark), src)


def test_validation_unknown_transformer_path(spark):
    src = """
    query Q {
        transformer { jq { x: not_a_transformer(input: 1) } }
        features { userFeatures { userId } }
    }
    """
    with pytest.raises(
        PlanError,
        match=r"unknown transformer at 'transformer\.jq\.not_a_transformer'",
    ):
        materialize_graphql(_model(), _events(spark), src)


def test_validation_unknown_transformer_argument(spark):
    src = """
    query Q {
        transformer { jq { x: negative_to_null(wrong_arg: 1) } }
        features { userFeatures { userId } }
    }
    """
    with pytest.raises(PlanError, match=r"unknown argument.*wrong_arg"):
        materialize_graphql(_model(), _events(spark), src)


def test_validation_missing_required_transformer_argument(spark):
    src = """
    query Q {
        transformer { jq { x: negative_to_null } }
        features { userFeatures { userId } }
    }
    """
    with pytest.raises(PlanError, match=r"missing required argument.*input"):
        materialize_graphql(_model(), _events(spark), src)


def test_validation_undeclared_variable_in_arg(spark):
    src = """
    query Q {
        features {
            userFeatures {
                s: session_id(gap_threshold_s: $nope)
            }
        }
    }
    """
    with pytest.raises(
        PlanError, match=r"undeclared variable \$nope"
    ):
        materialize_graphql(_model(), _events(spark), src)


def test_validation_bad_entity_lookup_path(spark):
    src = """
    query Q {
        dataElement {
            user(no_such_col: 3) { userId }
        }
    }
    """
    with pytest.raises(
        PlanError, match=r"dataElement\.user\(no_such_col:\)"
    ):
        materialize_graphql(_model(), _events(spark), src)


def test_validation_passes_clean_document(spark):
    # the full reference-shape query still validates and materializes
    out = materialize_graphql(_model(), _events(spark), QUERY)
    assert out.count() == 3


# ------------------------------------------------- @skip / @include


def test_skip_include_literals():
    src = """
    query Q {
        features {
            userFeatures {
                a: event_seq @include(if: true)
                b: event_seq @include(if: false)
                c: event_seq @skip(if: true)
                d: event_seq @skip(if: false)
            }
        }
    }
    """
    sel = lower_graphql(src).doc["select"]
    assert list(sel["features"]) == ["a", "d"]


def test_skip_and_include_both_present_spec_rule():
    # spec §5.7.3: included iff include.if && !skip.if
    src = """
    query Q {
        features {
            userFeatures {
                a: event_seq @include(if: true) @skip(if: true)
                b: event_seq @include(if: true) @skip(if: false)
                c: event_seq @include(if: false) @skip(if: false)
            }
        }
    }
    """
    sel = lower_graphql(src).doc["select"]
    assert list(sel["features"]) == ["b"]


def test_skip_variable_with_default_and_override():
    src = """
    query Q($verbose: Boolean = false) {
        features {
            userFeatures {
                always: event_seq
                extra: session_id(gap_threshold_s: 60.0) @include(if: $verbose)
            }
        }
    }
    """
    assert list(lower_graphql(src).doc["select"]["features"]) == ["always"]
    got = lower_graphql(src, variables={"verbose": True})
    assert list(got.doc["select"]["features"]) == ["always", "extra"]


def test_skip_on_fragment_spread_and_inline_fragment():
    src = """
    query Q($x: Boolean = true) {
        features {
            userFeatures {
                a: event_seq
                ...F @skip(if: $x)
                ... on User @include(if: false) {
                    c: event_seq
                }
            }
        }
    }
    fragment F on User { b: event_seq }
    """
    assert list(lower_graphql(src).doc["select"]["features"]) == ["a"]
    got = lower_graphql(src, variables={"x": False})
    assert list(got.doc["select"]["features"]) == ["a", "b"]


def test_skip_grouping_field_prunes_whole_subtree():
    src = """
    query Q {
        features {
            userFeatures @skip(if: true) { a: event_seq }
            other { b: event_seq }
        }
    }
    """
    assert list(lower_graphql(src).doc["select"]["features"]) == ["b"]


def test_skip_errors_unbound_variable_and_non_boolean():
    src = """
    query Q($v: Boolean) {
        features { userFeatures { a: event_seq @skip(if: $v) } }
    }
    """
    with pytest.raises(PlanError, match=r"@skip\(if: \$v\)"):
        lower_graphql(src)
    src2 = """
    query Q { features { userFeatures { a: event_seq @skip(if: 3) } } }
    """
    with pytest.raises(PlanError, match="must be Boolean"):
        lower_graphql(src2)
    src3 = """
    query Q { features { userFeatures { a: event_seq @skip(unless: true) } } }
    """
    with pytest.raises(PlanError, match="exactly the 'if' argument"):
        lower_graphql(src3)


def test_skip_everything_errors():
    src = "query Q { features @skip(if: true) { u { a: event_seq } } }"
    with pytest.raises(PlanError, match="every top-level selection"):
        lower_graphql(src)


def test_fragment_of_other_operation_not_pruned():
    """Directive pruning must only touch fragments REACHED from the
    selected operation: operation B's fragment reads $bFlag which A never
    declares — valid per the spec (variable usage is per-operation)."""
    src = """
    query A { features { u { x: event_seq } } }
    query B { features { u { ...BF } } }
    fragment BF on U { y: event_seq @include(if: $bFlag) }
    """
    lowered = lower_graphql(src, operation_name="A")
    assert "x" in lowered.doc["select"]["features"]
    # and selecting B without $bFlag still errors precisely
    with pytest.raises(PlanError, match="bFlag"):
        lower_graphql(src, operation_name="B")


def test_fragment_emptied_by_directive_fires_empty_guard():
    """A fragment whose whole body is @skip'd must not leave an empty
    grouping selection behind the emptiness guard (expansion and pruning
    interleave, so emptiness is judged on the expanded tree)."""
    src = """
    query Q($d: Boolean = false) {
        features { u { ...S } }
    }
    fragment S on U { a: event_seq @include(if: $d) }
    """
    with pytest.raises(PlanError, match="every top-level selection"):
        lower_graphql(src)


def test_skip_include_materializes_identically_to_plain_doc(spark):
    src = """
    query Q($verbose: Boolean = false) {
        features {
            userFeatures {
                nTurns: event_seq
                debug: prior_event_type @include(if: $verbose)
            }
        }
    }
    """
    slim = materialize_graphql(_model(), _events(spark), src)
    assert slim.columns == ["nTurns"]
    full = materialize_graphql(_model(), _events(spark), src,
                               variables={"verbose": True})
    assert full.columns == ["nTurns", "debug"]
    assert full.count() == slim.count() == 18


def test_graphql_identical_requests_compile_once(spark, compile_calls):
    """The GraphQL request scope (ad-hoc transformer features included) is
    cached on the base model: three identical requests compile once, a
    changed variable value compiles again."""
    m, ev = _model(), _events(spark)
    outs = [
        materialize_graphql(m, ev, QUERY).orderBy("userId").collect()
        for _ in range(3)
    ]
    assert len(compile_calls) == 1
    assert outs[0] == outs[1] == outs[2]
    materialize_graphql(m, ev, QUERY, variables={"gap": 60.0})
    assert len(compile_calls) == 2


def test_model_mutation_recompiles_graphql_request(spark, compile_calls):
    """A feature, alias, source or store registered on the base model
    clears its request cache: the next identical GraphQL request
    recompiles and resolves against the mutated model."""
    import datetime as dt

    m, ev = _model(), _events(spark)
    store = spark.createDataFrame(
        [(1, dt.datetime(2024, 2, 1), 10)], "user_id long, at timestamp, value long"
    )
    m.register_store("st", store, last_updated="at")
    m.declare_asof_feature("sv", "st")
    src = """
    query Q($flag: Int = 7, $tier: Int = 3) {
        dataElement { eventId eventType flag tier sv }
    }
    """

    def run():
        out = materialize_graphql(m, ev, src).orderBy("eventId").collect()
        return {c: [r[c] for r in out] for c in ("eventType", "flag", "tier", "sv")}

    first = run()
    assert run() == first and len(compile_calls) == 1
    types = ["view", "click", "purchase"] * 2
    assert first == {"eventType": types * 3, "flag": [7] * 18, "tier": [3] * 18,
                     "sv": [10] * 6 + [None] * 12}
    # tier 3 (alias) outranks the tier-4 convention column
    m.alias("eventType", "prior_event_type")
    assert run()["eventType"] == ([None] + types[:5]) * 3 and len(compile_calls) == 2
    # tier 2 (feature) outranks the tier-6 variable
    m.declare_window_feature("flag", op="row_number")
    assert run()["flag"] == list(range(1, 7)) * 3 and len(compile_calls) == 3
    # tier 5 (source field) outranks the tier-6 variable
    m.register_source("tiers", spark.createDataFrame(
        [(1, 10), (2, 20)], "user_id long, tier long"))
    assert run()["tier"] == [10] * 6 + [20] * 6 + [None] * 6 and len(compile_calls) == 4
    # re-registering a store swaps the as-of feature's data
    m.register_store("st", store.withColumn("value", F.lit(20).cast("long")),
                     last_updated="at")
    assert run()["sv"] == [20] * 6 + [None] * 12 and len(compile_calls) == 5
