"""Entry point A analog: document-shaped (nested) requests.

The reference's main path is a GraphQL document parsed, validated and
compiled to the request-materialization graph
(``DefaultMaterializationPreparsedDocumentProvider.kt:250-327``, composer
``schema/document/DefaultGQLDocumentComposer.kt``, traverser
``StandardQueryTraverser.kt``). Spark-first, the document becomes a nested
dict compiled onto the same FeatureModel plan the tabular entry point uses —
the two entry points are the two directions of
``TabularQueryDocumentCreator.kt:44-108``.

Document shape::

    {
      "variables": {"gap": 900.0},            # optional
      "select": {
        "columns": ["event_id", "user_id"],   # data-element passthrough (P1)
        "features": {
          "prior_event_type": {},             # declared feature, as-is
          "sess": {                            # aliased + parameterized
            "feature": "session_id",
            "args": {"gap_threshold_s": "$gap"},
          },
        },
      },
    }

Argument value sources mirror the MaterializationEdge kinds
(``MaterializationEdge.kt:7-14``): a ``$name`` string is
VARIABLE_VALUE_PROVIDED (unknown variable → error, like graphql-java
validation), any other literal is DIRECT_ARGUMENT_VALUE_PROVIDED, and an
omitted argument keeps the declared default (DEFAULT_ARGUMENT_VALUE_PROVIDED).

Each request compiles onto ONE request-scoped model
(:meth:`FeatureModel.request_scope`): its variants, aliases and — for the
GraphQL front door — ad-hoc transformer features live there, never on the
base model. Both front doors keep compiled scopes in the base model's one
request cache (``FeatureModel._doc_cache``, see :func:`_materialize`),
keyed by the canonical document, its variable values, the spine columns and
the ad-hoc transformer calls — the analog of the 24h plan cache keyed by
(metamodel.created, variable keys, opName, document)
(``DefaultSingleRequestMaterializationGraphService.kt:105-180``). Every
declaration, alias, source or store registered on the base model clears
that cache together with its plan cache, so the next request recompiles
against the mutated model.
"""

from __future__ import annotations

import json
from dataclasses import replace
from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame

from funcify_feature_eng_spark.functions.scalars import to_snake_case
from funcify_feature_eng_spark.plans.model import FeatureModel, FeatureSpec, PlanError

_TOP_KEYS = {"variables", "select"}
_SELECT_KEYS = {"columns", "features", "collections"}
_FEATURE_KEYS = {"feature", "args"}
_COLLECTION_KEYS = {"fields", "unnest"}


def _resolve_args(args: dict[str, Any], variables: dict[str, Any]) -> dict[str, Any]:
    out: dict[str, Any] = {}
    for k, v in args.items():
        if isinstance(v, str) and v.startswith("$"):
            name = v[1:]
            if name not in variables:
                raise PlanError(
                    f"argument {k!r} references undefined variable ${name} "
                    f"(defined: {sorted(variables)})"
                )
            out[k] = variables[name]  # VARIABLE_VALUE_PROVIDED
        else:
            out[k] = v  # DIRECT_ARGUMENT_VALUE_PROVIDED
    return out


def _parse_feature_specs(feats: dict, what: str) -> dict[str, dict]:
    norm: dict[str, dict] = {}
    for out_name, spec in feats.items():
        if spec is None:
            spec = {}
        if not isinstance(spec, dict):
            raise PlanError(f"{what} {out_name!r} must be a dict")
        unknown = set(spec) - _FEATURE_KEYS
        if unknown:
            raise PlanError(f"{what} {out_name!r} has unknown keys: {sorted(unknown)}")
        norm[out_name] = {
            "feature": spec.get("feature", out_name),
            "args": dict(spec.get("args", {})),
        }
    return norm


def parse_document(
    doc: dict[str, Any]
) -> tuple[dict, list[str], dict[str, dict], dict[str, dict]]:
    """Validate the request document (the parse/validate stage). Returns
    (variables, passthrough columns, feature selections, collections)."""
    if not isinstance(doc, dict):
        raise PlanError("request document must be a dict")
    unknown = set(doc) - _TOP_KEYS
    if unknown:
        raise PlanError(f"unknown top-level document keys: {sorted(unknown)}")
    variables = doc.get("variables", {})
    if not isinstance(variables, dict):
        raise PlanError("'variables' must be a dict")
    select = doc.get("select")
    if not isinstance(select, dict):
        raise PlanError("document requires a 'select' dict")
    unknown = set(select) - _SELECT_KEYS
    if unknown:
        raise PlanError(f"unknown 'select' keys: {sorted(unknown)}")
    columns = list(select.get("columns", []))
    feats = select.get("features", {})
    if not isinstance(feats, dict):
        raise PlanError("'select.features' must be a dict of name -> spec")
    norm = _parse_feature_specs(feats, "feature selection")
    colls_in = select.get("collections", {})
    if not isinstance(colls_in, dict):
        raise PlanError("'select.collections' must be a dict of name -> spec")
    colls: dict[str, dict] = {}
    for out_name, spec in colls_in.items():
        if not isinstance(spec, dict):
            raise PlanError(f"collection {out_name!r} must be a dict")
        unknown = set(spec) - _COLLECTION_KEYS
        if unknown:
            raise PlanError(f"collection {out_name!r} has unknown keys: {sorted(unknown)}")
        fields = spec.get("fields")
        if not isinstance(fields, dict) or not fields:
            raise PlanError(f"collection {out_name!r} requires a non-empty 'fields' dict")
        colls[out_name] = {
            "fields": _parse_feature_specs(fields, f"collection {out_name!r} field"),
            "unnest": bool(spec.get("unnest", False)),
        }
    if sum(1 for c in colls.values() if c["unnest"]) > 1:
        raise PlanError("at most one collection may set 'unnest': true")
    if not columns and not norm and not colls:
        raise PlanError("document selects nothing")
    return variables, columns, norm, colls


def _feature_of(
    req: FeatureModel, name: str, spine_cols: Sequence[str], var_keys: Sequence[str]
) -> str | None:
    """The declared feature a selected name resolves to (J1 via
    :meth:`FeatureModel.resolve_name` — a GraphQL-style ``eventSeq`` binds
    the declared ``event_seq``), or None when it resolves to anything else
    or to nothing (the name may still be a spine/source column)."""
    try:
        kind, target = req.resolve_name(name, spine_cols, var_keys)
    except PlanError:
        return None
    return target if kind == "feature" else None


def compile_document(
    model: FeatureModel,
    doc: dict[str, Any],
    spine_cols: Sequence[str] | None = None,
) -> tuple[FeatureModel, list[str], dict[str, dict]]:
    """Compile a request document against a base model: returns the
    request-scoped model (base features + parameterized/aliased variants),
    the output column list for ``materialize``, and the compiled collection
    specs (field output names bound, ListSegment analog). With
    ``spine_cols`` (known at materialize), flat feature selections may also
    resolve to columns/sources/variables via J1 (GraphQL aliasing)."""
    variables, columns, feats, colls = parse_document(doc)
    req = model.request_scope()
    cols = tuple(spine_cols or ())
    var_keys = tuple(sorted(variables))
    # every selection resolves against the scope as it stood before this
    # document; the variants and aliases they bind land after the last one
    variants: dict[str, FeatureSpec] = {}
    aliases: dict[str, str] = {}

    def bind(sels: dict[str, dict], what: str = "document") -> list[str]:
        # aliased/parameterized feature variants become request-scoped
        # FeatureSpecs; names that are neither declared features nor
        # variant-requiring pass through as data-element columns (P1)
        out_cols: list[str] = []
        for out_name, sel in sels.items():
            base_name = _feature_of(req, sel["feature"], cols, var_keys)
            if base_name is None:
                if sel["args"]:
                    raise PlanError(
                        f"{what} selects unknown feature {sel['feature']!r} "
                        f"(declared: {sorted(req._features)})"
                    )
                if out_name != sel["feature"]:
                    # aliased column passthrough (GraphQL `alias: field`):
                    # route through the alias registry so J1 tier-3 resolves it
                    aliases[to_snake_case(out_name)] = sel["feature"]
                out_cols.append(out_name)
                continue
            args = _resolve_args(sel["args"], variables)
            if out_name != base_name or args:
                # document args override the declared defaults
                base = req._features[base_name]
                variants.pop(out_name, None)
                variants[out_name] = replace(base, name=out_name, params={**base.params, **args})
            out_cols.append(out_name)
        return out_cols

    out_cols = list(columns)
    if colls:
        # collections change the result grain to one row per entity (or per
        # element when unnested). Non-collection selections (columns and
        # features) are ENTITY-grain scalars: each takes the entity's
        # latest-in-model-order value — the "current state" reading, the
        # same latest-prior convention as J3/as-of. Deterministic because
        # the model order is a total order per entity (O1).
        out_cols += bind(feats)
        for cname, cspec in colls.items():
            if cname in out_cols:
                raise PlanError(
                    f"collection {cname!r} collides with a scalar selection"
                )
            cspec["field_cols"] = bind(cspec["fields"], what=f"collection {cname!r}")
            out_cols.append(cname)
    else:
        # strictly-validated flat path: a feature selection must resolve to
        # a declared feature, or (when the spine is known) to a column /
        # source field / variable — unresolvable names are compile errors
        for sel in feats.values():
            if _feature_of(req, sel["feature"], cols, var_keys) is not None:
                continue
            if spine_cols is None:
                raise PlanError(
                    f"document selects unknown feature {sel['feature']!r} "
                    f"(declared: {sorted(req._features)})"
                )
            try:
                req.resolve_name(sel["feature"], spine_cols, var_keys)
            except PlanError as e:
                raise PlanError(
                    f"document selects unknown feature {sel['feature']!r}: {e}"
                ) from None
        out_cols += bind(feats)
    for name, spec in variants.items():
        req._features.pop(name, None)
        req._features[name] = spec
    req._aliases.update(aliases)
    req._invalidate()
    return req, out_cols, colls


def materialize_document(
    model: FeatureModel, spine: DataFrame, doc: dict[str, Any]
) -> DataFrame:
    """Execute a document-shaped request on a spine through the base model.

    The compiled request scope comes from the base model's request cache
    (the 24h-plan-cache analog, see the module docstring)."""
    return _materialize(model, spine, doc)


def _materialize(
    model: FeatureModel,
    spine: DataFrame,
    doc: dict[str, Any],
    transformers: tuple[tuple[str, str, tuple[str, ...]], ...] = (),
) -> DataFrame:
    """The request path of both front doors. ``transformers`` are ad-hoc
    ``(output, transformer, argument names)`` invocations (GraphQL's
    ``transformer { ... }``), declared on the request scope before the
    document binds.

    The key: the canonical document (sorted-key JSON of the select block +
    variable KEYS), its variable VALUES — they parameterize column
    expressions, so a changed value is a different plan — the spine
    columns, which flat selections are validated against, and the ad-hoc
    invocations."""
    key = (
        json.dumps(
            {"select": doc.get("select", {}), "var_keys": sorted(doc.get("variables", {}))},
            sort_keys=True,
            separators=(",", ":"),
            default=str,
        ),
        json.dumps(doc.get("variables", {}), sort_keys=True, default=str),
        tuple(sorted(spine.columns)),
        transformers,
    )
    hit = model._doc_cache.get(key)
    if hit is None:
        req = model.request_scope()
        for out_name, tname, args in transformers:
            req.declare_transformer_feature(out_name, tname, args=args)
        hit = model._doc_cache[key] = compile_document(req, doc, spine.columns)
    req, out_cols, colls = hit
    # variables also feed J1 tier-6 resolution (names satisfiable from the
    # request's variable set), not just feature arguments
    variables = doc.get("variables")
    if not colls:
        return req.materialize(spine, out_cols, variables=variables)
    return _materialize_collections(req, spine, colls, variables, out_cols)


def _materialize_collections(
    req: FeatureModel,
    spine: DataFrame,
    colls: dict[str, dict],
    variables: dict | None,
    out_cols: list[str],
) -> DataFrame:
    """ListSegment fan-in/fan-out: materialize element-grain fields, then
    either collect them into ordered ``array<struct>`` columns (one row per
    entity — the nested-document composition direction of
    ``DefaultGQLDocumentComposer.kt``) or, for a collection marked
    ``unnest: true``, re-explode to one row per element with its index (the
    result-path fan-out of ``schema/path/result/ListSegment.kt:9-29``).

    Non-collection selections in ``out_cols`` are entity-grain scalars:
    each is the entity's latest-in-model-order value (``max_by`` over the
    order tuple — same exchange as the collect, no extra window pass).

    One element-grain pass serves every collection; the collect is a single
    groupBy(entity) with one ``collect_list`` per collection — ordering is
    encoded in the struct prefix (the model's order columns) and enforced
    with ``array_sort``, then stripped, so no per-group sort/window is needed
    beyond the one aggregation exchange."""
    from pyspark.sql import functions as F

    entity = req.entity_key
    order_cols = list(req.order)
    scalar_outs = [c for c in out_cols if c not in colls]
    field_union: list[str] = []
    for cspec in colls.values():
        for f in cspec["field_cols"]:
            if f not in field_union:
                field_union.append(f)
    for s in scalar_outs:
        if s not in field_union and s != entity:
            field_union.append(s)
    elem_cols = [entity] + [c for c in order_cols if c not in field_union] + field_union
    elems = req.materialize(spine, elem_cols, variables=variables)

    order_tuple = F.struct(*[F.col(c) for c in order_cols])
    aggs = []
    for cname, cspec in colls.items():
        packed = F.struct(
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
            *[F.col(f).alias(f) for f in cspec["field_cols"]],
        )
        aggs.append(F.array_sort(F.collect_list(packed)).alias(cname))
    for s in scalar_outs:
        if s != entity:
            aggs.append(F.max_by(F.col(s), order_tuple).alias(s))
    out = elems.groupBy(entity).agg(*aggs)

    unnest_name = next((n for n, c in colls.items() if c["unnest"]), None)

    def _strip(field_cols: list[str]):
        # NB: a one-parameter lambda — a default second param would make
        # PySpark treat it as the (element, index) binary form
        return lambda x: F.struct(*[x[f].alias(f) for f in field_cols])

    def _selects_entity(c: str) -> bool:
        # the entity key may be selected under a convention alias (userId)
        # or a registered alias — don't re-prepend it then
        canon = to_snake_case(c)
        if c == entity or canon == entity:
            return True
        target = req._aliases.get(canon)
        return target is not None and to_snake_case(target) == entity

    for cname, cspec in colls.items():
        out = out.withColumn(cname, F.transform(F.col(cname), _strip(cspec["field_cols"])))
    keep = out_cols if any(_selects_entity(c) for c in out_cols) else [entity] + out_cols
    if unnest_name is None:
        return out.select(*keep)
    fields = colls[unnest_name]["field_cols"]
    pre = [c for c in keep if c != unnest_name]
    out = out.select(
        *pre, F.posexplode(F.col(unnest_name)).alias(f"{unnest_name}_idx", "__e")
    )
    # re-expand in document order, the unnested fields at the collection's slot
    final: list = []
    for c in keep:
        if c == unnest_name:
            final.append(F.col(f"{unnest_name}_idx"))
            final.extend(F.col("__e")[f].alias(f) for f in fields)
        else:
            final.append(F.col(c))
    return out.select(*final)
