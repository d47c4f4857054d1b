"""FeatureModel — the declarative feature registry + DAG compiler.

Re-expresses the reference's request-materialization pipeline
(``materializer/graph/RequestMaterializationGraph.kt:23-54`` →
``materializer/dispatch/DispatchedRequestMaterializationGraph.kt:14-26``)
Spark-first:

* a *request* is a list of output column names (the tabular entry point B,
  ``TabularQueryDocumentCreator.kt:44-108``),
* *compile* makes the request's name-resolution decision, once: it
  resolves every requested column and every feature argument (the J1 6-tier
  precedence, :meth:`FeatureModel.resolve_name`), topo-sorts the feature DAG
  (J5 ``dispatch/...DispatchService.kt:761-853``), binds each stage's
  arguments to the resolved column or feature name, and caches the bound
  stages with that wiring by request shape (the 24 h plan cache,
  ``DefaultSingleRequestMaterializationGraphService.kt:78-84``),
* *lower* reads the bound plan and never re-resolves: it lands the tier-5
  source joins and tier-6 variable literals, then turns the stages into ONE
  DataFrame lineage. As-of stages depend on nothing, so compile places them
  first: their ``asof_join`` shuffles the spine on the entity key, and the
  window pass after it reuses that ``hashpartitioning(entity)`` exchange
  (Filter/Project keep it). Window and transformer features land as one
  ``withColumns`` per dependency level (levels read off the bound
  arguments), so Catalyst analyzes the plan once per level and collapses
  same-spec window expressions into one Window operator. Spark's lazy DAG
  is the dispatched-publisher graph; Catalyst's ReuseExchange is the
  ``.cache()`` memoization.

The plan cache also holds the request's lowered Columns: the first
materialize of a request shape builds each window and transformer stage's
Column and the final projection, and every later call hands the stored
Columns to ``withColumns`` / ``select`` instead of rebuilding them through
hundreds of Python→JVM round trips. Source joins, variable literals and
:meth:`FeatureModel._validate_transformer_input` still run per call. The
stored Columns go with the bound plan (every mutator clears it, below); a
transformer's Column is reused only while its name still maps to the same
Transformer object, so re-registering a transformer takes effect.

Request scopes: the document and GraphQL front doors bind a request's
variants and ad-hoc features onto :meth:`FeatureModel.request_scope`, and
keep the compiled scopes in the base model's request cache; every mutator
clears both caches through :meth:`FeatureModel._invalidate`.

Temporal auto-tracking (J3, ``StandardQueryConnector.kt:2512-2602``): the
model requires an ``event_time`` column and refuses to compile if the spine
lacks it — every feature value is implicitly "as of" that column.
"""

from __future__ import annotations

import copy
from collections.abc import Sequence
from dataclasses import dataclass, field, replace
from typing import Any, NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from funcify_feature_eng_spark.functions.registry import TransformerRegistry, default_registry
from funcify_feature_eng_spark.functions.scalars import to_snake_case
from funcify_feature_eng_spark.operators import windows as W
from funcify_feature_eng_spark.operators.asof import asof_join
from funcify_feature_eng_spark.operators.scaling import minmax_expr, zscore_expr

_WINDOW_OPS = {
    "lag", "lead", "ffill", "ffill_strict", "bfill", "gap", "session", "row_number",
    # event-time RANGE frames + context assembly (all strictly prior)
    "rolling_count", "rolling_sum", "rolling_distinct", "context",
    # within-entity scaling (unbounded frame over the model's entity
    # partition — shares the same Exchange as every other window feature;
    # NOT temporal-leakage-safe by construction: they see the entity's
    # whole history, the declared semantics of a per-entity normalization)
    "zscore", "minmax",
}


@dataclass
class FeatureSpec:
    name: str
    kind: str  # "transformer" | "window" | "asof"
    transformer: str | None = None
    args: tuple[str, ...] = ()  # column or feature names (by-name wiring, J1)
    op: str | None = None  # window op
    col: str | None = None  # window input column
    params: dict[str, Any] = field(default_factory=dict)
    # as-of fields
    store_name: str | None = None
    right_ts: str | None = None
    value_col: str | None = None
    allow_exact_matches: bool = True
    right_order: tuple[str, ...] = ()
    strategy: str = "union_window"
    tolerance_s: float | None = None
    direction: str = "backward"
    # interval (SCD-2 containment) fields
    start_col: str = "valid_from"
    end_col: str = "valid_to"

    def deps(self) -> tuple[str, ...]:
        if self.kind == "transformer":
            return self.args
        if self.kind == "window":
            return (self.col,) if self.col else ()
        return ()


class PlanError(ValueError):
    pass


class _BoundPlan(NamedTuple):
    # stages in lowered order, arguments bound to resolved names
    stages: list[FeatureSpec]
    # requested column / argument name -> resolve_name's (kind, target), in
    # landing order: requested columns, then arguments in stage order
    wiring: dict[str, tuple[str, Any]]
    # Columns built by the first materialize and reused after it: stage
    # name -> (the Transformer it was built from, None for a window; Column)
    lowered: dict[str, tuple[Any, Column]]
    # requested column order -> the final projection
    projections: dict[tuple[str, ...], list[Column]]


class FeatureModel:
    """Registry of sources (named right-side tables), transformers and
    features over one entity spine — the FeatureEngineeringModel analog
    (``schema/FeatureEngineeringModel.kt:24-52``)."""

    def __init__(
        self,
        entity_key: str = "conv_id",
        order: Sequence[str] = ("turn_idx", "ts"),
        event_time: str = "ts",
        registry: TransformerRegistry | None = None,
        max_depth: int = 7,
    ) -> None:
        self.entity_key = entity_key
        self.order = tuple(order)
        self.event_time = event_time
        # plan-depth bound: the reference's ModelLimits.maximumOperationDepth
        # (default 7, min 3 — schema/limit/ModelLimits.kt:14-16,50)
        self.max_depth = max(int(max_depth), 3)
        self.registry = registry or default_registry()
        self._features: dict[str, FeatureSpec] = {}
        self._aliases: dict[str, str] = {}  # canon(alias) -> feature/column name
        self._stores: dict[str, DataFrame] = {}
        # unconnected data-element sources joinable on a key (J1 tiers 5/6)
        self._sources: dict[str, tuple[DataFrame, str, bool]] = {}
        # per-domain @lastUpdated registry (J3): store/source name → its
        # temporal attribute (LastUpdatedCoordinatesRegistry.kt:22-35)
        self._last_updated: dict[str, str] = {}
        self._plan_cache: dict[tuple[str, ...], _BoundPlan] = {}
        # compiled request scopes of the document / GraphQL front doors
        # (plans/document.py), keyed by canonical request
        self._doc_cache: dict[tuple, tuple] = {}
        self._is_scope = False

    def _invalidate(self) -> None:
        """Every mutator calls this: both caches snapshot the registries."""
        self._plan_cache.clear()
        self._doc_cache.clear()

    def request_scope(self) -> FeatureModel:
        """The model one request binds its variants, aliases and ad-hoc
        features onto: this model's declarations in copied registries, with
        empty caches. A request scope is already private to its request, so
        scoping it again returns it."""
        if self._is_scope:
            return self
        req = copy.copy(self)
        for registry in ("_features", "_aliases", "_stores", "_sources", "_last_updated"):
            setattr(req, registry, dict(getattr(self, registry)))
        req._plan_cache, req._doc_cache = {}, {}
        req._is_scope = True
        return req

    # ------------------------------------------------------------- declare
    def register_store(self, name: str, store, last_updated: str | None = None) -> None:
        """A point-in-time right side: either a plain DataFrame (dimension
        state) or a :class:`~funcify_feature_eng_spark.store.FeatureStore`
        (lifecycle-managed, identity = (feature_id, contextual params)).

        ``last_updated`` registers the domain's temporal attribute (the
        @lastUpdated directive, ``StandardQueryConnector.kt:2512-2602``):
        as-of features over this store then need no per-feature ``right_ts``
        — each right-side source carries its own timestamp column."""
        if last_updated is not None:
            if isinstance(store, DataFrame) and last_updated not in store.columns:
                raise PlanError(
                    f"store {name!r}: @lastUpdated column {last_updated!r} "
                    f"not in its columns"
                )
            self._last_updated[name] = last_updated
        self._stores[name] = store
        # re-registering a store swaps its backing data: cached request
        # scopes must not keep serving the old frame
        self._invalidate()

    def register_source(
        self, name: str, df: DataFrame, join_key: str | None = None, broadcast: bool = True
    ) -> None:
        """An *unconnected* data-element source (J1 tiers 5/6,
        ``StandardQueryConnector.kt:682-762``): a table not part of the spine
        whose fields can satisfy requested columns / feature arguments via an
        automatic equi-join on ``join_key`` (default: the entity key).
        ``broadcast=True`` marks it dimension-sized (J6 batched key loading)."""
        key = join_key or self.entity_key
        if key not in df.columns:
            raise PlanError(f"source {name!r}: join key {key!r} not in its columns")
        self._sources[name] = (df, key, broadcast)
        self._invalidate()

    def alias(self, alias: str, target: str) -> None:
        """@alias directive analog (AliasCoordinatesRegistry)."""
        self._aliases[to_snake_case(alias)] = target
        # the alias tier outranks the convention tier, so any cached plan
        # that resolved the name conventionally is now stale
        self._invalidate()

    def declare_transformer_feature(
        self, name: str, transformer: str, args: Sequence[str], **params: Any
    ) -> None:
        if transformer not in self.registry:
            raise PlanError(f"feature {name!r}: unknown transformer {transformer!r}")
        self._add(FeatureSpec(name, "transformer", transformer=transformer,
                              args=tuple(args), params=params))

    def declare_window_feature(
        self, name: str, op: str, col: str | None = None, **params: Any
    ) -> None:
        if op not in _WINDOW_OPS:
            raise PlanError(f"feature {name!r}: unknown window op {op!r} "
                            f"(known: {sorted(_WINDOW_OPS)})")
        self._add(FeatureSpec(name, "window", op=op, col=col, params=params))

    def declare_asof_feature(
        self,
        name: str,
        store: str,
        right_ts: str | None = None,
        value_col: str = "value",
        allow_exact_matches: bool = True,
        right_order: Sequence[str] = (),
        params: dict[str, Any] | None = None,
        strategy: str = "union_window",
        tolerance_s: float | None = None,
        direction: str = "backward",
    ) -> None:
        """A point-in-time feature against a registered store.

        When the registered store is a FeatureStore, materialization routes
        through ``FeatureStore.read_through`` with ``params`` as the
        contextual-parameter identity (two parameterizations of one feature
        path never collide — DispatchService.kt:960-1127 semantics).
        ``strategy`` / ``tolerance_s`` forward to :func:`asof_join` on the
        DataFrame-store path (pick ``"auto"`` to let skew stats decide; a
        tolerance nulls matches staler than the bound)."""
        if store not in self._stores:
            raise PlanError(f"feature {name!r}: store {store!r} not registered")
        self._add(FeatureSpec(name, "asof", store_name=store, right_ts=right_ts,
                              value_col=value_col, allow_exact_matches=allow_exact_matches,
                              right_order=tuple(right_order),
                              params=dict(params or {}),
                              strategy=strategy, tolerance_s=tolerance_s,
                              direction=direction))

    def declare_interval_feature(
        self,
        name: str,
        store: str,
        value_col: str = "value",
        start: str = "valid_from",
        end: str = "valid_to",
        strategy: str = "bucket",
        params: dict[str, Any] | None = None,
    ) -> None:
        """A containment (SCD-2 validity-interval) feature: the payload of
        the registered store's interval covering ``[start, end)`` ∋ the
        spine row's event time; NULL ``end`` is the open current epoch. A
        feature is one value per (entity, ts), so the store is wrapped in
        :func:`operators.intervals.guarded_disjoint` — overlapping
        intervals raise at materialization instead of silently fanning the
        spine out. ``params['bucket_s']`` tunes the bucket grid."""
        if store not in self._stores:
            raise PlanError(f"feature {name!r}: store {store!r} not registered")
        self._add(FeatureSpec(name, "interval", store_name=store,
                              value_col=value_col, start_col=start, end_col=end,
                              strategy=strategy, params=dict(params or {})))

    def _add(self, spec: FeatureSpec) -> None:
        if spec.name in self._features:
            raise PlanError(f"feature {spec.name!r} already declared")
        self._features[spec.name] = spec
        self._invalidate()

    # ------------------------------------------------------------- compile
    def resolve_name(
        self,
        requested: str,
        spine_cols: Sequence[str],
        variables: Sequence[str] = (),
    ) -> tuple[str, Any]:
        """Tabular name resolution — the J1 6-tier precedence
        (``StandardQueryConnector.kt:682-762``):
        (1) connected field: exact spine column → passthrough;
        (2) feature field (feature-on-feature wiring): exact feature;
        (3) alias registry (@alias, unique field on connected source);
        (4) convention-equivalent (snake_case) spine column or feature —
            the 'field with alternatives' tier;
        (5) field on an UNCONNECTED registered source (raw-input
            satisfiability) → automatic equi-join, ambiguity is an error;
        (6) the request's variable set → literal column
            (VARIABLE_VALUE_PROVIDED).
        Returns (kind, resolved) with kind in
        {column, feature, source, variable}; ``source`` resolves to
        (source_name, field_name)."""
        if requested in spine_cols:
            return ("column", requested)
        if requested in self._features:
            return ("feature", requested)
        canon = to_snake_case(requested)
        if canon in self._aliases:
            return self.resolve_name(self._aliases[canon], spine_cols, variables)
        for c in spine_cols:
            if to_snake_case(c) == canon:
                return ("column", c)
        for f in self._features:
            if to_snake_case(f) == canon:
                return ("feature", f)
        hits = [
            (src, field)
            for src, (df, _k, _b) in self._sources.items()
            for field in df.columns
            if field == requested or to_snake_case(field) == canon
        ]
        if len(hits) > 1:
            raise PlanError(
                f"output column {requested!r} is ambiguous across sources: "
                f"{sorted(f'{s}.{f}' for s, f in hits)}"
            )
        if hits:
            return ("source", hits[0])
        if requested in variables:
            return ("variable", requested)
        raise PlanError(
            f"cannot resolve output column {requested!r}: not a spine column, "
            f"feature, alias, source field, or variable "
            f"(features: {sorted(self._features)}; sources: {sorted(self._sources)})"
        )

    def compile(
        self,
        columns: Sequence[str],
        spine_cols: Sequence[str],
        var_keys: Sequence[str] = (),
    ) -> list[FeatureSpec]:
        """Topo-sorted feature stages needed for the requested columns, in
        the order :meth:`materialize` lowers them: as-of stages first, then
        the rest with every dependency before its consumer. Each stage's
        arguments are bound to the column or feature name they resolve to.
        Plan-cached by request shape + variable-KEY set, mirroring the
        reference's plan-cache key."""
        return self._bind(columns, spine_cols, var_keys).stages

    def _bind(
        self,
        columns: Sequence[str],
        spine_cols: Sequence[str],
        var_keys: Sequence[str],
    ) -> _BoundPlan:
        key = (
            tuple(sorted(columns)) + ("|",) + tuple(sorted(spine_cols))
            + ("$",) + tuple(sorted(var_keys))
        )
        if key in self._plan_cache:
            return self._plan_cache[key]
        resolved: dict[str, tuple[str, Any]] = {}
        needed: dict[str, FeatureSpec] = {}

        def resolve(name: str) -> tuple[str, Any]:
            if name not in resolved:
                resolved[name] = self.resolve_name(name, spine_cols, var_keys)
            return resolved[name]

        def visit(fname: str, stack: tuple[str, ...]) -> None:
            if fname in stack:
                raise PlanError(f"feature dependency cycle: {' -> '.join(stack + (fname,))}")
            if len(stack) >= self.max_depth:
                raise PlanError(
                    f"feature dependency depth exceeds max_depth={self.max_depth} "
                    f"at {' -> '.join(stack + (fname,))}"
                )
            if fname in needed:
                return
            spec = self._features[fname]
            for dep in spec.deps():
                kind, target = resolve(dep)
                if kind == "feature":
                    visit(target, stack + (fname,))
            needed[fname] = spec  # post-order insert = topo order

        for col in columns:
            kind, target = resolve(col)
            if kind == "feature":
                visit(target, ())
        # as-of stages have no dependencies: lowering them first keeps the
        # order topological and lets the window pass reuse their entity
        # exchange. Interval stages keep their place — they shuffle on
        # (entity, bucket), which the window pass cannot reuse.
        order = sorted(needed.values(), key=lambda s: s.kind != "asof")
        wiring = {col: resolved[col] for col in columns}
        for spec in order:
            for dep in spec.deps():
                wiring.setdefault(dep, resolved[dep])

        def bound(name: str) -> str:
            # a column / feature argument reads its resolved name; a source
            # field or variable lands under the name as written
            kind, target = wiring[name]
            return target if kind in ("column", "feature") else name

        stages = [
            replace(s, args=tuple(bound(a) for a in s.args)) if s.kind == "transformer"
            else replace(s, col=bound(s.col)) if s.kind == "window" and s.col
            else s
            for s in order
        ]
        plan = self._plan_cache[key] = _BoundPlan(stages, wiring, {}, {})
        return plan

    def describe(
        self,
        columns: Sequence[str],
        spine_cols: Sequence[str] = (),
        var_keys: Sequence[str] = (),
    ) -> dict[str, list[dict]]:
        """Human/tool-readable plan description — the reference's
        materialization-graph rendering analog (it serializes the request
        graph for inspection; here the same information is two lists).

        Reads the plan :meth:`compile` binds, so ``columns`` resolve exactly
        as :meth:`materialize` resolves them (same 6-tier precedence, same
        errors). Returns ``{"columns": [...], "stages": [...]}`` where each
        column entry records its resolution tier and target, and each stage
        entry is one feature computation with its kind, operator /
        transformer / store, and resolved dependency names. Stages come in
        the order :meth:`materialize` lowers them: as-of stages first, then
        every dependency before its consumer. Pure metadata — no Spark job
        runs.
        """
        plan = self._bind(columns, list(spine_cols), var_keys)
        cols_out = [
            {"column": col, "resolves": plan.wiring[col][0], "target": plan.wiring[col][1]}
            for col in columns
        ]
        stages_out: list[dict] = []
        for i, spec in enumerate(plan.stages):
            entry: dict = {"stage": i, "feature": spec.name, "kind": spec.kind,
                           "depends_on": list(spec.deps())}
            if spec.kind == "window":
                entry["op"] = spec.op
            elif spec.kind == "transformer":
                entry["transformer"] = spec.transformer
            else:
                entry["store"] = spec.store_name
                entry["strategy"] = spec.strategy
            stages_out.append(entry)
        return {"columns": cols_out, "stages": stages_out}

    # ------------------------------------------------------------- lower/run
    def materialize(
        self,
        spine: DataFrame,
        columns: Sequence[str],
        variables: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Entry point B analog: bare column-name list + spine → wide DataFrame
        with exactly the requested columns (features + pass-through) in
        request order. No sort is imposed — callers order on output when
        stable presentation matters (O1).

        ``variables`` is the request's variable set (J1 tier 6): a requested
        name or feature argument found in neither the spine, the features,
        nor a registered source binds to its variable value as a literal."""
        variables = dict(variables or {})
        if self.event_time not in spine.columns:
            raise PlanError(
                f"spine lacks event-time column {self.event_time!r} — temporal "
                "auto-tracking (J3) requires it on every source"
            )
        plan = self._bind(columns, spine.columns, tuple(sorted(variables)))

        # compile's wiring: tier-5 hits become one pruned equi-join per
        # source (broadcast for dimension-sized sources, J6), tier-6 hits
        # become literal columns, both under the name as written
        per_src: dict[str, dict[str, str]] = {}
        for req, (kind, res) in plan.wiring.items():
            if kind == "source":
                src, field = res
                per_src.setdefault(src, {})[req] = field
        df = spine
        for src, fields in per_src.items():
            src_df, join_key, bcast = self._sources[src]
            sel = src_df.select(
                join_key, *[F.col(f).alias(req) for req, f in fields.items()]
            )
            if bcast:
                sel = F.broadcast(sel)
            df = df.join(sel, on=join_key, how="left")
        for req, (kind, _res) in plan.wiring.items():
            if kind == "variable":
                df = df.withColumn(req, F.lit(variables[req]))
        keys, order = (self.entity_key,), self.order

        # consecutive window/transformer stages form one batch, lowered as
        # one withColumns per dependency level: a level holds the features
        # whose feature arguments all landed in earlier levels or stages
        stages = plan.stages
        i = 0
        while i < len(stages):
            spec = stages[i]
            if spec.kind in ("transformer", "window"):
                level: dict[str, int] = {}
                batch_specs: list[FeatureSpec] = []
                while i < len(stages) and stages[i].kind in ("transformer", "window"):
                    s = stages[i]
                    # bound arguments name features directly; anything not
                    # in this batch landed before it
                    level[s.name] = 1 + max(
                        (level.get(d, -1) for d in s.deps()), default=-1
                    )
                    batch_specs.append(s)
                    i += 1
                for lv in range(max(level.values()) + 1):
                    batch = [s for s in batch_specs if level[s.name] == lv]
                    for s in batch:
                        if s.kind == "transformer":
                            self._validate_transformer_input(s, df)
                    df = df.withColumns(
                        {s.name: self._lowered(plan, s, keys, order) for s in batch}
                    )
            elif spec.kind == "interval":
                from funcify_feature_eng_spark.operators.intervals import (
                    guarded_disjoint,
                    interval_join,
                )

                store = self._stores[spec.store_name]
                payload = store.select(
                    self.entity_key, spec.start_col, spec.end_col,
                    F.col(spec.value_col).alias(spec.name),
                )
                df = interval_join(
                    df,
                    guarded_disjoint(
                        payload, self.entity_key, spec.start_col, spec.end_col
                    ),
                    on=self.entity_key,
                    ts=self.event_time,
                    start=spec.start_col,
                    end=spec.end_col,
                    how="left",
                    strategy=spec.strategy,
                    bucket_s=int(spec.params.get("bucket_s", 3600)),
                    null_end_is_open=True,
                ).drop(spec.start_col, spec.end_col)
                i += 1
                continue
            else:  # asof
                target = self._stores[spec.store_name]
                # lazy import: store.py imports asof_join from operators
                from funcify_feature_eng_spark.store import FeatureStore

                if isinstance(target, FeatureStore):
                    # lifecycle path: identity = (feature path, contextual
                    # params) — read_through filters on the computed hash
                    df = target.read_through(
                        df,
                        feature_id=spec.name,
                        out_col=spec.name,
                        ts_col=self.event_time,
                        params=spec.params,
                        allow_exact_matches=spec.allow_exact_matches,
                    )
                else:
                    # per-domain temporal attribute: explicit right_ts wins,
                    # else the store's registered @lastUpdated column (J3)
                    rts = spec.right_ts or self._last_updated.get(spec.store_name)
                    if rts is None:
                        raise PlanError(
                            f"as-of feature {spec.name!r}: store "
                            f"{spec.store_name!r} has no registered "
                            f"@lastUpdated column and the feature declares no "
                            f"right_ts — register_store(..., last_updated=...)"
                        )
                    df = asof_join(
                        df,
                        target,
                        on=[self.entity_key],
                        left_ts=self.event_time,
                        right_ts=rts,
                        value_cols={spec.value_col: spec.name},
                        allow_exact_matches=spec.allow_exact_matches,
                        right_order=spec.right_order,
                        strategy=spec.strategy,
                        tolerance_s=spec.tolerance_s,
                        direction=spec.direction,
                    )
                i += 1

        out_cols = plan.projections.get(tuple(columns))
        if out_cols is None:
            out_cols = plan.projections[tuple(columns)] = []
            for col in columns:
                kind, resolved = plan.wiring[col]
                if kind in ("source", "variable"):
                    out_cols.append(F.col(col))  # materialized under the requested name
                else:
                    out_cols.append(F.col(resolved).alias(col))
        return df.select(*out_cols)

    def materialize_backfill(
        self,
        spine: DataFrame,
        columns: Sequence[str],
        *,
        start_s: int,
        end_s: int,
        variables: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Backfill as a model verb: recompute the requested columns for
        every entity with >= 1 spine row in ``[start_s, end_s)`` epoch
        seconds (operators/backfill.py::entity_backfill under this
        model's entity/event-time declarations).

        The semi-join slice hands :meth:`materialize` each touched
        entity's COMPLETE history, so unbounded per-entity window
        features (lag/ffill/session/running — this model's §2.5 block)
        are exact; as-of/interval features read their full side tables
        regardless of the spine slice, so they are unaffected. Output =
        the materialized frame for touched entities only — the
        reference's tracked-value recomputation path
        (``schema/tracking/TrackableValue.kt:109-193``) expressed as a
        range-driven batch instead of per-request dispatch."""
        from funcify_feature_eng_spark.operators.backfill import entity_backfill

        def compute(sl: DataFrame, _keys) -> DataFrame:
            return self.materialize(sl, columns, variables=variables)

        return entity_backfill(
            spine,
            compute,
            ts_col=self.event_time,
            keys=[self.entity_key],
            start_s=start_s,
            end_s=end_s,
        )

    def _validate_transformer_input(self, spec: FeatureSpec, df: DataFrame) -> None:
        """P6 input-schema validation at plan time: each declared arg type on
        the transformer is checked against the bound column's actual Spark
        type (the analog of the reference's JSON-Schema check on the jq
        input — DefaultJacksonJqTransformer.kt:89-113)."""
        t = self.registry.get(spec.transformer)
        field_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        actual = {
            arg_name: field_types[col_name]
            for arg_name, col_name in zip(t.args, spec.args)
            if col_name in field_types
        }
        try:
            t.validate_input_types(actual)
        except TypeError as e:
            raise PlanError(f"feature {spec.name!r}: {e}") from e

    def _lowered(self, plan: _BoundPlan, spec: FeatureSpec, keys, order) -> Column:
        """``spec``'s Column, built on the plan's first lowering and reused
        after it; a transformer's only while its name still maps to the
        Transformer it was built from."""
        built_by = self.registry.get(spec.transformer) if spec.kind == "transformer" else None
        hit = plan.lowered.get(spec.name)
        if hit is None or hit[0] is not built_by:
            hit = plan.lowered[spec.name] = (built_by, self._lower_one(spec, keys, order))
        return hit[1]

    def _lower_one(self, spec: FeatureSpec, keys, order):
        if spec.kind == "transformer":
            cols = [F.col(a) for a in spec.args]
            return self.registry.apply(spec.transformer, *cols, **spec.params)
        op, c = spec.op, spec.col
        if op == "lag":
            return W.lag_col(c, keys, order, spec.params.get("n", 1))
        if op == "lead":
            return W.lead_col(c, keys, order, spec.params.get("n", 1))
        if op == "ffill":
            return W.ffill_col(c, keys, order)
        if op == "ffill_strict":
            return W.ffill_col(c, keys, order, strict_prior=True)
        if op == "bfill":
            return W.bfill_col(c, keys, order)
        if op == "gap":
            return W.gap_seconds(c or self.event_time, keys, order)
        if op == "session":
            return W.session_id(
                c or self.event_time, keys, order, spec.params.get("gap_threshold_s", 1800.0)
            )
        if op == "row_number":
            return W.row_number_col(keys, order)
        if op in ("rolling_count", "rolling_sum", "rolling_distinct"):
            # strictly-prior event-time RANGE frame over the model's
            # event_time. The epoch order key is inlined per feature; the
            # rolling features of one dependency level land in one
            # withColumns, where the analyzer extracts that key once and
            # they share one WindowExec (the frame-level twin is
            # operators/windows.py::rolling_time_agg)
            w_s = int(spec.params.get("window_s", 3600))
            wspec = W.time_range_window(keys, W.epoch_seconds(self.event_time), -w_s, -1)
            if op == "rolling_count":
                return F.count(F.col(c)).over(wspec).cast("long")
            if op == "rolling_sum":
                return F.coalesce(F.sum(F.col(c)).over(wspec), F.lit(0)).cast("long")
            return F.size(F.collect_set(F.col(c)).over(wspec)).cast("long")
        if op == "context":
            return W.prior_context_col(
                c, keys, order, int(spec.params.get("k", 3)), spec.params.get("sep", "|")
            )
        if op in ("zscore", "minmax"):
            # within-entity scaling over the SAME partition exchange as the
            # other window features (unbounded frame): the formulas of
            # operators/scaling.py::standardize/minmax_scale over window
            # aggregates. Integral input is the caller's contract (scaling
            # module doc).
            wspec = (
                Window.partitionBy(*[F.col(k) for k in keys])
                .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
            v = F.col(c)
            if op == "zscore":
                d = v.cast("decimal(38,0)")
                return zscore_expr(
                    v,
                    F.count(v).over(wspec).cast("decimal(38,0)"),
                    F.sum(d).over(wspec),
                    F.sum(d * d).over(wspec),
                )
            return minmax_expr(
                v, F.min(v).over(wspec), F.max(v).over(wspec),
                int(spec.params.get("scale", 1_000_000)),
            )
        raise PlanError(f"unhandled window op {op!r}")
