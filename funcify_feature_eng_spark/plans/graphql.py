"""GraphQL-text front door for Entry point A.

The reference's primary API is a **GraphQL document**: parsed, validated,
and compiled onto the request-materialization graph
(``materializer/request/DefaultRawGraphQLRequest.kt``; preparse plan +
dispatch ``DefaultMaterializationPreparsedDocumentProvider.kt:250-327``;
the shipped fixed query ``stream/StreamFunctions.kt:62-102``). This module
is a hand-written parser for the GraphQL subset that query uses (no
graphql-java / graphql-core in the sandbox), lowering the document to the
dict shape :mod:`funcify_feature_eng_spark.plans.document` executes — the
two front doors share one compiler (``compile_document`` onto one request
scope), one request cache on the base model and, through the scope's
``FeatureModel.materialize``, the tabular door's plan cache, like the
reference's one materialization graph behind both tabular and GraphQL
entry points (``TabularQueryDocumentCreator.kt:44-108``).

Supported GraphQL surface:

- named/anonymous operations with variable definitions, NonNull/List type
  annotations, and default values: ``query Q($gap: Float = 1800.0)``
- selection sets, field aliases, arguments (variables ``$x`` and Int /
  Float / String / Boolean / Null / Enum / List / Object literals)
- fragment definitions + spreads (``...F`` / ``fragment F on T { ... }``)
  and inline fragments (``... on T { ... }``). Type conditions are
  recorded but not row-filtered: the engine's wide-schema subtype
  convention applies — fields absent for a row's concrete subtype are
  NULL (P4, same as ``shows_reshaped``).
- directives; ``@unnest`` on a collection field maps to the document
  compiler's ``unnest: true`` (result-path fan-out,
  ``schema/path/result/ListSegment.kt:9-29``); the spec-mandated
  ``@skip(if:)`` / ``@include(if:)`` are EVALUATED at lowering time
  (boolean literal or ``$variable``, with declared defaults applied) on
  fields, fragment spreads, and inline fragments — both present means
  include iff ``include && !skip``, per the GraphQL June-2018 spec
  §5.7.3; other directives are recorded and ignored

Lowering conventions (the schema-to-model mapping the reference gets from
its SDL metamodel, ``netflix_movies_and_tv_shows.graphqls``):

- The three top-level domain wrappers mirror the reference metamodel's
  three source kinds (``dataElement`` / ``transformer`` / ``features`` —
  StreamFunctions.kt:64-92). One nesting level below each wrapper is a
  *grouping* field (e.g. ``show(...)``, ``jq``, ``showFeatures``) whose
  selections are the real payload.
- Arguments on a data-element grouping field (``show(showId: $id)``) are
  **entity lookups**: each becomes an equality filter on the
  convention-matched spine column — the batch generalization of GraphQL's
  single-entity fetch.
- A leaf field with no alias/args under ``dataElement`` → passthrough
  column (P1/S1); with alias or args → feature/column selection with
  J1-convention name resolution.
- A field WITH a selection set under the data element → a collection
  (``cast { name }`` → ordered ``array<struct>``), ``@unnest`` to explode.
- Fields under ``transformer`` call a registered transformer with literal
  or variable arguments (ad-hoc invocation — the reference's
  ``negative_to_null(input: -1)``); the result is a scalar output column.
- Fields under ``features`` select declared features; arguments
  parameterize them (variants), aliases rename outputs.

Known mapping caveat: a quoted STRING literal beginning with ``$`` (e.g.
``tag(prefix: "$x")``) is passed through as the engine's ``$name``
variable-reference convention and will resolve as a variable downstream —
the dict-document API has the same convention, so the two front doors stay
consistent, at the cost of that one corner of GraphQL literal semantics.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame

from funcify_feature_eng_spark.plans.model import FeatureModel, PlanError

# ---------------------------------------------------------------- lexer

_GQL_TOKEN = re.compile(
    r"""
    (?P<ws>[\s,]+ | \#[^\n]*)
  | (?P<spread>\.\.\.)
  | (?P<name>[_A-Za-z][_A-Za-z0-9]*)
  | (?P<float>-?\d+\.\d+(?:[eE][+-]?\d+)? | -?\d+[eE][+-]?\d+)
  | (?P<int>-?\d+)
  | (?P<str>"(?:[^"\\\n]|\\.)*")
  | (?P<punct>[{}()\[\]:=!$@|])
    """,
    re.VERBOSE,
)


def _lex(src: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(src):
        m = _GQL_TOKEN.match(src, pos)
        if not m:
            raise PlanError(f"GraphQL: cannot tokenize at {src[pos:pos+25]!r}")
        pos = m.end()
        if m.lastgroup == "ws":
            continue
        toks.append((m.lastgroup, m.group()))
    toks.append(("eof", ""))
    return toks


# ---------------------------------------------------------------- AST


@dataclass
class Field:
    name: str
    alias: str | None = None
    args: dict[str, Any] = dc_field(default_factory=dict)
    # (name, args) per directive, in document order; args values may be
    # _Var markers resolved at lowering time (@skip/@include)
    directives: list[tuple[str, dict[str, Any]]] = dc_field(default_factory=list)
    selections: list["Field"] | None = None  # None = leaf

    @property
    def out_name(self) -> str:
        return self.alias or self.name

    @property
    def directive_names(self) -> list[str]:
        return [d[0] for d in self.directives]


@dataclass
class Operation:
    name: str | None
    variable_defs: dict[str, dict]  # var -> {"type": str, "required": bool, "default": ...}
    selections: list[Field]


class _Var:
    """Marker for a ``$name`` argument value."""

    __slots__ = ("name",)

    def __init__(self, name: str):
        self.name = name

    def __repr__(self):
        return f"${self.name}"


class _GqlParser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None):
        t = self.next()
        if t[0] != kind or (text is not None and t[1] != text):
            raise PlanError(f"GraphQL parse: expected {text or kind}, got {t}")
        return t

    def document(self) -> tuple[list[Operation], dict[str, tuple[str, list[Field]]]]:
        ops: list[Operation] = []
        frags: dict[str, tuple[str, list[Field]]] = {}
        while self.peek()[0] != "eof":
            k, v = self.peek()
            if k == "name" and v == "fragment":
                self.next()
                fname = self.expect("name")[1]
                self.expect("name", "on")
                tcond = self.expect("name")[1]
                frags[fname] = (tcond, self.selection_set())
            elif k == "name" and v in ("query", "mutation", "subscription"):
                if v != "query":
                    raise PlanError(f"GraphQL: only 'query' operations supported, got {v!r}")
                self.next()
                oname = None
                if self.peek()[0] == "name":
                    oname = self.next()[1]
                vdefs = {}
                if self.peek() == ("punct", "("):
                    vdefs = self.variable_defs()
                self._skip_directives()
                ops.append(Operation(oname, vdefs, self.selection_set()))
            elif (k, v) == ("punct", "{"):  # anonymous shorthand
                ops.append(Operation(None, {}, self.selection_set()))
            else:
                raise PlanError(f"GraphQL parse: unexpected token {k, v}")
        if not ops:
            raise PlanError("GraphQL document contains no operation")
        return ops, frags

    def variable_defs(self) -> dict[str, dict]:
        self.expect("punct", "(")
        out: dict[str, dict] = {}
        while self.peek() != ("punct", ")"):
            self.expect("punct", "$")
            name = self.expect("name")[1]
            self.expect("punct", ":")
            typ, required = self.type_ref()
            entry: dict[str, Any] = {"type": typ, "required": required}
            if self.peek() == ("punct", "="):
                self.next()
                entry["default"] = self.value()
                entry["required"] = False
            out[name] = entry
        self.next()  # ')'
        return out

    def type_ref(self) -> tuple[str, bool]:
        if self.peek() == ("punct", "["):
            self.next()
            inner, _ = self.type_ref()
            self.expect("punct", "]")
            typ = f"[{inner}]"
        else:
            typ = self.expect("name")[1]
        required = False
        if self.peek() == ("punct", "!"):
            self.next()
            required = True
        return typ, required

    def selection_set(self) -> list[Field]:
        self.expect("punct", "{")
        out: list[Field] = []
        while self.peek() != ("punct", "}"):
            k, v = self.peek()
            if k == "spread":
                self.next()
                if self.peek() == ("name", "on"):  # inline fragment
                    self.next()
                    tcond = self.expect("name")[1]
                    dirs = self._skip_directives()
                    inner = self.selection_set()
                    out.append(Field(name=f"...on {tcond}", directives=dirs,
                                     selections=inner))
                else:
                    fname = self.expect("name")[1]
                    dirs = self._skip_directives()
                    out.append(Field(name=f"...{fname}", directives=dirs))
            elif k == "name":
                out.append(self.field())
            else:
                raise PlanError(f"GraphQL parse: unexpected token in selection set {k, v}")
        self.next()  # '}'
        if not out:
            raise PlanError("GraphQL: empty selection set")
        return out

    def field(self) -> Field:
        name = self.expect("name")[1]
        alias = None
        if self.peek() == ("punct", ":"):
            self.next()
            alias, name = name, self.expect("name")[1]
        args: dict[str, Any] = {}
        if self.peek() == ("punct", "("):
            self.next()
            while self.peek() != ("punct", ")"):
                an = self.expect("name")[1]
                self.expect("punct", ":")
                args[an] = self.value()
            self.next()
        directives = self._skip_directives()
        selections = None
        if self.peek() == ("punct", "{"):
            selections = self.selection_set()
        return Field(name=name, alias=alias, args=args,
                     directives=directives, selections=selections)

    def _skip_directives(self) -> list[tuple[str, dict[str, Any]]]:
        out: list[tuple[str, dict[str, Any]]] = []
        while self.peek() == ("punct", "@"):
            self.next()
            dname = self.expect("name")[1]
            dargs: dict[str, Any] = {}
            if self.peek() == ("punct", "("):
                self.next()
                while self.peek() != ("punct", ")"):
                    an = self.expect("name")[1]
                    self.expect("punct", ":")
                    dargs[an] = self.value()
                self.next()
            out.append((dname, dargs))
        return out

    def value(self) -> Any:
        k, v = self.next()
        if (k, v) == ("punct", "$"):
            return _Var(self.expect("name")[1])
        if k == "int":
            return int(v)
        if k == "float":
            return float(v)
        if k == "str":
            body = v[1:-1]
            return (body.replace(r"\\", "\x00").replace(r"\"", '"')
                    .replace(r"\n", "\n").replace(r"\t", "\t")
                    .replace(r"\r", "\r").replace("\x00", "\\"))
        if k == "name":
            if v == "true":
                return True
            if v == "false":
                return False
            if v == "null":
                return None
            return v  # enum value → string
        if (k, v) == ("punct", "["):
            items = []
            while self.peek() != ("punct", "]"):
                items.append(self.value())
            self.next()
            return items
        if (k, v) == ("punct", "{"):
            obj = {}
            while self.peek() != ("punct", "}"):
                on = self.expect("name")[1]
                self.expect("punct", ":")
                obj[on] = self.value()
            self.next()
            return obj
        raise PlanError(f"GraphQL parse: bad value token {k, v}")


def parse_graphql(src: str) -> tuple[list[Operation], dict[str, tuple[str, list[Field]]]]:
    """Parse GraphQL source → (operations, fragments)."""
    return _GqlParser(_lex(src)).document()


# ------------------------------------------------------------- lowering

_WRAPPERS = ("dataElement", "data_element", "transformer", "features")


def _expand_fragments(
    sels: list[Field], frags: dict[str, tuple[str, list[Field]]], depth: int = 0,
    cond_vars: dict[str, Any] | None = None,
) -> list[Field]:
    """Expand fragment spreads; when ``cond_vars`` is given, ALSO evaluate
    @skip/@include during the walk. Interleaving the two matters:

    - a fragment's directives must be evaluated only when the fragment is
      actually REACHED from the selected operation — pruning every parsed
      fragment up front raised on variables declared by OTHER operations
      in a multi-operation document (spec: variable usage is per-op);
    - a grouping field can only be declared empty AFTER its spreads
      expand — pruning before expansion let a fragment whose whole body
      was @skip'd leave an empty selection set behind the emptiness
      guard, silently materializing nothing.

    Spread-site directives (``...F @include(if: $x)``) are evaluated on
    the spread itself before its body expands."""
    if depth > 16:
        raise PlanError("GraphQL: fragment expansion too deep (cycle?)")
    out: list[Field] = []
    for f in sels:
        if cond_vars is not None and not _directive_included(f, cond_vars):
            continue
        if f.name.startswith("...on "):
            out.extend(
                _expand_fragments(f.selections or [], frags, depth + 1, cond_vars)
            )
        elif f.name.startswith("..."):
            fname = f.name[3:]
            if fname not in frags:
                raise PlanError(
                    f"GraphQL: undefined fragment {fname!r} (defined: {sorted(frags)})"
                )
            out.extend(
                _expand_fragments(frags[fname][1], frags, depth + 1, cond_vars)
            )
        else:
            if f.selections is not None:
                inner = _expand_fragments(f.selections, frags, depth + 1, cond_vars)
                if cond_vars is not None and not inner:
                    continue
                f = Field(f.name, f.alias, f.args, f.directives, inner)
            out.append(f)
    return out


def _directive_included(f: Field, variables: dict[str, Any]) -> bool:
    """Evaluate @skip/@include on a field / spread / inline fragment.

    Spec §5.7.3: when both are present the selection is included iff
    ``include.if && !skip.if``. ``if:`` takes a boolean literal or a
    ``$variable`` (declared defaults already merged by the caller).
    Unknown directives are ignored (recorded only)."""
    included = True
    for dname, dargs in f.directives:
        if dname not in ("skip", "include"):
            continue
        if set(dargs) != {"if"}:
            raise PlanError(
                f"GraphQL: @{dname} takes exactly the 'if' argument "
                f"(got {sorted(dargs) or 'none'})"
            )
        v = dargs["if"]
        if isinstance(v, _Var):
            if v.name not in variables:
                raise PlanError(
                    f"GraphQL: @{dname}(if: ${v.name}) — variable "
                    f"${v.name} has no value (pass it in `variables` or "
                    "declare a default)"
                )
            v = variables[v.name]
        if not isinstance(v, bool):
            raise PlanError(
                f"GraphQL: @{dname}(if:) must be Boolean, got {v!r}"
            )
        if dname == "skip" and v:
            included = False
        if dname == "include" and not v:
            included = False
    return included


def _resolve_value(v: Any, variables: dict[str, Any]) -> Any:
    if isinstance(v, _Var):
        # leave as "$name" string: document._resolve_args owns variable
        # binding (and its undefined-variable error)
        return f"${v.name}"
    if isinstance(v, list):
        return [_resolve_value(x, variables) for x in v]
    if isinstance(v, dict):
        return {k: _resolve_value(x, variables) for k, x in v.items()}
    return v


@dataclass
class LoweredRequest:
    doc: dict[str, Any]  # plans.document dict shape
    filters: dict[str, Any]  # spine column (as written) -> literal/variable value
    transformer_calls: list[tuple[str, str, dict[str, Any]]]  # (out, name, args)
    operation: Operation
    # out_name -> original document path ("dataElement.show.title") for
    # precise validation errors; collection fields key as "coll.field",
    # filters as "<grouping path>(arg)"
    paths: dict[str, str] = None  # type: ignore[assignment]


def lower_graphql(
    src: str,
    operation_name: str | None = None,
    variables: dict[str, Any] | None = None,
) -> LoweredRequest:
    """Parse + lower a GraphQL document to the dict-document shape.

    ``variables`` feeds @skip/@include evaluation only (merged over the
    operation's declared defaults); full variable coercion/binding stays
    with the document compiler. Omitting it is fine for documents whose
    conditional directives use literals or defaulted variables."""
    ops, frags = parse_graphql(src)
    if operation_name is not None:
        matches = [o for o in ops if o.name == operation_name]
        if not matches:
            raise PlanError(
                f"GraphQL: no operation named {operation_name!r} "
                f"(defined: {[o.name for o in ops]})"
            )
        op = matches[0]
    elif len(ops) == 1:
        op = ops[0]
    else:
        raise PlanError(
            "GraphQL: multiple operations require operation_name "
            f"(defined: {[o.name for o in ops]})"
        )

    # @skip/@include evaluation: provided variables merged over declared
    # defaults (required-but-missing stays the document compiler's error —
    # a variable is only needed HERE if a conditional directive reads it)
    cond_vars = dict(variables or {})
    for vname, vdef in op.variable_defs.items():
        if vname not in cond_vars and "default" in vdef:
            cond_vars[vname] = vdef["default"]
    # expansion + directive pruning interleave in ONE walk (see
    # _expand_fragments): fragments prune only when reached, and
    # emptiness is judged on the fully-expanded tree
    expanded_top = _expand_fragments(op.selections, frags, 0, cond_vars)
    if not expanded_top:
        raise PlanError(
            "GraphQL: every top-level selection was removed by "
            "@skip/@include — nothing to materialize"
        )
    op = Operation(op.name, op.variable_defs, expanded_top)

    features: dict[str, dict] = {}
    collections: dict[str, dict] = {}
    filters: dict[str, Any] = {}
    transformer_calls: list[tuple[str, str, dict[str, Any]]] = []
    paths: dict[str, str] = {}

    def add_leaf(f: Field, prefix: str) -> None:
        # every leaf goes through 'features' (spec {} = plain passthrough):
        # dict insertion order IS the GraphQL selection order, so outputs
        # come back in document order regardless of alias/args
        spec: dict[str, Any] = {}
        if f.alias is not None:
            spec["feature"] = f.name
        if f.args:
            spec["feature"] = f.name
            spec["args"] = {k: _resolve_value(v, {}) for k, v in f.args.items()}
        features[f.out_name] = spec
        paths[f.out_name] = f"{prefix}.{f.name}" if prefix else f.name

    def add_collection(f: Field, prefix: str) -> None:
        if f.args:
            raise PlanError(
                f"GraphQL: collection field {f.name!r} takes no arguments "
                "(filters belong on the entity grouping field)"
            )
        cpath = f"{prefix}.{f.name}" if prefix else f.name
        fields: dict[str, dict] = {}
        for leaf in f.selections or []:
            if leaf.selections is not None:
                raise PlanError(
                    f"GraphQL: nested collection {leaf.name!r} inside "
                    f"{f.name!r} is not supported (one list level per request)"
                )
            fields[leaf.out_name] = {
                "feature": leaf.name,
                "args": {k: _resolve_value(v, {}) for k, v in leaf.args.items()},
            }
            paths[f"{f.out_name}.{leaf.out_name}"] = f"{cpath}.{leaf.name}"
        collections[f.out_name] = {
            "fields": fields,
            "unnest": "unnest" in f.directive_names,
        }
        paths[f.out_name] = cpath

    def walk_data_element(sels: list[Field], prefix: str) -> None:
        for f in sels:
            if f.selections is None:
                add_leaf(f, prefix)
                continue
            # grouping field (show/user/...): args are entity lookups,
            # children are the payload; a child WITH a selection set is a
            # collection (to-many relation)
            gpath = f"{prefix}.{f.name}" if prefix else f.name
            for k, v in f.args.items():
                filters[k] = _resolve_value(v, {})
                paths[f"__filter__.{k}"] = f"{gpath}({k}:)"
            for child in f.selections:
                if child.selections is None:
                    add_leaf(child, gpath)
                else:
                    add_collection(child, gpath)

    def walk_transformer(sels: list[Field], prefix: str) -> None:
        for f in sels:
            if f.selections is not None and not f.args:
                # source-name grouping (jq)
                walk_transformer(f.selections, f"{prefix}.{f.name}")
            else:
                transformer_calls.append(
                    (f.out_name,
                     f.name,
                     {k: _resolve_value(v, {}) for k, v in f.args.items()})
                )
                paths[f.out_name] = f"{prefix}.{f.name}"

    def walk_features(sels: list[Field], prefix: str) -> None:
        for f in sels:
            if f.selections is not None and not f.args:
                walk_features(f.selections, f"{prefix}.{f.name}")
            elif f.selections is not None:
                raise PlanError(
                    f"GraphQL: feature {f.name!r} cannot both take arguments "
                    "and group sub-selections"
                )
            else:
                features[f.out_name] = {
                    "feature": f.name,
                    "args": {k: _resolve_value(v, {}) for k, v in f.args.items()},
                }
                paths[f.out_name] = f"{prefix}.{f.name}"

    top = op.selections  # already expanded + directive-pruned above
    wrapper_seen = any(f.name in _WRAPPERS for f in top)
    for f in top:
        if f.name in ("dataElement", "data_element") and f.selections:
            walk_data_element(f.selections, f.name)
        elif f.name == "transformer" and f.selections:
            walk_transformer(f.selections, f.name)
        elif f.name == "features" and f.selections:
            walk_features(f.selections, f.name)
        elif not wrapper_seen:
            # no domain wrappers: the whole selection set IS the data element
            if f.selections is None:
                add_leaf(f, "")
            else:
                walk_data_element([f], "")
        else:
            raise PlanError(
                f"GraphQL: unexpected top-level field {f.name!r} beside "
                f"domain wrappers {_WRAPPERS}"
            )

    select: dict[str, Any] = {}
    if features:
        select["features"] = features
    if collections:
        select["collections"] = collections
    return LoweredRequest(
        doc={"select": select}, filters=filters,
        transformer_calls=transformer_calls, operation=op, paths=paths,
    )


# ------------------------------------------------------------ validation


def validate_request(
    model: FeatureModel,
    lowered: LoweredRequest,
    spine_cols: Sequence[str],
    variables: Sequence[str] = (),
) -> None:
    """Schema-aware document validation — the ParseAndValidate analog
    (reference: documents are validated against the composed SDL schema
    before planning,
    ``DefaultMaterializationPreparsedDocumentProvider.kt:250-327``).

    Every lowered selection must resolve against the DECLARED schema
    (spine columns, features, aliases, registered sources, transformer
    registry, declared variables) BEFORE J1 name resolution runs, so an
    unknown field, transformer, or argument fails with ONE precise
    PlanError naming the original document path — not a mid-compile
    resolution error naming only the output column."""
    paths = lowered.paths or {}

    def _p(key: str, fallback: str) -> str:
        return paths.get(key, fallback)

    reg = model.registry
    tx_outs = set()
    for out, tname, targs in lowered.transformer_calls:
        tx_outs.add(out)
        where = _p(out, f"transformer.{tname}")
        if tname not in reg:
            raise PlanError(
                f"GraphQL validation: unknown transformer at '{where}': "
                f"{tname!r} is not registered (known: {reg.names()})"
            )
        t = reg.get(tname)
        unknown = sorted(k for k in targs if k not in t.args)
        if unknown:
            raise PlanError(
                f"GraphQL validation: unknown argument(s) {unknown} at "
                f"'{where}' — transformer {t.name!r} declares "
                f"{list(t.args)}"
            )
        missing = sorted(
            a for a in t.args if a not in t.defaults and a not in targs
        )
        if missing:
            raise PlanError(
                f"GraphQL validation: missing required argument(s) "
                f"{missing} at '{where}' — transformer {t.name!r} declares "
                f"{list(t.args)} with defaults {sorted(t.defaults)}"
            )
        for k, v in targs.items():
            if isinstance(v, str) and v.startswith("$") and v[1:] not in variables:
                raise PlanError(
                    f"GraphQL validation: argument {k!r} at '{where}' "
                    f"references undeclared variable ${v[1:]} "
                    f"(declared: {sorted(variables)})"
                )

    def _check_field(out: str, spec: dict, path_key: str) -> None:
        name = spec.get("feature", out)
        where = _p(path_key, name)
        try:
            model.resolve_name(name, spine_cols, variables)
        except PlanError as e:
            raise PlanError(
                f"GraphQL validation: cannot resolve field '{where}': {e}"
            ) from None
        for k, v in (spec.get("args") or {}).items():
            if isinstance(v, str) and v.startswith("$") and v[1:] not in variables:
                raise PlanError(
                    f"GraphQL validation: argument {k!r} at '{where}' "
                    f"references undeclared variable ${v[1:]} "
                    f"(declared: {sorted(variables)})"
                )

    select = lowered.doc.get("select", {})
    for out, spec in select.get("features", {}).items():
        if out in tx_outs:
            continue
        _check_field(out, spec, out)
    for cname, cspec in select.get("collections", {}).items():
        for fout, fspec in cspec.get("fields", {}).items():
            _check_field(fout, fspec, f"{cname}.{fout}")
    for col_name in lowered.filters:
        where = _p(f"__filter__.{col_name}", col_name)
        try:
            kind, _ = model.resolve_name(col_name, spine_cols, variables)
        except PlanError as e:
            raise PlanError(
                f"GraphQL validation: entity-lookup argument at '{where}' "
                f"does not resolve: {e}"
            ) from None
        if kind not in ("column",):
            raise PlanError(
                f"GraphQL validation: entity-lookup argument at '{where}' "
                f"resolved to a {kind}, expected a spine column"
            )
        if col_name in tx_outs and col_name not in spine_cols:
            # the ad-hoc transformer output becomes a request-scoped feature
            # that would outrank the convention-matched spine column
            raise PlanError(
                f"GraphQL validation: entity-lookup argument at '{where}' "
                "collides with a transformer output of the same name — "
                "rename the transformer output alias"
            )


# ------------------------------------------------------------ execution


def materialize_graphql(
    model: FeatureModel,
    spine: DataFrame,
    src: str,
    variables: dict[str, Any] | None = None,
    operation_name: str | None = None,
) -> DataFrame:
    """Execute a GraphQL request document against a FeatureModel + spine.

    The full reference request path (``DefaultRawGraphQLRequest.kt``:
    raw text + variables + operationName), Spark-first: parse → lower to
    the dict document → one shared compile/materialize path. Variable
    coercion follows the reference's GraphQL semantics: missing non-null
    variables error; declared defaults apply (P5/P7,
    ``MaterializationEdge.kt:7-14``)."""
    from pyspark.sql import functions as F

    from funcify_feature_eng_spark.plans.document import _materialize

    lowered = lower_graphql(src, operation_name, variables)
    op = lowered.operation

    merged_vars = dict(variables or {})
    for vname, vdef in op.variable_defs.items():
        if vname in merged_vars:
            continue
        if "default" in vdef:
            merged_vars[vname] = vdef["default"]
        elif vdef["required"]:
            raise PlanError(
                f"GraphQL: required variable ${vname}: {vdef['type']}! not provided"
            )
    unknown = set(merged_vars) - set(op.variable_defs)
    if op.variable_defs and unknown:
        raise PlanError(
            f"GraphQL: variables {sorted(unknown)} are not declared by the "
            f"operation (declared: {sorted(op.variable_defs)})"
        )

    # ParseAndValidate analog: every selection checked against the declared
    # schema before any J1 resolution — precise errors name document paths
    validate_request(model, lowered, spine.columns, tuple(merged_vars))

    doc = {"select": dict(lowered.doc["select"])}
    if merged_vars:
        doc["variables"] = merged_vars
    feats = dict(doc["select"].get("features", {}))
    transformers: list[tuple[str, str, tuple[str, ...]]] = []
    for i, (out_name, tname, targs) in enumerate(lowered.transformer_calls):
        arg_cols: list[str] = []
        for k, v in targs.items():
            if isinstance(v, str) and v.startswith("$"):
                arg_cols.append(v[1:])  # variable-bound arg (tier 6)
            else:
                lit_name = f"__gql_lit_{i}_{k}"
                merged_vars[lit_name] = v
                doc["variables"] = merged_vars
                arg_cols.append(lit_name)
        transformers.append((out_name, tname, tuple(arg_cols)))
        feats[out_name] = {}
    if feats:
        doc["select"]["features"] = feats

    filtered = spine
    for col_name, v in lowered.filters.items():
        # validate_request guaranteed a spine column
        _kind, resolved = model.resolve_name(col_name, spine.columns, tuple(merged_vars))
        value = v
        if isinstance(v, str) and v.startswith("$"):
            vname = v[1:]
            if vname not in merged_vars:
                raise PlanError(
                    f"GraphQL: filter references undefined variable ${vname}"
                )
            value = merged_vars[vname]
        filtered = filtered.filter(F.col(resolved) == F.lit(value))

    # ad-hoc transformer invocations become transformer features of the
    # request scope, wired to synthesized literal variables (tier 6)
    return _materialize(model, filtered, doc, tuple(transformers))
