"""Point-in-time (as-of) join — the engine's core operator.

Reference semantics: ``FeatureJsonValueStore.retrieveFromStore(PlannedValue)``
returns the Tracked value whose ``valueAtTimestamp`` is the latest at-or-before
the request time (reference ``schema/feature/FeatureJsonValueStore.kt:11-18``,
``schema/tracking/TrackableValue.kt:147-155``; identity construction at
``materializer/dispatch/DefaultSingleRequestMaterializationDispatchService.kt:960-1127``).
Per BASELINE.json the Spark realization must be a sort-merge as-of join at
(entity, ts) with zero temporal leakage.

Physical strategies, all pure DataFrame API (no Catalyst extensions —
SURVEY.md §4) — plus ``salted`` (literal hot-key salting, below) and
``auto`` (size/skew-driven selection via :func:`choose_asof_strategy`):

* ``union_window`` (default): tag left/right, union, one window pass per
  entity with ``last(ignorenulls)`` forward-fill of the right-row payload,
  keep left rows. ONE shuffle (the window exchange), no join at all; the
  sort within partitions is exactly the "sort-merge" of a classic as-of.
* ``merge_asof``: co-grouped ``applyInPandas`` running ``pd.merge_asof``
  per entity group — the Arrow path, used to cross-validate and for payloads
  whose types the window trick can't carry.
* ``segmented``: skew-resistant two-pass variant for hot entities. Rows are
  time-bucketed; pass 1 computes per-(entity, bucket) last right payloads and
  forward-fills them across buckets (tiny, bucket-level window); pass 2 does
  the within-bucket as-of partitioned by (entity, bucket), so no single
  partition ever holds a whole hot entity. ``coalesce(within_bucket, carry_in)``
  is exact because every right row in an earlier time bucket is strictly
  earlier than any left row in a later bucket.
* ``broadcast``: for SMALL right sides (a feature store / dimension state
  that fits in executor memory). The right side is aggregated to one
  time-sorted struct array per entity, broadcast, and each left row scans
  its entity's array with vectorized higher-order functions. ZERO shuffle
  of the left side — the correct plan when the left is 100 TB and the
  right is megabytes; the other strategies shuffle the full left payload.

Leakage contract: with ``allow_exact_matches=False`` a right row at exactly
the left timestamp is NOT visible (strict prior); ties among right rows at
the same (entity, ts) are broken by ``right_order`` columns — pass them to
make results deterministic when the right side can carry duplicates.

Column reuse: every strategy goes through the same few Column-building
helpers (the right side's NULL-time filter, :func:`_tagged_union`'s tag
projections, :func:`_ffill_and_project`'s window pick, side filter and
payload extraction). Building a Column costs Python→JVM round trips, so
each helper takes its Columns from a bounded module memo keyed by its own
arguments plus the live JVM gateway; a Column is an unresolved expression,
so one built for one call resolves against every later call's frames. The
DataFrame operations themselves still run per call.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from funcify_feature_eng_spark.operators.util import MEMO_SIZE, live_gateway

_T = "__asof_t"
_SIDE = "__asof_side"
_RV = "__asof_rv"
_RVF = "__asof_rvf"
_B = "__asof_bucket"

_log = logging.getLogger("funcify_feature_eng_spark.asof")

@lru_cache(maxsize=MEMO_SIZE)
def _known_time(gateway, ts: str) -> Column:
    """The right side's filter: a row with no time can match nothing."""
    return F.col(ts).isNotNull()


def _validate(left: DataFrame, on: Sequence[str], out_names: Sequence[str]) -> None:
    clash = set(out_names) & set(left.columns)
    if clash:
        raise ValueError(
            f"as-of output columns {sorted(clash)} collide with left columns; "
            "pass value_cols={right_col: out_name} to rename"
        )
    missing = set(on) - set(left.columns)
    if missing:
        raise ValueError(f"join keys {sorted(missing)} missing from left side")


def _normalize_values(value_cols: Sequence[str] | dict[str, str]) -> dict[str, str]:
    if isinstance(value_cols, dict):
        return dict(value_cols)
    return {c: c for c in value_cols}


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str] | dict[str, str],
    allow_exact_matches: bool = True,
    right_order: Sequence[str] = (),
    strategy: str = "union_window",
    bucket_seconds: int = 86400,
    direction: str = "backward",
    num_salts: int = 16,
    auto_config: dict | None = None,
    tolerance_s: float | None = None,
) -> DataFrame:
    """For each left row, attach the latest right payload with
    ``right_ts <= left_ts`` (or ``<`` when ``allow_exact_matches=False``),
    per ``on`` entity. Left rows with no prior right row get NULLs.

    ``direction="forward"`` flips the search: the EARLIEST right payload with
    ``right_ts >= left_ts`` (or ``>``) — the backfill/next-state lookup.
    All strategies support both directions (tie-break among equal
    right_ts: backward picks the max (right_ts, right_order), forward the
    min — the mirror-image semantics).

    ``strategy="auto"`` picks the physical strategy from a right-side plan
    size estimate and (sampled) left key-skew statistics — see
    :func:`choose_asof_strategy`; ``auto_config`` forwards its keyword
    thresholds. At 100 TB nobody should hand-pick a join strategy per
    query; pass an explicit strategy only to pin a known-good plan.

    ``strategy="salted"`` is the literal hot-key salting answer (the
    north-rule's "salting for hot conversations"): each left row gets a
    deterministic salt, the right side is replicated across ``num_salts``
    salts, and the as-of runs partitioned on (entity, salt) — a hot entity
    spreads over ``num_salts`` partitions at the cost of an
    ``num_salts``-times right-side shuffle. Prefer ``segmented`` when the
    right side is large (it replicates nothing); benched head-to-head in
    BENCH.md.

    ``tolerance_s`` is the pandas ``merge_asof(tolerance=...)`` staleness
    bound: a match more than this many seconds away from the left timestamp
    nulls its payload (the nearest match IS the only candidate — nothing
    closer exists, so nulling equals not matching). Composes with every
    strategy and direction as a shuffle-free post pass.
    """
    vals = _normalize_values(value_cols)
    _validate(left, on, list(vals.values()))
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    # a right row with NULL right_ts has UNKNOWN time and can match
    # nothing (sliding_window_join's posture) — without this filter the
    # union-window strategies sorted it BEFORE every real row (nulls
    # first) and forward-filled its payload as "known before all time", a
    # temporal leak; broadcast dropped it and pandas merge_asof raised,
    # so strategy="auto" silently changed results by plan choice
    right = right.filter(_known_time(live_gateway(), right_ts))
    if direction == "nearest":
        # pandas merge_asof direction='nearest': the closer of the backward
        # and forward matches, ties to the PRIOR one (pandas' convention).
        # Composed from the two directional passes — each inherits the
        # chosen strategy/tolerance untouched — then a pure Column
        # combine: zero extra shuffles beyond the two passes themselves.
        bs, fs = {}, {}
        b_ts, f_ts = "__asof_b_ts", "__asof_f_ts"
        for rc, out_name in vals.items():
            bs[rc] = f"__asof_b_{out_name}"
            fs[rc] = f"__asof_f_{out_name}"
        bvals = {**bs, right_ts: b_ts} if right_ts not in bs else dict(bs)
        fvals = {**fs, right_ts: f_ts} if right_ts not in fs else dict(fs)
        if right_ts in bs:  # right_ts itself is a requested payload column
            b_ts, f_ts = bs[right_ts], fs[right_ts]
        common = dict(
            on=on, left_ts=left_ts, right_ts=right_ts,
            allow_exact_matches=allow_exact_matches, right_order=right_order,
            strategy=strategy, bucket_seconds=bucket_seconds,
            num_salts=num_salts, auto_config=auto_config,
            tolerance_s=tolerance_s,
        )
        out = asof_join(left, right, value_cols=bvals,
                        direction="backward", **common)
        out = asof_join(out, right, value_cols=fvals,
                        direction="forward", **common)
        lus = F.unix_micros(F.col(left_ts).cast("timestamp"))
        bgap = lus - F.unix_micros(F.col(b_ts).cast("timestamp"))
        fgap = F.unix_micros(F.col(f_ts).cast("timestamp")) - lus
        pick_b = F.col(b_ts).isNotNull() & (
            F.col(f_ts).isNull() | (bgap <= fgap)
        )
        for rc, out_name in vals.items():
            out = out.withColumn(
                out_name,
                F.when(pick_b, F.col(bs[rc])).otherwise(F.col(fs[rc])),
            )
        drop = [c for c in {b_ts, f_ts, *bs.values(), *fs.values()}
                if c not in vals.values()]
        return out.drop(*drop)
    forward = direction == "forward"
    if tolerance_s is not None:
        # Staleness bound (pandas merge_asof `tolerance`): a match farther
        # than tolerance from the left timestamp is as good as no match —
        # its payload nulls out. Implemented as a strategy-agnostic post
        # pass: the matched right_ts is carried through as a value column
        # (injected if the caller didn't ask for it), then every payload
        # column is nulled where the gap exceeds the bound. Pure Column
        # expressions over the already-joined frame — zero extra shuffles
        # regardless of strategy.
        if tolerance_s < 0:
            raise ValueError(f"tolerance_s must be >= 0, got {tolerance_s}")
        vals2 = dict(vals)
        matched = vals2.get(right_ts)
        injected = matched is None
        if injected:
            matched = "__asof_matched_ts"
            vals2[right_ts] = matched
        out = asof_join(
            left, right, on=on, left_ts=left_ts, right_ts=right_ts,
            value_cols=vals2, allow_exact_matches=allow_exact_matches,
            right_order=right_order, strategy=strategy,
            bucket_seconds=bucket_seconds, direction=direction,
            num_salts=num_salts, auto_config=auto_config,
        )
        gap = F.unix_micros(F.col(left_ts).cast("timestamp")) - F.unix_micros(
            F.col(matched).cast("timestamp")
        )
        if forward:
            gap = -gap
        # flag FIRST, then null: if the caller's payload includes right_ts
        # itself, nulling it in-place before the other columns would flip
        # the (lazily re-resolved) staleness test for the rest of the loop
        out = out.withColumn(
            "__asof_stale",
            F.col(matched).isNotNull()
            & (gap > F.lit(int(round(tolerance_s * 1_000_000)))),
        )
        for o in vals.values():
            out = out.withColumn(
                o, F.when(F.col("__asof_stale"), F.lit(None)).otherwise(F.col(o))
            )
        out = out.drop("__asof_stale")
        return out.drop(matched) if injected else out
    if strategy == "union_window":
        return _asof_union_window(
            left, right, on, left_ts, right_ts, vals, allow_exact_matches, right_order,
            forward=forward,
        )
    if strategy == "merge_asof":
        return _asof_merge_pandas(
            left, right, on, left_ts, right_ts, vals, allow_exact_matches, right_order,
            direction=direction,
        )
    if strategy == "segmented":
        return _asof_segmented(
            left, right, on, left_ts, right_ts, vals, allow_exact_matches, right_order,
            bucket_seconds, forward=forward,
        )
    if strategy == "salted":
        return _asof_salted(
            left, right, on, left_ts, right_ts, vals, allow_exact_matches, right_order,
            num_salts, forward=forward,
        )
    if strategy == "auto":
        chosen = choose_asof_strategy(left, right, on, **(auto_config or {}))
        return asof_join(
            left, right, on=on, left_ts=left_ts, right_ts=right_ts,
            value_cols=vals, allow_exact_matches=allow_exact_matches,
            right_order=right_order, strategy=chosen,
            bucket_seconds=bucket_seconds, direction=direction,
            num_salts=num_salts,
        )
    if strategy == "broadcast":
        return _asof_broadcast(
            left, right, on, left_ts, right_ts, vals, allow_exact_matches, right_order,
            forward=forward,
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    vals: dict[str, str],
    right_order: Sequence[str],
) -> DataFrame:
    left_cols, right_cols = _union_cols(
        live_gateway(), tuple(on), left_ts, right_ts, tuple(vals.items()), tuple(right_order)
    )
    return left.select(*left_cols).unionByName(
        right.select(*right_cols), allowMissingColumns=True
    )


@lru_cache(maxsize=MEMO_SIZE)
def _union_cols(
    gateway,
    on: tuple[str, ...],
    left_ts: str,
    right_ts: str,
    vals: tuple[tuple[str, str], ...],
    right_order: tuple[str, ...],
) -> tuple[tuple[str | Column, ...], tuple[str | Column, ...]]:
    """:func:`_tagged_union`'s left and right tag projections. Plain names
    stay strings: ``select`` converts a name in fewer round trips than
    ``F.col`` builds one."""
    rv = F.struct(*[F.col(rc).alias(out) for rc, out in vals])
    tie = [F.col(c).alias(f"__tie_{i}") for i, c in enumerate(right_order)]
    right_cols = (
        *on,
        F.col(right_ts).alias(_T),
        F.lit(0).alias(_SIDE),
        rv.alias(_RV),
        *tie,
    )
    left_cols = ("*", F.col(left_ts).alias(_T), F.lit(1).alias(_SIDE))
    return left_cols, right_cols


def _ffill_and_project(
    u: DataFrame,
    left_cols: Sequence[str],
    on: Sequence[str],
    vals: dict[str, str],
    allow_exact_matches: bool,
    n_tie: int,
    extra_keys: Sequence[str] = (),
    forward: bool = False,
) -> DataFrame:
    filled, left_side, out = _ffill_cols(
        live_gateway(), tuple(left_cols), tuple(on), tuple(vals.values()),
        allow_exact_matches, n_tie, tuple(extra_keys), forward,
    )
    return u.withColumn(_RVF, filled).filter(left_side).select(*out)


@lru_cache(maxsize=MEMO_SIZE)
def _ffill_cols(
    gateway,
    left_cols: tuple[str, ...],
    on: tuple[str, ...],
    outs: tuple[str, ...],
    allow_exact_matches: bool,
    n_tie: int,
    extra_keys: tuple[str, ...],
    forward: bool,
) -> tuple[Column, Column, tuple[str | Column, ...]]:
    """:func:`_ffill_and_project`'s window pick, left-side filter and
    output projection."""
    # Exact-match ties (backward): right rows (side=0) sort BEFORE left rows
    # at the same ts when matches at equal ts are allowed, AFTER them when
    # strict — so the (preceding, 0] frame sees exactly the visible rows.
    # Forward mirrors both the side order and the frame: first_value over
    # [0, following) with right rows sorting AFTER left rows when exact
    # matches are allowed, BEFORE them when strict.
    tie_order = [F.col(f"__tie_{i}").asc_nulls_first() for i in range(n_tie)]
    if forward:
        side_order = F.col(_SIDE).desc() if allow_exact_matches else F.col(_SIDE).asc()
        frame = (0, Window.unboundedFollowing)
        pick = F.first
    else:
        side_order = F.col(_SIDE).asc() if allow_exact_matches else F.col(_SIDE).desc()
        frame = (Window.unboundedPreceding, 0)
        pick = F.last
    w = (
        Window.partitionBy(*on, *extra_keys)
        .orderBy(F.col(_T).asc(), side_order, *tie_order)
        .rowsBetween(*frame)
    )
    out_vals = [F.col(f"{_RVF}.{out}").alias(out) for out in outs]
    return (
        pick(_RV, ignorenulls=True).over(w),
        F.col(_SIDE) == 1,
        (*left_cols, *out_vals),
    )


def _asof_union_window(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    vals: dict[str, str],
    allow_exact_matches: bool,
    right_order: Sequence[str],
    forward: bool = False,
) -> DataFrame:
    u = _tagged_union(left, right, on, left_ts, right_ts, vals, right_order)
    return _ffill_and_project(
        u, left.columns, on, vals, allow_exact_matches, len(right_order),
        forward=forward,
    )


def _asof_merge_pandas(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    vals: dict[str, str],
    allow_exact_matches: bool,
    right_order: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """Arrow co-grouped ``pd.merge_asof`` per entity (SURVEY.md §4: option (b))."""
    import pandas as pd  # local import: executors need it, driver may not at plan time

    from pyspark.sql.types import StructType

    left_schema = left.schema
    # the right timestamp ALWAYS travels under a private alias: when left and
    # right derive from the same source DataFrame (self-as-of, e.g. events
    # vs their own purchase subset), the analyzer's self-join attribute
    # dedup silently drops a right column whose name+lineage collide with a
    # left column — observed as the right cogroup pdf arriving without `ts`
    right_sel = right.select(
        *on,
        F.col(right_ts).alias("__rts"),
        *[F.col(rc).alias(o) for rc, o in vals.items()],
        *[F.col(c).alias(f"__tie_{i}") for i, c in enumerate(right_order)],
    )
    out_fields = list(left_schema.fields) + [
        right_sel.schema[o] for o in vals.values()
    ]
    out_schema = StructType(out_fields)
    out_names = list(vals.values())
    lts, rts = left_ts, "__rts"
    order_cols = list(right_order)

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if l.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        orig_cols = list(l.columns)
        if r.empty:
            for o in out_names:
                l[o] = None
            return l
        l = l.sort_values(lts, kind="stable").reset_index(drop=True)
        r = (
            r.sort_values([rts, *[f"__tie_{i}" for i in range(len(order_cols))]]
                          if order_cols else rts, kind="stable")
            .reset_index(drop=True)
        )
        merged = pd.merge_asof(
            l,
            r[[rts, *out_names]],
            left_on=lts,
            right_on=rts,
            direction=direction,
            allow_exact_matches=allow_exact_matches,
            suffixes=("", "__r"),
        )
        return merged[orig_cols + out_names]

    # pre-partition both sides by the entity key at full parallelism: the
    # stage cost here is per-GROUP Python/Arrow overhead, not bytes, and
    # AQE's size-based coalescing would funnel hundreds of groups into a
    # couple of tasks. An explicit repartition pins the partitioning, and
    # the cogroup reuses it (no second exchange).
    p = left.sparkSession.sparkContext.defaultParallelism
    grouped = (
        left.repartition(p, *on)
        .groupBy(*on)
        .cogroup(right_sel.repartition(p, *on).groupBy(*on))
    )
    return grouped.applyInPandas(merge, schema=out_schema)


def _asof_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    vals: dict[str, str],
    allow_exact_matches: bool,
    right_order: Sequence[str],
    forward: bool = False,
) -> DataFrame:
    """Small-right as-of: broadcast per-entity sorted arrays, no left shuffle.

    The right side collapses to one row per entity holding a
    ``sort_array``-ordered array of (ts, tie..., payload) structs; the as-of
    lookup is ``element_at(filter(arr, e -> e.t <= ts), -1)`` — linear in the
    per-entity right count, fully inside whole-stage codegen.
    """
    entry = F.struct(
        F.col(right_ts).alias("__t"),
        *[F.col(c).alias(f"__tie_{i}") for i, c in enumerate(right_order)],
        F.struct(*[F.col(rc).alias(out) for rc, out in vals.items()]).alias("__p"),
    )
    agg = right.groupBy(*on).agg(F.sort_array(F.collect_list(entry)).alias("__arr"))
    joined = left.join(F.broadcast(agg), on=list(on), how="left")
    lt = F.col(left_ts)

    def visible(e: Column) -> Column:
        if forward:
            return e["__t"] >= lt if allow_exact_matches else e["__t"] > lt
        return e["__t"] <= lt if allow_exact_matches else e["__t"] < lt

    # try_element_at: empty filtered array (no visible row) → NULL.
    # backward: latest visible (last of the sorted array); forward: earliest.
    pick = F.lit(1) if forward else F.lit(-1)
    last_vis = F.try_element_at(F.filter(F.col("__arr"), visible), pick)
    out_vals = [last_vis["__p"][out].alias(out) for out in vals.values()]
    return joined.select(*left.columns, *out_vals)


def _asof_segmented(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    vals: dict[str, str],
    allow_exact_matches: bool,
    right_order: Sequence[str],
    bucket_seconds: int,
    forward: bool = False,
) -> DataFrame:
    """Skew-resistant two-pass as-of (see module docstring). ``forward``
    mirrors every step: per-bucket FIRST payloads, carry-in from strictly
    LATER buckets, forward within-bucket pass."""
    on = list(on)
    bucket = lambda c: F.floor(F.unix_timestamp(F.col(c)) / F.lit(bucket_seconds))  # noqa: E731

    rv = F.struct(*[F.col(rc).alias(out) for rc, out in vals.items()])
    # order key within a bucket: (ts, right_order...) lexicographic —
    # backward keeps the max (latest), forward the min (earliest)
    ordk = F.struct(
        F.col(right_ts), *[F.col(c) for c in right_order]
    )
    right_b = right.withColumn(_B, bucket(right_ts))
    bucket_pick = (F.min_by if forward else F.max_by)(rv, ordk).alias(_RV)
    bucket_edge = right_b.groupBy(*on, _B).agg(bucket_pick)

    # carry per left bucket: the edge payload from any STRICTLY earlier
    # (backward) / later (forward) bucket
    left_b = left.withColumn(_B, bucket(left_ts))
    bucket_spine = (
        left_b.select(*on, _B).distinct()
        .withColumn("__is_left", F.lit(1))
        .unionByName(bucket_edge.select(*on, _B).withColumn("__is_left", F.lit(0)),
                     allowMissingColumns=True)
        .select(*on, _B, "__is_left").distinct()
    )
    spine_vals = bucket_spine.join(bucket_edge, on=[*on, _B], how="left")
    # Same-bucket right payloads must stay OUT of the carry frame (they may
    # postdate/predate individual left rows — the within-bucket pass handles
    # them). Backward: left spine rows sort BEFORE right ones inside a bucket
    # and the frame is strictly-preceding; forward mirrors with right rows
    # sorting BEFORE left ones and a strictly-following frame.
    if forward:
        wcarry = (
            Window.partitionBy(*on)
            .orderBy(F.col(_B).asc(), F.col("__is_left").asc())
            .rowsBetween(1, Window.unboundedFollowing)
        )
        carry_pick = F.first
    else:
        wcarry = (
            Window.partitionBy(*on)
            .orderBy(F.col(_B).asc(), F.col("__is_left").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry_pick = F.last
    carry = (
        spine_vals.withColumn(
            "__prev_rv",
            carry_pick(
                F.when(F.col("__is_left") == 0, F.col(_RV)), ignorenulls=True
            ).over(wcarry),
        )
        .filter(F.col("__is_left") == 1)
        .select(*on, _B, F.col("__prev_rv"))
    )

    # within-bucket exact as-of, partitioned by (entity, bucket); _B is a
    # union key so right rows land in the same window partition as left rows
    wb_vals = {rc: f"__wb_{out}" for rc, out in vals.items()}
    u = _tagged_union(left_b, right_b, [*on, _B], left_ts, right_ts, wb_vals, right_order)
    within = _ffill_and_project(
        u,
        [*left.columns, _B],
        on,
        wb_vals,
        allow_exact_matches,
        len(right_order),
        extra_keys=[_B],
        forward=forward,
    )
    joined = within.join(carry, on=[*on, _B], how="left")
    out_cols = [
        F.coalesce(F.col(f"__wb_{out}"), F.col(f"__prev_rv.{out}")).alias(out)
        for out in vals.values()
    ]
    return joined.select(*left.columns, *out_cols)


_SALT = "__asof_salt"


def _asof_salted(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    vals: dict[str, str],
    allow_exact_matches: bool,
    right_order: Sequence[str],
    num_salts: int,
    forward: bool = False,
) -> DataFrame:
    """Literal skew salting: the classic hot-key treatment applied to the
    as-of. Left rows get ``salt = xxhash64(left_ts) % num_salts``
    (deterministic — no rand(), results and tests are stable); right rows
    are replicated to EVERY salt, so each (entity, salt) partition sees all
    of its entity's right rows and the within-partition union-window as-of
    is exact. A hot conversation's turns spread across ``num_salts``
    window partitions instead of one.

    Cost model vs ``segmented``: salting replicates the right side
    ``num_salts``× through the shuffle (fine for thin right payloads),
    while segmented shuffles each side once but runs two window passes.
    The head-to-head on the hot-conversation fixture is recorded in
    BENCH.md; ``segmented`` wins when the right side is heavy, ``salted``
    when it is thin and the left dominates.
    """
    left2 = left.withColumn(
        _SALT, F.pmod(F.xxhash64(F.col(left_ts)), F.lit(num_salts)).cast("int")
    )
    right2 = right.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    out = _asof_union_window(
        left2, right2, [*on, _SALT], left_ts, right_ts, vals,
        allow_exact_matches, right_order, forward=forward,
    )
    return out.drop(_SALT)


def choose_asof_strategy(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    broadcast_bytes: int | None = None,
    skew_sample_fraction: float = 0.001,
    skew_ratio: float = 8.0,
    hot_key_rows: int = 500_000,
    salt_max_right_bytes: int | None = None,
    seed: int = 7,
) -> str:
    """Pick broadcast / segmented / union_window for an as-of join.

    Decision procedure (in order):

    1. **broadcast** when the right side's Catalyst plan-size estimate is
       under ``broadcast_bytes`` (default: the session's
       ``spark.sql.autoBroadcastJoinThreshold``). Free — no job runs; the
       estimate comes from file statistics / plan stats, exactly the signal
       Spark's own join planning uses.
    2. When sampled left-key statistics show a hot entity (max sampled key
       count exceeds ``skew_ratio``× the mean AND the extrapolated hottest
       key exceeds ``hot_key_rows`` rows): **salted** if the right side is
       thin enough to replicate (plan estimate ≤ ``salt_max_right_bytes``,
       default 4× the broadcast threshold — the BENCH.md head-to-head
       winner for the transcript shape), else **segmented** (replicates
       nothing; pays two window passes). This step RUNS ONE SMALL JOB over
       ``skew_sample_fraction`` of the left side — the price of not
       knowing your key distribution; recurring pipelines should cache the
       decision or pin the strategy.
    3. **union_window** otherwise — the one-shuffle default.

    Logs one record per call on the ``funcify_feature_eng_spark.asof``
    logger; its ``decision`` attribute holds the right-side estimate, the
    broadcast threshold, the sampled key max/mean (None when no sample ran)
    and the chosen strategy.
    """
    if broadcast_bytes is None:
        # the session's threshold as Spark itself parsed it ("100MB",
        # "10m", ...); -1 disables broadcast joins
        broadcast_bytes = int(
            left.sparkSession._jsparkSession.sessionState().conf()
            .autoBroadcastJoinThreshold()
        )
    try:
        raw_est = right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        est = raw_est if isinstance(raw_est, int) else int(str(raw_est))
    except Exception:
        est = 1 << 62  # unknown → assume big
    decision = {
        "name": "asof_strategy",
        "estimate_bytes": est,
        "threshold_bytes": broadcast_bytes,
        "sampled_max": None,
        "sampled_mean": None,
    }
    if 0 < broadcast_bytes and est <= broadcast_bytes:
        return _decided(decision, "broadcast")

    sample = left.select(*on)
    if skew_sample_fraction < 1.0:
        sample = sample.sample(False, skew_sample_fraction, seed=seed)
    stats = (
        sample.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.avg("c").alias("mean"))
        .collect()[0]
    )
    decision["sampled_max"], decision["sampled_mean"] = stats["mx"], stats["mean"]
    if stats["mx"] is None:
        return _decided(decision, "union_window")
    extrapolated_hot = stats["mx"] / max(skew_sample_fraction, 1e-12)
    if stats["mx"] >= skew_ratio * stats["mean"] and extrapolated_hot >= hot_key_rows:
        if salt_max_right_bytes is None:
            salt_max_right_bytes = 4 * broadcast_bytes
        return _decided(
            decision, "salted" if est <= salt_max_right_bytes else "segmented"
        )
    return _decided(decision, "union_window")


def _decided(decision: dict, strategy: str) -> str:
    """Log :func:`choose_asof_strategy`'s decision record; returns the pick."""
    decision["strategy"] = strategy
    _log.info(
        "as-of strategy %(strategy)s: right estimate %(estimate_bytes)d B, "
        "broadcast threshold %(threshold_bytes)d B, sampled key max "
        "%(sampled_max)s, mean %(sampled_mean)s",
        decision,
        extra={"decision": decision},
    )
    return strategy


def asof_topk(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str] | dict[str, str],
    k: int,
    rank_col: str = "asof_rank",
    allow_exact_matches: bool = True,
    right_order: Sequence[str] = (),
) -> DataFrame:
    """k-deep as-of join: for each left row, the ``k`` MOST RECENT right
    rows with ``right_ts <= left_ts`` (``<`` when
    ``allow_exact_matches=False``), per ``on`` entity — the "last k prior
    purchases / tool calls / turns" feature family that a single-row as-of
    (:func:`asof_join`, reference semantics at
    ``schema/feature/FeatureJsonValueStore.kt:11-18``) can't express.

    Output grain: one row per (left row, visible prior) with ``rank_col``
    = 1 for the newest visible prior, 2 for the next, ... up to ``k``;
    left rows with ZERO visible priors survive once with NULL rank and
    payload (left-join semantics, same contract as ``asof_join``). Ties
    among right rows at equal ``right_ts`` break by ``right_order``.

    Plan (exact, bounded state — never a per-row collect of the whole
    history): (1) index right rows per entity with ``row_number`` ordered
    by (ts, right_order); (2) the union-window forward-fill of
    :func:`asof_join` carries the LATEST visible index ``r*`` onto each
    left row — one window pass, identical leakage contract; (3) each left
    row explodes the index range ``[max(r*-k+1, 1) .. r*]`` (≤ k
    candidates) and equi-joins back to the indexed right side on
    (entity, index). Two entity-grain shuffles + one equi-join; the
    explode factor is k, not history length, so a hot entity with a
    million priors costs the same per left row as a cold one.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    vals = _normalize_values(value_cols)
    _validate(left, on, [*vals.values(), rank_col])
    # NULL right_ts rows match nothing (same contract as asof_join)
    right = right.filter(_known_time(live_gateway(), right_ts))
    ridx = "__asof_topk_ridx"
    cand = "__asof_topk_cand"
    pos = "__asof_topk_pos"
    w_idx = Window.partitionBy(*on).orderBy(
        F.col(right_ts).asc(), *[F.col(c).asc_nulls_first() for c in right_order]
    )
    indexed = right.withColumn(ridx, F.row_number().over(w_idx))
    # Step 2: latest visible index per left row — exactly asof_join's
    # union-window pass with the index as the (only) payload, so the
    # allow_exact_matches side-ordering contract is inherited verbatim.
    # ridx doubles as the tie column: right rows sharing (entity, ts)
    # must carry the MAX index (the newest under the right_order
    # tie-break) — with no tie column the window sort's order among tied
    # rows is arbitrary at scale (local sorts happen to preserve input
    # order, a real shuffle need not), and carrying a smaller ridx would
    # silently exclude the newer tied rows from the candidate range
    u = _tagged_union(
        left, indexed.select(*on, right_ts, ridx),
        on, left_ts, right_ts, {ridx: ridx}, right_order=(ridx,),
    )
    latest = _ffill_and_project(
        u, left.columns, on, {ridx: ridx}, allow_exact_matches, 1
    )
    # Step 3: ≤k candidate indices, newest first; NULL r* keeps one
    # NULL-candidate row so zero-prior left rows survive the left join.
    lo = F.greatest(F.col(ridx) - F.lit(k - 1), F.lit(1))
    cands = F.when(
        F.col(ridx).isNull(), F.array(F.lit(None).cast("int"))
    ).otherwise(F.sequence(F.col(ridx), lo, F.lit(-1)))
    exploded = latest.select(
        *left.columns, F.posexplode_outer(cands).alias(pos, cand)
    )
    payload = indexed.select(
        *[F.col(c).alias(f"__asof_topk_on_{i}") for i, c in enumerate(on)],
        F.col(ridx).alias(cand),
        *[F.col(rc).alias(out) for rc, out in vals.items()],
    )
    # eqNullSafe on the entity keys: the union-window ffill treats a NULL
    # entity as a real group (asof_join parity), so the join back must
    # match it too — null-unsafe equality would emit rank-without-payload
    # rows for NULL-keyed lefts
    joined = exploded.alias("__l").join(
        payload.alias("__r"),
        on=[
            F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.__asof_topk_on_{i}"))
            for i, c in enumerate(on)
        ]
        + [F.col(f"__l.{cand}") == F.col(f"__r.{cand}")],
        how="left",
    )
    rank = F.when(
        F.col(f"__l.{cand}").isNotNull(), F.col(pos) + F.lit(1)
    ).cast("int")
    return joined.select(
        *[F.col(f"__l.{c}") for c in left.columns],
        rank.alias(rank_col),
        *[F.col(f"__r.{out}").alias(out) for out in vals.values()],
    )


def sliding_window_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    window_s: int,
    sum_col: str | None = None,
    count_name: str = "w_count",
    sum_name: str = "w_sum",
) -> DataFrame:
    """Sliding-window temporal aggregate join: for each left row, the
    COUNT (and optionally SUM of ``sum_col``) of right rows with
    ``left_ts - window_s <= right_ts < left_ts`` per ``on`` entity —
    "purchases in the last 7 days before this event", the windowed
    companion to :func:`asof_join`'s latest-prior lookup. Strictly
    prior (zero leakage of same-instant rows), pinned half-open window.

    ``sum_col`` must be integral (put decimals on a fixed-point grid
    first) so the running sums are exact.

    Plan — the sweep device, NOT a range join (a raw
    ``BETWEEN``-condition join plans as a nested loop and re-scans the
    window per probe): every right row becomes a +delta at its
    timestamp and a -delta at ``right_ts + window_s`` (its expiry);
    left rows become probes; ONE per-entity sort window computes
    running delta sums, and each probe reads its running totals. At
    equal timestamps both birth and expiry sort AFTER the probe —
    birth because the window is strictly-prior (a right row AT the
    probe instant is invisible), expiry because a right row at exactly
    ``left_ts - window_s`` is still inside the closed lower bound.
    One union + one sort Exchange per entity — the asof cost, however
    wide the window.
    """
    if window_s <= 0:
        raise ValueError(f"window_s must be > 0, got {window_s}")
    _validate(left, on, [count_name] + ([sum_name] if sum_col else []))
    # the sweep plants its own working columns on the left side (ADVICE
    # r5): a pre-existing one would surface as an ambiguous-column error
    # deep inside the window plan instead of a nameable cause
    clash = {"__t", "__probe", "__dc", "__dv"} & set(left.columns)
    if clash:
        raise ValueError(
            f"sliding_window_join: left columns {sorted(clash)} collide "
            "with reserved internal names — rename them first"
        )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    w_us = int(window_s) * 1_000_000
    val = (
        F.col(sum_col).cast("decimal(38,0)")
        if sum_col
        else F.lit(0).cast("decimal(38,0)")
    )
    # a right row with a NULL timestamp would become a +delta sorting
    # before every probe (nulls first) and pollute ALL running counts
    right = right.filter(_known_time(live_gateway(), right_ts))
    birth = right.select(
        *on,
        us(right_ts).alias("__t"),
        F.lit(0).alias("__probe"),
        F.lit(1).cast("long").alias("__dc"),
        val.alias("__dv"),
    )
    expiry = right.select(
        *on,
        (us(right_ts) + F.lit(w_us)).alias("__t"),
        F.lit(0).alias("__probe"),
        F.lit(-1).cast("long").alias("__dc"),
        (-val).alias("__dv"),
    )
    probes = left.select(
        "*", us(left_ts).alias("__t"), F.lit(1).alias("__probe")
    )
    u = probes.unionByName(birth.unionByName(expiry), allowMissingColumns=True)
    # probes sort BEFORE deltas at equal __t (see docstring); delta order
    # among themselves is irrelevant (sums commute)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t").asc(), F.col("__probe").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULL-ts probes have no place on the time axis: NULL counts, not 0
    probe_ok = F.col(left_ts).isNotNull()
    run = u.withColumn(
        count_name,
        F.when(
            probe_ok, F.coalesce(F.sum("__dc").over(w), F.lit(0))
        ).cast("bigint"),
    )
    out_cols = [*left.columns, count_name]
    if sum_col:
        s_dec = F.coalesce(F.sum("__dv").over(w), F.lit(0).cast("decimal(38,0)"))
        # the running sum is exact in decimal(38,0); an out-of-LONG value
        # would cast to NULL silently under non-ANSI mode (ADVICE r5) —
        # make it a loud witness instead (same posture as the correlation
        # module's 2^31 guard)
        lo, hi = -(2**63), 2**63 - 1
        s_guarded = F.when(
            (s_dec < F.lit(lo).cast("decimal(38,0)"))
            | (s_dec > F.lit(hi).cast("decimal(38,0)")),
            F.raise_error(F.concat(
                F.lit(f"sliding_window_join: {sum_name} overflows BIGINT ("),
                s_dec.cast("string"),
                F.lit(") — narrow the window or rescale sum_col"),
            )).cast("decimal(38,0)"),
        ).otherwise(s_dec)
        run = run.withColumn(
            sum_name, F.when(probe_ok, s_guarded).cast("bigint")
        )
        out_cols.append(sum_name)
    return run.filter(F.col("__probe") == 1).select(*out_cols)
