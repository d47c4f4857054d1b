"""Windowed sequence features over (entity, time)-ordered rows.

The reference has no SQL window functions; its sequential semantics are the
point-in-time store (``TrackableValue.valueAtTimestamp`` ≤ now — reference
``schema/tracking/TrackableValue.kt:147-155``) and time-ordered nested
collections. Here those semantics become native Spark window functions over
``Window.partitionBy(entity).orderBy(order_cols)`` — one shuffle, fully
JVM-side, whole-stage-codegen eligible (SURVEY.md §2.5).

All helpers take explicit ``keys`` / ``order`` so they work for any entity
table: transcripts ``(conv_id, [turn_idx, ts])`` or events
``(user_id, [ts, event_id])``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def epoch_seconds(ts_col: str) -> Column:
    """Integral epoch seconds from a timestamp column — THE shared order
    key for every event-time RANGE frame and time-bucket operator.

    One canonical expression (floor of unix_micros/1e6, not a cast) so
    cross-engine exactness — DuckDB twin ``epoch_us(ts) // 1000000`` —
    and pre-1970 flooring toward -inf are fixed in exactly one place;
    the cast also accepts TIMESTAMP_NTZ inputs (identity under the UTC
    session timezone)."""
    return F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1_000_000)).cast(
        "long"
    )


def ordered_window(keys: Sequence[str], order: Sequence[str]) -> WindowSpec:
    """The canonical per-entity window: partition by entity, total order in time.

    ``order`` must be a total order within the entity (e.g. ``[turn_idx, ts]``
    or ``[ts, event_id]``) — the zero-leakage tie-break requirement
    (BASELINE.json north_rule) is exactly "make ties impossible".
    """
    # names, not F.col(c).asc(): a name sorts ascending with nulls first,
    # the same SortOrder, for a fraction of the py4j round trips
    return Window.partitionBy(*keys).orderBy(*order)


def lag_col(col: str, keys: Sequence[str], order: Sequence[str], n: int = 1) -> Column:
    """Strictly-prior value: the reference's "latest prior state" per entity."""
    return F.lag(col, n).over(ordered_window(keys, order))


def lead_col(col: str, keys: Sequence[str], order: Sequence[str], n: int = 1) -> Column:
    return F.lead(col, n).over(ordered_window(keys, order))


def gap_seconds(ts_col: str, keys: Sequence[str], order: Sequence[str]) -> Column:
    """Inter-turn gap in seconds (microsecond-exact); NULL at the first row.

    unix_micros keeps the arithmetic integer until the final division so the
    result is bit-identical across engines (DuckDB: epoch_us/1000000.0)."""
    w = ordered_window(keys, order)
    # cast handles TIMESTAMP_NTZ inputs (identity under the UTC session tz)
    cur = F.col(ts_col).cast("timestamp")
    prev = F.lag(cur, 1).over(w)
    return (F.unix_micros(cur) - F.unix_micros(prev)) / F.lit(1000000.0)


def ffill_col(
    col: str, keys: Sequence[str], order: Sequence[str], *, strict_prior: bool = False
) -> Column:
    """Forward-fill: last non-null value at-or-before this row.

    ``strict_prior=True`` excludes the current row — the read-through
    semantics of the feature store (value known strictly before now).
    """
    w = ordered_window(keys, order)
    hi = -1 if strict_prior else 0
    return F.last(col, ignorenulls=True).over(w.rowsBetween(Window.unboundedPreceding, hi))


def bfill_col(col: str, keys: Sequence[str], order: Sequence[str]) -> Column:
    """Backward-fill: first non-null value at-or-after this row."""
    w = ordered_window(keys, order)
    return F.first(col, ignorenulls=True).over(w.rowsBetween(0, Window.unboundedFollowing))


def session_id(
    ts_col: str,
    keys: Sequence[str],
    order: Sequence[str],
    gap_threshold_s: float = 1800.0,
) -> Column:
    """Gap-based session index per entity (0-based).

    A new session starts when the inter-row gap exceeds the threshold;
    computed as a cumulative sum of boundary flags — a single window pass.
    """
    w = ordered_window(keys, order)
    gap = gap_seconds(ts_col, keys, order)
    boundary = F.when(gap > gap_threshold_s, F.lit(1)).otherwise(F.lit(0))
    return F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int")


def row_number_col(keys: Sequence[str], order: Sequence[str]) -> Column:
    return F.row_number().over(ordered_window(keys, order))


def time_range_window(
    keys: Sequence[str],
    epoch_col: str | Column,
    lower_s: int,
    upper_s: int = -1,
) -> WindowSpec:
    """Event-time RANGE frame per entity: rows whose epoch-seconds order key
    lies in ``[current + lower_s, current + upper_s]``.

    The default ``upper_s=-1`` makes the frame STRICTLY PRIOR — rows tied
    with the current row's timestamp are excluded along with the row itself,
    so the feature is leakage-free by construction and deterministic under
    ties (the north rule's zero-temporal-leakage requirement; reference
    analog ``TrackableValue.valueAtTimestamp`` with ``< now``,
    ``schema/tracking/TrackableValue.kt:147-155``).

    RANGE frames need a single numeric order key; pass integral epoch
    seconds (or any monotone integer clock). Unlike ROWS frames the frame
    width adapts to event density — "count/sum over the trailing hour" is a
    RANGE frame, not a ROWS frame. One shuffle on the entity key, JVM-side.
    """
    col = F.col(epoch_col) if isinstance(epoch_col, str) else epoch_col
    return Window.partitionBy(*keys).orderBy(col.asc()).rangeBetween(lower_s, upper_s)


def rolling_time_agg(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    value_col: Column | str,
    window_s: int,
    out_prefix: str = "prev",
    include_current: bool = False,
) -> DataFrame:
    """Trailing event-time-window aggregates per entity: the count and sum of
    ``value_col`` over the ``window_s`` seconds before each row.

    ``include_current=False`` (the default) keeps the frame strictly prior —
    rows at the exact same second (including the row itself) do not leak in.
    Sum is NULL-coalesced to 0 so an empty frame reads as "no prior
    activity", matching the store's missing-value semantics.
    """
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    epoch = epoch_seconds(ts_col)
    upper = 0 if include_current else -1
    # materialize the order key as ONE attribute: inlining the epoch
    # expression per window call would give each window a distinct order
    # expression, defeating CollapseWindow — two WindowExec + two sorts
    # instead of one of each (verified on the executed plan)
    w = time_range_window(keys, "__es", -window_s, upper)
    return (
        df.withColumn("__v", val)
        .withColumn("__es", epoch)
        .withColumn(f"{out_prefix}_cnt", F.count("__v").over(w).cast("long"))
        .withColumn(f"{out_prefix}_sum", F.coalesce(F.sum("__v").over(w), F.lit(0)).cast("long"))
        .drop("__v", "__es")
    )


def rolling_multi_horizon_agg(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    value_col: Column | str,
    horizons: dict[str, int],
    include_current: bool = False,
) -> DataFrame:
    """Trailing aggregates over SEVERAL horizons in ONE pass — the standard
    multi-horizon feature block ("count/sum over the last 1h, 6h, 24h")
    without paying one shuffle+sort per horizon.

    Every horizon's frame shares the same partitioning (``keys``) and the
    same materialized order key (``__es``, computed ONCE — inlining the
    epoch expression per window would give each window a distinct order
    expression and defeat the shared sort), so Catalyst plans a single
    Exchange and a single Sort with ``2·len(horizons)`` window functions
    layered on top: at 100 TB the cost is one shuffle of the table
    regardless of how many horizons the feature block declares
    (plan-asserted in tests/test_windows.py).

    ``horizons`` maps output prefix → window seconds, e.g.
    ``{"h1": 3600, "d1": 86400}`` → columns ``h1_cnt, h1_sum, d1_cnt,
    d1_sum``. Frames are strictly prior by default (same leakage contract
    as :func:`rolling_time_agg`).
    """
    if not horizons:
        raise ValueError("horizons must be a non-empty {prefix: seconds} dict")
    for p, s in horizons.items():
        if int(s) < 1:
            raise ValueError(f"horizon {p!r} must be >= 1 second, got {s}")
    val = F.col(value_col) if isinstance(value_col, str) else value_col
    epoch = epoch_seconds(ts_col)
    upper = 0 if include_current else -1
    out = df.withColumn("__v", val).withColumn("__es", epoch)
    for prefix, window_s in horizons.items():
        w = time_range_window(keys, "__es", -int(window_s), upper)
        out = out.withColumn(f"{prefix}_cnt", F.count("__v").over(w).cast("long")).withColumn(
            f"{prefix}_sum", F.coalesce(F.sum("__v").over(w), F.lit(0)).cast("long")
        )
    return out.drop("__v", "__es")


def prior_context_col(
    col: str,
    keys: Sequence[str],
    order: Sequence[str],
    k: int,
    sep: str = "\n",
) -> Column:
    """The context-assembly primitive: the previous ``k`` values of ``col``
    joined in turn order — "the last k turns before this one", the prompt
    window an LLM feature pipeline attaches to every turn. Strictly prior
    (ROWS ``[-k, -1]``), so the row's own text never leaks into its
    context. collect_list over a ROWS frame preserves the window's ORDER
    BY order, making the concatenation deterministic given a total order.
    """
    w = ordered_window(keys, order).rowsBetween(-int(k), -1)
    return F.concat_ws(sep, F.collect_list(F.col(col)).over(w))


def rolling_distinct_count(
    df: DataFrame,
    *,
    keys: Sequence[str],
    ts_col: str,
    col: str,
    window_s: int,
    out_col: str = "n_distinct_prev",
    include_current: bool = False,
) -> DataFrame:
    """Distinct values of ``col`` per entity over the trailing event-time
    window ("how many different tools did this user touch in the last
    24 h") — ``size(collect_set(...))`` over a RANGE frame, JVM-side.

    Strictly-prior by default (same leakage rule as
    :func:`rolling_time_agg`). Per-row cost is O(frame distinct values):
    fine for bounded-cardinality columns (roles, tools, event types);
    for high-cardinality columns prefer a bucketed groupBy + as-of
    alignment instead of a per-row set.
    """
    epoch = epoch_seconds(ts_col)
    upper = 0 if include_current else -1
    w = time_range_window(keys, "__es", -window_s, upper)
    return (
        df.withColumn("__es", epoch)
        .withColumn(out_col, F.size(F.collect_set(col).over(w)).cast("long"))
        .drop("__es")
    )


def turn_features(
    df: DataFrame,
    *,
    keys: Sequence[str] = ("conv_id",),
    order: Sequence[str] = ("turn_idx", "ts"),
    ts_col: str = "ts",
    role_col: str | None = "role",
    tool_col: str | None = "tool",
    text_col: str | None = "text",
    gap_threshold_s: float = 1800.0,
) -> DataFrame:
    """The flagship turn-feature bundle (BASELINE.json north_star):

    prior_role, prior_tool (strict-prior ffill), gap_secs, session_id,
    turn_len — all in ONE window shuffle.
    """
    out = df
    if role_col:
        out = out.withColumn("prior_role", lag_col(role_col, keys, order))
    if tool_col:
        # strict-prior ffill as last(lag(col)) over (unbounded, 0): the lag
        # shares the offset-frame WindowExec with the other lags and the
        # ffill shares the (unbounded, 0) frame with the session cumsum —
        # one fewer WindowExec pass than the (unbounded, -1) formulation
        out = out.withColumn("__lag_tool", lag_col(tool_col, keys, order))
        out = out.withColumn("prior_tool", ffill_col("__lag_tool", keys, order))
    out = out.withColumn("gap_secs", gap_seconds(ts_col, keys, order))
    out = out.withColumn("session_id", session_id(ts_col, keys, order, gap_threshold_s))
    if text_col:
        out = out.withColumn("turn_len", F.length(F.col(text_col)))
    return out.drop("__lag_tool")


def collect_ordered(
    df: DataFrame,
    value_col: str,
    *,
    keys: Sequence[str] = ("conv_id",),
    order: Sequence[str] = ("turn_idx", "ts"),
    out_col: str = "collected",
) -> DataFrame:
    """Assemble the time-ordered nested collection per entity.

    Reference analog: nested list fields like ``filmography: [Show!]!``
    ordered by their ``@lastUpdated`` field. ``sort_array`` over structs
    keyed by the order columns gives a deterministic ordering regardless
    of shuffle layout (never rely on collect_list order alone).
    """
    pairs = F.struct(*[F.col(c) for c in order], F.col(value_col).alias("__v"))
    agg = df.groupBy(*keys).agg(
        F.transform(F.sort_array(F.collect_list(pairs)), lambda s: s["__v"]).alias(out_col)
    )
    return agg


def state_dwell_times(
    df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    order_col: str,
    state_col: str,
    group_keys: Sequence[str] = (),
) -> DataFrame:
    """Time-in-state: per state, the exact total/mean microseconds an
    entity dwells in it — a state "lasts" from its event until the
    entity's NEXT event of any kind (the last event per entity has no
    dwell and is excluded; pinning the dataset max-ts as a phantom end
    would silently couple every entity's tail to one global value).

    Output: one row per (``group_keys``..., ``state``) with
    ``n_spells``, ``total_dwell_us``, ``mean_dwell_us`` (floor) — all
    exact integers.

    Scale: ONE per-entity sort window (the lead) + one state-grain
    aggregate."""
    from funcify_feature_eng_spark.operators.util import exact_floor_div

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(F.col(entity_col)).orderBy(
        F.col(ts_col).asc(), F.col(order_col).asc()
    )
    nxt = F.lead(us).over(w)
    spans = (
        df.filter(F.col(entity_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            *group_keys,
            F.col(state_col).alias("state"),
            (nxt - us).alias("__dwell"),
        )
        .filter(F.col("__dwell").isNotNull())
    )
    g = spans.groupBy(*group_keys, "state").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spells"),
        F.sum("__dwell").cast("decimal(38,0)").alias("__tot"),
    )
    return g.select(
        *group_keys,
        "state",
        "n_spells",
        F.col("__tot").cast("bigint").alias("total_dwell_us"),
        exact_floor_div(
            F.col("__tot"), F.col("n_spells").cast("decimal(38,0)")
        ).cast("bigint").alias("mean_dwell_us"),
    )
