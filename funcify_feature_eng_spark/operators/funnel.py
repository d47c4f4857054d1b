"""Ordered-step funnels, retention cohorts, and activity streaks, exactly.

Classic product/behavior analytics shapes the event-stream feature
surface was missing; all integer-exact, one-shuffle-per-side jobs:

**Funnel** (:func:`funnel_steps`): per entity, the furthest prefix of an
ordered step list reached by its event stream — "did this user signup,
THEN view, THEN purchase" — with an optional conversion window measured
from the first step. Semantics pinned so an independent engine reproduces
the hash bit-for-bit:

- Events order by the tuple ``(ts, order_col)`` — ``order_col`` must be
  unique per row (the repo-wide tie-break convention, cf. next_purchase).
- **First-touch anchoring**: step 1 matches the entity's EARLIEST step-1
  event, each later step matches the earliest qualifying event strictly
  after the previously matched tuple; there is no re-anchoring when a
  later start would convert further (the classic deterministic funnel —
  re-anchoring variants are a scan over the same fold).
- ``within_s`` bounds steps 2..k to ``within_s`` seconds of the matched
  step-1 event (conversion window from first touch).

Physical shape: filter to step types (tiny fraction of the stream), ONE
shuffle onto entity grain, ``collect_list`` + ``array_sort`` + an
``F.aggregate`` fold — all JVM higher-order functions, zero Python. The
per-entity array holds only step-typed events, and the fold is O(events);
at 100 TB the bound is the hottest entity's step-event count, the same
bound sessionization and collect_ordered already carry.

**Retention cohorts** (:func:`retention_cohorts`): users cohorted by the
fixed-width period of their first event; for each (cohort, period-offset)
the count of distinct users active in that offset. Period = integer
``floor(epoch_us / period_us)`` — NOT date_trunc, whose week-start anchor
is an engine-configuration detail; the epoch grid reproduces everywhere.
ONE data-sized shuffle (collect_set of periods per user, map-side
combined), from which cohort AND activity both derive; the remaining
aggregates run over (user, period) pairs and the cohort-size join-back
broadcasts an O(cohorts) table.

Reference parity anchor: the reference's stream/materializer has no
funnel or cohort operator (its temporal surface is point-in-time reads,
``materializer/.../TrackableValue.kt``); this extends the event-stream
family (SURVEY §2 extensions) beside sessionization and
event_transitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["activity_streaks", "funnel_steps", "retention_cohorts"]


def funnel_steps(
    df: DataFrame,
    steps: Sequence[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    within_s: int | None = None,
) -> DataFrame:
    """Per-entity funnel progress over ``steps`` (ordered event-type names).

    Output: one row per entity with at least one step-1 event —
    ``(user_col, steps_completed:int, ts_1..ts_k:timestamp)``; ``ts_i`` is
    the matched step-i event time (NULL past ``steps_completed``).
    Entities that never fire step 1 are absent (their funnel state is
    vacuous; left-join the entity universe if zeros are needed).

    NULL ``ts``/``type``/``user`` rows are excluded — an unordered event
    cannot sit in an ordered funnel. ``within_s`` (optional) requires
    steps 2..k to land within that many seconds of the matched step-1
    event. See the module doc for the exact first-touch semantics.
    """
    k = len(steps)
    if k < 1:
        raise ValueError("funnel_steps: need at least one step")
    if len(set(steps)) != k:
        # a repeated type is ambiguous under prefix matching ("view, view"
        # would re-match the SAME event without an occurrence discipline);
        # model repeat-steps explicitly upstream (e.g. dedup by occurrence)
        raise ValueError(f"funnel_steps: steps must be distinct, got {steps!r}")
    if within_s is not None and within_s < 1:
        raise ValueError(f"funnel_steps: within_s must be >= 1, got {within_s}")

    step_idx = None
    for i, s in enumerate(steps):
        c = F.when(F.col(type_col) == F.lit(s), F.lit(i))
        step_idx = c if step_idx is None else step_idx.when(
            F.col(type_col) == F.lit(s), F.lit(i)
        )

    ev = (
        df.filter(
            F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(type_col).isin(list(steps))
        )
        .select(
            F.col(user_col),
            F.struct(
                F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
                F.col(order_col).cast("bigint").alias("oid"),
                step_idx.cast("int").alias("step"),
            ).alias("__e"),
        )
    )

    # ONE shuffle onto entity grain; array_sort orders by (us, oid, step) —
    # (us, oid) is unique per row, so the sort is total and the fold's
    # "later array position" IS the strictly-after-tuple relation.
    grouped = ev.groupBy(user_col).agg(
        F.array_sort(F.collect_list("__e")).alias("__evs")
    )

    # fold state: the matched step timestamps so far (size = next step to
    # match). An event matches iff its step index equals that size and it
    # sits inside the conversion window (measured from matched[0]).
    win = F.lit(int(within_s) * 1_000_000) if within_s is not None else None

    def _step(acc: Column, e: Column) -> Column:
        matches = e["step"] == F.size(acc)
        if win is not None:
            matches = matches & (
                (F.size(acc) == 0) | (e["us"] <= F.element_at(acc, 1) + win)
            )
        return F.when(
            (F.size(acc) < F.lit(k)) & matches,
            F.concat(acc, F.array(e["us"])),
        ).otherwise(acc)

    matched = F.aggregate(
        F.col("__evs"), F.lit([]).cast("array<bigint>"), _step
    )
    out = grouped.select(
        F.col(user_col),
        matched.alias("__m"),
    ).filter(F.size("__m") > 0)
    cols: list[Column] = [
        F.col(user_col),
        F.size("__m").alias("steps_completed"),
    ]
    for i in range(1, k + 1):
        # element_at returns NULL past the array end — exactly the
        # "not reached" encoding the output contract wants
        cols.append(
            F.timestamp_micros(
                F.when(F.size("__m") >= i, F.element_at("__m", i))
            ).alias(f"ts_{i}")
        )
    return out.select(*cols).drop("__m")


def activity_streaks(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_s: int = 86400,
    as_of_period: int | None = None,
) -> DataFrame:
    """Gaps-and-islands activity streaks per entity on the epoch period grid.

    Output: one row per entity with any in-scope activity —
    ``(user_col, n_active:bigint, n_islands:bigint, longest_streak:bigint,
    current_streak:bigint, first_period:bigint, last_period:bigint)``.
    A *streak* (island) is a maximal run of CONSECUTIVE active periods;
    ``current_streak`` is the length of the streak that is still alive at
    ``as_of_period`` (0 if the entity was inactive then). Periods use the
    same epoch-anchored integer grid as :func:`retention_cohorts` —
    ``floor(epoch_us / period_us)`` — never date_trunc.

    ``as_of_period`` defaults to the dataset's max active period (one
    O(1) driver-collected aggregate); periods AFTER it are excluded from
    the whole computation, so "current" is well-defined against a pinned
    clock rather than whatever late data happens to have arrived.

    Physical shape: filter → ONE data-sized shuffle (``collect_set`` of
    periods per entity, map-side combined) → ``array_sort`` + an
    ``F.aggregate`` fold over the sorted periods — all JVM higher-order
    functions, zero Python, no window. Per-entity cost is its distinct
    active-period count (a few thousand even for years of daily grain),
    the same bound retention_cohorts carries. The classic lag/running-sum
    islands window would pay the identical shuffle plus TWO window passes;
    the fold does it in the aggregate itself. All outputs integer-exact.
    """
    if period_s < 1:
        raise ValueError(f"activity_streaks: period_s must be >= 1, got {period_s}")
    p_us = int(period_s) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    from .util import exact_floor_div

    base = df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()).select(
        F.col(user_col),
        exact_floor_div(us.cast("decimal(38,0)"), F.lit(p_us).cast("decimal(38,0)"))
        .alias("__p"),
    )
    if as_of_period is None:
        # bounded O(1) collect (the drift_report split_us convention): the
        # pinned clock must be a VALUE, not a per-row expression — a
        # cross-join against the 1-row max would shuffle everything to
        # evaluate a constant
        row = base.agg(F.max("__p")).collect()[0]
        if row[0] is None:
            # no qualifying rows: empty result with the declared schema
            as_of_period = 0
        else:
            as_of_period = int(row[0])
    aop = F.lit(int(as_of_period)).cast("bigint")

    from .util import spread_small_input

    # the collect_set partial aggregation inherits the scan's split count;
    # pre-hash a few-split input by the entity key (exchange reused by the
    # groupBy, no-op at scale)
    per_user = (
        spread_small_input(base.filter(F.col("__p") <= aop), user_col)
        .groupBy(user_col)
        .agg(F.array_sort(F.collect_set("__p")).alias("__ps"))
    )

    # fold state: (prev period, current run, longest run, island count) —
    # consecutive iff p == prev + 1; prev NULL starts the first island
    zero = F.struct(
        F.lit(None).cast("bigint").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("longest"),
        F.lit(0).cast("bigint").alias("islands"),
    )

    def _step(acc: Column, p: Column) -> Column:
        cont = acc["prev"].isNotNull() & (p == acc["prev"] + 1)
        run = F.when(cont, acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            p.alias("prev"),
            run.alias("run"),
            F.greatest(acc["longest"], run).alias("longest"),
            F.when(cont, acc["islands"])
            .otherwise(acc["islands"] + 1)
            .alias("islands"),
        )

    st = F.aggregate(F.col("__ps"), zero, _step)
    return per_user.select(
        F.col(user_col),
        F.size("__ps").cast("bigint").alias("n_active"),
        st["islands"].alias("n_islands"),
        st["longest"].alias("longest_streak"),
        # the fold ends holding the LAST island's run; it is "current" iff
        # that island reaches the pinned clock
        F.when(F.element_at("__ps", -1) == aop, st["run"])
        .otherwise(F.lit(0).cast("bigint"))
        .alias("current_streak"),
        F.element_at("__ps", 1).alias("first_period"),
        F.element_at("__ps", -1).alias("last_period"),
    )


def retention_cohorts(
    df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_s: int = 7 * 86400,
) -> DataFrame:
    """Cohorted retention counts on a fixed epoch-aligned period grid.

    Output: ``(cohort:bigint, offset:bigint, n_active:bigint,
    cohort_size:bigint)`` — ``cohort`` = period index (``floor(epoch_us
    of the user's first event / period_us)``) of the user's first event,
    ``offset`` = periods since the cohort period (0 = the cohort period
    itself, so every cohort has an offset-0 row with ``n_active ==
    cohort_size``), ``n_active`` = distinct users of that cohort with any
    event in that offset. NULL ts/user rows are excluded.

    The grid is anchored at the Unix epoch, not a week-start — engine
    configuration (locale week starts) can never shift the buckets.
    """
    if period_s < 1:
        raise ValueError(f"retention_cohorts: period_s must be >= 1, got {period_s}")
    p_us = int(period_s) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # epoch_us is non-negative for any post-1970 stream, but keep floor
    # (toward -inf) semantics exact for pre-epoch timestamps too
    from .util import exact_floor_div

    base = df.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()).select(
        F.col(user_col).alias("__u"),
        exact_floor_div(us.cast("decimal(38,0)"), F.lit(p_us).cast("decimal(38,0)"))
        .alias("__p"),
    )
    # ONE data-sized shuffle: collect the user's distinct period set (map-side
    # combined; bounded by periods-per-user — a few thousand even for years of
    # daily grain), from which BOTH the cohort (array_min) and the activity
    # rows (explode) derive — no separate min-aggregate, no (u, p) distinct,
    # no user-grain re-join
    per_user = base.groupBy("__u").agg(F.collect_set("__p").alias("__ps"))
    exploded = per_user.select(
        F.array_min("__ps").alias("cohort"), F.explode("__ps").alias("__p")
    )
    ret = exploded.groupBy(
        "cohort", (F.col("__p") - F.col("cohort")).alias("offset")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    sizes = per_user.groupBy(F.array_min("__ps").alias("cohort")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    # sizes is O(number of cohorts) — always broadcast-able
    return ret.join(F.broadcast(sizes), on="cohort", how="inner").select(
        "cohort", "offset", "n_active", "cohort_size"
    )
