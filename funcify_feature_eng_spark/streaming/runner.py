"""Streaming entry points.

The reference's "streaming" is a Spring Cloud Stream function: one message
in → materialize → one message out (``stream/StreamFunctions.kt:180-287``) —
no watermarks, windows, or state. The Spark-native upgrade is Structured
Streaming micro-batches that reuse the SAME batch feature DAG via
``foreachBatch`` (SURVEY.md §2.8), plus a genuinely streaming sessionizer
(watermark + session_window) the reference lacks but the transcript workload
wants.

The six cross-batch stateful operators (turn features in order and under
bounded disorder, KMV, dedup, role audit, throttle) share one keyed-state
skeleton, :func:`_keyed_state_stream`. It owns the whole
``applyInPandasWithState`` protocol: the output schema built from the input
types, the pandas-iterator concat, reading the state and writing it back or
removing it, the timeout mode (event time when the operator has a
watermark, none otherwise) and the event-time timeout. An operator supplies
only its grouping column, its state schema and one fold
``(key, rows | None, state | None, watermark_ms) -> (out | None,
new_state | None, wake_ms | None)``; ``rows=None`` marks a timeout call and
a None state removes the key. Per-group Python cost, not the state store,
is the floor of these streams, so hash-bucketing the groups (as
``stateful_dedup_stream`` does by hand with ``pmod(xxhash64, 4096)``)
belongs inside the skeleton, where one change serves every operator.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def _start_foreach_batch(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str | None,
    trigger_seconds: int | None,
) -> StreamingQuery:
    """Shared foreachBatch writer policy for every stream entry point:
    update output mode, optional checkpoint, processing-time trigger or
    availableNow (drain-and-stop) when no interval is given."""
    writer = stream_df.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _start_ledger_stream(
    stream_df: DataFrame,
    state: Callable[[DataFrame], DataFrame],
    ledger_dir: str,
    checkpoint_dir: str | None,
    trigger_seconds: int | None,
) -> StreamingQuery:
    """Shared body of the monitor streams: each micro-batch reduces to
    ``state(batch_df)``, stamped with ``batch_id`` and APPENDED to the
    parquet ``ledger_dir`` — the ledger is the only cross-batch state."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            state(batch_df)
            .withColumn("batch_id", F.lit(int(batch_id)).cast("bigint"))
            .write.mode("append").parquet(ledger_dir)
        )

    return _start_foreach_batch(stream_df, process, checkpoint_dir, trigger_seconds)


def materialize_stream(
    stream_df: DataFrame,
    model,
    columns: Sequence[str],
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Run the batch feature DAG on each micro-batch (entry point C analog).

    Within a micro-batch, per-entity window features are computed over the
    rows of that batch; cross-batch state (e.g. "latest prior turn ever")
    belongs to the feature store read-through, exactly like the reference's
    store-backed TrackableValues.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = model.materialize(batch_df, list(columns))
        if sink is not None:
            sink(out, batch_id)

    return _start_foreach_batch(stream_df, process, checkpoint_dir, trigger_seconds)


def store_publish_stream(
    stream_df: DataFrame,
    store,
    feature_id: str,
    compute: Callable[[DataFrame], DataFrame],
    value_col: str,
    ts_col: str = "ts",
    calculated_at: Callable[[int], str] | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Online feature materialization: each micro-batch computes the
    feature on ITS rows and PUBLISHES to the point-in-time store —
    Calculated → Tracked per batch (store.py), the reference's
    ``FeatureJsonValuePublisher.kt:11-18`` upgraded from per-request to
    per-micro-batch. Streaming ingestion and batch training reads meet
    at the same table: ``read_through`` immediately serves the freshest
    value per (entity, event-time) with the usual as-of + bitemporal
    semantics, because ``publish`` is append-only and the read's
    ``right_order=[calculated_ts, value]`` prefers the latest knowledge
    at a tied ``value_at_ts`` — no upsert machinery needed.

    ``compute(batch_df) -> df`` must yield the store's entity column,
    ``value_col``, and ``ts_col`` (the value_at stamp). ``calculated_at
    (batch_id) -> timestamp`` supplies deterministic knowledge stamps
    (default None = publish-time now). Replay/supersession contract
    under deterministic stamps: a checkpoint REPLAY of a batch with the
    same deterministic compute is idempotent (it appends byte-identical
    rows, which compaction collapses); a CORRECTION — different value
    for an already-published (entity, value_at) point — must carry a
    LATER ``calculated_at`` stamp to supersede, because at a tied
    (value_at_ts, calculated_ts) the read's final tie-break is the
    serialized value, not recency. Stamps must be non-decreasing in
    knowledge; never re-publish changed values under an old stamp.
    Executor state never grows: the store table is the only cross-batch
    state.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        calc = compute(batch_df)
        at = calculated_at(int(batch_id)) if calculated_at is not None else None
        store.publish(calc, feature_id, value_col, ts_col=ts_col, calculated_at=at)

    return _start_foreach_batch(stream_df, process, checkpoint_dir, trigger_seconds)


def _keyed_state_stream(
    df: DataFrame,
    key: str,
    passthrough: Sequence[str],
    out_schema: str,
    state_schema: str,
    fold: Callable,
    watermark: tuple[str, float] | None = None,
) -> DataFrame:
    """The keyed-state skeleton under every stateful stream (module
    docstring): groups ``df`` by ``key`` and calls ``fold(key, rows,
    state, watermark_ms) -> (out, new_state, wake_ms)`` once per group and
    micro-batch.

    - ``rows``: the group's rows as one pandas frame, or None on an
      event-time timeout call (a key times out only in a batch where it
      has no rows);
    - ``state``: the stored state tuple, or None;
    - ``watermark_ms``: the current watermark, None without one;
    - ``out``: pandas rows to emit, or None;
    - ``new_state``: None removes the key; ``state`` itself (the same
      object) leaves the store untouched; anything else is written;
    - ``wake_ms``: the event-time timeout to arm, or None.

    The output schema is the ``passthrough`` input columns, typed as in
    ``df``, then ``out_schema``. ``watermark=(ts_col, delay_s)`` applies
    the watermark and selects event-time timeouts; without one there are
    no timeouts."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    in_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{c} {in_types[c]}" for c in passthrough] + ([out_schema] if out_schema else [])
    )
    timeout = GroupStateTimeout.NoTimeout
    if watermark is not None:
        ts_col, delay_s = watermark
        # milliseconds: int() of a seconds float would floor a sub-second
        # delay to a zero-delay watermark
        df = df.withWatermark(ts_col, f"{int(delay_s * 1000)} milliseconds")
        timeout = GroupStateTimeout.EventTimeTimeout

    def update(k, pdfs, state):
        import pandas as pd

        rows = None
        if not state.hasTimedOut:
            dfs = list(pdfs)
            rows = dfs[0] if len(dfs) == 1 else pd.concat(dfs, ignore_index=True)
        old = state.getOption
        wm_ms = state.getCurrentWatermarkMs() if watermark is not None else None
        out, new, wake_ms = fold(k, rows, old, wm_ms)
        if new is None:
            if old is not None:
                state.remove()
        elif new is not old:
            state.update(new)
        if wake_ms is not None:
            state.setTimeoutTimestamp(wake_ms)
        if out is not None:
            yield out

    return df.groupBy(key).applyInPandasWithState(
        update, schema, state_schema, "append", timeout
    )


def stateful_turn_features_stream(
    stream_df: DataFrame,
    entity_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    state_ttl_s: float | None = None,
    watermark_delay_s: float | None = None,
    max_disorder_s: float | None = None,
    max_pending: int | None = None,
):
    """Custom stateful streaming operator: per-entity session ids and prior
    roles that are CONTINUOUS across micro-batches (and across restarts via
    the checkpoint), unlike the per-batch window in ``materialize_stream``.

    Per-entity state carries (last_ts_us, last_role, session_id,
    session_start_us); each batch's rows are processed in (order_col, ts)
    order inside vectorized NumPy by one session fold shared with the
    bounded-disorder mode.

    **Arrival-order contract.** Default (``max_disorder_s=None``): in-order
    arrival per entity across batches (the transcript ingest contract); a
    row older than its entity's already-emitted frontier would compute
    features against the wrong prior state, so route late rows to the
    store read-through path, as in the reference. With
    ``max_disorder_s=D`` set, the operator tolerates BOUNDED disorder:
    rows are buffered in per-entity state and emitted in (order, ts) order
    only once the entity's max seen event time has advanced past their
    timestamp by D (a per-entity watermark). A row arriving later than D
    (at or before the already-emitted frontier) is DROPPED — the same
    beyond-watermark semantics Spark applies globally, here pinned
    per-entity and tested. Buffered rows flush on the event-time TTL (set
    ``state_ttl_s``!) or at stream end via the final watermark advance;
    the global watermark delay defaults to ``max(gap, D)`` so Spark's own
    late filter never discards rows the buffer was promised.

    ``max_pending`` caps the per-entity disorder buffer: without it, a
    pathological key bursting out-of-order rows inside the TTL grows
    executor state unboundedly. When the buffer would exceed the cap after
    a batch, the OLDEST pending rows (the (order, ts)-sorted prefix) are
    force-flushed — emitted early rather than dropped, so emission order
    and feature values are preserved for every emitted row; the frontier
    advances, and any straggler older than a force-flushed row then drops
    via the existing beyond-bound-late path (the deterministic, bounded
    degradation mode). Pending size is <= max_pending after every batch.

    ``state_ttl_s`` (> 0) bounds state growth — MANDATORY at web scale:
    with no timeout, every conversation ever seen keeps a state row
    forever, and at 10^12 turns the state store becomes the job's largest
    table. The TTL is EVENT-time (watermark-driven, ``withWatermark`` +
    EventTimeTimeout), so job downtime or replay does NOT evict live
    conversations — a key times out only when the stream's event time has
    really advanced past its last turn by the TTL. For TTL ≥ the session
    gap, eviction matches the gap rule: a resumed conversation starts a
    new session anyway. Because session_id restarts at 0 after eviction,
    the output carries ``session_start_ts`` (the first turn ts of the
    row's session) — key sessions by (conv_id, session_start_ts) when
    conversations can outlive the TTL.

    The TTL requires a watermark, and the watermark's late-data filter is
    GLOBAL: a conversation whose events lag other conversations by more
    than the delay gets rows dropped even if each conversation is in order
    internally. ``watermark_delay_s`` bounds that cross-entity skew and
    defaults to ``gap_seconds`` (a conversation further behind than the
    session gap would start a new session anyway); without a TTL no
    watermark is applied and nothing is ever dropped. Since the watermark
    trails max event time by the delay, eviction effectively happens once
    event time passes a key's last turn by TTL + delay — size the TTL with
    the delay in mind.

    STATE-SCHEMA NOTE: the carried state is
    (last_ts_us, last_role, session_id, session_start_us); checkpoints
    written by versions without ``session_start_us`` cannot be restarted
    against this operator — discard the checkpoint and reprocess.
    ``last_role`` is NULL when the entity's last turn had a NULL role;
    earlier versions stored the string ``'None'`` there, and state written
    by them keeps it: the next turn of such a key reads ``prior_role =
    'None'`` (the literal is not mapped back, since a real role may be
    spelled that way).
    """
    if state_ttl_s is not None and not state_ttl_s > 0:
        raise ValueError(f"state_ttl_s must be > 0, got {state_ttl_s}")
    if max_disorder_s is not None and not max_disorder_s >= 0:
        raise ValueError(f"max_disorder_s must be >= 0, got {max_disorder_s}")
    use_ttl = state_ttl_s is not None
    gap_us = int(gap_seconds * 1_000_000)

    def session(key, o, ts, ts_us, roles, carried):
        """The session fold of both arrival modes, over rows already in
        (order, ts) order. ``carried`` = (last_ts_us, last_role,
        session_id, session_start_us), None where nothing was carried.
        Returns the output rows and the carried tuple after them. NumPy
        end-to-end: it runs once per entity per micro-batch (15k calls a
        batch at sf1.0), where per-call pandas fixed costs would dominate."""
        import numpy as np
        import pandas as pd

        last_ts_us, last_role, session_id, session_start_us = carried
        n = len(ts_us)
        # gap vs previous row, first row vs carried state (nothing carried
        # -> the first row never opens a boundary, matching the NaN-gap
        # fillna of the batch formulation)
        b = np.empty(n, dtype=bool)
        b[1:] = (ts_us[1:] - ts_us[:-1]) > gap_us
        b[0] = (ts_us[0] - last_ts_us) > gap_us if last_ts_us is not None else False
        sess = session_id + np.cumsum(b)
        prior = np.empty(n, dtype=object)
        prior[1:] = roles[:-1]
        prior[0] = last_role
        # session epoch: ts of the session's first turn, carried across
        # batches — the stable session key when ids can restart after a TTL
        bidx = np.where(b, np.arange(n), -1)
        run = np.maximum.accumulate(bidx)
        first_start = (
            session_start_us
            if (not b[0] and session_start_us is not None)
            else int(ts_us[0])
        )
        start_us = np.where(run >= 0, ts_us[np.maximum(run, 0)], first_start)
        out = pd.DataFrame(
            {
                entity_col: key[0],
                order_col: o,
                ts_col: ts,
                "role": roles,
                "prior_role": prior,
                "session_id": sess.astype("int32"),
                "session_start_ts": pd.to_datetime(start_us, unit="us"),
            }
        )
        last = None if pd.isna(roles[-1]) else str(roles[-1])  # NULL stays NULL
        return out, (int(ts_us[-1]), last, int(sess[-1]), int(start_us[-1]))

    if max_disorder_s is None:
        if max_pending is not None:
            raise ValueError("max_pending requires max_disorder_s (no buffer otherwise)")
        delay = gap_seconds if watermark_delay_s is None else watermark_delay_s
        if use_ttl and delay < 0:
            raise ValueError(f"watermark_delay_s must be >= 0, got {delay}")
        ttl_ms = int(state_ttl_s * 1000) if use_ttl else 0
        state_schema = (
            "last_ts_us long, last_role string, session_id int, session_start_us long"
        )

        def fold(key, rows, carried, wm_ms):
            import numpy as np

            if rows is None:
                # event time advanced past this conversation's last turn by
                # the TTL: evict — a later resume starts fresh, which for
                # TTL ≥ gap is what the gap rule produces anyway
                return None, None, None
            o = rows[order_col].to_numpy()
            ts = rows[ts_col].to_numpy()
            ts_us = ts.astype("datetime64[us]").astype("int64")
            # stable (order, ts) sort: lexsort's last key is primary
            perm = np.lexsort((ts_us, o))
            out, carried = session(
                key, o[perm], ts[perm], ts_us[perm], rows["role"].to_numpy()[perm],
                carried or (None, None, 0, None),
            )
            # event-time timeout: fires only when the WATERMARK (not the
            # wall clock) passes last turn + TTL, so downtime/replay never
            # evicts live conversations
            return out, carried, carried[0] // 1000 + ttl_ms if use_ttl else None

    else:
        if not use_ttl:
            raise ValueError(
                "max_disorder_s requires state_ttl_s: buffered tail rows "
                "flush on the event-time timeout — without one they would "
                "sit in state forever"
            )
        if max_pending is not None and max_pending < 1:
            raise ValueError(f"max_pending must be >= 1, got {max_pending}")
        delay = (
            max(gap_seconds, max_disorder_s)
            if watermark_delay_s is None else watermark_delay_s
        )
        if delay < max_disorder_s:
            raise ValueError(
                f"watermark_delay_s ({delay}) must be >= max_disorder_s "
                f"({max_disorder_s}): Spark's global late filter would drop rows "
                "inside the promised disorder bound"
            )
        o_type = stream_df.schema[order_col].dataType.simpleString()
        state_schema = (
            "last_ts_us long, last_order long, last_role string, session_id int, "
            "session_start_us long, max_seen_us long, "
            "pend_order array<long>, pend_ts_us array<long>, pend_role array<string>"
        )
        fold = _disorder_fold(
            session, order_col, ts_col,
            "int32" if o_type in ("int", "smallint") else "int64",
            max_disorder_s, state_ttl_s, max_pending,
        )

    return _keyed_state_stream(
        stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp")),
        entity_col,
        [entity_col, order_col, ts_col],
        "role string, prior_role string, session_id int, session_start_ts timestamp",
        state_schema,
        fold,
        (ts_col, delay) if use_ttl else None,
    )


def _disorder_fold(
    session: Callable,
    order_col: str,
    ts_col: str,
    order_np: str,
    max_disorder_s: float,
    state_ttl_s: float,
    max_pending: int | None,
) -> Callable:
    """The bounded-disorder mode's fold: per-entity buffering + ordered
    emission through the shared ``session`` fold.

    Per-entity state additionally carries the PENDING buffer (rows not yet
    safe to emit) and the emitted frontier (last emitted (order, ts)); -1
    marks "nothing emitted yet". A row is emitted once the entity's max
    seen event time passes its ts by ``max_disorder_s`` (data path) or
    once the GLOBAL watermark passes its ts (timeout path — at that point
    Spark itself guarantees nothing older can arrive). Rows at or behind
    the emitted frontier are dropped — beyond-bound late data, the
    per-entity mirror of watermark drops.

    The frontier is the last emitted **(order, ts) pair, compared
    lexicographically** — exactly the batch formulation's sort order. A
    row whose ORDER advances past the frontier but whose ts regresses
    (inconsistent transcript data) is therefore kept, and its features
    (negative gap, same session) equal what the batch twin computes for
    the same rows — stream ≡ batch holds for inconsistent data too; the
    ts-based sealing only delays emission, never reorders it relative to
    the (order, ts) sort.
    """
    dis_us = int(max_disorder_s * 1_000_000)
    ttl_us = int(state_ttl_s * 1_000_000)

    def _emit(key, pend, st, upto_us, force_n: int = 0):
        """Emit pending rows with ts_us <= upto_us in (order, ts) order.
        ``pend``: (o, t, r) numpy arrays; ``st``: state tuple. Returns
        (out_pdf | None, new_pend, new_st). ``force_n`` additionally seals
        the first N rows of the (order, ts) sort regardless of their ts —
        the max_pending overflow flush; OR-ing a prefix mask into the
        cummax mask keeps the sealed set a prefix, so emission stays
        prefix-closed and ordered."""
        import numpy as np
        import pandas as pd

        last_ts_us, last_order, last_role, session_id, session_start_us, max_seen = st
        po, pt, pr = pend
        # prefix-closed emission: a row may emit only if EVERY pending row
        # before it in (order, ts) is sealed too (running max of ts ≤ seal)
        # — so emission is always in (order, ts) sequence even when a row's
        # ts regresses while its order advances (inconsistent data), and
        # the features equal the batch twin's for the same rows
        perm = np.lexsort((pt, po))
        po, pt, pr = po[perm], pt[perm], pr[perm]
        sealed = np.maximum.accumulate(pt) <= upto_us if len(pt) else np.zeros(0, bool)
        if force_n > 0:
            sealed = sealed | (np.arange(len(po)) < force_n)
        keep = ~sealed
        rest = (po[keep], pt[keep], pr[keep])
        if not sealed.any():
            return None, rest, st
        ts_us = pt[sealed]
        o_take = po[sealed]
        out, (l_ts, l_role, sid, s_start) = session(
            key, o_take.astype(order_np), pd.to_datetime(ts_us, unit="us"), ts_us,
            pr[sealed],
            (
                last_ts_us if last_ts_us >= 0 else None, last_role, session_id,
                session_start_us if session_start_us >= 0 else None,
            ),
        )
        return out, rest, (l_ts, int(o_take[-1]), l_role, sid, s_start, max_seen)

    def fold(key, rows, state, wm_ms):
        import numpy as np

        if state is not None:
            (l_ts, l_o, l_r, sid, s_start, mx, po, pt, pr) = state
            st = (l_ts, l_o, l_r, sid, s_start, mx)
            pend = (
                np.asarray(po, dtype=np.int64),
                np.asarray(pt, dtype=np.int64),
                np.asarray(pr, dtype=object),
            )
        else:
            st = (-1, -1, None, 0, -1, -1)
            pend = (
                np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=np.int64),
                np.zeros(0, dtype=object),
            )

        if rows is None:
            # flush everything the GLOBAL watermark has sealed: nothing
            # older can arrive past it, so emission is final and ordered
            out, pend, st = _emit(key, pend, st, wm_ms * 1000)
            if len(pend[0]) == 0 and wm_ms * 1000 >= st[5] + ttl_us:
                return out, None, None
        else:
            no = rows[order_col].to_numpy().astype(np.int64)
            nt = rows[ts_col].to_numpy().astype("datetime64[us]").astype("int64")
            nr = rows["role"].to_numpy().astype(object)
            # drop beyond-bound late rows: at or behind the emitted frontier
            # (same fate Spark's watermark gives globally-late rows)
            if st[0] >= 0:
                frontier = (no > st[1]) | ((no == st[1]) & (nt > st[0]))
                no, nt, nr = no[frontier], nt[frontier], nr[frontier]
            pend = (
                np.concatenate([pend[0], no]),
                np.concatenate([pend[1], nt]),
                np.concatenate([pend[2], nr]),
            )
            mx = max(st[5], int(nt.max()) if len(nt) else -1)
            st = (*st[:5], mx)
            # per-entity watermark: emit rows sealed by max seen - disorder;
            # max_pending overflow force-flushes the oldest prefix so the
            # buffer is <= max_pending after every batch (state bound)
            force_n = 0
            if max_pending is not None and len(pend[0]) > max_pending:
                force_n = len(pend[0]) - max_pending
            out, pend, st = _emit(key, pend, st, mx - dis_us, force_n=force_n)
        # next wake-up: the FIRST pending row's flush point (pend is
        # (order, ts)-sorted; prefix-closed emission means nothing can emit
        # before it does), else eviction; Spark requires the timestamp to
        # be beyond the current watermark
        if len(pend[0]):
            wake_ms = int(pend[1][0] // 1000) + 1
        else:
            wake_ms = (st[5] + ttl_us) // 1000
        new = (*st, pend[0].tolist(), pend[1].tolist(), pend[2].tolist())
        return out, new, max(wake_ms, wm_ms + 1)

    return fold


def asof_enrich_stream(
    stream_df: DataFrame,
    store_df: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: dict[str, str],
    allow_exact_matches: bool = False,
) -> DataFrame:
    """Stream-static point-in-time enrichment: each streaming row picks up
    the latest strictly-prior store value for its entity — the store
    read-through (S7/J2) applied to a live stream.

    Uses the broadcast as-of strategy, which is STATELESS per streaming row
    (the static store collapses to one sorted array per entity, broadcast;
    the lookup is a row-local array scan) — so it composes with any
    downstream streaming operator and needs no watermark or state store.
    This is the 100 TB posture for stream enrichment too: the stream never
    shuffles, only the (small) store does.
    """
    from funcify_feature_eng_spark.operators.asof import asof_join

    return asof_join(
        stream_df.withColumn(left_ts, F.col(left_ts).cast("timestamp")),
        store_df,
        on=list(on),
        left_ts=left_ts,
        right_ts=right_ts,
        value_cols=value_cols,
        allow_exact_matches=allow_exact_matches,
        strategy="broadcast",
    )


def session_windows_stream(
    stream_df: DataFrame,
    entity_col: str = "conv_id",
    ts_col: str = "ts",
    gap_seconds: float = 1800.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-based sessionization with late-data handling.

    ``session_window`` merges events closer than the gap into one session
    per entity; the watermark bounds state and admits late turns up to the
    horizon. Returns one row per closed session: entity, start, end, n_turns.
    """
    # watermarks require TIMESTAMP (not NTZ); cast is identity under UTC
    stream_df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(entity_col),
            F.session_window(F.col(ts_col), f"{int(gap_seconds)} seconds"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            entity_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
        )
    )


def stateful_kmv_stream(
    stream_df: DataFrame,
    *,
    group_col: str,
    hash_col: str,
    k: int = 128,
) -> DataFrame:
    """Streaming KMV distinct-count sketch with cross-batch state: per
    group, maintain the ``k`` smallest DISTINCT hashes seen across ALL
    micro-batches (operators/sketches.py algebra — the merge is a
    union+trim, so the final state equals the batch sketch of the whole
    stream EXACTLY; that stream ≡ batch identity is what the driver gate
    hashes against the kmv_distinct fixture oracle).

    Emits one row per (group, batch-with-arrivals): the CUMULATIVE sketch
    and a monotone ``rows_cum`` counter — downstream takes the max-counter
    row per group for the final estimate, or reads intermediate rows as a
    live cardinality curve. Hashes are computed JVM-side BEFORE the
    stateful stage (pass an ``xxhash64 & (2^63-1)`` column as ``hash_col``);
    the Python state update only merges ≤k-element long arrays — O(k log k)
    per group-batch, no text crosses into Python. State is a bounded
    ≤k-element array per group with NO timeout (a distinct-count over the
    full stream needs its sketch by definition; for sliding horizons attach
    a watermark TTL as in :func:`stateful_turn_features_stream`).

    Reference anchor: the reference's stream module recomputes per-message
    features only (StreamFunctions.kt) — cross-batch mergeable summaries
    are the capability a Spark user adds for 10^12-turn monitoring.
    """

    def fold(key, rows, state, wm_ms):
        import pandas as pd

        old_kmv, old_rows = state or ((), 0)
        merged = sorted(set(old_kmv) | set(int(h) for h in rows[hash_col]))[:k]
        rows_cum = old_rows + len(rows)
        out = pd.DataFrame({group_col: [key[0]], "rows_cum": [rows_cum], "kmv": [merged]})
        return out, (merged, rows_cum), None

    return _keyed_state_stream(
        stream_df, group_col, [group_col], "rows_cum bigint, kmv array<bigint>",
        "kmv array<bigint>, rows bigint", fold,
    )


def stateful_dedup_stream(
    stream_df: DataFrame,
    *,
    id_col: str,
    key_col: str,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Streaming first-occurrence exact dedup with cross-batch state.

    Emits exactly one row per distinct ``key_col`` value across the whole
    stream: the minimum-``id_col`` row of the key's FIRST micro-batch of
    arrival; every later occurrence (same batch or any later batch) is
    suppressed by a per-key seen-marker in GroupState. Unlike streaming
    ``dropDuplicates`` the within-batch winner is DETERMINISTIC (min id),
    not arrival order — so with batches ingested in id order the stream
    output equals the batch semantics "keep the min-id row per key"
    (``operators/dedup.py::exact_dedup``), which is what the driver gate
    hashes.

    The shuffle and the state key carry ``xxhash64(key_col)`` (8 bytes),
    never the raw text — the same fingerprint contract (and the same
    2^-64 collision caveat) as the batch exact dedup. State is one seen-
    fingerprint SET per coarse bucket (``pmod(fp, n_buckets)``) with NO
    timeout: global exact dedup needs the full seen set by definition, and
    bucketing only re-shards it — total state bytes equal the per-key
    formulation while the per-micro-batch Python-group invocations drop
    from one per DISTINCT KEY to one per bucket (measured 45s → seconds at
    a 50k-key sf1.0 batch: applyInPandasWithState pays ~ms of protocol per
    group, so distinct-key-grained groups were pure overhead). At 100 TB
    raise ``n_buckets`` with the shard count or, when the dedup horizon is
    bounded in time, add a watermark TTL as in
    :func:`stateful_turn_features_stream`.
    """
    out_fields = [id_col, *[c for c in keep_cols if c != id_col]]
    n_buckets = 4096

    def fold(key, rows, state, wm_ms):
        seen = set(state[0]) if state is not None else set()
        fresh = rows[~rows["__fp"].isin(seen)]
        if not len(fresh):
            return None, state, None
        # deterministic within-batch winner: the min-id row per key
        # (NOT arrival order), exactly the per-key formulation's rule
        winners = fresh.loc[fresh.groupby("__fp", sort=False)[id_col].idxmin(), out_fields]
        seen.update(int(f) for f in fresh["__fp"].unique())
        return winners, (list(seen),), None

    src = stream_df.withColumn("__fp", F.xxhash64(F.col(key_col))).withColumn(
        "__bk", F.pmod(F.col("__fp"), F.lit(n_buckets))
    )
    return _keyed_state_stream(src, "__bk", out_fields, "", "seen array<long>", fold)


def stateful_role_audit_stream(
    stream_df: DataFrame,
    *,
    entity_col: str,
    order: Sequence[str],
    role_col: str,
    allowed: Sequence[tuple[str, str]],
    allowed_start: Sequence[str] | None = None,
) -> DataFrame:
    """Streaming role-machine audit with cross-batch state — the stream
    twin of :mod:`..operators.transcript_qa`'s ``role_sequence_audit``.

    Per entity the state carries (n_turns, n_violations,
    first_violation_ord, last_role) across micro-batches, so a transition
    that STRADDLES a batch boundary is judged exactly like the batch
    operator judges it (the stream ≡ batch identity the gate hashes).
    Emits one CUMULATIVE audit row per (entity, batch-with-arrivals);
    downstream takes each entity's max-``n_turns`` row for the final
    audit. Rows are sorted by ``order`` within each batch and batches
    must arrive entity-monotone in that order (the
    ``stateful_turn_features_stream`` in-order contract; use the
    disorder-buffered variant's pattern otherwise).

    Batch-parity rule (mirrors the window formulation): a turn whose
    PREVIOUS role is NULL — first turn, or right after a NULL-role turn —
    is judged by ``allowed_start`` (or just non-NULL when no start set is
    declared); other turns by membership of (prev, role) in ``allowed``;
    a NULL role is always a violation. State is O(1) per entity with no
    timeout; attach a watermark TTL for sliding-horizon audits.
    """
    allowed_set = set(allowed)
    start_set = set(allowed_start) if allowed_start is not None else None
    order = list(order)

    def fold(key, rows, state, wm_ms):
        import numpy as np
        import pandas as pd

        # stable multi-key sort via lexsort (what sort_values(list) runs
        # internally) without the per-call DataFrame reindex cost
        perm = np.lexsort(tuple(rows[c].to_numpy() for c in reversed(order)))
        roles_sorted = rows[role_col].to_numpy()[perm]
        n, v, ford, last, has_last = state or (0, 0, 0, None, False)
        for role in roles_sorted:
            role = None if pd.isna(role) else role
            n += 1
            if not has_last or last is None:
                ok = (role in start_set) if start_set is not None else role is not None
            else:
                ok = role is not None and (last, role) in allowed_set
            if not ok:
                v += 1
                if ford == 0:
                    ford = n
            last, has_last = role, True
        out = pd.DataFrame(
            {
                entity_col: [key[0]],
                "n_turns": [n],
                "n_violations": [v],
                "first_violation_ord": [ford],
                "is_valid": [v == 0],
            }
        )
        return out, (n, v, ford, last, has_last), None

    return _keyed_state_stream(
        stream_df, entity_col, [entity_col],
        "n_turns bigint, n_violations bigint, first_violation_ord int, is_valid boolean",
        "n bigint, v bigint, ford int, last string, has_last boolean", fold,
    )


def quality_monitor_stream(
    stream_df: DataFrame,
    constraints: Sequence,
    ledger_dir: str,
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Continuous data-quality monitoring: one mergeable state per batch.

    Each micro-batch runs ``operators.checks.check_state`` (O(1) counters
    per constraint + per-key frequency rows for ``unique``) and APPENDS
    the result, stamped with ``batch_id``, to the parquet ``ledger_dir``
    — the durable metric ledger. Nothing data-sized crosses a batch
    boundary and no state store grows in the executors; the ledger IS
    the state, exactly the Deequ incremental posture.

    Downstream reads of the ledger give, without touching the stream:

    - whole-corpus-so-far verdicts: ``check_verdicts(
      merge_check_states(spark.read.parquet(ledger_dir)), constraints)``
    - per-batch drift: per-``batch_id`` verdicts →
      ``detect_metric_anomalies`` over the series.
    """
    from funcify_feature_eng_spark.operators.checks import check_state

    # no coalesce: `unique` frequency rows are distinct-keys-sized, which
    # at 100 TB must not funnel through one writer task
    return _start_ledger_stream(
        stream_df,
        lambda batch_df: check_state(batch_df, constraints),
        ledger_dir, checkpoint_dir, trigger_seconds,
    )


def calibration_monitor_stream(
    stream_df: DataFrame,
    ledger_dir: str,
    *,
    score_e6: str,
    label: str,
    n_bins: int = 10,
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Continuous calibration monitoring for a scored stream — the
    calibration twin of :func:`quality_monitor_stream` and the online
    eye on a gating model ("is the 0.9 bucket still right 90% of the
    time this hour?").

    Each micro-batch aggregates to its ``operators.calibration.
    calibration_state`` (≤ n_bins rows of pure integer sums) and
    APPENDS it, stamped with ``batch_id``, to the parquet ledger. The
    ledger IS the state — executor state never grows. Downstream, both
    views come from the ledger without touching the stream:

    - whole-corpus-so-far: ``reliability_from_state(
      merge_calibration_states(read(ledger)))``;
    - per-batch drift: per-``batch_id`` ECE series → feed
      ``operators.checks.detect_metric_anomalies``.
    """
    from funcify_feature_eng_spark.operators.calibration import (
        calibration_state,
    )

    return _start_ledger_stream(
        stream_df,
        lambda batch_df: calibration_state(
            batch_df, score_e6=score_e6, label=label, n_bins=n_bins
        ).coalesce(1),  # <= n_bins rows: one writer task is correct here
        ledger_dir, checkpoint_dir, trigger_seconds,
    )


def decay_monitor_stream(
    stream_df: DataFrame,
    ledger_dir: str,
    *,
    value_col: str,
    ts_col: str,
    keys: list[str],
    ref_ts: str,
    halflife_s: int,
    max_pow: int = 40,
    checkpoint_dir: str | None = None,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Online recency-weighted counters: the decay twin of
    :func:`quality_monitor_stream` / :func:`calibration_monitor_stream`.

    Each micro-batch aggregates to its ``operators.decay.decay_state``
    (key-grain rows of exact integer sums — weights are fixed by the
    PINNED ref_ts, so a row's contribution is batch-order independent)
    and APPENDS it, stamped with ``batch_id``, to the parquet ledger.
    The ledger IS the state; executor state never grows. Whole-corpus-
    so-far counters come from ``decay_from_state(merge_decay_states(
    read(ledger)))`` — provably equal to the one-shot batch rollup
    because the state merge is plain addition (the stream ≡ batch gate
    hashes exactly that).

    Note the ref_ts is a PINNED instant, not "now": a production job
    re-pins it per serving snapshot (weights then shift by an exact
    power of two per elapsed half-life — old states remain mergeable
    after a single integer rescale as long as the shift stays within
    max_pow)."""
    from funcify_feature_eng_spark.operators.decay import decay_state

    return _start_ledger_stream(
        stream_df,
        lambda batch_df: decay_state(
            batch_df, value_col=value_col, ts_col=ts_col, keys=keys,
            ref_ts=ref_ts, halflife_s=halflife_s, max_pow=max_pow,
        ),
        ledger_dir, checkpoint_dir, trigger_seconds,
    )


def cms_monitor_stream(
    stream_df: DataFrame,
    *,
    value_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Streaming count-min frequency monitor: the live twin of
    ``operators/sketches.py::cms_sketch``, maintained as a NATIVE
    update-mode streaming aggregate — no Python stage, no custom state
    handler; the state store holds at most ``width x depth`` counter rows
    no matter how many events or distinct values flow through (the whole
    point of sketching a 10^12-row stream).

    Each arriving value increments one bucket per depth row
    (``xxhash64(d, value) pmod width`` — byte-identical to the batch
    sketch and the pure-Python fixture twin), so after ANY prefix of the
    stream the counters equal ``cms_sketch`` of that prefix EXACTLY:
    stream ≡ batch, the property the driver gate hashes. Counters are
    monotone; a downstream reader of an update-mode sink takes the max
    cnt per (d, bucket) for the current sketch, probes it with
    ``cms_estimate``, or feeds it to ``heavy_hitters(..., sketch=...)``
    for an exact frequent-items readout.

    Reference anchor: the reference's stream module recomputes
    per-message features only (``stream-functions/.../StreamFunctions.kt``)
    — cross-batch mergeable frequency state is the Spark-side capability
    on top (SURVEY §2.8 extension beside stateful_kmv_stream).
    """
    from funcify_feature_eng_spark.operators.sketches import _hash_positions

    if width < 2 or depth < 1:
        raise ValueError(
            f"cms_monitor_stream: need width >= 2, depth >= 1; got {width}, {depth}"
        )
    ex = stream_df.filter(F.col(value_col).isNotNull()).select(
        F.posexplode(_hash_positions(value_col, width, depth)).alias("d", "bucket")
    )
    return ex.groupBy("d", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def stateful_throttle_stream(
    stream_df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    order_col: str,
    id_col: str,
    cap: int,
    rate_num: int,
    rate_den_s: int,
    cost: int = 1,
) -> DataFrame:
    """Streaming token-bucket admission with cross-batch state — the
    live twin of ``operators/throttle.py::token_bucket_audit``. Per
    entity, GroupState carries (tokens on the rate_den·1e6 micro-token
    grid, last-event micros); each micro-batch replays its rows in
    (``ts_col``, ``order_col``) order through the identical integer
    fold and emits one decision row per event.

    Stream ≡ batch contract: with micro-batches split in event-time
    order (no entity's rows interleave across the boundary out of
    order), the emitted decisions equal the batch replay of the whole
    stream EXACTLY — the same pinned semantics the recursive-CTE oracle
    evaluates. State is O(1) per entity (two longs) with NO timeout
    (an admission counter is lifetime state; add a watermark TTL as in
    :func:`stateful_turn_features_stream` for bounded horizons).

    The Python stage only folds integers over already-shuffled Arrow
    batches — no text, no float."""
    if cap < 1 or rate_num < 1 or rate_den_s < 1 or cost < 1:
        raise ValueError(
            "stateful_throttle_stream: cap, rate_num, rate_den_s, cost >= 1"
        )
    unit = int(rate_den_s) * 1_000_000
    cap_u, cost_u = int(cap) * unit, int(cost) * unit

    def fold(key, rows, state, wm_ms):
        import pandas as pd

        # batch-twin contract (throttle.py: "NULL entity/ts rows are
        # excluded"): a NULL entity key emits nothing and keeps no state,
        # and NaT rows are dropped BEFORE the fold — pandas would otherwise
        # silently turn NaT into INT64_MIN and poison `prev` for the
        # entity's every later batch (refill ~ 9.2e18 -> all admitted).
        # pd.isna, not `is None`: a NULL numeric key reaches the Python
        # worker as NaN (pandas has no null in float columns); a genuine
        # float-NaN key is indistinguishable and also dropped
        if key[0] is None or pd.isna(key[0]):
            return None, state, None
        import numpy as np

        # numpy setup (the fold itself is inherently sequential but ~ns per
        # step; per-call pandas fixed costs dominated the stream at 15k
        # entity groups per micro-batch)
        t_all = rows[ts_col].to_numpy()
        m = ~np.isnat(t_all)
        if not m.any():
            return None, state, None
        # explicit [us] normalization (same as the sibling folds above):
        # Arrow may hand pandas datetime64[ns] OR [us] depending on the
        # conversion path, and a raw astype('int64') on [us] would be read
        # as millis here — a silent 1000x refill error
        t_us_np = t_all[m].astype("datetime64[us]").astype("int64")
        o_np = rows[order_col].to_numpy()[m]
        id_np = rows[id_col].to_numpy()[m]
        # stable (ts, order) sort — lexsort's last key is primary
        perm = np.lexsort((o_np, t_us_np))
        t_us = t_us_np[perm].tolist()
        id_sorted = id_np[perm]
        tok, prev = state or (cap_u, None)
        ids, adm, after = [], [], []
        for i, t in zip(id_sorted.tolist(), t_us):
            refill = 0 if prev is None else (t - prev) * rate_num
            avail = min(cap_u, tok + refill)
            ok = avail >= cost_u
            tok = avail - cost_u if ok else avail
            prev = t
            ids.append(i)
            adm.append(ok)
            after.append(tok)
        out = pd.DataFrame(
            {
                entity_col: [key[0]] * len(ids),
                id_col: ids,
                "admitted": adm,
                "tokens_after_e6den": after,
            }
        )
        return out, (int(tok), None if prev is None else int(prev)), None

    return _keyed_state_stream(
        stream_df, entity_col, [entity_col, id_col],
        "admitted boolean, tokens_after_e6den bigint", "tok bigint, prev bigint", fold,
    )
