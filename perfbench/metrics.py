"""Metric names, units and how each is computed from a run's records.

Every workload reports every metric. A layer that a workload's operations
do not use is forced alone on the workload's inputs in the traced run, so
its numbers are measured there too; the prediction for such a pairing is
that the workload's end-to-end numbers do not move with it.
"""

from __future__ import annotations

from spans import self_time_by_name
from stats import median

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_ms", "ms"),
)

# (metric, unit, median self time of the span with this name, scale)
_SPAN_LAYERS = (
    ("plans.materialize_call_ms", "ms", "plans.materialize_call", 1000.0),
    ("plans.spark_plan_ms", "ms", "plans.spark_plan", 1000.0),
    ("store.publish_s", "s", "store.publish", 1.0),
    ("store.read_through_s", "s", "store.read_through", 1.0),
    ("store.compact_s", "s", "store.compact", 1.0),
    ("plans.graphql_lower_ms", "ms", "plans.graphql_lower", 1000.0),
    ("plans.graphql_validate_ms", "ms", "plans.graphql_validate", 1000.0),
    ("plans.graphql_call_ms", "ms", "plans.graphql_call", 1000.0),
    ("pipeline.run_call_ms", "ms", "pipeline.run_call", 1000.0),
    ("trace.op_self_ms", "ms", "op", 1000.0),
)

# single layers forced alone (Workload.layer)
_WORKLOAD_LAYERS = (
    ("functions.transformer_exec_s", "s"),
    ("operators.windows.exec_s", "s"),
    ("operators.asof.exec_s", "s"),
    ("operators.dedup.exact_s", "s"),
    ("operators.dedup.minhash_pairs_s", "s"),
    ("operators.dedup.near_pairs", "count"),
    ("operators.graph.components_s", "s"),
    ("pipeline.survivors", "count"),
)

_SPARK = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.sql_executions", "count"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.rows_scanned_per_row_returned", "ratio"),
    ("spark.driver_gap_ms", "ms"),
)

_OTHER = (
    ("session.jvm_launch_s", "s"),
    ("session.start_s", "s"),
    ("session.load_s", "s"),
    ("session.warmup_s", "s"),
    ("store.read_amplification", "ratio"),
    ("store.bytes_on_disk", "B"),
    ("store.files", "count"),
    ("streaming.micro_batches", "count"),
    ("streaming.trigger_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"),
    ("streaming.wal_commit_ms_p50", "ms"),
    ("trace.overhead_pct", "%"),
    ("trace.spans", "count"),
    ("machine.canary_ms", "ms"),
    ("machine.steal_pct", "%"),
)

PER_LAYER = (
    tuple((m, u) for m, u, _s, _k in _SPAN_LAYERS) + _WORKLOAD_LAYERS + _SPARK + _OTHER
)


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return median(xs) if xs else default


def end_to_end(setups: list[dict], ops: list[dict]) -> dict:
    """``setups``: one dict per set-up with start/load/warmup seconds;
    ``ops``: one dict per successful operation with its seconds."""
    return {
        "setup_s": _med(s["start"] + s["load"] + s["warmup"] for s in setups),
        "op_p50_ms": _med(o["seconds"] for o in ops) * 1000.0,
    }


def per_layer(
    setups: list[dict],
    spans: list,
    workload_layer: dict,
    counter_samples: list[dict],
    space: dict | None,
    live_points: int,
    progress: list[dict],
    untraced_ops: list[dict],
    traced_ops: list[dict],
    machine: dict,
) -> dict:
    out = dict.fromkeys((m for m, _u in PER_LAYER), 0.0)
    self_t = self_time_by_name(spans)
    for metric, _u, span, scale in _SPAN_LAYERS:
        # a layer the workload's operations do not use was probed alone
        out[metric] = workload_layer.get(metric, _med(self_t.get(span, ())) * scale)
    for metric, _u in _WORKLOAD_LAYERS:
        out[metric] = float(workload_layer.get(metric, 0.0))
    for metric, _u in _SPARK:
        key = metric.split(".", 1)[1]
        if key == "rows_scanned_per_row_returned":
            vals = [c["rows_scanned"] / c["rows_returned"] for c in counter_samples
                    if c.get("rows_returned")]
        else:
            vals = [c[key] for c in counter_samples]
        out[metric] = float(_med(vals))
    out["session.jvm_launch_s"] = setups[0]["start"]
    out["session.start_s"] = _med(s["start"] for s in setups)
    out["session.load_s"] = _med(s["load"] for s in setups)
    out["session.warmup_s"] = _med(s["warmup"] for s in setups)
    if space:
        out["store.read_amplification"] = space["rows"] / max(live_points, 1)
        out["store.bytes_on_disk"] = float(space["bytes"])
        out["store.files"] = float(space["files"])
    if progress:
        by_query: dict[str, int] = {}
        for p in progress:
            by_query[p["runId"]] = by_query.get(p["runId"], 0) + 1
        out["streaming.micro_batches"] = _med(by_query.values())
        dur = [p["durationMs"] for p in progress]
        out["streaming.trigger_ms_p50"] = _med(d.get("triggerExecution", 0) for d in dur)
        out["streaming.add_batch_ms_p50"] = _med(d.get("addBatch", 0) for d in dur)
        out["streaming.wal_commit_ms_p50"] = _med(d.get("walCommit", 0) for d in dur)
    if untraced_ops and traced_ops:
        base = _med(o["seconds"] for o in untraced_ops)
        out["trace.overhead_pct"] = (_med(o["seconds"] for o in traced_ops) / base - 1.0) * 100.0
    out["trace.spans"] = float(len(spans))
    out["machine.canary_ms"] = _med(machine["canary_ms"])
    out["machine.steal_pct"] = machine["steal_during"] * 100.0
    return out


def with_units(values: dict, spec) -> dict:
    units = dict(spec)
    return {k: {"value": float(values[k]), "unit": units[k]} for k, _u in spec}
