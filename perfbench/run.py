"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the workload's inputs from the
seed, sets up a local Spark session several times (median reported as
``setup_s``), runs the workload's operation in a closed loop for
``--seconds``, checks the outputs against an independent oracle and prints
the result as one JSON object on the last line of standard output. With
``--trace 1`` the metrics are the per-layer ones, taken from spans and
Spark counters recorded around each call; the line before it always holds
the workload's own named metrics and the machine context. A full record,
spans included, is written under ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_OPS = 2
DRIVER_MEM = "3g"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str):
    from funcify_feature_eng_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def _shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _measure(wl, spark, seconds, pick):
    """Closed loop, one client: run operations until ``seconds`` have passed
    (at least MIN_OPS attempts). ``pick(i)`` gives operation ``i`` its
    (tracer, counters). Returns (successful ops, failures)."""
    ops, failed, i = [], 0, 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or i < MIN_OPS:
        tracer, counters = pick(i)
        try:
            op = wl.op(spark, i, tracer, counters)
            op["traced"] = tracer.enabled
            ops.append(op)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
        i += 1
    return ops, failed


def run(args) -> tuple[dict, dict]:
    import machine
    import metrics
    from sparkstats import OpCounters
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r} (known: {sorted(WORKLOADS)})")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)

    wl = WORKLOADS[args.workload](args.seed, work)
    steal_before = machine.steal_window()
    spark = None
    setups = []
    off = Tracer(False)
    try:
        wl.generate()
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _session(work)
            t1 = time.perf_counter()
            wl.load(spark)
            t2 = time.perf_counter()
            wl.warmup(spark)
            t3 = time.perf_counter()
            setups.append({"start": t1 - t0, "load": t2 - t1, "warmup": t3 - t2})
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < wl.warm_seconds:
            wl.op(spark, -1, off, None)

        canary = [machine.canary_ms(spark)]
        meter = machine.StealMeter()
        meter.start()
        tracer = Tracer(bool(args.trace))
        if args.trace:
            # traced and untraced operations alternate, so the tracing
            # overhead is not confounded with warm-up or machine drift
            counters = OpCounters(spark)
            ops, failed = _measure(
                wl, spark, args.seconds, lambda i: (tracer, counters) if i % 2 else (off, None)
            )
        else:
            ops, failed = _measure(wl, spark, args.seconds, lambda i: (off, None))
        untraced = [o for o in ops if not o["traced"]]
        traced = [o for o in ops if o["traced"]]
        steal_during = meter.stop()
        canary.append(machine.canary_ms(spark))
        if args.trace:
            wl.layers(spark, tracer)
        attempted = len(ops) + failed + wl.probe_attempted
        failed += wl.check(spark, len(ops)) + wl.probe_failed
        rss = machine.peak_rss_mb(spark)
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    ctx = {
        "canary_ms": canary,
        "steal_before": steal_before,
        "steal_during": steal_during,
        "steal_after": machine.steal_window(),
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
    }
    if not ops:
        raise RuntimeError("every operation failed")
    if args.trace:
        values = metrics.per_layer(
            setups, tracer.spans, wl.layer, wl.counter_samples,
            wl.space[-1] if wl.space else None, wl.live_points, wl.progress,
            untraced, traced, ctx,
        )
        spec = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(setups, untraced)
        spec = metrics.END_TO_END
    named = wl.detail(untraced)
    named["setup_s"] = (metrics.end_to_end(setups, untraced)["setup_s"], "s")
    named["peak_rss_mb"] = (rss, "MB")
    named["failed_ratio"] = (failed / attempted, "ratio")
    detail = {k: {"value": float(v), "unit": u} for k, (v, u) in named.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics.with_units(values, spec),
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "result": result, "detail": detail, "machine": ctx,
        "setups": setups, "ops": ops, "counters": wl.counter_samples,
        "spans": tracer.to_json(),
    }
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary = {"workload": args.workload, "detail": detail, "machine": ctx}
    return summary, result


def main(argv=None) -> int:
    args = _args(argv)
    # the engine under test is the checkout's own source tree, never an
    # installed copy
    if not os.path.isfile(os.path.join(ROOT, "funcify_feature_eng_spark", "__init__.py")):
        print(f"perfbench: no funcify_feature_eng_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    summary, result = run(args)
    print(json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
