"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload pit_batch --seeds 1 2 3 4 5

Runs the benchmark untraced once per seed (one process at a time, each for
BENCHMARK.json's ``run_seconds``) and prints, per
end-to-end metric, the median over the runs and the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a share
of the median, next to the metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if res.returncode != 0:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
            continue
        last = json.loads(res.stdout.strip().splitlines()[-1])
        if not last["correct"]:
            print(f"seed {seed}: failed {last['failed']} of {last['attempted']}", file=sys.stderr)
        for name, m in last["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(json.dumps({"seed": seed, **{k: round(v["value"], 4)
                                           for k, v in last["metrics"].items()}}), flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for name, vals in values.items():
        q1, _q2, q3 = statistics.quantiles(vals, n=4)
        print(f"{name:40s} median {statistics.median(vals):12.4f}  "
              f"spread {(q3 - q1) / statistics.median(vals):6.3f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
