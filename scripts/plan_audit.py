"""Physical-plan audit over every driver query.

Prints, per `queries()` entry: Exchange / SortMergeJoin / BroadcastHashJoin
/ window / scan counts from the executed plan, plus pushed filters on the
scans — the "is this the plan you'd want at 100x scale" check. Run after
operator changes; diff the table across rounds.

The `py4j` column counts the Python→JVM round trips spent building the
leaf's DataFrame (py4j's own object-release messages excluded): the
driver-side planning cost that Column construction and eager actions add
before any plan runs.

Usage: python scripts/plan_audit.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.clientserver import ClientServerConnection

import __spark_entry__ as entrymod
from funcify_feature_eng_spark import get_spark


def round_trips(fn):
    """``(fn(), Python→JVM round trips it made)``, not counting py4j's
    object-release messages (sent whenever Python happens to collect)."""
    sent = [0]
    real = ClientServerConnection.send_command

    def counted(self, command, *a, **kw):
        if not command.startswith("m\nd\n"):
            sent[0] += 1
        return real(self, command, *a, **kw)

    ClientServerConnection.send_command = counted
    try:
        return fn(), sent[0]
    finally:
        ClientServerConnection.send_command = real


def audit(plan: str) -> dict[str, int]:
    return {
        "exchange": len(re.findall(r"\bExchange\b", plan)),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "window": plan.count("RunningWindowFunction") + plan.count("Window "),
        "scans": plan.count("FileScan") + plan.count("Scan parquet"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]+\]", plan)),
        "py_udf": plan.count("BatchEvalPython"),  # row-at-a-time Python = red flag
        "arrow": plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        + plan.count("FlatMapCoGroupsInPandas"),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--json"]
    write_json = "--json" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", master="local[8]")
    rows = []
    for name, fn in entrymod.queries().items():
        df, trips = round_trips(lambda: fn(spark, sf_dir))
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        a["py4j"] = trips
        rows.append((name, a))
    print(f"{'query':26s} {'exch':>4} {'smj':>4} {'bhj':>4} {'win':>4} "
          f"{'scan':>4} {'push':>4} {'pyudf':>5} {'arrow':>5} {'py4j':>6}")
    flagged = 0
    for name, a in rows:
        flag = ""
        if a["py_udf"]:
            flag = "  << row-at-a-time Python!"
            flagged += 1
        print(f"{name:26s} {a['exchange']:>4} {a['smj']:>4} {a['bhj']:>4} "
              f"{a['window']:>4} {a['scans']:>4} {a['pushed']:>4} "
              f"{a['py_udf']:>5} {a['arrow']:>5} {a['py4j']:>6}{flag}")
    spark.stop()
    if write_json:
        import json

        out_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "PLAN_AUDIT_local.json",
        )
        with open(out_path, "w") as fh:
            json.dump({n: a for n, a in rows}, fh, indent=1)
        print(f"wrote {out_path}")
    print("FLAGGED:", flagged)
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
