"""Spark engine counters for one timed operation, read from outside the
package.

Each operation runs under its own job group. Afterwards the in-process
status store (which is populated with ``spark.ui.enabled=false``) yields
the group's jobs, their stages and tasks, shuffle-write and spill bytes and
the rows the scans of its SQL executions returned (file and cache scans).
The driver gap is the operation's wall time minus the union
of its jobs' run intervals: planning, collects and other driver-side work.
"""

from __future__ import annotations

import time

from spans import union_length

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "sql_executions",
    "shuffle_write_bytes",
    "spill_bytes",
    "rows_scanned",
    "driver_gap_ms",
)


class OpCounters:
    """Tag an operation with a job group and read its counters afterwards."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq = 0

    def begin(self) -> dict:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, group)
        return {"group": group, "t0": time.time(), "sql0": self._sql.executionsCount()}

    def end(self, tok: dict) -> dict:
        t1 = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        out = dict.fromkeys(COUNTERS, 0)
        out["sql_executions"] = int(self._sql.executionsCount() - tok["sql0"])
        intervals = []
        tracker = self.sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(tok["group"]):
            out["jobs"] += 1
            try:
                jd = self._store.job(int(jid))
            except Exception:  # evicted from the status store; counted, not measured
                continue
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                start = sub.get().getTime() / 1000.0
                end = done.get().getTime() / 1000.0 if done.isDefined() else t1
                intervals.append((max(start, tok["t0"]), min(end, t1)))
            stage_ids = jd.stageIds()
            for k in range(stage_ids.size()):
                try:
                    sd = self._store.lastStageAttempt(int(stage_ids.apply(k)))
                except Exception:  # stage never submitted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(sd.numCompleteTasks())
                out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                out["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
        out["rows_scanned"] = self._rows_scanned(int(tok["sql0"]), out["sql_executions"])
        wall = t1 - tok["t0"]
        busy = union_length([iv for iv in intervals if iv[1] > iv[0]])
        out["driver_gap_ms"] = max(0.0, wall - busy) * 1000.0
        return out

    def _rows_scanned(self, first: int, n: int) -> int:
        """Sum of "number of output rows" over the scan nodes of the ``n``
        SQL executions recorded after the first ``first``."""
        total = 0
        if n <= 0:
            return 0
        execs = self._sql.executionsList(first, n)
        for k in range(execs.size()):
            eid = execs.apply(k).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                if not (name.startswith("Scan") or name.endswith("TableScan")):
                    continue
                metrics = node.metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    if m.name() == "number of output rows":
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            total += int(str(v.get()).replace(",", ""))
        return total
