"""Per-stage checkpointing with lineage + metrics — resumable jobs.

North-rule requirement: every stage checkpoints per-partition lineage and
row-count metrics so a killed job resumes without recompute. Realization:

* each stage writes its output to ``<base>/<stage>/`` (Iceberg table when a
  catalog is configured; parquet fallback — same code, different format),
* a ``_lineage`` record (one JSON line per stage run) stores the stage's
  **content-based fingerprint** — sha256 over the stage's logical plan and
  its input files (path, size, mtime) — plus row count, per-partition row
  counts, and wall time,
* on restart, a stage whose fingerprint matches the recorded one and whose
  output exists is *skipped*: the checkpointed output is read back instead
  of recomputed. Fingerprints are content-based, never wall-clock, so
  re-runs stay allclose-identical (SURVEY.md §7 "deterministic resume").
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fingerprint_df(df: DataFrame, extra: str = "") -> str:
    """Content-based stage fingerprint: logical plan + input file identity.

    The analyzed plan captures the computation; input files (path + size +
    mtime_ns) capture the data version — size alone would miss an in-place
    rewrite of identical byte length and serve stale checkpoints.
    """
    # expression IDs (#123) are globally incrementing — two reads of the
    # SAME files in one session get different ids, which would make every
    # resume fingerprint miss. Renumber them ORDER-PRESERVINGLY (first
    # distinct id → #0, next → #1, …): run-stable, yet plans distinguished
    # by WHICH id a reference points at (v#12 − v#12 vs v#12 − v#45 in a
    # self-join) keep distinct fingerprints. Residual caveat: a '#<digits>'
    # inside a string LITERAL is textually indistinguishable from an
    # expression id and gets renumbered too — two plans differing only in
    # such literals can collide; avoid '#<number>' literals in tracked
    # stage predicates.
    raw = df._jdf.queryExecution().analyzed().toString()
    seen: dict[str, str] = {}

    def _renumber(m: "re.Match[str]") -> str:
        return seen.setdefault(m.group(0), f"#{len(seen)}")

    plan = re.sub(r"#\d+", _renumber, raw)
    files = sorted(df.inputFiles())
    h = hashlib.sha256()
    h.update(plan.encode())
    h.update(extra.encode())
    for f in files:
        p = f.removeprefix("file:")
        try:
            st = os.stat(p)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f.encode())
    return h.hexdigest()


class LineageTracker:
    """Stage-output checkpoint registry under one base directory."""

    def __init__(self, spark: SparkSession, base_dir: str) -> None:
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self._lineage_path = os.path.join(base_dir, "_lineage.jsonl")

    # ----------------------------------------------------------- records
    def _records(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        if os.path.exists(self._lineage_path):
            with open(self._lineage_path) as f:
                for line in f:
                    if line.strip():
                        rec = json.loads(line)
                        out[rec["stage"]] = rec  # last record wins
        return out

    def _append(self, rec: dict) -> None:
        with open(self._lineage_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def metrics(self, stage: str) -> dict | None:
        return self._records().get(stage)

    # ----------------------------------------------------------- stages
    def _out_path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def run_stage(self, stage: str, df: DataFrame | None = None,
                  extra_fingerprint: str = "",
                  fingerprint: str | None = None,
                  build=None) -> DataFrame:
        """Checkpoint ``df`` as ``stage``; skip recompute when the recorded
        fingerprint matches and the output exists. Returns the checkpointed
        DataFrame (always backed by the stage output files — downstream
        stages re-read the checkpoint, which truncates lineage for resume).

        ``fingerprint`` overrides the default output-plan fingerprint —
        callers whose stage plans embed run-specific artifacts (e.g. a
        localCheckpoint RDD id inside the near-dup pair builder) supply a
        stable input-based key instead (see ``CorpusPipeline.run``).

        ``build`` (a zero-arg callable returning the stage DataFrame) defers
        stage CONSTRUCTION past the cache-hit check — required when merely
        building the frame executes work (eager pair builders); it requires
        an explicit ``fingerprint`` since there is no frame to fingerprint
        before the hit decision.
        """
        if build is not None and fingerprint is None:
            raise ValueError("run_stage: build= requires an explicit fingerprint")
        if build is None and df is None:
            raise ValueError("run_stage: pass df or build=")
        fp = fingerprint or fingerprint_df(df, extra_fingerprint)
        out = self._out_path(stage)
        rec = self._records().get(stage)
        if rec and rec.get("fingerprint") == fp and os.path.exists(out):
            return self.spark.read.parquet(out)

        if df is None:
            df = build()
        t0 = time.time()
        df.write.mode("overwrite").parquet(out)
        result = self.spark.read.parquet(out)
        per_part = (
            result.groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .orderBy("pid")
            .collect()
        )
        n_rows = sum(r["count"] for r in per_part)
        self._append(
            {
                "stage": stage,
                "fingerprint": fp,
                "n_rows": n_rows,
                "n_partitions": len(per_part),
                "partition_rows": {str(r["pid"]): r["count"] for r in per_part},
                "wall_sec": round(time.time() - t0, 3),
                # informational only — never part of the fingerprint
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        return result

    def run_incremental(
        self,
        stage: str,
        spine: DataFrame,
        compute,
        ts_col: str = "ts",
    ) -> DataFrame:
        """Watermark-based incremental refresh: process only spine rows with
        ``ts_col`` strictly after the stage's recorded high-watermark, APPEND
        their computed output to the stage, and advance the watermark.

        ``compute(new_rows_df) -> df`` runs on the new slice only — the
        standard production pattern for daily/hourly feature refresh (the
        batch analog of a streaming watermark). Late rows at-or-before the
        watermark are skipped by contract; a true backfill is
        ``invalidate(stage)`` + full rerun. Returns the full stage output.
        """
        rec = self._records().get(stage)
        out = self._out_path(stage)
        wm = rec.get("watermark") if rec else None
        new = spine
        if wm is not None and os.path.exists(out):
            new = spine.filter(F.col(ts_col) > F.lit(wm).cast("timestamp"))
        from funcify_feature_eng_spark.operators.util import spread_small_input

        # compute() and the parquet encode both inherit the spine's split
        # count — a few-split spine would run the whole refresh (and write
        # one giant output file) in a single task; hash-spread by event
        # time first (no-op at scale, where the spine has many splits)
        new = spread_small_input(new, ts_col)
        bounds = new.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.col(ts_col)).alias("mx")
        ).collect()[0]
        if bounds["n"] == 0:
            return self.spark.read.parquet(out)
        if bounds["mx"] is None:
            # n > 0 but every ts is NULL: no watermark can be derived, and
            # appending first would leave the stage updated with no record —
            # refuse BEFORE any write so the stage stays consistent
            raise ValueError(
                f"run_incremental({stage!r}): {bounds['n']} new rows but "
                f"{ts_col!r} is NULL on all of them — cannot advance the "
                "watermark; fix the spine's event-time column or use run_stage"
            )
        t0 = time.time()
        out_df = compute(new).persist()
        rows_appended = out_df.count()  # rows actually written, not spine rows
        out_df.write.mode("append" if wm is not None else "overwrite").parquet(out)
        out_df.unpersist()
        result = self.spark.read.parquet(out)
        self._append(
            {
                "stage": stage,
                "fingerprint": rec.get("fingerprint") if rec else "incremental",
                "watermark": bounds["mx"].isoformat(sep=" "),
                "n_rows": result.count(),
                "rows_appended": rows_appended,
                "wall_sec": round(time.time() - t0, 3),
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
        return result

    def invalidate(self, stage: str) -> None:
        """Drop a stage's record so the next run recomputes it."""
        recs = self._records()
        recs.pop(stage, None)
        with open(self._lineage_path, "w") as f:
            for rec in recs.values():
                f.write(json.dumps(rec) + "\n")
