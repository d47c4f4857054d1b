"""The benchmark workloads.

Both workloads call the package's public functions from outside, the way a
user would, over a seeded transcript spine. ``load`` and ``warmup`` make up
one set-up; ``op`` is one timed operation of a closed loop with a single
client; ``check`` compares the operations' outputs with the DuckDB/Python
oracle. ``layers`` runs in the traced run only: it forces single layers
alone (windows, transformers, as-of, store, the GraphQL front door and the
corpus operators) and checks the probes' outputs against the oracle too, so
every per-layer metric is measured, and checked, on every workload.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np

import gen
import oracle
from spans import Tracer
from stats import median

MICRO_BATCHES = 2  # per publish round, one points file each
ROUNDS = 2  # publish rounds per store cycle
GRAPHQL_REQUESTS = 6  # entity lookups of the GraphQL probe
CORPUS_DOCS = 300  # documents of the corpus probe
MIN_QUALITY = 800  # the corpus pipeline's quality filter


def force(df) -> None:
    """Execute a DataFrame completely without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _plain(v):
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _mismatches(actual: list[dict], expected: list[dict], cols: dict[str, str]) -> int:
    """Rows that differ; ``cols`` maps actual column -> expected column."""
    if len(actual) != len(expected):
        return max(len(actual), len(expected))
    bad = 0
    for a, e in zip(actual, expected):
        if any(_plain(a[ac]) != _plain(e[ec]) for ac, ec in cols.items()):
            bad += 1
    return bad


def _median_time(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


class Timer:
    """Accumulates the time spent inside ``with timer.section(name)``, each
    section also a span (named ``prefix + name``) on the tracer."""

    def __init__(self, tracer, request: int | None, prefix: str = ""):
        self.tracer = tracer
        self.request = request
        self.prefix = prefix
        self.parts: dict[str, float] = {}

    @contextmanager
    def section(self, name: str):
        with self.tracer.span(self.prefix + name, request=self.request):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.parts[name] = self.parts.get(name, 0.0) + time.perf_counter() - t0

    @property
    def total(self) -> float:
        return sum(self.parts.values())


# ----------------------------------------------------------------- models

PIT_COLS = [
    "conv_id", "turn_idx", "ts", "prior_role", "last_tool", "gap_s", "session_id",
    "text_len", "n_tokens", "store_value",
]


def pit_model(store_df):
    """Four window features, two transformers and one strictly-prior as-of
    feature against a DataFrame store."""
    from funcify_feature_eng_spark.plans.model import FeatureModel

    m = FeatureModel()
    m.declare_window_feature("prior_role", op="lag", col="role")
    m.declare_window_feature("last_tool", op="ffill_strict", col="tool")
    m.declare_window_feature("gap_s", op="gap")
    m.declare_window_feature("session_id", op="session", gap_threshold_s=1800.0)
    m.declare_transformer_feature("text_len", "char_len", args=["text"])
    m.declare_transformer_feature("n_tokens", "token_count", args=["text"])
    m.register_store("conv_store", store_df, last_updated="value_at_ts")
    m.declare_asof_feature(
        "store_value", "conv_store", value_col="value",
        allow_exact_matches=False, right_order=["value"],
    )
    return m


NARROW = """
query Narrow($cid: String!) {
  conv(convId: $cid) {
    convId
    turns @unnest { turnIdx priorRole lastTool gapS textLen storeValue }
  }
}
"""

WIDE = """
query Wide($cid: String!, $gap: Float = 1800.0) {
  dataElement {
    conv(convId: $cid) {
      convId
      turns @unnest {
        turnIdx priorRole lastTool gapS sessionId textLen nTokens storeValue
        sess: sessionId(gap_threshold_s: $gap)
      }
    }
  }
  transformer { jq { negOne: negative_to_null(input: -1) } }
}
"""

# response column -> oracle column
_GQL_COLS = {
    "convId": "conv_id", "turnIdx": "turn_idx", "priorRole": "prior_role",
    "lastTool": "last_tool", "gapS": "gap_s", "sessionId": "session_id",
    "textLen": "text_len", "nTokens": "n_tokens", "storeValue": "store_value",
}


def _graphql_text(req: dict) -> tuple[str, dict]:
    """The request's GraphQL text and variables."""
    if req["kind"] == "narrow":
        return NARROW, {"cid": req["conv_id"]}
    return WIDE, {"cid": req["conv_id"], "gap": req["gap"]}


def _graphql_mismatches(data_dir: str, responses: list[tuple[dict, list[dict]]]) -> int:
    """Responses that differ from their conversation's oracle rows (the
    ``pit_batch`` values, plus the ``$gap`` session column)."""
    convs = sorted({req["conv_id"] for req, _ in responses})
    exp = oracle.pit_expected(data_dir, convs)
    by_conv = {c: g.to_dict("records") for c, g in exp.groupby("conv_id", sort=False)}
    failed = 0
    for req, rows in responses:
        expected = by_conv.get(req["conv_id"], [])
        rows = sorted(rows, key=lambda r: r["turnIdx"])
        cols = {k: v for k, v in _GQL_COLS.items() if not rows or k in rows[0]}
        bad = _mismatches(rows, expected, cols)
        if req["kind"] == "wide":
            bad += _mismatches(rows, expected, {"sess": f"session_{int(req['gap'])}"})
            bad += sum(1 for r in rows if r["negOne"] is not None)
        if not rows or any(r["turns_idx"] != r["turnIdx"] for r in rows):
            bad += 1
        failed += bad > 0
    return failed


def corpus_pipeline():
    """Quality and language derivations, exact dedup, MinHash-LSH near
    dedup with keep-best, then a language and quality filter."""
    from pyspark.sql import functions as F

    from funcify_feature_eng_spark.pipeline import CorpusPipeline

    return (
        CorpusPipeline()
        .derive("quality", F.length("text").cast("long"))
        .derive("lang", F.when(F.col("text").rlike("[0-9]"), "other").otherwise("en"))
        .exact_dedup()
        .near_dedup(quality_col="quality", num_hashes=64, bands=16, shingle_k=3,
                    verify_threshold=0.5)
        .filter((F.col("lang") == "en") & (F.col("quality") >= MIN_QUALITY))
        .select("doc_id", "lang", "quality")
    )


# ------------------------------------------------------------ store cycle

READ_COLS = ["conv_id", "turn_idx", "ts", "recomputed"]


def _store_space(path: str) -> dict:
    import pyarrow.parquet as pq

    files = [
        os.path.join(d, f)
        for d, _s, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(f) for f in files),
        "rows": sum(pq.read_metadata(f).num_rows for f in files),
    }


class StoreCycle:
    """One store lifecycle over a fresh store directory: ROUNDS replayed
    publishes of the same points through ``store_publish_stream`` (one
    micro-batch per points file, a later ``calculated_at`` stamp and a
    different value each round), each followed by a point-in-time read
    through ``FeatureModel.materialize`` (``FeatureStore.read_through``);
    then ``compact()`` and one more read."""

    def __init__(self, spine, n_turns: int, points_dir: str, points_schema):
        self.spine = spine
        self.n_turns = n_turns
        self.points_dir = points_dir
        self.points_schema = points_schema

    def publish(self, spark, store, r: int, ck: str) -> list[dict]:
        from pyspark.sql import functions as F

        from funcify_feature_eng_spark.streaming.runner import store_publish_stream

        stream = (
            spark.readStream.schema(self.points_schema)
            .option("maxFilesPerTrigger", "1").parquet(self.points_dir)
        )
        bump = r * 100000

        def compute(b):
            return b.select(
                "conv_id", "ts", (F.length("text") + F.lit(bump)).cast("long").alias("v")
            )

        stamp = f"2025-01-{r + 1:02d} 00:00:00"
        q = store_publish_stream(
            stream, store, "recomputed", compute, "v",
            calculated_at=lambda _b: stamp, checkpoint_dir=ck,
        )
        q.awaitTermination()
        return q.recentProgress

    def run(self, spark, base: str, t: Timer, counted, keep_reads: bool = False) -> dict:
        """``t`` times the sections; ``counted(fn, rows)`` wraps each read's
        execution (Spark counters). Returns the cycle's record; ``read_s``
        holds one read per round, then the read after compaction."""
        from funcify_feature_eng_spark.plans.model import FeatureModel
        from funcify_feature_eng_spark.store import FeatureStore

        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        store = FeatureStore(spark, os.path.join(base, "store"))
        model = FeatureModel()
        model.register_store("recomputed_store", store)
        model.declare_asof_feature("recomputed", "recomputed_store")
        rec = {"publish_s": [], "read_s": [], "progress": [], "reads": []}

        def read():
            t0 = time.perf_counter()
            with t.section("plans.materialize_call"):
                df = model.materialize(self.spine, READ_COLS)
            with t.section("plans.spark_plan"):
                df._jdf.queryExecution().executedPlan()
            with t.section("store.read_through"):
                counted(lambda: force(df), self.n_turns)
            rec["read_s"].append(time.perf_counter() - t0)
            if keep_reads:  # outside every timed section
                rec["reads"].append(df.select("conv_id", "turn_idx", "recomputed").toPandas())

        for r in range(ROUNDS):
            t0 = time.perf_counter()
            with t.section("store.publish"):
                rec["progress"] += self.publish(spark, store, r, os.path.join(base, f"ck{r}"))
            rec["publish_s"].append(time.perf_counter() - t0)
            read()
        rec["space"] = _store_space(os.path.join(base, "store"))
        t0 = time.perf_counter()
        with t.section("store.compact"):
            store.compact()
        rec["compact_s"] = time.perf_counter() - t0
        read()
        shutil.rmtree(base, ignore_errors=True)
        return rec


# -------------------------------------------------------------- workloads


class Workload:
    """A workload over a generated transcript spine: ``n_convs`` Zipf(1.2)
    conversations plus one hot conversation, ``total_turns`` turns in all."""

    name = ""
    n_convs = 800
    total_turns = 58_000
    # operations keep getting faster for 10-20 s after the set-ups (JIT
    # compilation of Spark's per-query and per-task code); operations in
    # this phase run untimed, before the window
    warm_seconds = 15.0

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.layer: dict[str, float] = {}  # per-layer values set directly
        self.counter_samples: list[dict] = []
        self.progress: list[dict] = []  # streaming progress of traced publishes
        self.space: list[dict] = []  # store files/bytes/rows before compaction
        self.probe_attempted = 0  # probe outputs checked against the oracle
        self.probe_failed = 0

    def generate(self) -> None:
        import pyarrow.parquet as pq

        self.data = gen.transcripts(self.seed, self.n_convs, self.total_turns)
        self.n_turns = pq.read_metadata(os.path.join(self.data, "transcripts.parquet")).num_rows
        self.points_dir = gen.publish_points(self.data, MICRO_BATCHES)
        self.n_points = sum(
            pq.read_metadata(os.path.join(self.points_dir, f)).num_rows
            for f in os.listdir(self.points_dir) if f.endswith(".parquet")
        )
        self.live_points = oracle.live_points(self.data)

    def load(self, spark) -> None:
        self.spine = spark.read.parquet(os.path.join(self.data, "transcripts.parquet")).cache()
        self.spine.count()
        self.store_df = spark.read.parquet(os.path.join(self.data, "feature_store.parquet")).cache()
        self.store_df.count()
        self.store_cycle = StoreCycle(
            self.spine, self.n_turns, self.points_dir, spark.read.parquet(self.points_dir).schema
        )

    def warmup(self, spark) -> None:
        self.op(spark, -1, Tracer(False), None)

    def op(self, spark, i: int, tracer, counters) -> dict:
        raise NotImplementedError

    def check(self, spark, n_ops: int) -> int:
        """Compare outputs with the oracle; returns how many of the ``n_ops``
        measured operations produced a wrong result."""
        raise NotImplementedError

    def detail(self, ops: list[dict]) -> dict:
        """The workload's own named metrics, ``name -> (value, unit)``."""
        raise NotImplementedError

    def _counted(self, counters, fn, rows: int):
        """Run ``fn`` under a job group and keep its Spark counters."""
        if counters is None:
            return fn()
        tok = counters.begin()
        try:
            return fn()
        finally:
            c = counters.end(tok)
            c["rows_returned"] = rows
            self.counter_samples.append(c)

    # ---- traced run only

    def layers(self, spark, tracer) -> None:
        self.transcript_probes(tracer)
        self.graphql_probe(tracer)
        self.corpus_probe(spark, tracer)

    def transcript_probes(self, tracer) -> None:
        """Windows, transformers and the as-of join, each forced alone on the
        cached spine (median of three)."""
        from funcify_feature_eng_spark.functions import text as T
        from funcify_feature_eng_spark.operators import windows as W
        from funcify_feature_eng_spark.operators.asof import asof_join

        keys, order = ("conv_id",), ("turn_idx", "ts")
        win = self.spine.select(
            "conv_id", "turn_idx",
            W.lag_col("role", keys, order).alias("prior_role"),
            W.ffill_col("tool", keys, order, strict_prior=True).alias("last_tool"),
            W.gap_seconds("ts", keys, order).alias("gap_s"),
            W.session_id("ts", keys, order, 1800.0).alias("session_id"),
        )
        trf = self.spine.select(T.char_len("text").alias("a"), T.token_count("text").alias("b"))
        aso = asof_join(
            self.spine, self.store_df, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
            value_cols={"value": "store_value"}, allow_exact_matches=False, right_order=["value"],
        )
        with tracer.span("probe.windows"):
            self.layer["operators.windows.exec_s"] = _median_time(lambda: force(win))
        with tracer.span("probe.transformers"):
            self.layer["functions.transformer_exec_s"] = _median_time(lambda: force(trf))
        with tracer.span("probe.asof"):
            self.layer["operators.asof.exec_s"] = _median_time(lambda: force(aso))

    def graphql_probe(self, tracer) -> None:
        """Seeded entity lookups (Zipf conversation ids, narrow and wide
        query texts) through ``materialize_graphql``, collected; parse/lower
        and validation are also timed on their own. Every response is
        checked against its conversation's oracle rows."""
        from funcify_feature_eng_spark.plans.graphql import (
            lower_graphql, materialize_graphql, validate_request,
        )

        model = pit_model(self.store_df)
        responses = []
        for i, req in enumerate(gen.requests(self.seed, self.data, GRAPHQL_REQUESTS)):
            src, variables = _graphql_text(req)
            with tracer.span("plans.graphql_lower", request=i):
                lowered = lower_graphql(src, None, variables)
            with tracer.span("plans.graphql_validate", request=i):
                validate_request(model, lowered, self.spine.columns, tuple(variables))
            with tracer.span("plans.graphql_call", request=i):
                df = materialize_graphql(model, self.spine, src, variables)
            with tracer.span("probe.graphql_collect", request=i):
                rows = df.collect()
            responses.append((req, [r.asDict() for r in rows]))
        self.probe_attempted += len(responses)
        self.probe_failed += _graphql_mismatches(self.data, responses)

    def corpus_probe(self, spark, tracer) -> None:
        """The curation pipeline, exact dedup, MinHash-LSH pairs and
        connected components, each forced alone on a small seeded document
        set with 10% exact copies and 10% one-word edits. Survivors, exact
        duplicates and near-duplicate pairs are checked against DuckDB."""
        from funcify_feature_eng_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from funcify_feature_eng_spark.operators.graph import connected_components
        from funcify_feature_eng_spark.operators.util import release

        data = gen.documents(self.seed, CORPUS_DOCS)
        docs = spark.read.parquet(os.path.join(data, "documents.parquet")).cache()
        docs.count()
        with tracer.span("pipeline.run_call"):
            out = corpus_pipeline().run(docs)
        with tracer.span("probe.pipeline_exec"):
            survivors = out.count()
        with tracer.span("probe.exact_dedup"):
            self.layer["operators.dedup.exact_s"] = _median_time(
                lambda: force(exact_dedup(docs, "doc_id", "text"))
            )
        exact_dups = CORPUS_DOCS - exact_dedup(docs, "doc_id", "text").count()
        # one pass each: the pipeline above has already run both once
        with tracer.span("probe.minhash_pairs"):
            t0 = time.perf_counter()
            pairs = minhash_lsh_pairs(docs, "doc_id", "text", verify_threshold=0.5)
            self.layer["operators.dedup.minhash_pairs_s"] = time.perf_counter() - t0
        with tracer.span("probe.components"):
            t0 = time.perf_counter()
            force(connected_components(pairs))
            self.layer["operators.graph.components_s"] = time.perf_counter() - t0
        near_pairs = pairs.count()
        release(pairs)
        docs.unpersist()
        self.layer["operators.dedup.near_pairs"] = near_pairs
        self.layer["pipeline.survivors"] = survivors
        exp = oracle.corpus_expected(data, MIN_QUALITY)
        got = {"survivors": survivors, "exact_dups": exact_dups, "near_pairs": near_pairs}
        self.probe_attempted += len(got)
        self.probe_failed += sum(got[k] != exp[k] for k in got)


class PitBatch(Workload):
    name = "pit_batch"

    def load(self, spark) -> None:
        super().load(spark)
        self.model = pit_model(self.store_df)

    def op(self, spark, i, tracer, counters) -> dict:
        t = Timer(tracer, i)
        with tracer.span("op", request=i):
            with t.section("plans.materialize_call"):
                df = self.model.materialize(self.spine, PIT_COLS)
            with t.section("plans.spark_plan"):
                df._jdf.queryExecution().executedPlan()
            with t.section("exec.force"):
                self._counted(counters, lambda: force(df), self.n_turns)
        return {"seconds": t.total, "parts": t.parts}

    def layers(self, spark, tracer) -> None:
        super().layers(spark, tracer)
        self.store_probe(spark, tracer)

    def store_probe(self, spark, tracer) -> None:
        """One store cycle on this workload's points: its own operations do
        not use the store."""
        t = Timer(tracer, None, prefix="probe.")
        rec = self.store_cycle.run(
            spark, os.path.join(self.work_dir, "probe"), t, lambda fn, rows: fn()
        )
        self.progress += rec["progress"]
        self.space.append(rec["space"])
        self.layer["store.publish_s"] = median(rec["publish_s"])
        self.layer["store.read_through_s"] = median(rec["read_s"])
        self.layer["store.compact_s"] = rec["compact_s"]

    def check(self, spark, n_ops: int) -> int:
        from pyspark.sql import functions as F

        ids = sorted(r[0] for r in self.spine.select("conv_id").distinct().collect())
        rng = np.random.default_rng(self.seed + 7)
        sample = sorted(set(rng.choice(ids[:-1], 40, replace=False).tolist()) | {ids[-1]})
        df = self.model.materialize(self.spine.filter(F.col("conv_id").isin(sample)), PIT_COLS)
        actual = [r.asDict() for r in df.orderBy("conv_id", "turn_idx").collect()]
        expected = oracle.pit_expected(self.data, sample).to_dict("records")
        cols = {c: c for c in PIT_COLS if c != "ts"}
        # every operation computed this same frame
        return n_ops if _mismatches(actual, expected, cols) else 0

    def detail(self, ops) -> dict:
        plan = [
            (o["parts"]["plans.materialize_call"] + o["parts"]["plans.spark_plan"]) / o["seconds"]
            for o in ops
        ]
        return {
            "turns_per_s": (self.n_turns / median(o["seconds"] for o in ops), "1/s"),
            "plan_share": (median(plan), "ratio"),
        }


class StoreLifecycle(Workload):
    name = "store_lifecycle"
    n_convs = 400
    total_turns = 31_000
    # after the three set-ups' cycles, one more cycle is still ~10% slower
    warm_seconds = 1.0

    reads_checked = None

    def op(self, spark, i, tracer, counters) -> dict:
        t = Timer(tracer, i)
        keep = i == 0  # the first measured cycle's reads are checked
        with tracer.span("op", request=i):
            rec = self.store_cycle.run(
                spark, os.path.join(self.work_dir, "cycle"), t,
                lambda fn, rows: self._counted(counters, fn, rows), keep_reads=keep,
            )
        if keep:
            self.reads_checked = rec.pop("reads")
        if tracer.enabled:
            self.progress += rec["progress"]
            self.space.append(rec["space"])
        return {
            "seconds": t.total, "parts": t.parts, "publish_s": rec["publish_s"],
            "read_s": rec["read_s"], "compact_s": rec["compact_s"],
            "bytes": rec["space"]["bytes"],
        }

    def check(self, spark, n_ops: int) -> int:
        kept = self.reads_checked
        if kept is None:
            return n_ops
        failed = 0
        cols = {"conv_id": "conv_id", "turn_idx": "turn_idx", "recomputed": "recomputed"}
        for r, got in enumerate(kept):
            exp = oracle.store_expected(self.data, min(r, ROUNDS - 1)).to_dict("records")
            act = got.sort_values(["conv_id", "turn_idx"]).to_dict("records")
            failed += _mismatches(act, exp, cols) > 0
        before, after = (
            kept[k].sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
            for k in (ROUNDS - 1, ROUNDS)
        )
        failed += not before.equals(after)
        return n_ops if failed else 0

    def detail(self, ops) -> dict:
        out = {
            "publish_rows_per_s": (
                self.n_points / median(s for o in ops for s in o["publish_s"]), "1/s"
            ),
            "read_turns_per_s": (
                self.n_turns / median(s for o in ops for s in o["read_s"][:ROUNDS]), "1/s"
            ),
            "compact_s": (median(o["compact_s"] for o in ops), "s"),
            "bytes_per_live_row": (median(o["bytes"] for o in ops) / self.live_points, "B"),
        }
        # how a read slows as shadowed rows pile up, and after compaction
        for r in range(ROUNDS):
            out[f"read_round{r + 1}_s"] = (median(o["read_s"][r] for o in ops), "s")
        out["read_compacted_s"] = (median(o["read_s"][ROUNDS] for o in ops), "s")
        return out


WORKLOADS = {w.name: w for w in (PitBatch, StoreLifecycle)}
