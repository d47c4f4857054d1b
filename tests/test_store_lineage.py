"""Feature-store lifecycle (Planned→Calculated→Tracked) and lineage resume."""

from __future__ import annotations

import logging
import os
import time

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from funcify_feature_eng_spark.lineage import LineageTracker, fingerprint_df
from funcify_feature_eng_spark.store import STORE_COLUMNS, FeatureStore


@pytest.fixture()
def tmp_store(spark, tmp_path):
    return FeatureStore(spark, str(tmp_path / "feature_store"), entity_col="conv_id")


def _spine(spark):
    return spark.createDataFrame(
        [("c1", 0, "2024-01-01 00:00:00"), ("c1", 1, "2024-01-01 02:00:00"),
         ("c2", 0, "2024-01-01 01:00:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")


def test_empty_store_reads_empty(tmp_store):
    assert tmp_store.read().count() == 0


def test_publish_then_read_through(spark, tmp_store):
    spine = _spine(spark)
    computed = spine.withColumn("f", F.col("turn_idx") * 10)
    tmp_store.publish(computed, "features/f", "f")
    got = tmp_store.read_through(spine, "features/f", "f_val").orderBy("conv_id", "turn_idx")
    rows = got.collect()
    # each row sees its own published value (value_at_ts == ts, exact match allowed)
    assert [r["f_val"] for r in rows] == ['{"v":0}', '{"v":10}', '{"v":0}']
    assert all(r["f_val_at_ts"] is not None for r in rows)


def test_strict_read_through_sees_only_prior(spark, tmp_store):
    spine = _spine(spark)
    tmp_store.publish(spine.withColumn("f", F.col("turn_idx")), "features/f", "f")
    got = (
        tmp_store.read_through(spine, "features/f", "v", allow_exact_matches=False)
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    # first turn of each conv has no strictly-prior value
    assert got[0]["v"] is None and got[2]["v"] is None
    assert got[1]["v"] == '{"v":0}'


def test_materialize_with_store_computes_only_misses(spark, tmp_store):
    spine = _spine(spark)
    # pre-publish a value for c1 turn 0 only
    pre = spine.filter("conv_id = 'c1' and turn_idx = 0").withColumn("g", F.lit(99))
    tmp_store.publish(pre, "features/g", "g")

    calls = []

    def compute(df):
        pdf = df.select("conv_id", "turn_idx").toPandas()
        calls.extend(map(tuple, pdf.itertuples(index=False)))
        return df.withColumn("g", F.col("turn_idx") + 1)

    out = tmp_store.materialize_with_store(spine, "features/g", compute, "g")
    assert out.count() == 3
    # c1 turn 0 was Tracked; turn 1 read-through ALSO finds the tracked value
    # (ffill), so only c2's first turn was Planned
    assert ("c1", 0) not in calls


def test_lineage_skip_on_second_run(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt"))
    df = transcripts.filter("turn_idx < 5")
    out1 = lt.run_stage("stage1", df)
    rec1 = lt.metrics("stage1")
    assert rec1["n_rows"] == out1.count()
    assert rec1["n_partitions"] >= 1
    t0 = time.time()
    out2 = lt.run_stage("stage1", df)
    fast = time.time() - t0
    assert out2.count() == out1.count()
    # second run must not rewrite: record unchanged
    rec2 = lt.metrics("stage1")
    assert rec2["completed_at"] == rec1["completed_at"]
    assert fast < 30


def test_lineage_recomputes_on_plan_change(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt2"))
    lt.run_stage("s", transcripts.filter("turn_idx < 5"))
    r1 = lt.metrics("s")
    lt.run_stage("s", transcripts.filter("turn_idx < 3"))
    r2 = lt.metrics("s")
    assert r1["fingerprint"] != r2["fingerprint"]
    assert r2["n_rows"] < r1["n_rows"]


def test_fingerprint_stable_across_sessions(spark, transcripts):
    df = transcripts.select("conv_id", "turn_idx")
    assert fingerprint_df(df) == fingerprint_df(transcripts.select("conv_id", "turn_idx"))


def test_lineage_partition_metrics_written(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt3"))
    lt.run_stage("s", transcripts.repartition(4, "conv_id"))
    rec = lt.metrics("s")
    assert sum(rec["partition_rows"].values()) == rec["n_rows"]


def test_lineage_file_is_jsonl(spark, tmp_path, transcripts):
    lt = LineageTracker(spark, str(tmp_path / "ckpt4"))
    lt.run_stage("a", transcripts.limit(10))
    lt.run_stage("b", transcripts.limit(20))
    path = os.path.join(str(tmp_path / "ckpt4"), "_lineage.jsonl")
    with open(path) as f:
        lines = [l for l in f if l.strip()]
    assert len(lines) == 2


def test_contextual_params_identity_no_collision(spark, tmp_store):
    """Two parameterizations of ONE feature path must not collide — the
    reference keys tracked values on (featurePath, contextualParameters)
    (DispatchService.kt:960-1127, TrackableValue.kt:147-155)."""
    from funcify_feature_eng_spark.store import contextual_params_hash

    spine = _spine(spark)
    tmp_store.publish(
        spine.withColumn("f", F.lit(7)), "features/f", "f", params={"window": "7d"}
    )
    tmp_store.publish(
        spine.withColumn("f", F.lit(30)), "features/f", "f", params={"window": "30d"}
    )
    # hash is canonical: key order doesn't matter, values do
    assert contextual_params_hash({"a": 1, "b": 2}) == contextual_params_hash({"b": 2, "a": 1})
    assert contextual_params_hash({"window": "7d"}) != contextual_params_hash({"window": "30d"})

    got7 = tmp_store.read_through(spine, "features/f", "v", params={"window": "7d"})
    got30 = tmp_store.read_through(spine, "features/f", "v", params={"window": "30d"})
    vals7 = {r["v"] for r in got7.collect() if r["v"] is not None}
    vals30 = {r["v"] for r in got30.collect() if r["v"] is not None}
    assert vals7 == {'{"v":7}'} and vals30 == {'{"v":30}'}
    # unknown parameterization: all Planned (no bleed from other params)
    miss = tmp_store.read_through(spine, "features/f", "v", params={"window": "90d"})
    assert [r["v"] for r in miss.collect()] == [None, None, None]


def test_feature_model_routes_asof_through_feature_store(spark, tmp_store):
    """FeatureModel asof features use FeatureStore.read_through with the
    declared contextual params as the store identity."""
    from funcify_feature_eng_spark.plans.model import FeatureModel

    spine = _spine(spark)
    tmp_store.publish(
        spine.withColumn("g", F.lit(1)), "g7", "g", params={"window": "7d"}
    )
    tmp_store.publish(
        spine.withColumn("g", F.lit(2)), "g30", "g", params={"window": "30d"}
    )

    m = FeatureModel(entity_key="conv_id", order=("turn_idx",), event_time="ts")
    m.register_store("fs", tmp_store)
    m.declare_asof_feature("g7", store="fs", params={"window": "7d"})
    m.declare_asof_feature("g30", store="fs", params={"window": "30d"})
    out = m.materialize(spine, ["conv_id", "turn_idx", "g7", "g30"]).orderBy(
        "conv_id", "turn_idx"
    )
    rows = out.collect()
    assert {r["g7"] for r in rows} == {'{"v":1}'}
    assert {r["g30"] for r in rows} == {'{"v":2}'}


def test_run_incremental_processes_only_new_rows(spark, tmp_path):
    """Watermark-based refresh: second run computes ONLY rows after the
    recorded high-watermark and appends; watermark advances."""
    from funcify_feature_eng_spark.lineage import LineageTracker

    tracker = LineageTracker(spark, str(tmp_path / "inc"))
    phase1 = _spine(spark)  # ts up to 2024-01-01 02:00

    calls = []

    def compute(df):
        calls.append(1)
        return df.withColumn("f", F.col("turn_idx") * 10)

    out1 = tracker.run_incremental("feat", phase1, compute, ts_col="ts")
    assert out1.count() == 3
    rec1 = tracker.metrics("feat")
    assert rec1["rows_appended"] == 3 and "02:00" in rec1["watermark"]

    # phase 2: one old row (skipped by contract) + two new rows
    phase2 = phase1.unionByName(
        spark.createDataFrame(
            [("c1", 2, "2024-01-01 05:00:00"), ("c2", 1, "2024-01-01 06:00:00"),
             ("c9", 0, "2024-01-01 00:30:00")],  # late: before the watermark
            "conv_id string, turn_idx int, ts_s string",
        ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    )
    out2 = tracker.run_incremental("feat", phase2, compute, ts_col="ts")
    assert out2.count() == 5  # 3 + 2 new (late c9 row skipped)
    rec2 = tracker.metrics("feat")
    assert rec2["rows_appended"] == 2 and "06:00" in rec2["watermark"]

    # no new data → no-op, output unchanged
    out3 = tracker.run_incremental("feat", phase2, compute, ts_col="ts")
    assert out3.count() == 5


def test_materialize_with_store_tag_col_and_custom_entity(spark, tmp_path):
    """Planned→Calculated→Tracked witness: pass 1 computes everything
    (tag 'computed'), pass 2 serves everything from the store ('store'),
    including an as-of hit at a later request time; entity_col other than
    the storage-canonical conv_id round-trips through the rename."""
    from funcify_feature_eng_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "fs"), entity_col="user_id")
    spine = spark.createDataFrame(
        [("u1", "2024-01-10 00:00:00"), ("u2", "2024-01-10 00:00:00")],
        "user_id string, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))

    def compute(planned):
        return planned.withColumn("f", F.length("user_id").cast("double"))

    p1 = store.materialize_with_store(spine, "f", compute, "f", tag_col="src")
    assert {r["src"] for r in p1.collect()} == {"computed"}

    later = spine.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 DAYS"))
    p2 = store.materialize_with_store(later, "f", compute, "f", tag_col="src")
    rows = p2.collect()
    assert {r["src"] for r in rows} == {"store"}
    # as-of witness: served value_at is the ORIGINAL publish time, not ts
    assert all(r["f_at_ts"] != r["ts"] for r in rows)


def test_store_compact_removes_shadowed_duplicates(spark, tmp_store):
    """Re-publishing the same identity point appends shadowed rows; compact
    keeps only the latest per (feature, entity, params, value_at_ts) and
    read-through results are unchanged."""
    import time as _time

    spine = _spine(spark)
    tmp_store.publish(spine.withColumn("f", F.col("turn_idx") * 10), "features/f", "f")
    _time.sleep(1.1)  # calculated_ts granularity: the re-publish must be later
    tmp_store.publish(spine.withColumn("f", F.col("turn_idx") * 10), "features/f", "f")
    before = tmp_store.read_through(spine, "features/f", "fv").orderBy(
        "conv_id", "turn_idx").collect()
    stats = tmp_store.compact()
    assert stats["rows_before"] == 6 and stats["rows_after"] == 3
    after = tmp_store.read_through(spine, "features/f", "fv").orderBy(
        "conv_id", "turn_idx").collect()
    assert [r["fv"] for r in after] == [r["fv"] for r in before]
    # the survivors are the LATEST records (second publish's calculated_ts)
    cts = {r["calculated_ts"] for r in tmp_store.read().collect()}
    assert len(cts) == 1


def test_bitemporal_knowledge_read(spark, tmp_store):
    """read_through(knowledge_time=K) must see exactly what the store had
    CALCULATED by K: nothing before the first publish, the original value
    between the two stamps, the correction after — and the default read
    (no knowledge filter) always sees the latest correction."""
    vals = spark.createDataFrame(
        [("c1", 10.0), ("c2", 20.0)], "conv_id string, v double"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    tmp_store.publish(vals, "f", "v", ts_col="ts",
                      calculated_at="2025-01-01 00:00:00")
    corrected = vals.withColumn("v", F.col("v") + 1.0)
    tmp_store.publish(corrected, "f", "v", ts_col="ts",
                      calculated_at="2025-02-01 00:00:00")
    spine = vals.select(
        "conv_id", F.lit("2024-06-01 00:00:00").cast("timestamp").alias("ts")
    )

    def read(know):
        out = tmp_store.read_through(spine, "f", "val", ts_col="ts",
                                     knowledge_time=know)
        return {
            r["conv_id"]: r["val"] and float(
                __import__("json").loads(r["val"])["v"]
            )
            for r in out.collect()
        }

    assert read("2024-12-01 00:00:00") == {"c1": None, "c2": None}
    assert read("2025-01-15 00:00:00") == {"c1": 10.0, "c2": 20.0}
    assert read("2025-03-01 00:00:00") == {"c1": 11.0, "c2": 21.0}
    # default read = current knowledge: the correction wins
    latest = tmp_store.read_through(spine, "f", "val", ts_col="ts")
    got = {
        r["conv_id"]: float(__import__("json").loads(r["val"])["v"])
        for r in latest.collect()
    }
    assert got == {"c1": 11.0, "c2": 21.0}


def test_expire_keeps_latest_prior_vintage(spark, tmp_store):
    """expire(cutoff) drops deep history but keeps each identity's latest
    at-or-before-cutoff record, so as-of reads at request times >= cutoff
    are UNCHANGED by retention."""
    import json as _json

    def pub(v, at, know):
        vals = spark.createDataFrame(
            [("c1", float(v))], "conv_id string, v double"
        ).withColumn("ts", F.lit(at).cast("timestamp"))
        tmp_store.publish(vals, "f", "v", ts_col="ts", calculated_at=know)

    pub(1.0, "2024-01-01 00:00:00", "2025-01-01 00:00:00")
    pub(2.0, "2024-02-01 00:00:00", "2025-01-01 00:00:00")
    pub(3.0, "2024-04-01 00:00:00", "2025-01-01 00:00:00")
    spine = spark.createDataFrame([("c1",)], "conv_id string").withColumn(
        "ts", F.lit("2024-03-01 00:00:00").cast("timestamp")
    )
    before = tmp_store.read_through(spine, "f", "val", ts_col="ts").first()
    stats = tmp_store.expire("2024-03-01 00:00:00")
    assert (stats["rows_before"], stats["rows_after"]) == (3, 2)
    after = tmp_store.read_through(spine, "f", "val", ts_col="ts").first()
    # the as-of answer at a retained-horizon request time is unchanged
    assert _json.loads(before["val"])["v"] == _json.loads(after["val"])["v"] == 2.0
    # deep-history vintage (2024-01-01) is gone; latest-prior + recent stay
    kept = sorted(r["value_at_ts"].isoformat() for r in tmp_store.read().collect())
    assert kept == ["2024-02-01T00:00:00", "2024-04-01T00:00:00"]


def test_expire_hard_cut(spark, tmp_store):
    vals = spark.createDataFrame(
        [("c1", 1.0), ("c2", 2.0)], "conv_id string, v double"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    tmp_store.publish(vals, "f", "v", ts_col="ts",
                      calculated_at="2025-01-01 00:00:00")
    stats = tmp_store.expire("2024-06-01 00:00:00", keep_latest=False)
    assert (stats["rows_before"], stats["rows_after"]) == (2, 0)


def test_freshness_report_and_pinned_knowledge(spark, tmp_store):
    vals = spark.createDataFrame(
        [("c1", 1.0), ("c2", 2.0)], "conv_id string, v double"
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    tmp_store.publish(vals, "f", "v", ts_col="ts",
                      calculated_at="2025-01-01 00:00:00")
    later = vals.filter("conv_id = 'c1'").withColumn(
        "ts", F.lit("2024-06-01 00:00:00").cast("timestamp")
    )
    tmp_store.publish(later, "f", "v", ts_col="ts",
                      calculated_at="2025-02-01 00:00:00")
    row = tmp_store.freshness().first()
    assert (row["feature_id"], row["n_values"], row["n_entities"]) == ("f", 3, 2)
    assert row["latest_value_at"].isoformat() == "2024-06-01T00:00:00"
    assert row["latest_calculated"].isoformat() == "2025-02-01T00:00:00"
    pinned = tmp_store.freshness(knowledge_time="2025-01-15 00:00:00").first()
    assert pinned["n_values"] == 2
    assert pinned["latest_value_at"].isoformat() == "2024-01-01T00:00:00"


def test_expire_knowledge_frontier_preserves_bitemporal_reads(spark, tmp_store):
    """keep_knowledge_frontier=True must preserve pinned-knowledge answers
    at request times >= cutoff: a pre-cutoff point with a correction keeps
    BOTH knowledge versions, while a late re-publish of an OLDER point
    (strictly dominated) is reclaimed."""
    import json as _json

    def pub(v, at, know):
        vals = spark.createDataFrame(
            [("c1", float(v))], "conv_id string, v double"
        ).withColumn("ts", F.lit(at).cast("timestamp"))
        tmp_store.publish(vals, "f", "v", ts_col="ts", calculated_at=know)

    pub(1.0, "2024-02-01 00:00:00", "2025-01-01 00:00:00")  # original
    pub(2.0, "2024-02-01 00:00:00", "2025-02-01 00:00:00")  # correction
    pub(9.0, "2024-01-01 00:00:00", "2025-03-01 00:00:00")  # late older pub
    stats = tmp_store.expire(
        "2024-03-01 00:00:00", keep_knowledge_frontier=True
    )
    # the dominated late re-publish of 2024-01-01 is gone, both knowledge
    # versions of 2024-02-01 survive
    assert (stats["rows_before"], stats["rows_after"]) == (3, 2)
    spine = spark.createDataFrame([("c1",)], "conv_id string").withColumn(
        "ts", F.lit("2024-06-01 00:00:00").cast("timestamp")
    )

    def val(know):
        r = tmp_store.read_through(
            spine, "f", "val", ts_col="ts", knowledge_time=know
        ).first()
        return r["val"] and _json.loads(r["val"])["v"]

    assert val("2025-01-15 00:00:00") == 1.0  # pre-correction knowledge
    assert val("2025-02-15 00:00:00") == 2.0  # correction visible
    assert val("2024-12-01 00:00:00") is None  # before any knowledge


# ------------------------------------------------------- I/O shape


def _one_split(spark, tmp_path):
    """The spine as a one-file parquet source: one input split, like a
    streaming micro-batch read from one file."""
    path = str(tmp_path / "one_split")
    _spine(spark).withColumn("f", F.col("turn_idx") * 10).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize(
    "estimate,parallelism,min_part_bytes,expected",
    [
        (230_000, 4, 1 << 20, 0),  # a micro-batch: below one minimum partition
        (818_000, 32, 1 << 20, 0),
        (3 << 20, 32, 1 << 20, 3),  # one partition per minimum size
        (8 << 20, 4, 1 << 20, 4),  # capped at parallelism
        (8 << 20, 4, 4 << 20, 2),
        ((1 << 63) - 1, 4, 1 << 20, 4),  # unknown size: full parallelism
    ],
)
def test_spread_partitions(estimate, parallelism, min_part_bytes, expected):
    from funcify_feature_eng_spark.operators.util import spread_partitions

    assert spread_partitions(estimate, parallelism, min_part_bytes) == expected


def test_small_publish_writes_one_file(spark, tmp_path, tmp_store):
    from funcify_feature_eng_spark.operators.util import data_files

    tmp_store.publish(_one_split(spark, tmp_path), "features/f", "f")
    assert len(data_files(tmp_store.location)) == 1
    assert tmp_store.read().count() == 3


def test_publish_logs_spread_decision(spark, tmp_path, tmp_store, caplog):
    """One record per publish on the store logger. A small input is not
    probed; one sized above its partition count spreads; one sized at its
    partition count (an unknown-size local frame) keeps its partitions."""
    src = _one_split(spark, tmp_path)
    par = spark.sparkContext.defaultParallelism
    local = spark.createDataFrame(
        [(f"c{i}", i, i) for i in range(par)], "conv_id string, ts long, f long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old = spark.conf.get(key)
    with caplog.at_level(logging.INFO, logger="funcify_feature_eng_spark.store"):
        tmp_store.publish(src, "features/f", "f")
        spark.conf.set(key, "1b")
        try:
            tmp_store.publish(src, "features/g", "f")
        finally:
            spark.conf.set(key, old)
        tmp_store.publish(local, "features/h", "f")
    recs = [r.decision for r in caplog.records if r.name == "funcify_feature_eng_spark.store"]
    assert all(r["name"] == "publish_spread" and r["estimate_bytes"] > 0 for r in recs)
    got = [(r["spread"], r["input_partitions"], r["partitions"]) for r in recs]
    assert got == [
        ("skipped", None, None),
        ("fired", 1, par),
        ("skipped", local.rdd.getNumPartitions(), local.rdd.getNumPartitions()),
    ]


def test_read_after_publish_launches_no_job(spark, tmp_path):
    """The publish pins the store schema, so building a read (or a
    read-through) infers nothing; a second instance infers once, then pins."""
    sc = spark.sparkContext
    loc = str(tmp_path / "fs")
    spine = _spine(spark)
    stores = {"publisher": FeatureStore(spark, loc), "reader": FeatureStore(spark, loc)}
    stores["publisher"].publish(spine.withColumn("f", F.col("turn_idx")), "features/f", "f")
    stores["reader"].read()  # infers the schema once
    for who, store in stores.items():
        group = f"store-read-{who}"
        sc.setJobGroup(group, group)
        try:
            store.read()
            out = store.read_through(spine, "features/f", "fv")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert [r["fv"] for r in out.orderBy("conv_id", "turn_idx").collect()] == [
            '{"v":0}', '{"v":1}', '{"v":0}'
        ]


def test_publisher_pins_a_nullable_schema(spark, tmp_store):
    tmp_store.publish(_spine(spark).withColumn("f", F.lit(1)), "features/f", "f")
    inferred = spark.read.parquet(tmp_store.location).schema
    assert tmp_store._schema == inferred
    assert all(f.nullable for f in tmp_store._schema)


def test_footer_counts_equal_spark_counts(spark, tmp_store):
    """compact/expire count from parquet footers; the counts equal Spark's
    own count() of the store before and after, down to an empty store."""
    spine = _spine(spark)
    for know in ("2025-01-01 00:00:00", "2025-02-01 00:00:00"):
        tmp_store.publish(
            spine.withColumn("f", F.col("turn_idx")), "features/f", "f",
            calculated_at=know,
        )
    fresh = FeatureStore(spark, tmp_store.location)
    before = fresh.read().count()
    stats = tmp_store.compact()
    assert stats == {"rows_before": before, "rows_after": fresh.read().count()}
    assert (before, stats["rows_after"]) == (6, 3)
    stats = tmp_store.expire("2030-01-01 00:00:00", keep_latest=False)
    assert stats == {"rows_before": 3, "rows_after": 0}
    assert fresh.read().count() == 0 and tmp_store.read().count() == 0


# ---------------------------------------------- read failures, recovery


def test_read_missing_or_dataless_store_is_empty(spark, tmp_path):
    missing = FeatureStore(spark, str(tmp_path / "missing"))
    (tmp_path / "empty").mkdir()
    (tmp_path / "empty" / "_SUCCESS").write_bytes(b"")
    dataless = FeatureStore(spark, str(tmp_path / "empty"))
    spine = _spine(spark)
    for store in (missing, dataless):
        assert store.read().columns == STORE_COLUMNS
        assert store.read().count() == 0
        out = store.read_through(spine, "features/f", "fv").collect()
        assert len(out) == 3 and all(r["fv"] is None for r in out)


def test_read_corrupt_store_raises(spark, tmp_path, tmp_store):
    """A store whose only data file is corrupt must fail the read, not
    serve every request as a miss."""
    from funcify_feature_eng_spark.operators.util import data_files

    spine = _spine(spark)
    tmp_store.publish(_one_split(spark, tmp_path), "features/f", "f")
    (part,) = data_files(tmp_store.location)
    with open(part, "wb") as fh:
        fh.write(b"not a parquet file" * 64)
    fresh = FeatureStore(spark, tmp_store.location)
    for store in (tmp_store, fresh):  # pinned schema; schema inference
        with pytest.raises((Py4JJavaError, PySparkException)):
            store.read_through(spine, "features/f", "fv").collect()


def _shadowed_store(spark, store):
    spine = _spine(spark)
    for know in ("2025-01-01 00:00:00", "2025-02-01 00:00:00"):
        store.publish(
            spine.withColumn("f", F.col("turn_idx")), "features/f", "f",
            calculated_at=know,
        )


def test_compact_restores_aside_store_without_store(spark, tmp_store):
    """A crash between the two renames leaves only ``__precompact`` (and the
    written survivors): the next compaction restores and compacts it."""
    _shadowed_store(spark, tmp_store)
    loc = tmp_store.location
    os.rename(loc, loc + "__precompact")
    os.makedirs(loc + "__compacting")  # survivors written before the crash
    stats = FeatureStore(spark, loc).compact()
    assert stats == {"rows_before": 6, "rows_after": 3}
    assert not os.path.exists(loc + "__precompact")
    assert not os.path.exists(loc + "__compacting")
    assert FeatureStore(spark, loc).read().count() == 3


def test_compact_discards_aside_backup_beside_store(spark, tmp_path, tmp_store):
    """``__precompact`` beside the store is a completed backup: it is
    discarded, never read back."""
    _shadowed_store(spark, tmp_store)
    loc = tmp_store.location
    other = FeatureStore(spark, str(tmp_path / "other"))
    other.publish(_spine(spark).withColumn("f", F.lit(99)), "features/other", "f")
    os.rename(other.location, loc + "__precompact")
    stats = tmp_store.compact()
    assert stats == {"rows_before": 6, "rows_after": 3}
    assert not os.path.exists(loc + "__precompact")
    assert {r["feature_id"] for r in tmp_store.read().collect()} == {"features/f"}


def test_compact_removes_stale_compacting_dir(spark, tmp_path, tmp_store):
    """A stale ``__compacting`` directory from an interrupted write is
    removed before the survivors are written; none of its rows survive."""
    _shadowed_store(spark, tmp_store)
    loc = tmp_store.location
    other = FeatureStore(spark, str(tmp_path / "other"))
    other.publish(_spine(spark).withColumn("f", F.lit(99)), "features/other", "f")
    os.rename(other.location, loc + "__compacting")
    stats = tmp_store.compact()
    assert stats == {"rows_before": 6, "rows_after": 3}
    assert not os.path.exists(loc + "__compacting")
    assert {r["feature_id"] for r in tmp_store.read().collect()} == {"features/f"}


# ------------------------------------------------- publish Column memo


class _UnhashableStamp(str):
    """A stamp the memo cannot key: publish builds its Columns without it."""

    __hash__ = None


def test_publish_memo_never_mixes_identities(spark, tmp_path):
    """Publishes that differ only in ``calculated_at`` (a string, a
    ``datetime``, an unhashable string), ``feature_id``, ``params`` or
    ``value_col``, alternated so later ones hit the memo, write the same
    store as with the memo cleared before every publish."""
    import datetime as dt

    from funcify_feature_eng_spark import store as store_mod

    spine = _spine(spark).withColumn("f", F.col("turn_idx")).withColumn("g", F.lit(7))
    at = "2025-01-01 00:00:00"
    calls = [
        {"feature_id": "features/f", "value_col": "f", "calculated_at": at},
        {"feature_id": "features/f", "value_col": "f", "calculated_at": "2025-02-01 00:00:00"},
        {"feature_id": "features/f", "value_col": "f", "calculated_at": dt.datetime(2025, 3, 1)},
        {"feature_id": "features/f", "value_col": "f",
         "calculated_at": _UnhashableStamp("2025-04-01 00:00:00")},
        {"feature_id": "features/g", "value_col": "f", "calculated_at": at},
        {"feature_id": "features/f", "value_col": "f", "calculated_at": at,
         "params": {"window": 3}},
        {"feature_id": "features/f", "value_col": "g", "calculated_at": at},
    ]

    def written(name, clear):
        store = FeatureStore(spark, str(tmp_path / name))
        for _ in range(2):
            for kw in calls:
                if clear:
                    store_mod._publish_cols.cache_clear()
                store.publish(spine, **kw)
        return sorted(store.read().collect())

    assert written("memo", clear=False) == written("cleared", clear=True)


def test_warm_publish_reuses_its_columns(spark, tmp_store, round_trips):
    """A repeated publish takes its six output Columns from the memo: it
    makes ~25 round trips (the spread probe, the select and the write)
    where building the Columns alone costs ~170."""
    computed = _spine(spark).withColumn("f", F.col("turn_idx") * 10)
    at = "2025-01-01 00:00:00"
    tmp_store.publish(computed, "features/f", "f", calculated_at=at)
    assert round_trips(lambda: tmp_store.publish(computed, "features/f", "f", calculated_at=at)) < 50
