"""Structured Streaming surface: micro-batch DAG reuse + session windows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from funcify_feature_eng_spark.plans.model import FeatureModel
from funcify_feature_eng_spark.streaming.runner import (
    materialize_stream,
    session_windows_stream,
)


@pytest.fixture()
def stream_input(spark, data_dir, tmp_path):
    # file-source stream over the transcript fixture (availableNow drains it
    # as micro-batches and terminates — deterministic for tests). File
    # streams require a directory source, so stage the fixture into one.
    batch = spark.read.parquet(os.path.join(data_dir, "transcripts.parquet"))
    src = str(tmp_path / "stream_src")
    batch.repartition(4).write.parquet(src)
    return spark.readStream.schema(batch.schema).parquet(src)


def test_materialize_stream_reuses_batch_dag(spark, stream_input, tmp_path, transcripts):
    m = FeatureModel()
    m.declare_window_feature("prior_role", op="lag", col="role")
    m.declare_transformer_feature("turn_len", "char_len", args=["text"])

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def sink(df, batch_id):
        df.write.mode("append").parquet(out_dir)

    q = materialize_stream(
        stream_input, m,
        ["conv_id", "turn_idx", "text", "prior_role", "turn_len"],
        sink=sink, checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == transcripts.count()
    assert set(got.columns) == {"conv_id", "turn_idx", "text", "prior_role", "turn_len"}
    # turn_len is batch-independent → must equal the batch computation exactly
    joined = got.alias("s").join(
        transcripts.alias("b"), ["conv_id", "turn_idx"]
    ).where(F.col("s.turn_len") != F.length("b.text"))
    assert joined.count() == 0


_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def test_local_session_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    """Local sessions commit checkpoint files through the FileSystem-based
    manager (a rename, no forked ``readlink``): the class Spark resolves for
    a checkpoint path on this session, so a class that moves in a later
    Spark fails here rather than silently falling back."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    got = manager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path / "ckpt")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert got.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )


@pytest.mark.parametrize("first_manager", [None, _FC_MANAGER], ids=["default", "filecontext"])
def test_stateful_sessionization_across_restarts(
    spark, data_dir, tmp_path, transcripts, first_manager
):
    """State continuity: run phase-1 turns, terminate, add phase-2 files,
    restart from the checkpoint — session ids must match the batch result.
    With ``first_manager`` the first run commits its checkpoint (logs and
    state-store files) through that manager and the restart reads it under
    the session default. One conversation's phase 1 ends on a NULL role,
    so the carried ``last_role`` is NULL, not a string."""
    import os as _os

    from funcify_feature_eng_spark.operators.windows import turn_features
    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    batch = spark.read.parquet(_os.path.join(data_dir, "transcripts.parquet"))
    sample_convs = [r["conv_id"] for r in
                    batch.select("conv_id").distinct().orderBy("conv_id").limit(21).collect()]
    null_conv = sample_convs.pop()
    # one conversation with a turn 5 gets a NULL role on turn 4, phase 1's last
    null_role_conv = (
        batch.filter(batch.conv_id.isin(sample_convs) & (batch.turn_idx == 5))
        .select("conv_id").orderBy("conv_id").first()["conv_id"]
    )
    # plus one NULL-entity conversation: Spark groups NULL keys as one entity
    sample = batch.filter(batch.conv_id.isin(sample_convs)).unionByName(
        batch.filter(batch.conv_id == null_conv).withColumn(
            "conv_id", F.lit(None).cast("string")
        )
    ).withColumn(
        "role",
        F.when(
            (F.col("conv_id") == null_role_conv) & (F.col("turn_idx") == 4), F.lit(None)
        ).otherwise(F.col("role")),
    )

    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(src, exist_ok=True)
    # phase 1: first half of each conversation; phase 2: the rest
    sample.filter("turn_idx < 5").coalesce(1).write.parquet(src + "/p1")
    schema = sample.schema

    def drain():
        stream = spark.readStream.schema(schema).option("latestFirst", "false").parquet(
            src + "/p*"
        )
        q = (
            stateful_turn_features_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    key = "spark.sql.streaming.checkpointFileManagerClass"
    default = spark.conf.get(key, None)
    if first_manager is not None:
        spark.conf.set(key, first_manager)
    try:
        drain()
    finally:
        if default is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, default)
    sample.filter("turn_idx >= 5").coalesce(1).write.parquet(src + "/p2")
    drain()  # restart from checkpoint; state carries across runs

    got = (
        spark.read.parquet(out_dir)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        turn_features(sample)
        .select("conv_id", "turn_idx", "prior_role", "session_id")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["session_id"].to_numpy() == exp["session_id"].to_numpy()).all()
    import pandas as pd

    g, e = got["prior_role"].to_numpy(object), exp["prior_role"].to_numpy(object)
    same = (g == e) | (pd.isna(g.astype(object)) & pd.isna(e.astype(object)))
    assert same.all()


def test_session_windows_stream_counts(spark, stream_input, tmp_path, transcripts):
    sessions = session_windows_stream(stream_input, entity_col="conv_id", ts_col="ts",
                                      gap_seconds=1800)
    q = (
        sessions.writeStream.outputMode("complete")
        .format("memory").queryName("sess")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select sum(n_turns) as n from sess").head()["n"]
    assert got == transcripts.count()  # every turn lands in exactly one session


def test_asof_enrich_stream_matches_batch(spark, stream_input, data_dir, tmp_path, transcripts):
    """Stream-static point-in-time enrichment must equal the batch as-of:
    same strictly-prior semantics, computed per micro-batch row."""
    import os as _os

    from funcify_feature_eng_spark.operators.asof import asof_join
    from funcify_feature_eng_spark.streaming.runner import asof_enrich_stream

    fs = spark.read.parquet(_os.path.join(data_dir, "feature_store.parquet"))
    enriched = asof_enrich_stream(
        stream_input, fs, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "asof_store_value"},
    )
    out_dir = str(tmp_path / "enriched_out")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "enrich_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).select("conv_id", "turn_idx", "asof_store_value")
    exp = asof_join(
        transcripts, fs, on=["conv_id"], left_ts="ts", right_ts="value_at_ts",
        value_cols={"value": "asof_store_value"}, allow_exact_matches=False,
        strategy="broadcast",
    ).select("conv_id", "turn_idx", "asof_store_value")
    assert got.count() == exp.count()
    # anti-join both ways: streaming result ≡ batch result
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_stateful_sessionizer_with_state_ttl(spark, data_dir, tmp_path):
    """state_ttl_s bounds the state store (mandatory at web scale). With a
    TTL comfortably above the batch cadence, results are identical to the
    untimed operator — eviction only changes behavior for conversations
    idle past the TTL."""
    import os as _os

    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    batch = spark.read.parquet(_os.path.join(data_dir, "transcripts.parquet"))
    convs = [r["conv_id"] for r in
             batch.select("conv_id").distinct().orderBy("conv_id").limit(8).collect()]
    sample = batch.filter(batch.conv_id.isin(convs))
    src = str(tmp_path / "src_ttl")
    sample.coalesce(1).write.parquet(src)
    schema = sample.schema

    def run(dirname, **kw):
        out_dir = str(tmp_path / dirname)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_turn_features_stream(stream, **kw)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / (dirname + "_ckpt")))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return (
            spark.read.parquet(out_dir)
            .orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "prior_role", "session_id")
            .collect()
        )

    plain = run("out_nottl")
    ttl = run("out_ttl", state_ttl_s=3600.0)
    assert ttl == plain


def test_stateful_sessionizer_event_time_ttl_evicts_idle_state(spark, tmp_path):
    """Event-time TTL: a conversation idle past the TTL (by WATERMARK, not
    wall clock) is evicted — its resume starts session 0 with NULL prior
    and a fresh session_start_ts; a conversation within the TTL keeps its
    state across the same batches."""
    import os as _os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    src = str(tmp_path / "ttl_src")
    _os.makedirs(src)
    t0 = pd.Timestamp("2024-01-01 00:00:00")
    H = pd.Timedelta(hours=1)

    def write_batch(i, rows):
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "ts"])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        fp = _os.path.join(src, f"b{i}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), fp,
                       coerce_timestamps="us", allow_truncated_timestamps=True)
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    # Event-time timeouts fire only for keys WITHOUT data in the batch, so
    # eviction (batch 2, watermark = batch-1 max = t0+10h > idle's
    # t0 + TTL) and idle's resume (batch 3) must be separate batches.
    write_batch(0, [("idle", 0, "user", t0), ("live", 0, "user", t0)])
    write_batch(1, [("live", 1, "tool", t0 + 10 * H)])
    write_batch(2, [("live", 2, "tool", t0 + 10 * H + pd.Timedelta(seconds=1))])
    write_batch(3, [("idle", 1, "asst", t0 + 11 * H), ("live", 3, "user", t0 + 11 * H)])

    schema = "conv_id string, turn_idx int, role string, ts timestamp"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out_dir = str(tmp_path / "ttl_out")
    q = (
        stateful_turn_features_stream(
            stream, entity_col="conv_id", order_col="turn_idx",
            gap_seconds=86400.0,  # gap never splits sessions here; TTL does
            state_ttl_s=2 * 3600.0,
            watermark_delay_s=0.0,  # in-order test data: no cross-batch lag
        )
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = {
        (r["conv_id"], r["turn_idx"]): r
        for r in spark.read.parquet(out_dir).collect()
    }
    # idle's state was evicted between batch 1 and 2: resume = fresh session
    assert rows[("idle", 1)]["prior_role"] is None
    assert rows[("idle", 1)]["session_id"] == 0
    assert rows[("idle", 1)]["session_start_ts"] == (t0 + 11 * H).to_pydatetime()
    # live stayed within the TTL at every step: state carried through
    assert rows[("live", 3)]["prior_role"] == "tool"
    assert rows[("live", 3)]["session_start_ts"] == t0.to_pydatetime()


def test_disorder_mode_reorders_within_bound(spark, tmp_path):
    """Bounded disorder: a row arriving one batch LATE but within
    max_disorder_s is buffered and emitted in (order, ts) position, with
    session/prior features identical to fully-in-order processing."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.operators.windows import turn_features
    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    def _df(rs):
        return spark.createDataFrame(
            [(c, i, r, pd.Timestamp(t).to_pydatetime()) for c, i, r, t in rs],
            "conv_id string, turn_idx int, role string, ts timestamp",
        )

    src = str(tmp_path / "dis_src")
    _os.makedirs(src, exist_ok=True)
    # conv A turns at 0s/100s/200s/5000s; A1 arrives a batch late but within
    # both the 600s disorder bound AND the global watermark (B stays close
    # enough that wm < 100s when A1 lands). B alone advances event time
    # later so A's pending tail flushes via the event-time timeout.
    # batch 1: A0, A2 (A1 missing), B@1000s. C's first emission (C0, C1)
    # ends on a NULL role; C2 flushes later on the timeout and must read a
    # NULL prior_role, as the batch lag does
    c_rows = [
        ("C", 0, "user", "2024-01-01 00:00:00"),
        ("C", 1, None, "2024-01-01 00:01:40"),
        ("C", 2, "assistant", "2024-01-01 00:15:00"),
    ]
    _df([
        ("A", 0, "user", "2024-01-01 00:00:00"),
        ("A", 2, "user", "2024-01-01 00:03:20"),
        ("B", 0, "user", "2024-01-01 00:16:40"),
        *c_rows,
    ]).coalesce(1).write.parquet(src + "/p1")
    schema = _df([("A", 0, "user", "2024-01-01 00:00:00")]).schema

    out_dir = str(tmp_path / "dis_out")
    ckpt = str(tmp_path / "dis_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).option("latestFirst", "false").parquet(src + "/p*")
        q = (
            stateful_turn_features_stream(
                stream, gap_seconds=1800.0, state_ttl_s=3600.0,
                max_disorder_s=600.0,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    # batch 2: A1 late-but-in-bound (100s), A3 (5000s), B@6000s
    _df([
        ("A", 1, "assistant", "2024-01-01 00:01:40"),
        ("A", 3, "assistant", "2024-01-01 01:23:20"),
        ("B", 1, "user", "2024-01-01 01:40:00"),
    ]).coalesce(1).write.parquet(src + "/p2")
    drain()
    # batches 3+4: B advances the watermark past A3 + delay so the
    # event-time timeout flushes A's pending tail
    _df([("B", 2, "user", "2024-01-01 01:56:40")]).coalesce(1).write.parquet(src + "/p3")
    drain()
    _df([("B", 3, "user", "2024-01-01 02:00:00")]).coalesce(1).write.parquet(src + "/p4")
    drain()

    got = (
        spark.read.parquet(out_dir)
        .filter("conv_id = 'A'")
        .orderBy("turn_idx")
        .toPandas()
    )
    # all four A turns emitted, in order, session break at turn 3
    assert got["turn_idx"].tolist() == [0, 1, 2, 3]
    assert got["prior_role"].tolist()[1:] == ["user", "assistant", "user"]
    assert pd.isna(got["prior_role"].iloc[0])
    assert got["session_id"].tolist() == [0, 0, 0, 1]
    cols = ["turn_idx", "prior_role", "session_id"]
    got_c = (
        spark.read.parquet(out_dir).filter("conv_id = 'C'")
        .orderBy("turn_idx").select(*cols).collect()
    )
    exp_c = turn_features(_df(c_rows), tool_col=None, text_col=None)
    assert got_c == exp_c.orderBy("turn_idx").select(*cols).collect()


def test_disorder_mode_drops_beyond_frontier(spark, tmp_path):
    """A row older than the emitted frontier (beyond the disorder bound)
    is dropped — pinned semantics, the per-entity mirror of watermark
    drops."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    def _df(rs):
        return spark.createDataFrame(
            [(c, i, r, pd.Timestamp(t).to_pydatetime()) for c, i, r, t in rs],
            "conv_id string, turn_idx int, role string, ts timestamp",
        )

    src = str(tmp_path / "drop_src")
    _os.makedirs(src, exist_ok=True)
    # batch 1: A0 @0s, A1 @100s, A5 @10000s  → frontier advances to A1
    _df([
        ("A", 0, "user", "2024-01-01 00:00:00"),
        ("A", 1, "assistant", "2024-01-01 00:01:40"),
        ("A", 5, "user", "2024-01-01 02:46:40"),
    ]).coalesce(1).write.parquet(src + "/p1")
    schema = _df([("A", 0, "user", "2024-01-01 00:00:00")]).schema
    out_dir = str(tmp_path / "drop_out")
    ckpt = str(tmp_path / "drop_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).option("latestFirst", "false").parquet(src + "/p*")
        q = (
            stateful_turn_features_stream(
                stream, gap_seconds=1800.0, state_ttl_s=3600.0,
                max_disorder_s=600.0,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    # batch 2: turn 0.5 @50s — BEHIND the emitted frontier (A0/A1 already
    # emitted: 10000s - 600s disorder bound seals everything <= 9400s);
    # wait, A0/A1 emitted because max_seen(10000) - 600 > 100. This row is
    # beyond-bound late → dropped. B rows advance the watermark to flush A5.
    _df([
        ("A", 2, "tool", "2024-01-01 00:00:50"),
        ("B", 0, "user", "2024-01-01 06:00:00"),
    ]).coalesce(1).write.parquet(src + "/p2")
    drain()
    _df([("B", 1, "user", "2024-01-01 09:00:00")]).coalesce(1).write.parquet(src + "/p3")
    drain()

    got = (
        spark.read.parquet(out_dir)
        .filter("conv_id = 'A'")
        .orderBy("turn_idx")
        .toPandas()
    )
    # turns 0, 1, 5 emitted; the beyond-bound turn 2 is gone
    assert got["turn_idx"].tolist() == [0, 1, 5]
    # and turn 5 opened a new session (gap > 1800s), with prior from turn 1
    assert got["session_id"].tolist() == [0, 0, 1]
    assert got["prior_role"].tolist()[2] == "assistant"


def test_disorder_mode_inconsistent_data_matches_batch_order(spark, tmp_path):
    """A row whose ORDER advances while its ts regresses (inconsistent
    transcript data) must still emit in (order, ts) sequence — prefix-closed
    emission — with the same negative-gap features the batch formulation
    produces. The later-order-earlier-ts row must NOT overtake the pending
    higher-ts row before it."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    def _df(rs):
        return spark.createDataFrame(
            [(c, i, r, pd.Timestamp(t).to_pydatetime()) for c, i, r, t in rs],
            "conv_id string, turn_idx int, role string, ts timestamp",
        )

    src = str(tmp_path / "inc_src")
    _os.makedirs(src, exist_ok=True)
    # A: o0@0s, o1@300s, then INCONSISTENT pair o2@900s, o3@600s (ts regress)
    _df([
        ("A", 0, "user", "2024-01-01 00:00:00"),
        ("A", 1, "assistant", "2024-01-01 00:05:00"),
        ("A", 2, "user", "2024-01-01 00:15:00"),
        ("A", 3, "tool", "2024-01-01 00:10:00"),
        ("B", 0, "user", "2024-01-01 00:20:00"),
    ]).coalesce(1).write.parquet(src + "/p1")
    schema = _df([("A", 0, "user", "2024-01-01 00:00:00")]).schema
    out_dir = str(tmp_path / "inc_out")
    ckpt = str(tmp_path / "inc_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).option("latestFirst", "false").parquet(src + "/p*")
        q = (
            stateful_turn_features_stream(
                stream, gap_seconds=1800.0, state_ttl_s=3600.0,
                max_disorder_s=600.0,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    # advance the watermark so the tail flushes
    _df([("B", 1, "user", "2024-01-01 02:00:00")]).coalesce(1).write.parquet(src + "/p2")
    drain()
    _df([("B", 2, "user", "2024-01-01 02:30:00")]).coalesce(1).write.parquet(src + "/p3")
    drain()

    got = (
        spark.read.parquet(out_dir).filter("conv_id = 'A'")
        .orderBy("turn_idx").toPandas()
    )
    assert got["turn_idx"].tolist() == [0, 1, 2, 3]
    # prior_role follows ORDER (batch twin semantics): o3's prior is o2's
    assert got["prior_role"].tolist()[1:] == ["user", "assistant", "user"]
    # the negative gap (o3 ts < o2 ts) does not open a session
    assert got["session_id"].tolist() == [0, 0, 0, 0]


def test_stateful_dedup_stream_suppresses_cross_batch_dups(spark, tmp_path):
    """Two micro-batches with overlapping texts: within-batch winner is the
    MIN id (not arrival order), and batch-2 re-occurrences are suppressed
    by state that crossed the boundary."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.streaming.runner import stateful_dedup_stream

    src = str(tmp_path / "dsrc")
    _os.makedirs(src)
    b0 = pd.DataFrame(
        {"doc_id": [7, 3, 12, 9], "text": ["aa", "aa", "bb", "cc"]}
    )  # 'aa' twice in one batch -> id 3 must win
    b1 = pd.DataFrame(
        {"doc_id": [1, 20], "text": ["aa", "dd"]}
    )  # 'aa' again (LOWER id, but batch 0 already owns it); 'dd' is new
    for i, part in enumerate((b0, b1)):
        fp = _os.path.join(src, f"b{i}.parquet")
        part.to_parquet(fp)
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    sch = spark.read.parquet(src).schema
    stream = spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    out = stateful_dedup_stream(stream, id_col="doc_id", key_col="text")
    q = (
        out.writeStream.format("memory").queryName("dedup_test_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = sorted(r["doc_id"] for r in spark.table("dedup_test_sink").collect())
    # first-arrival-batch semantics: 'aa' -> 3 (NOT 1 from the later batch),
    # 'bb' -> 12, 'cc' -> 9, 'dd' -> 20
    assert got == [3, 9, 12, 20]


def test_stateful_kmv_stream_merges_across_batches(spark, tmp_path):
    """Streaming KMV ≡ batch KMV: two micro-batches whose per-group distinct
    hash sets overlap; the final (max-rows_cum) sketch must equal the batch
    sketch of the union — exact below k, and the estimator path must match
    the batch estimator above k."""
    import os as _os

    import pandas as pd
    from pyspark.sql import functions as F

    from funcify_feature_eng_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )
    from funcify_feature_eng_spark.streaming.runner import stateful_kmv_stream

    k = 8
    src = str(tmp_path / "ksrc")
    _os.makedirs(src)
    # group 'a': 30 distinct values split 0..19 / 10..29 (overlap) -> over k
    # group 'b': 3 distinct values, batch 0 only -> exact path, state idle in b1
    b0 = pd.DataFrame(
        {"g": ["a"] * 20 + ["b"] * 3, "v": [f"x{i}" for i in range(20)] + ["p", "q", "r"]}
    )
    b1 = pd.DataFrame({"g": ["a"] * 20, "v": [f"x{i}" for i in range(10, 30)]})
    for i, part in enumerate((b0, b1)):
        fp = _os.path.join(src, f"b{i}.parquet")
        part.to_parquet(fp)
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    sch = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
        .withColumn("__h", F.xxhash64("v").bitwiseAND(F.lit((1 << 63) - 1)))
    )
    out = stateful_kmv_stream(stream, group_col="g", hash_col="__h", k=k)
    q = (
        out.writeStream.format("memory").queryName("kmv_test_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    final = (
        spark.table("kmv_test_sink")
        .groupBy("g")
        .agg(F.max_by("kmv", "rows_cum").alias("kmv"))
        .select("g", kmv_estimate("kmv", k).alias("est"))
    )
    got = {r.g: r.est for r in final.collect()}

    batch = spark.createDataFrame(
        pd.concat([b0, b1], ignore_index=True)
    )
    expect_df = kmv_sketch(batch, ["v"], group_by=["g"], k=k).select(
        "g", kmv_estimate("kmv", k).alias("est")
    )
    expect = {r.g: r.est for r in expect_df.collect()}
    assert got == expect
    assert got["b"] == 3  # below-k exact
    # group 'a' is over k -> estimator path engaged (est from 8-element sketch)
    assert got["a"] > k


def test_disorder_mode_max_pending_bounds_buffer(spark, tmp_path):
    """max_pending caps the per-entity disorder buffer: a burst of
    out-of-order rows inside the disorder bound force-flushes the OLDEST
    (order, ts) prefix instead of growing state unboundedly. Emitted rows
    keep exact (order, ts) order and batch-twin feature values; a straggler
    older than a force-flushed row then drops via the beyond-bound-late
    path. Pinned: with max_pending=2 a 5-row burst (nothing sealed by the
    disorder bound) emits exactly the 3 oldest rows immediately."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    def _df(rs):
        return spark.createDataFrame(
            [(c, i, r, pd.Timestamp(t).to_pydatetime()) for c, i, r, t in rs],
            "conv_id string, turn_idx int, role string, ts timestamp",
        )

    src = str(tmp_path / "cap_src")
    _os.makedirs(src, exist_ok=True)
    # batch 1: burst of 5 rows for A, all within 600s disorder of max seen
    # (max 400s - 600 < 0 → NOTHING sealed by the disorder rule). With
    # max_pending=2, the 3 oldest (turns 0,1,2) force-flush; 3,4 stay.
    _df([
        ("A", 4, "user", "2024-01-01 00:06:40"),
        ("A", 2, "tool", "2024-01-01 00:03:20"),
        ("A", 0, "user", "2024-01-01 00:00:00"),
        ("A", 3, "assistant", "2024-01-01 00:05:00"),
        ("A", 1, "assistant", "2024-01-01 00:01:40"),
    ]).coalesce(1).write.parquet(src + "/p1")
    schema = _df([("A", 0, "user", "2024-01-01 00:00:00")]).schema
    out_dir = str(tmp_path / "cap_out")
    ckpt = str(tmp_path / "cap_ckpt")

    def drain():
        stream = spark.readStream.schema(schema).option("latestFirst", "false").parquet(src + "/p*")
        q = (
            stateful_turn_features_stream(
                stream, gap_seconds=1800.0, state_ttl_s=3600.0,
                max_disorder_s=600.0, max_pending=2,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain()
    after_b1 = spark.read.parquet(out_dir).filter("conv_id = 'A'")
    got1 = after_b1.orderBy("turn_idx").toPandas()
    # exactly the 3 oldest force-flushed, in order, with in-order features
    assert got1["turn_idx"].tolist() == [0, 1, 2]
    assert got1["prior_role"].tolist()[1:] == ["user", "assistant"]
    assert got1["session_id"].tolist() == [0, 0, 0]

    # batch 2: a straggler at/behind the force-flushed frontier drops
    # (turn 1 duplicate-era row), while B advances the watermark so A's
    # remaining pending tail (3, 4) flushes via the event-time timeout
    _df([
        ("A", 1, "tool", "2024-01-01 00:02:00"),
        ("B", 0, "user", "2024-01-01 06:00:00"),
    ]).coalesce(1).write.parquet(src + "/p2")
    drain()
    _df([("B", 1, "user", "2024-01-01 09:00:00")]).coalesce(1).write.parquet(src + "/p3")
    drain()

    got = (
        spark.read.parquet(out_dir)
        .filter("conv_id = 'A'")
        .orderBy("turn_idx")
        .toPandas()
    )
    assert got["turn_idx"].tolist() == [0, 1, 2, 3, 4]
    # the straggler's role never appears: turn 1 is the original assistant
    assert got["role"].tolist() == ["user", "assistant", "tool", "assistant", "user"]
    # all one session (gaps < 1800s), features match the batch twin
    assert got["session_id"].tolist() == [0, 0, 0, 0, 0]
    assert got["prior_role"].tolist()[1:] == ["user", "assistant", "tool", "assistant"]


def test_max_pending_requires_disorder_mode(spark):
    from funcify_feature_eng_spark.streaming.runner import stateful_turn_features_stream

    import pandas as pd

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="max_pending requires max_disorder_s"):
        stateful_turn_features_stream(df, max_pending=10)
    with pytest.raises(ValueError, match="max_pending must be >= 1"):
        stateful_turn_features_stream(
            df, max_disorder_s=10.0, state_ttl_s=100.0, max_pending=0
        )
    for ttl in (-3600.0, 0.0):
        with pytest.raises(ValueError, match="state_ttl_s must be > 0"):
            stateful_turn_features_stream(df, state_ttl_s=ttl)
    with pytest.raises(ValueError, match="max_disorder_s must be >= 0"):
        stateful_turn_features_stream(df, max_disorder_s=-1.0, state_ttl_s=100.0)


def test_stateful_role_audit_stream_crosses_batch_boundary(spark, tmp_path):
    """A violating transition that STRADDLES the micro-batch boundary must
    be caught by state carried across batches; final (max-n_turns) rows
    equal the batch audit."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.streaming.runner import (
        stateful_role_audit_stream,
    )

    allowed = [("user", "assistant"), ("assistant", "user")]
    # conv 1: u a | a u  -> the a->a violation straddles the boundary (pos 3)
    # conv 2: u a | u a  -> fully valid alternation
    # conv NULL: u a | u u -> one entity (Spark groups NULL keys together),
    # with a u->u violation at pos 4
    b0 = pd.DataFrame({
        "conv_id": pd.array([1, 1, 2, 2, None, None], dtype="Int64"),
        "turn_idx": [0, 1, 0, 1, 0, 1],
        "role": ["user", "assistant", "user", "assistant", "user", "assistant"],
    })
    b1 = pd.DataFrame({
        "conv_id": pd.array([1, 1, 2, 2, None, None], dtype="Int64"),
        "turn_idx": [2, 3, 2, 3, 2, 3],
        "role": ["assistant", "user", "user", "assistant", "user", "user"],
    })
    src = str(tmp_path / "rasrc")
    _os.makedirs(src)
    for i, part in enumerate((b0, b1)):
        fp = _os.path.join(src, f"b{i}.parquet")
        part.to_parquet(fp)
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    sch = spark.read.parquet(src).schema
    stream = spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    out = stateful_role_audit_stream(
        stream, entity_col="conv_id", order=("turn_idx",), role_col="role",
        allowed=allowed, allowed_start=("user",),
    )
    q = (
        out.writeStream.format("memory").queryName("roleaudit_test_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.table("roleaudit_test_sink").collect()
    final = {}
    for r in rows:
        if r["conv_id"] not in final or r["n_turns"] > final[r["conv_id"]]["n_turns"]:
            final[r["conv_id"]] = r
    f1, f2 = final[1], final[2]
    assert (f1["n_turns"], f1["n_violations"], f1["first_violation_ord"],
            f1["is_valid"]) == (4, 1, 3, False)
    # conv 2: a->u at pos 3 is allowed... u a u a: a->u allowed, u->a allowed
    assert (f2["n_turns"], f2["n_violations"], f2["is_valid"]) == (4, 0, True)
    # batch twin agreement on the same data
    from funcify_feature_eng_spark.operators.transcript_qa import (
        role_sequence_audit,
    )

    batch = spark.read.parquet(src)
    bt = {r["conv_id"]: r for r in role_sequence_audit(
        batch, entity_col="conv_id", order=("turn_idx",), role_col="role",
        allowed=allowed, allowed_start=("user",),
    ).collect()}
    for cid in (1, 2, None):
        assert (bt[cid]["n_turns"], bt[cid]["n_violations"],
                bt[cid]["first_violation_ord"], bt[cid]["is_valid"]) == (
            final[cid]["n_turns"], final[cid]["n_violations"],
            final[cid]["first_violation_ord"], final[cid]["is_valid"])


def test_quality_monitor_stream_ledger_matches_batch(spark, tmp_path):
    from funcify_feature_eng_spark.operators.checks import (
        check_constraints,
        check_verdicts,
        complete,
        detect_metric_anomalies,
        isin,
        merge_check_states,
        row_count_between,
        unique,
    )
    from funcify_feature_eng_spark.streaming.runner import (
        quality_monitor_stream,
    )

    rows = [
        (1, "user", "a"), (2, "tool", "b"), (3, "user", None),
        (4, "assistant", "c"), (4, "user", "d"), (6, "weird", "e"),
    ]
    batch = spark.createDataFrame(rows, "id long, role string, txt string")
    src = str(tmp_path / "q_src")
    # two micro-batch files (maxFilesPerTrigger=1)
    batch.filter(F.col("id") <= 3).coalesce(1).write.parquet(src)
    batch.filter(F.col("id") > 3).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    constraints = [
        complete("txt", 1.0),
        unique("id"),
        isin("role", ["user", "assistant", "tool", "system"], 1.0),
        row_count_between(1, 100),
    ]
    ledger = str(tmp_path / "ledger")
    q = quality_monitor_stream(
        stream, constraints, ledger_dir=ledger,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    states = spark.read.parquet(ledger)
    assert states.select("batch_id").distinct().count() == 2
    stream_v = sorted(
        tuple(r) for r in
        check_verdicts(
            merge_check_states(states.drop("batch_id")), constraints
        ).collect()
    )
    batch_v = sorted(
        tuple(r) for r in check_constraints(batch, constraints).collect()
    )
    assert stream_v == batch_v  # stream ≡ batch, incl. the id-4 dup surplus

    # the ledger doubles as the anomaly series: per-batch verdicts
    hist = None
    for b in (0, 1):
        v = check_verdicts(
            states.filter(F.col("batch_id") == b).drop("batch_id"),
            constraints,
        ).select(
            F.lit(b).cast("bigint").alias("batch_id"),
            "check_id", "kind", "column", "metric",
        )
        hist = v if hist is None else hist.unionByName(v)
    anom = detect_metric_anomalies(hist, rel_max_change_ppm=100_000)
    flagged = {(r["check_id"], r["batch_id"]): r["anomalous"]
               for r in anom.collect()}
    # txt completeness 2/3 -> 3/3: a 50% relative jump fires
    assert flagged[(0, 1)] is True
    assert flagged[(0, 0)] is False


def test_store_publish_stream_cross_batch_and_bitemporal(spark, tmp_path):
    """Two micro-batches publish per-user latest values with deterministic
    knowledge stamps; the as-of read resolves the freshest value across
    batches, a tied value_at instant resolves to the LATER batch via
    calculated_ts, and a bitemporal read pinned before batch 1's stamp
    sees only batch 0's world."""
    import json as _json
    import os as _os

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from funcify_feature_eng_spark.store import FeatureStore
    from funcify_feature_eng_spark.streaming.runner import store_publish_stream

    src = str(tmp_path / "in")
    _os.makedirs(src)
    # u1: later event in batch 1 wins on value_at; u2: SAME timestamp in
    # both batches — batch 1 must win on calculated_ts
    b0 = [("u1", 1, 100, 10.0), ("u2", 2, 100, 20.0)]
    b1 = [("u1", 3, 200, 11.0), ("u2", 4, 100, 21.0)]
    for i, rows in enumerate([b0, b1]):
        import pandas as pd

        pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "t", "value"])
        pdf["ts"] = pd.to_datetime(pdf["t"], unit="s")
        fp = _os.path.join(src, f"b{i}.parquet")
        _pq.write_table(
            _pa.Table.from_pandas(pdf.drop(columns=["t"]), preserve_index=False),
            fp, coerce_timestamps="us", allow_truncated_timestamps=True,
        )
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))
    sch = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    )
    store = FeatureStore(spark, str(tmp_path / "fs"), entity_col="user_id")

    def compute(b):
        return (
            b.groupBy("user_id")
            .agg(F.max_by(F.struct("ts", "value"), F.struct("ts", "event_id")).alias("r"))
            .select("user_id", F.col("r.ts").alias("ts"), F.col("r.value").alias("v"))
        )

    q = store_publish_stream(
        stream, store, "lv", compute, "v", ts_col="ts",
        calculated_at=lambda b: f"2025-01-0{b + 1} 00:00:00",
    )
    q.awaitTermination()
    spine = spark.createDataFrame(
        [("u1",), ("u2",)], "user_id string"
    ).withColumn("ts", F.lit("2030-01-01 00:00:00").cast("timestamp"))

    def vals(know=None):
        out = store.read_through(spine, "lv", "val", ts_col="ts", knowledge_time=know)
        return {
            r["user_id"]: r["val"] and _json.loads(r["val"])["v"]
            for r in out.collect()
        }

    # cross-batch freshest: u1 -> batch-1 later event; u2 -> batch-1 wins
    # the tied instant on calculated_ts
    assert vals() == {"u1": 11.0, "u2": 21.0}
    # bitemporal: before batch 1's knowledge stamp, batch 0's world only
    assert vals("2025-01-01 12:00:00") == {"u1": 10.0, "u2": 20.0}


def test_cms_monitor_stream_equals_batch_sketch(spark, tmp_path):
    """Streaming CMS ≡ batch CMS: two micro-batches; the final (max-cnt)
    counter per (d, bucket) must equal cms_sketch of the whole input, and
    feeding that state to heavy_hitters(sketch=...) must give the exact
    frequent items."""
    import os as _os

    import pandas as pd
    from pyspark.sql import functions as F

    from funcify_feature_eng_spark.operators.sketches import (
        cms_sketch,
        heavy_hitters,
    )
    from funcify_feature_eng_spark.streaming.runner import cms_monitor_stream

    src = str(tmp_path / "csrc")
    _os.makedirs(src)
    b0 = pd.DataFrame({"v": ["hot"] * 30 + [f"k{i}" for i in range(10)]})
    b1 = pd.DataFrame({"v": ["hot"] * 20 + ["warm"] * 25 + [None]})
    for i, part in enumerate((b0, b1)):
        fp = _os.path.join(src, f"b{i}.parquet")
        part.to_parquet(fp)
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    width, depth = 64, 3
    sch = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = cms_monitor_stream(stream, value_col="v", width=width, depth=depth)
    q = (
        out.writeStream.format("memory").queryName("cms_test_sink")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    final = (
        spark.table("cms_test_sink")
        .groupBy("d", "bucket")
        .agg(F.max("cnt").alias("cnt"))
    )
    batch_all = spark.read.parquet(src)
    want = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cms_sketch(batch_all, "v", width=width, depth=depth).collect()
    }
    got = {(r["d"], r["bucket"]): r["cnt"] for r in final.collect()}
    assert got == want and sum(c for (d, _), c in got.items() if d == 0) == 85
    # the stream state feeds the exact heavy-hitter readout (>= 25%)
    hh = {
        r["v"]: r["n_count"]
        for r in heavy_hitters(
            batch_all, "v", min_share_ppm=250_000, width=width, depth=depth,
            sketch=final,
        ).collect()
    }
    assert hh == {"hot": 50, "warm": 25}


def test_cms_monitor_stream_validation(spark):
    import pytest

    from funcify_feature_eng_spark.streaming.runner import cms_monitor_stream

    df = spark.createDataFrame([("x",)], "v string")
    with pytest.raises(ValueError, match="width"):
        cms_monitor_stream(df, value_col="v", width=1)


def test_stateful_throttle_stream_state_crosses_batches(spark, tmp_path):
    """Streaming token bucket ≡ batch replay: the boundary splits a burst,
    so batch 2's first decision depends on batch 1's final (tokens,
    last-ts) state."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.operators.throttle import token_bucket_audit
    from funcify_feature_eng_spark.streaming.runner import (
        stateful_throttle_stream,
    )

    base = pd.Timestamp("2024-01-01")
    rows = [
        (1, base, 0),
        (1, base + pd.Timedelta(seconds=1), 1),   # burst: cap 2 exhausted
        (1, base + pd.Timedelta(seconds=2), 2),   # denied
        # --- batch boundary ---
        (1, base + pd.Timedelta(seconds=3), 3),   # still denied (state!)
        (1, base + pd.Timedelta(seconds=70), 4),  # 1 token refilled -> admit
    ]
    pdf = pd.DataFrame(rows, columns=["ent", "ts", "eid"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = str(tmp_path / "tsrc")
    _os.makedirs(src)
    for i, part in enumerate((pdf.iloc[:3], pdf.iloc[3:])):
        fp = _os.path.join(src, f"b{i}.parquet")
        part.to_parquet(fp)
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    kw = dict(cap=2, rate_num=1, rate_den_s=60)
    sch = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = stateful_throttle_stream(
        stream, entity_col="ent", ts_col="ts", order_col="eid",
        id_col="eid", **kw,
    )
    qname = "throttle_unit_sink"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r["eid"]: (r["admitted"], r["tokens_after_e6den"])
        for r in spark.table(qname).collect()
    }
    batch = {
        r["eid"]: (r["admitted"], r["tokens_after_e6den"])
        for r in token_bucket_audit(
            spark.createDataFrame(pdf), entity_col="ent", ts_col="ts",
            order_col="eid", id_cols=["eid"], **kw,
        ).collect()
    }
    assert got == batch
    assert [got[i][0] for i in range(5)] == [True, True, False, False, True]


def test_stateful_throttle_stream_null_rows_excluded(spark, tmp_path):
    """Stream ≡ batch on the NULL contract (throttle.py: 'NULL entity/ts
    rows are excluded'): a NaT row must not poison the entity's carried
    last-ts (pandas would cast NaT to INT64_MIN -> infinite refill), and
    a NULL entity key must emit nothing."""
    import os as _os

    import pandas as pd

    from funcify_feature_eng_spark.operators.throttle import token_bucket_audit
    from funcify_feature_eng_spark.streaming.runner import (
        stateful_throttle_stream,
    )

    base = pd.Timestamp("2024-01-01")
    rows = [
        (1, base, 0),
        (1, base + pd.Timedelta(seconds=1), 1),   # burst: cap 2 exhausted
        (1, pd.NaT, 2),                           # excluded, must not poison prev
        (None, base + pd.Timedelta(seconds=2), 3),  # NULL entity: excluded
        # --- batch boundary ---
        (1, base + pd.Timedelta(seconds=3), 4),   # denied ONLY if prev survived clean
        (1, base + pd.Timedelta(seconds=70), 5),  # 1 token refilled -> admit
    ]
    pdf = pd.DataFrame(rows, columns=["ent", "ts", "eid"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = str(tmp_path / "tsrc_null")
    _os.makedirs(src)
    for i, part in enumerate((pdf.iloc[:4], pdf.iloc[4:])):
        fp = _os.path.join(src, f"b{i}.parquet")
        part.to_parquet(fp)
        _os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    kw = dict(cap=2, rate_num=1, rate_den_s=60)
    sch = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(sch).option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = stateful_throttle_stream(
        stream, entity_col="ent", ts_col="ts", order_col="eid",
        id_col="eid", **kw,
    )
    qname = "throttle_null_sink"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        r["eid"]: (r["admitted"], r["tokens_after_e6den"])
        for r in spark.table(qname).collect()
    }
    batch = {
        r["eid"]: (r["admitted"], r["tokens_after_e6den"])
        for r in token_bucket_audit(
            spark.createDataFrame(pdf), entity_col="ent", ts_col="ts",
            order_col="eid", id_cols=["eid"], **kw,
        ).collect()
    }
    assert got == batch
    assert sorted(got) == [0, 1, 4, 5]  # eids 2 (NaT) and 3 (NULL ent) excluded
    # if NaT had poisoned prev, refill would read the bucket full and
    # eid 4 would be (wrongly) admitted
    assert [got[i][0] for i in (0, 1, 4, 5)] == [True, True, False, True]
