"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow on (every pandas UDF ships
columnar batches), shuffle partitions sized to the parallelism instead of
the 200 default, UTC session timezone so timestamp arithmetic is stable
across hosts.

Local sessions commit streaming checkpoint files through Spark's
FileSystem-based checkpoint manager instead of the default FileContext
one. The bundled Hadoop resolves symlinks by forking ``readlink``, and the
FileContext manager does that four times per atomic rename (the temp
file, the final file and both ``.crc`` files): on every offsets, commits
and sources log write and every state-store delta file, a few dozen
forks of ~5 ms each per micro-batch. The FileSystem manager renames with
``rename(2)``, which is just as atomic on a local disk, forks nothing and
writes the same checkpoint layout, so a checkpoint restarts under either.
Cluster sessions (HDFS, object stores) keep Spark's choice; ``extra_conf``
overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "funcify_feature_eng_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster the caller passes no master and spark-submit supplies
    it; every other config below is cluster-appropriate as-is.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[", 1)[1].rstrip("]").replace("*", "0")) or os.cpu_count() or 8
        except (IndexError, ValueError):
            n = 2 * (os.cpu_count() or 8)  # cluster: 2x cores is a sane floor; AQE coalesces
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if master.startswith("local"):
        # fork-free checkpoint commits (module docstring)
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
