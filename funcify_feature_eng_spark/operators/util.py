"""Shared operator plumbing."""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame

# the bound of each Column memo: distinct argument shapes kept per helper
MEMO_SIZE = 128


def live_gateway():
    """The live JVM gateway, part of every Column memo key: a Column built
    over a gateway that was shut down and replaced is never handed out."""
    return SparkContext._gateway


def spread_small_input(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a DataFrame whose partition count is below the cluster's
    default parallelism to ``defaultParallelism`` partitions — round-robin,
    or hash-partitioned on ``keys`` when given — and leave it untouched
    otherwise.

    Compute-dense map stages (per-row signature folds, explode fan-outs,
    all-pairs loops) inherit the INPUT split count. A small parquet file
    arrives as one split, so on a 32-core executor the whole stage runs on
    one core; spending an n-row shuffle to buy full parallelism on the dense
    stage is the right trade exactly when n is small. At 100 TB the input
    has orders of magnitude more splits than cores and this is a no-op.

    Pass ``keys`` when the NEXT aggregation / distinct groups by them. The
    keyless round-robin spread pays a local sort of its input before
    repartitioning (Spark's sortBeforeRepartition, needed for deterministic
    retries) — on a single-split multi-million-row table that sort runs on
    one core and costs more than it saves. Hash partitioning needs no such
    sort, and when the downstream groupBy/distinct uses the same key the
    exchange is REUSED: the plan keeps exactly one exchange, but the dense
    aggregation work runs on ``defaultParallelism`` partitions instead of
    on the scan's single split.

    The probe is only free for SCAN-SHAPED inputs: under AQE, ``df.rdd``
    finalizes the plan and can eagerly execute upstream shuffle stages. So
    a frame whose plan already contains an Exchange is returned untouched
    without probing — its parallelism is governed by the shuffle partition
    count anyway, and the probe could cost real work.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys)
    return df


def spread_partitions(estimate: int, parallelism: int, min_part_bytes: int) -> int:
    """Partitions worth spreading a frame of ``estimate`` bytes (the
    optimizer's plan-size estimate) over before a write:
    ``min(parallelism, estimate // min_part_bytes)``.

    ``min_part_bytes`` is AQE's ``coalescePartitions.minPartitionSize``:
    AQE would merge any smaller post-shuffle partition anyway, so a frame
    below two of them is not worth a shuffle. An unknown estimate
    (Long.MaxValue) sizes to full parallelism. Callers spread only when the
    result is above the input's own partition count, never coalesce."""
    return min(parallelism, estimate // min_part_bytes)


def materialize_small(df: DataFrame, broadcast_rows: int = 1_000_000):
    """Materialize a DECISION frame (candidate pairs, surviving ids) that is
    expected to be orders of magnitude smaller than the payload tables it
    will be joined against, and broadcast-hint it when the MEASURED row
    count says it fits.

    Why (guide §3.1): a multi-stage candidate subtree has no usable size
    estimate, so Spark plans its payload-fetch joins as sort-merge — both
    exchanges are paid before AQE can see the true (tiny) size. Counting
    the materialized frame and hinting explicitly removes the payload
    side's exchange entirely. The threshold is a ROW COUNT measured at run
    time, not a local tuning constant: at 100 TB a billion-candidate frame
    simply fails the test and the sort-merge path proceeds unchanged.

    Returns ``(frame, n_rows)``; the frame is localCheckpoint-backed either
    way (callers were already re-using these frames across several jobs).
    Call :func:`release` on it when done.
    """
    from pyspark.sql import functions as F

    handle = df.localCheckpoint()
    n = handle.count()
    if n <= broadcast_rows:
        return F.broadcast(handle), n
    return handle, n


def release(df: DataFrame) -> None:
    """Release the storage behind any eagerly-materialized (localCheckpoint
    or persist) DataFrame — the package's one release path. Only storage
    reachable from ``df`` itself is freed, never other work's in the same
    session. The frame must not be used afterwards: a local checkpoint
    truncates lineage, so its data cannot be recomputed once unpersisted.

    ``df.rdd.unpersist()`` would be a SILENT NO-OP here: ``df.rdd`` builds
    a fresh Python-conversion RDD pipeline over the checkpoint, and
    unpersisting that new RDD never touches the checkpointed one. The
    actual storage handle lives on the ``LogicalRDD`` leaf the checkpoint
    planted in the logical plan — walk the leaves and unpersist those RDDs
    directly (non-blocking). Any leaf checkpoint reachable from ``df`` is
    released, which is exactly the do-not-use-afterwards contract.

    The leaves are read off the ANALYZED plan, which the frame already
    holds: the optimized plan would run the optimizer on a
    broadcast-hinted frame (:func:`materialize_small`) outside any join,
    and Spark logs a "join hint ... not part of a join relation" warning
    for each such release."""
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getName().endswith("LogicalRDD"):
            leaf.rdd().unpersist(False)
    # persist()-cached frames (no LogicalRDD leaf) release through the
    # regular Dataset cache path; harmless no-op otherwise
    df.unpersist()


def exact_floor_div(num, den):
    """floor(num / den) on DECIMAL columns, exact, as BIGINT.

    ``F.floor(a / b)`` on decimals is NOT a floor: Spark rounds the
    quotient HALF_UP to the result scale (6) before floor() sees it, so
    e.g. floor(19999999/10000000) evaluates to 2. The remainder identity
    ``(num - num % den) / den`` keeps the division integral — an exactly
    representable quotient is immune to the rounding — and the sign
    fixup restores floor (toward −inf) semantics for negative quotients
    (Spark's ``%`` takes the dividend's sign, like Java). Quotients must
    fit BIGINT (every ppm/count use here is ≤ ~1e15).
    """
    from pyspark.sql import functions as F

    r = num % den
    q = ((num - r) / den).cast("bigint")
    return F.when(
        (r != 0) & ((num < 0) != (den < 0)), q - 1
    ).otherwise(q)


def data_files(path: str) -> list[str]:
    """The data files under a local parquet directory, skipping the names
    Spark's file index skips (``_SUCCESS``, ``.crc`` checksums, a
    ``_temporary`` write directory)."""
    out = []
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(d, f) for f in files if not f.startswith(("_", "."))]
    return out


def footer_rows(path: str) -> int:
    """Rows stored under a local parquet directory, summed from the file
    footers — what ``spark.read.parquet(path).count()`` returns, without
    a job."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in data_files(path))
