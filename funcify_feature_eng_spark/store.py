"""Feature store lifecycle: the TrackableValue Planned→Calculated→Tracked
state machine re-expressed as set operations over a feature table.

Reference semantics (``schema/tracking/TrackableValue.kt:17-41,109-193``):
a *Planned* value has an identity (feature path, entity, contextual params)
but no value; read-through (``FeatureJsonValueStore.kt:11-18``) turns it
*Tracked* if the store holds a value at-or-before the request time; otherwise
the calculator computes it (*Calculated*, stamped with ``calculated_ts``) and
the publisher writes it back (``FeatureJsonValuePublisher.kt:11-18``).

Spark realization — per request batch:

1. ``read_through``: as-of join of the request spine against the store →
   rows split into tracked (hit) / planned (miss),
2. ``calculate``: compute the feature column for the planned rows only,
3. ``publish``: append the newly calculated rows to the store table.

The store is an Iceberg table when a catalog is configured (partitioned by
feature_id, bucketed on entity for co-located as-of reads); the sandbox
fallback is plain parquet at a path — same code path, different format
(SURVEY.md §7.1).

Schema (FIXTURES.md §2): feature_id, conv_id (entity), params_hash, value
(JSON string), value_at_ts, calculated_ts.

I/O contract of the parquet fallback (each cost is sized to the data):

- ``publish`` spreads its input across partitions only when the
  optimizer's size estimate fills more partitions than the input already
  has (:func:`~funcify_feature_eng_spark.operators.util.spread_partitions`:
  one partition per AQE ``minPartitionSize``, at most
  ``defaultParallelism``). A micro-batch of a few hundred KB writes one
  file, pays no shuffle and is not probed for its partition count. Each
  call logs its decision on the ``funcify_feature_eng_spark.store``
  logger.
- ``publish`` builds its six output Columns once per (feature_id, entity
  column, params hash, value column, ts column, ``calculated_at``) and
  live JVM gateway, in a bounded memo shared by every store; an
  unhashable argument builds them without it. A warm micro-batch publish
  makes ~25 Python→JVM round trips instead of ~190.
- Each ``FeatureStore`` pins one all-nullable schema: from its first
  publish into an empty local location, or from the first read that had to
  infer it. Later reads pass it to the reader, so building a read launches
  no schema-inference job.
- A read of a missing location, or of one with no data files, is empty;
  any other failure (a corrupt file) raises.
- ``compact``/``expire`` take their before/after row counts from the
  parquet footers, not from ``count()`` jobs.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
from dataclasses import dataclass, field
from functools import lru_cache
from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from funcify_feature_eng_spark.operators.asof import asof_join
from funcify_feature_eng_spark.operators.util import (
    MEMO_SIZE,
    data_files,
    footer_rows,
    live_gateway,
    release,
    spread_partitions,
)

_log = logging.getLogger(__name__)

STORE_COLUMNS = ["feature_id", "conv_id", "params_hash", "value", "value_at_ts", "calculated_ts"]


def contextual_params_hash(params: dict[str, Any] | None) -> str:
    """Store-value identity hash over the feature's contextual parameters.

    The reference keys tracked values on (featurePath, contextualParameters)
    — ``DefaultSingleRequestMaterializationDispatchService.kt:960-1127``,
    ``TrackableValue.kt:147-155`` — so two parameterizations of one feature
    must never collide. Canonical form: sorted-key compact JSON of the
    materialized arguments, sha256-hexed. ``None``/``{}`` hash identically
    (the no-arguments identity).
    """
    canon = json.dumps(params or {}, sort_keys=True, separators=(",", ":"), default=str)
    return hashlib.sha256(canon.encode()).hexdigest()


def _build_publish_cols(
    gateway,
    feature_id: str,
    entity_col: str,
    params_hash: str,
    value_col: str,
    ts_col: str,
    calculated_at: Any | None,
) -> tuple[Column, ...]:
    """:meth:`FeatureStore.publish`'s output projection in store order."""
    now = (
        F.lit(calculated_at).cast("timestamp")
        if calculated_at is not None
        else F.current_timestamp()
    )
    return (
        F.lit(feature_id).alias("feature_id"),
        F.col(entity_col).alias("conv_id"),
        F.lit(params_hash).alias("params_hash"),
        F.to_json(F.struct(F.col(value_col).alias("v"))).alias("value"),
        F.col(ts_col).cast("timestamp").alias("value_at_ts"),
        now.alias("calculated_ts"),
    )


# typed: a stamp of 1 and one of 1.0 or True are different literals
_publish_cols = lru_cache(maxsize=MEMO_SIZE, typed=True)(_build_publish_cols)


@lru_cache(maxsize=8)
def _byte_string(gateway, value: str) -> int:
    """Spark's parse of a byte-size conf value ("1MB" -> 1048576)."""
    return gateway.jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(value)


@dataclass
class FeatureStore:
    """Point-in-time feature-value store over a table path or Iceberg name."""

    spark: SparkSession
    location: str  # path (parquet fallback) or catalog.db.table (Iceberg)
    entity_col: str = "conv_id"
    # the parquet fallback's read schema, pinned once known (module docstring)
    _schema: StructType | None = field(default=None, init=False, repr=False, compare=False)

    @property
    def _is_table(self) -> bool:
        return not ("/" in self.location or self.location.startswith("file:"))

    @property
    def _local_dir(self) -> str | None:
        """The parquet fallback's directory when it is on the local file
        system; None for a catalog table or a remote path."""
        if self._is_table:
            return None
        loc = self.location.removeprefix("file:")
        # any scheme prefix (hdfs:/..., s3a://...) means non-local: the
        # first path segment contains a colon
        return None if ":" in loc.split("/", 1)[0] else loc

    def _snapshot_isolating_catalog(self) -> bool:
        """True when EVERY table in the catalog is snapshot-isolating: only
        Iceberg's pure SparkCatalog qualifies (each scan pins a snapshot,
        so read-then-overwrite of the same table in one job is safe).
        SparkSessionCatalog deliberately does NOT qualify — it DELEGATES
        non-Iceberg tables to the builtin catalog, so a parquet/Hive table
        living under it would be self-overwritten unstaged. Staging for an
        Iceberg table under SparkSessionCatalog merely costs an extra
        checkpoint; skipping it for a delegated parquet table corrupts."""
        parts = self.location.split(".")
        cat = parts[0] if len(parts) >= 3 else "spark_catalog"
        try:
            impl = self.spark.conf.get(f"spark.sql.catalog.{cat}", "") or ""
        except Exception:
            impl = ""
        return impl.endswith(".SparkCatalog") and "iceberg" in impl.lower()

    def read(self, feature_id: str | None = None) -> DataFrame:
        if self._is_table:
            df = self.spark.read.table(self.location)
        else:
            reader = self.spark.read
            if self._schema is not None:
                reader = reader.schema(self._schema)
            try:
                df = reader.parquet(self.location)
            except AnalysisException as e:
                # nothing published yet; any other failure (a corrupt or
                # unreadable file) must not read as an empty store
                if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                    raise
                return self._empty()
            if self._schema is None:
                self._schema = df.schema  # inferred file schemas are all-nullable
        if feature_id is not None:
            # partition-pruned on Iceberg (store is partitioned by feature_id)
            df = df.filter(F.col("feature_id") == feature_id)
        return df

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame(
            [],
            "feature_id string, conv_id string, params_hash string, "
            "value string, value_at_ts timestamp, calculated_ts timestamp",
        )

    # ----------------------------------------------------------- lifecycle
    def read_through(
        self,
        spine: DataFrame,
        feature_id: str,
        out_col: str,
        ts_col: str = "ts",
        params: dict[str, Any] | None = None,
        params_hash: str | None = None,
        allow_exact_matches: bool = True,
        knowledge_time: Any | None = None,
    ) -> DataFrame:
        """Planned → Tracked where a stored value exists at-or-before the
        request time (S7/J2). Adds ``out_col`` (NULL = still Planned) and
        ``out_col + '_at_ts'`` (the valueAtTimestamp witness).

        Identity is (feature_id, contextual params): ``params`` is hashed via
        :func:`contextual_params_hash`; a pre-computed ``params_hash`` wins
        if supplied.

        ``knowledge_time`` makes the read BITEMPORAL: only values the store
        had CALCULATED by that instant are visible (``calculated_ts <=
        knowledge_time``), on top of the usual event-time as-of on
        ``value_at_ts``. This answers "what did the store believe at time
        K" — the reproducibility axis (re-running yesterday's training job
        must not see today's corrections; the reference's dual stamps are
        exactly ``TrackableValue.valueAtTimestamp`` vs the transition to
        *Tracked*, ``schema/tracking/TrackableValue.kt:109-193``). Default
        ``None`` = current knowledge (no filter); corrections published
        later (higher ``calculated_ts``, same ``value_at_ts``) win under
        the existing ``right_order`` exactly when they are visible."""
        ph = params_hash or contextual_params_hash(params)
        # storage schema keeps the canonical entity column name (conv_id);
        # rename to the caller's entity_col so the as-of keys line up
        store = (
            self.read(feature_id)
            .filter(F.col("params_hash") == ph)
            .withColumnRenamed("conv_id", self.entity_col)
        )
        if knowledge_time is not None:
            store = store.filter(
                F.col("calculated_ts") <= F.lit(knowledge_time).cast("timestamp")
            )
        return asof_join(
            spine,
            store,
            on=[self.entity_col],
            left_ts=ts_col,
            right_ts="value_at_ts",
            value_cols={"value": out_col, "value_at_ts": f"{out_col}_at_ts"},
            allow_exact_matches=allow_exact_matches,
            right_order=["calculated_ts", "value"],
        )

    def publish(
        self,
        calculated: DataFrame,
        feature_id: str,
        value_col: str,
        ts_col: str = "ts",
        params: dict[str, Any] | None = None,
        params_hash: str | None = None,
        calculated_at: Any | None = None,
    ) -> None:
        """Calculated → Tracked: append newly computed values (S8).

        ``value_at_ts`` = the event time the value is valid from; the value
        is serialized to a JSON string (MapType-free Arrow-safe blob).
        Identity: (feature_id, contextual_params_hash(params)).
        ``calculated_at`` overrides the knowledge stamp (default: now) —
        backfills replaying history publish with the ORIGINAL run's stamp
        so bitemporal reads (``read_through(knowledge_time=...)``) stay
        faithful, and tests get deterministic stamps."""
        key = (
            live_gateway(), feature_id, self.entity_col,
            params_hash or contextual_params_hash(params), value_col, ts_col,
            calculated_at,
        )
        try:
            hash(key)
        except TypeError:
            cols = _build_publish_cols(*key)
        else:
            cols = _publish_cols(*key)
        rows = self._spread_for_write(calculated).select(*cols)
        if self._is_table:
            rows.writeTo(self.location).append()
            return
        loc = self._local_dir
        pin = self._schema is None and loc is not None and not data_files(loc)
        rows.write.mode("append").parquet(self.location)
        if pin:
            self._schema = StructType([StructField(f.name, f.dataType) for f in rows.schema])

    def _spread_for_write(self, df: DataFrame) -> DataFrame:
        """Spread a publish's input over :func:`spread_partitions` partitions
        when that is more than the input has: the JSON-serialize + write
        stage otherwise inherits the input's split count, so a large
        single-split input would be written on one core, while a small one
        is cheaper as one file with no shuffle. Logs one decision record per
        call (``input_partitions`` is None when the input was not probed)."""
        qe = df._jdf.queryExecution()
        estimate = int(str(qe.optimizedPlan().stats().sizeInBytes()))
        min_size = _byte_string(
            live_gateway(),
            self.spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
        )
        n = spread_partitions(estimate, self.spark.sparkContext.defaultParallelism, min_size)
        parts = None
        # n <= 1 never spreads, so the probe (~50 ms) is skipped. df.rdd
        # finalizes an adaptive plan and can run its shuffle stages; a
        # shuffled input's parallelism is the shuffle's anyway
        if n > 1 and "Exchange" not in qe.executedPlan().toString():
            parts = df.rdd.getNumPartitions()
        fired = parts is not None and n > parts
        decision = {
            "name": "publish_spread",
            "estimate_bytes": estimate,
            "input_partitions": parts,
            "partitions": n if fired else parts,
            "spread": "fired" if fired else "skipped",
        }
        _log.info(
            "publish spread %(spread)s: estimate %(estimate_bytes)d B, "
            "input partitions %(input_partitions)s, partitions %(partitions)s",
            decision,
            extra={"decision": decision},
        )
        return df.repartition(n) if fired else df

    def materialize_with_store(
        self,
        spine: DataFrame,
        feature_id: str,
        compute,
        out_col: str,
        ts_col: str = "ts",
        publish: bool = True,
        params: dict[str, Any] | None = None,
        tag_col: str | None = None,
    ) -> DataFrame:
        """Full lifecycle for one feature: read-through, compute only the
        misses (anti-pattern: recompute everything), publish the new rows.

        ``compute(df) -> df_with_out_col`` computes the feature on the rows
        given; it is applied only to Planned (store-miss) rows. ``params``
        carries the contextual parameters into the store identity.
        ``tag_col``, when set, adds a provenance column: ``'store'`` for
        Tracked read-through hits, ``'computed'`` for freshly Calculated
        rows — the observable witness of the Planned→Calculated→Tracked
        state each value took (``TrackableValue.kt:17-41``).
        """
        hit = self.read_through(spine, feature_id, out_col, ts_col, params=params)
        tracked = hit.filter(F.col(out_col).isNotNull())
        planned = hit.filter(F.col(out_col).isNull()).drop(out_col, f"{out_col}_at_ts")
        calculated = compute(planned).withColumn(
            f"{out_col}_at_ts", F.col(ts_col).cast("timestamp")
        )
        if publish:
            self.publish(calculated, feature_id, out_col, ts_col, params=params)
        if tag_col is not None:
            tracked = tracked.withColumn(tag_col, F.lit("store"))
            calculated = calculated.withColumn(tag_col, F.lit("computed"))
        # tracked store values are JSON blobs; keep both sides as-is
        return tracked.unionByName(
            calculated.withColumn(out_col, F.to_json(F.struct(F.col(out_col).alias("v"))))
        )

    def compact(self) -> dict[str, int]:
        """Rewrite the store keeping only the LATEST record per tracked-value
        identity point (feature_id, entity, params_hash, value_at_ts).

        ``publish`` appends; re-publishing a point (recomputation, replayed
        job, backfill overlap) leaves shadowed duplicates that the as-of
        read already ignores (``right_order=["calculated_ts", "value"]``
        picks the latest) but that bloat storage and slow every read — the
        standard append-table maintenance problem. Compaction is one
        ``max_by`` aggregation per key (map-side combinable; at scale run
        per feature_id partition). Single-writer assumption: do not compact
        concurrently with publishes. Returns row counts before/after.

        Catalog tables are rewritten with ``overwritePartitions`` — every
        identity key keeps at least one survivor, so every populated
        partition is rewritten in place and the table's partition spec and
        properties are PRESERVED (a replace-table write would silently drop
        the feature_id partitioning the reads prune on). The parquet
        fallback supports LOCAL paths only (matching its role as the
        no-catalog sandbox path) and swaps via rename-aside: the previous
        store is moved to ``<location>__precompact`` before the survivors
        are installed, so no crash window leaves the data deleted — if a
        crash strands the aside directory, rename it back to recover.
        """
        def survivors(df):
            return (
                df.groupBy("feature_id", "conv_id", "params_hash", "value_at_ts")
                .agg(
                    F.max_by(
                        F.struct(*STORE_COLUMNS), F.struct("calculated_ts", "value")
                    ).alias("r")
                )
                .select("r.*")
            )

        return self._rewrite(survivors)

    def expire(
        self,
        value_at_before: Any,
        keep_latest: bool = True,
        keep_knowledge_frontier: bool = False,
    ) -> dict[str, int]:
        """Retention: drop values whose ``value_at_ts`` is before the cutoff.

        With ``keep_latest=True`` (default) each identity's LATEST
        at-or-before-cutoff record SURVIVES (max by value_at_ts, then
        calculated_ts, then value — the exact row every CURRENT-knowledge
        point-in-time read at request time >= cutoff resolves to), so
        retention never changes a current-knowledge as-of answer inside
        the retained horizon — only deep-history reads (request time <
        cutoff) lose data, the policy's stated trade. NOTE the bitemporal
        caveat: a pinned-knowledge read (``read_through(knowledge_time=
        K)``) with K before the kept record's ``calculated_ts`` may
        change (superseded knowledge versions of pre-cutoff points are
        gone). Replayers that must reproduce old knowledge states pass
        ``keep_knowledge_frontier=True``: every pre-cutoff row that is
        the knowledge-visible winner for SOME K — i.e. not strictly
        dominated by a row with ``calculated_ts <= its`` and a strictly
        later ``value_at_ts`` — survives, which provably preserves every
        bitemporal answer at request times >= cutoff (one window pass;
        under a monotone publish pattern the frontier is large, so this
        mode reclaims only late re-publishes of older points).
        ``keep_latest=False`` is the hard cut (values valid only before
        the cutoff disappear entirely). Same rewrite protocol and
        crash-safety as :meth:`compact`; single-writer assumption
        applies. Returns before/after row counts.

        ``keep_latest=False`` is parquet-fallback only: on a catalog table
        a partition whose EVERY row expires would produce no output rows,
        and ``overwritePartitions`` leaves absent partitions untouched —
        the stale rows would silently survive. (``keep_latest=True`` is
        safe there: any populated partition keeps >= 1 survivor.) Hard
        cuts on Iceberg belong to ``DELETE FROM ... WHERE value_at_ts <
        cutoff``, which deletes by predicate, not by rewritten partition.
        """
        if not keep_latest and self._is_table:
            raise NotImplementedError(
                "expire(keep_latest=False) on a catalog table: a fully-"
                "expired partition would be left untouched by "
                "overwritePartitions — run DELETE FROM ... WHERE "
                "value_at_ts < cutoff on the table instead"
            )
        cut = F.lit(value_at_before).cast("timestamp")

        def survivors(df):
            recent = df.filter(F.col("value_at_ts") >= cut)
            if not keep_latest:
                return recent
            prior = df.filter(F.col("value_at_ts") < cut)
            if keep_knowledge_frontier:
                # keep row r unless some row of the same identity with
                # calculated_ts <= r's has a STRICTLY later value_at_ts —
                # then that row is visible whenever r is and always wins
                # the as-of (request ts >= cutoff), making r unreachable.
                # Ties on value_at_ts are kept on BOTH sides: the later
                # calculated_ts wins only while visible, the earlier one
                # is the answer for K between the two stamps.
                from pyspark.sql import Window as _W

                w = (
                    _W.partitionBy("feature_id", "conv_id", "params_hash")
                    .orderBy(F.col("calculated_ts").asc())
                    .rangeBetween(_W.unboundedPreceding, 0)
                )
                frontier = (
                    prior.withColumn("__dom_max", F.max("value_at_ts").over(w))
                    .filter(F.col("value_at_ts") >= F.col("__dom_max"))
                    .drop("__dom_max")
                )
                return recent.unionByName(frontier)
            latest_prior = (
                prior.groupBy("feature_id", "conv_id", "params_hash")
                .agg(
                    F.max_by(
                        F.struct(*STORE_COLUMNS),
                        F.struct("value_at_ts", "calculated_ts", "value"),
                    ).alias("r")
                )
                .select("r.*")
            )
            return recent.unionByName(latest_prior)

        return self._rewrite(survivors)

    def freshness(self, knowledge_time: Any | None = None) -> DataFrame:
        """Per-feature operational freshness — the monitoring row a feature
        platform alerts on: tracked-value count, distinct entities, the
        latest event-time coverage (``max value_at_ts`` — how far history
        extends) and the latest knowledge stamp (``max calculated_ts`` —
        when a pipeline last published; a stalled backfill/stream shows up
        here first). One map-combinable aggregate over the store;
        ``knowledge_time`` pins the report to what was known at K (same
        contract as :meth:`read_through`)."""
        df = self.read()
        if knowledge_time is not None:
            df = df.filter(
                F.col("calculated_ts") <= F.lit(knowledge_time).cast("timestamp")
            )
        return df.groupBy("feature_id").agg(
            F.count(F.lit(1)).alias("n_values"),
            F.countDistinct("conv_id").alias("n_entities"),
            F.max("value_at_ts").alias("latest_value_at"),
            F.max("calculated_ts").alias("latest_calculated"),
        )

    def _rewrite(self, survivors) -> dict[str, int]:
        """Crash-safe whole-store rewrite keeping ``survivors(df)`` rows —
        the shared mechanics behind :meth:`compact` and :meth:`expire`."""
        import shutil

        if self._is_table:
            df = self.read()
            n_before = df.count()
            out = survivors(df)
            # read-then-overwrite of the SAME table in one job is only safe
            # on snapshot-isolating catalogs (Iceberg: the scan pins the old
            # snapshot). On the session catalog / Hive parquet tables Spark
            # either rejects the self-overwrite or corrupts it — stage the
            # survivors eagerly (localCheckpoint severs the read lineage)
            # before the overwrite there.
            staged = None
            if not self._snapshot_isolating_catalog():
                staged = out.localCheckpoint(eager=True)
                out = staged
            try:
                out.writeTo(self.location).overwritePartitions()
            finally:
                if staged is not None:
                    # NOT staged.rdd.unpersist(): that builds a fresh
                    # Python-conversion RDD and silently misses the
                    # checkpointed one (see util.release)
                    release(staged)
            n_after = self.spark.read.table(self.location).count()
            return {"rows_before": n_before, "rows_after": n_after}
        loc = self._local_dir
        if loc is None:
            raise NotImplementedError(
                f"compact() on the parquet fallback supports local paths only, "
                f"got {self.location!r} — use a catalog table for remote stores"
            )
        tmp = loc.rstrip("/") + "__compacting"
        aside = loc.rstrip("/") + "__precompact"
        # resolve a previously interrupted compaction FIRST — before any
        # read: aside present without the store = crashed between the two
        # renames (recover the original; reading now would see an empty
        # store and compact everything away); aside present WITH the store
        # = crashed after install, aside is a completed backup (discard)
        if os.path.exists(aside):
            if not os.path.exists(loc):
                os.rename(aside, loc)
            else:
                shutil.rmtree(aside)
        if not os.path.exists(loc):
            return {"rows_before": 0, "rows_after": 0}
        # materialize the survivors BESIDE the store (the aggregation reads
        # the store lazily — rewriting in place would read what it deletes),
        # then swap with the old store renamed ASIDE first, never deleted
        # before the new data is in place
        n_before = footer_rows(loc)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        survivors(self.read()).write.mode("overwrite").parquet(tmp)
        os.rename(loc, aside)
        os.rename(tmp, loc)
        shutil.rmtree(aside)
        return {"rows_before": n_before, "rows_after": footer_rows(loc)}
