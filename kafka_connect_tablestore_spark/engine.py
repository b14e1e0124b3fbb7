"""CdcEngine: the end-to-end pipeline (the Spark-native ``TableStoreSinkTask``).

Reference hot loop (``TableStoreSinkTask.java:106-122`` →
``TableStoreSinkWriter.java:215-272``): route → transform (PK extraction,
projection, row-change decision) → bucketed ordered write → flush → report
errants → commit offsets.  Here the same stages are one declarative plan per
micro-batch:

    events → validate/classify (Catalyst exprs) → split errant/clean
           → fold/MERGE into LakeTable → tolerance gate + DLQ append
           → snapshot commit with embedded batch manifest (exactly-once)

``apply_batch`` is the ``foreachBatch`` body; ``replay`` drives a batch
change log through ordered micro-batches (offset-range sliced) and is the
crash-resume surface (a re-run skips committed batch_ids).
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from kafka_connect_tablestore_spark.config import RuntimeErrorTolerance, SinkConfig
from kafka_connect_tablestore_spark.functions.hashing import bucket_of, cast_pk_columns
from kafka_connect_tablestore_spark.lake.table import (
    LINEAGE_KEYS,
    LakeTable,
    lineage_aggs,
)
from kafka_connect_tablestore_spark.operators.rowchange import (
    ERROR_COL,
    ToleranceError,
    dlq_rows,
    split_errant,
    validate_and_classify,
)


def _observed_lineage(obs: Observation, classified: DataFrame, is_clean) -> dict:
    """The batch's observed lineage row, read after the data-write job.

    The observation normally fires within milliseconds of that job
    (listener-bus delivery is async).  Guard with a bounded poll: if the
    metrics never arrive (e.g. the executed plan landed on a different
    SparkSession than the one the Observation listener is registered on),
    fall back to one direct aggregate job instead of blocking forever.
    """
    deadline = time.time() + 10.0
    while time.time() < deadline:
        # ``obs._jo.getRowOrEmpty()`` is a PySpark-private JVM probe
        # (verified on the pinned Spark 4.1.2); guard it so a Spark
        # upgrade that removes it degrades to the direct-aggregate
        # fallback instead of crashing inside before_commit.
        try:
            if obs._jo is not None and obs._jo.getRowOrEmpty().isDefined():
                return dict(obs.get)
        except Exception:
            break
        time.sleep(0.05)
    return classified.agg(*lineage_aggs(is_clean)).first().asDict()


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: SinkConfig,
        lake_root: str,
        table: str = "repos",
        attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
    ) -> None:
        self.spark = spark
        self.config = config
        self.attr_fields = attr_fields
        self.table = LakeTable(spark, lake_root, table, config, attr_fields)

    # ------------------------------------------------------------ one batch
    def apply_batch(self, events: DataFrame, batch_id: str) -> dict:
        """Apply one micro-batch; returns the committed manifest entry.

        Scan budget per batch (matters at 10^10 events): the merge/fold/
        write pass and a DLQ write only when errants exist.  With
        ``lineage_per_partition`` one combined stats pass (per-partition
        lineage + touched buckets + errant count) runs first; without it
        the lineage aggregates ride the merge write via ``Dataset.observe``
        on the pre-split frame, and every bucket is treated as touched (the
        uniform-batch case).  The merge write is 3 Spark jobs under AQE.

        Ordering contract (reference: errants are reported and the task
        failed *before* Connect commits offsets, ``TableStoreSinkTask.java:
        118-121``): the tolerance gate and the DLQ append run *between* the
        data-write job and the snapshot pointer swap, via ``merge_batch``'s
        ``before_commit`` hook.  A tolerance=NONE violation therefore aborts
        the commit (orphan files only, no visible state change), and DLQ
        rows can never be lost to a crash after commit — if the swap never
        happens, the whole batch replays.
        """
        if self.config.event_parser is not None:
            # user extension point (reference: event.parse.class,
            # parsers/EventParser.java:13-66): raw batch → engine events
            events = self.config.event_parser(events)
        # normalize PK types before classification (uncastable → NULL →
        # NULL_PRIMARY_KEY dead-letter) and before the touched-bucket hash,
        # which must agree with the post-union hash inside merge_batch
        events = cast_pk_columns(events, self.config.pk_fields, self.config.pk_types)
        classified = validate_and_classify(events, self.config, self.attr_fields)
        is_clean = F.col(ERROR_COL).isNull()

        if self.config.lineage_per_partition:
            stats = (
                classified.groupBy("partition")
                .agg(
                    *lineage_aggs(is_clean),
                    F.collect_set(
                        F.when(
                            is_clean,
                            bucket_of(self.config.pk_fields, self.config.n_buckets),
                        )
                    ).alias("buckets"),
                )
                .collect()
            )
            per_partition = {
                str(r["partition"]): {k: r[k] for k in LINEAGE_KEYS} for r in stats
            }
            touched = sorted({b for r in stats for b in r["buckets"] if b is not None})
            clean, errant = split_errant(classified)

            def lineage() -> dict:
                return per_partition

        else:
            obs = Observation(f"lineage-{batch_id}")
            clean, errant = split_errant(classified.observe(obs, *lineage_aggs(is_clean)))
            touched = list(range(self.config.n_buckets))

            def lineage() -> dict:
                return {"_global": _observed_lineage(obs, classified, is_clean)}

        def before_commit(manifest: dict) -> None:
            # runs after the data write, so an observed lineage row is ready
            partitions = lineage()
            n_errant = sum(ln["errant_rows"] for ln in partitions.values())
            if n_errant:
                if self.config.tolerance is RuntimeErrorTolerance.NONE:
                    raise ToleranceError(
                        f"{n_errant} errant record(s) with tolerance=none in {batch_id}"
                    )
                self.table.append_dlq(dlq_rows(errant, self.config), batch_id)
            manifest["partitions"] = partitions

        return self.table.merge_batch(
            clean, batch_id, touched=touched, before_commit=before_commit
        )

    # ----------------------------------------------------------- bootstrap
    def bootstrap(
        self,
        snapshot: DataFrame,
        batch_id: str = "bootstrap-0",
        topic: str = "bootstrap",
        version: tuple[int, int] = (-1, -1),
    ) -> dict:
        """Initial-load bootstrap: commit an existing state snapshot as the
        engine's first batch, so a subsequent :meth:`replay` of the
        change-log tail merges onto it — the Debezium-style
        snapshot-then-stream cutover as an engine lifecycle step (the
        operator-level dual, with redelivery-overlap algebra, is
        ``operators/changefeed.bootstrap_handoff``).

        Snapshot rows enter as PUT events at ``version`` (default
        ``(-1, -1)`` — strictly before every real event, the same sentinel
        ``plans/merge.py`` uses for meta-less targets), so any tail event
        outranks them per column.  The snapshot must carry the PK and attr
        columns; it flows through the ordinary ``apply_batch`` path and
        therefore gets a manifest, exactly-once skip on re-run, and
        crash-resume like any other batch.  Caveat (same as the operator):
        a plain state snapshot has no tombstones, so the tail must be the
        STRICT suffix of the log — redelivering pre-snapshot events of
        deleted keys would resurrect them; use ``bootstrap_handoff`` (which
        retains tombstones) when the tail overlaps the snapshot.
        """
        pk = list(self.config.pk_fields)
        ev = snapshot.select(
            F.lit(topic).alias("topic"),
            F.lit(0).cast("int").alias("partition"),
            F.lit(int(version[1])).cast("long").alias("offset"),
            F.lit(int(version[0])).cast("long").alias("commit_ts"),
            F.lit("PUT").alias("op"),
            *[F.col(c) for c in pk],
            *[F.col(c) for c in self.attr_fields],
        )
        return self.apply_batch(ev, batch_id)

    # -------------------------------------------------------------- replay
    def replay(
        self,
        events: DataFrame,
        n_batches: int = 1,
        batch_prefix: str = "replay",
    ) -> list[dict]:
        """Replay a change log as ``n_batches`` ordered micro-batches.

        Batches are sliced by offset range (offsets are monotone in event
        order), so batch k strictly precedes batch k+1 — the micro-batch
        equivalent of the reference's in-order ``put()`` calls.  Committed
        batch_ids are skipped, so re-running after a crash is exactly-once.
        """
        manifests: list[dict] = []
        if n_batches <= 1:
            return [self.apply_batch(events, f"{batch_prefix}-0")]
        lo, hi = events.select(F.min("offset"), F.max("offset")).first()
        if lo is None:
            return manifests
        span = math.ceil((hi - lo + 1) / n_batches)
        for k in range(n_batches):
            b = events.where(
                (F.col("offset") >= lo + k * span) & (F.col("offset") < lo + (k + 1) * span)
            )
            manifests.append(self.apply_batch(b, f"{batch_prefix}-{k}"))
        return manifests

    def state(self, version: int | None = None) -> DataFrame:
        """Current table state, or AS OF ``version`` (snapshot time travel)."""
        return self.table.read(version=version)

    def lineage(self) -> DataFrame:
        """Committed per-batch per-partition lineage as a DataFrame
        (see :meth:`LakeTable.lineage`)."""
        return self.table.lineage()


class MultiTableCdcEngine:
    """Topic-routed multi-table sink: the reference task's per-record
    ``getTableNameByTopic`` dispatch (``TableStoreSinkWriter.java:222-224``)
    becomes one routing split + one CdcEngine per target table, each with its
    own snapshots/manifests/DLQ (mirrors the shared-writer-per-table maps in
    ``TableStoreSinkTask.java:30-98``)."""

    def __init__(
        self,
        spark: SparkSession,
        config: SinkConfig,
        lake_root: str,
        attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
    ) -> None:
        self.spark = spark
        self.config = config
        self.lake_root = lake_root
        self.attr_fields = attr_fields
        self._engines: dict[str, CdcEngine] = {}

    def engine_for(self, table: str) -> CdcEngine:
        if table not in self._engines:
            self._engines[table] = CdcEngine(
                self.spark, self.config, self.lake_root, table, self.attr_fields
            )
        return self._engines[table]

    def apply_batch(self, events: DataFrame, batch_id: str) -> dict[str, dict]:
        from kafka_connect_tablestore_spark.operators.routing import route

        manifests: dict[str, dict] = {}
        parts = route(events, self.config)
        try:
            for table, part in parts.items():
                manifests[table] = self.engine_for(table).apply_batch(
                    part, f"{batch_id}@{table}"
                )
        finally:
            parts.unpersist()
        return manifests

    def state(self, table: str) -> DataFrame:
        return self.engine_for(table).state()
