"""Structured Streaming front-end (SURVEY §2 S1/S19/S21).

The reference is driven by the Kafka Connect runtime delivering
``put(Collection<SinkRecord>)`` batches (``TableStoreSinkTask.java:106-122``);
our equivalent is Structured Streaming delivering micro-batches into
``foreachBatch``, with the checkpoint directory owning source progress and
the LakeTable's batch manifest owning sink idempotency — together: end-to-end
exactly-once (at-least-once redelivery from the checkpoint × idempotent
batch_id commit = effectively-once).

In production the source line is ``spark.readStream.format("kafka")``; tests
use a file-stream source over the same change-log schema (no Kafka broker in
the sandbox), which exercises identical semantics.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_connect_tablestore_spark.engine import CdcEngine

# the sidecar protocol (batch markers, the params guard, the fsync'd atomic
# writer) lives with the index API itself: the batch build/probe/append
# functions and compact_index use it too — the hazards it closes are not
# streaming-specific.  The streams validate-or-freeze their params before
# touching any per-batch state.
from kafka_connect_tablestore_spark.operators.index_maint import (
    batch_committed,
    commit_batch,
    ensure_index_params as _ensure_index_params,
    write_text_atomic,
)


def _start_query(
    stream_df: DataFrame,
    apply,
    checkpoint_dir: str,
    query_name: str,
    available_now: bool,
    processing_time: str | None,
) -> StreamingQuery:
    """The shared writeStream tail: foreachBatch + checkpoint + trigger."""
    if available_now and processing_time:
        raise ValueError(
            "pass either processing_time (continuous trigger) with "
            "available_now=False, or available_now=True (drain once) — "
            "available_now would silently win and the stream would stop "
            "after one drain instead of running every interval"
        )
    writer = (
        stream_df.writeStream.foreachBatch(apply)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _index_stream_apply(index_path: str, cols: tuple, empty: dict, step):
    """Build an index stream's ``foreachBatch`` body — the per-batch
    skeleton every index stream shares:

    1. a batch whose ``<index>.batches/<batch_id>.json`` marker exists is
       a checkpoint replay of committed work: skip it;
    2. materialize the batch's ``cols`` once (eager local checkpoint) and
       count them;
    3. an empty batch commits the ``empty`` marker fields;
    4. otherwise ``step(frame, n_rows, batch_id)`` does the stream's own
       work (params guard, bootstrap or incremental probe, slice write,
       index append) and returns the marker fields, committed only after
       it returns — the marker never becomes durable before the data it
       marks."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_committed(index_path, batch_id):
            return
        frame = batch_df.select(*cols).localCheckpoint(eager=True)
        n_rows = frame.count()
        fields = step(frame, n_rows, batch_id) if n_rows else empty
        commit_batch(index_path, batch_id, **fields)

    return _apply


def _first_by_id(vecs: DataFrame, id_col: str, vec_col: str, n: int) -> list:
    """The deterministic 'first' training rule: the first ``n`` vectors by
    id, collected as plain float lists (the JSON sidecar format)."""
    return [
        [float(x) for x in r[vec_col]]
        for r in vecs.orderBy(id_col).limit(n).collect()
    ]


def _overwrite_cells(rows: DataFrame, batch_id: int, index_path: str) -> None:
    """Land one batch's IVF-family rows as a dynamic partition overwrite of
    its own ``batch_id=N/cell=C`` slice: a replayed batch rewrites, never
    duplicates, its rows."""
    (
        rows.withColumn("batch_id", F.lit(batch_id))
        .repartition("cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "cell")
        .parquet(index_path)
    )


def start_cdc_stream(
    events_stream: DataFrame,
    engine: CdcEngine,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "cdc-ingest",
) -> StreamingQuery:
    """Wire a streaming change-log DataFrame into the CDC engine.

    ``foreachBatch`` batch_ids are stable across restarts for the same
    checkpoint, so a batch replayed after a crash hits the LakeTable's
    committed-manifest skip (exactly-once upgrade of S19).

    The lake batch id is namespaced by ``query_name``
    (``<query_name>-<batch_id>``): two streams feeding one engine — or an
    entry-point migration that restarts foreachBatch ids at 0 under a
    fresh checkpoint — must not collide in the table's committed-batch
    ledger, where a collision reads as "already committed" and silently
    drops the new batch.  Keep ``query_name`` stable across restarts of
    the SAME stream (it is the idempotency namespace), and distinct
    across different streams.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        engine.apply_batch(batch_df, f"{query_name}-{batch_id}")

    return _start_query(
        events_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def kafka_source_plan(spark, bootstrap: str, topic: str) -> DataFrame:
    """The production source line (documented; no broker in the sandbox).

    Returns a streaming DataFrame with the engine's envelope columns from a
    Kafka topic carrying JSON change events.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    payload = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    return raw.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        F.unix_millis(F.col("timestamp")).alias("commit_ts"),
        F.from_json(F.col("value").cast("string"), payload).alias("v"),
    ).select("topic", "partition", "offset", "commit_ts", "v.*")


def start_lsh_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "lsh-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted MinHash-LSH index from a document stream —
    the daily-ingest loop the incremental indexes exist for, run end-to-end
    under the streaming engine instead of a hand-driven batch loop.

    Per micro-batch, in order:

    1. probe: emit every candidate near-dup pair the batch forms against
       the already-indexed corpus AND within itself
       (``incremental_lsh_pairs``; first batch: within-batch pairs only),
       written to ``pairs_path/batch_id=N`` with ``overwrite`` — re-running
       a batch rewrites, never duplicates, its pair slice;
    2. index: append the batch's banded signature rows
       (``append_to_lsh_index``; first batch: ``build_lsh_index``);
    3. commit: atomically record the batch id in a sidecar manifest
       (tmp + rename, the LakeTable pattern) so a checkpoint-replayed batch
       is a no-op.

    Crash-safety argument: a crash inside the window between step 2 and
    step 3 makes the replay re-append the batch's signature rows. Duplicate
    index rows cost only space, never correctness — pair emission ends in
    ``.distinct()`` and (min,max)-id orientation, so a batch probed against
    an index that already contains its own rows emits the identical pair
    set. Union-of-emitted-pairs therefore always equals the full-corpus
    ``minhash_lsh_pairs`` restricted to pairs whose later doc has arrived:
    each pair is emitted exactly once, by the micro-batch that completes it.

    Scale shape per batch: one broadcast of the day's banded rows against a
    band-partitioned index scan — the corpus text is never re-read, and the
    per-batch work is independent of corpus size except for the signature
    scan (bands × ~80 bytes/doc)."""
    from kafka_connect_tablestore_spark.operators.dedup import (
        append_to_lsh_index,
        build_lsh_index,
        incremental_lsh_pairs,
        minhash_lsh_pairs,
    )

    def _step(docs: DataFrame, n_docs: int, batch_id: int) -> dict:
        spark = docs.sparkSession
        _ensure_index_params(
            index_path, {"n_hashes": n_hashes, "bands": bands}
        )
        if os.path.exists(index_path):
            pairs = incremental_lsh_pairs(
                spark, index_path, docs, text_col, id_col, n_hashes, bands
            )
        else:
            pairs = minhash_lsh_pairs(
                docs, text_col, id_col, n_hashes, bands
            )
        slice_dir = os.path.join(pairs_path, f"batch_id={batch_id}")
        pairs.write.mode("overwrite").parquet(slice_dir)
        n_pairs = spark.read.parquet(slice_dir).count()
        if os.path.exists(index_path):
            append_to_lsh_index(docs, index_path, text_col, id_col,
                                n_hashes, bands)
        else:
            build_lsh_index(docs, index_path, text_col, id_col,
                            n_hashes, bands)
        return {"n_docs": n_docs, "n_pairs": n_pairs}

    _apply = _index_stream_apply(
        index_path, (id_col, text_col), {"n_docs": 0, "n_pairs": 0}, _step
    )
    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_chunk_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    dedup_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 16,
    n_buckets: int = 64,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "chunk-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted chunk-fingerprint index from a document
    stream — the streaming twin of the multi-day ``incremental_chunk_dedup``
    loop.

    Per micro-batch: dedupe the batch's chunks against the index (plus
    within-batch first occurrences), write the per-doc result to
    ``dedup_path/batch_id=N`` with ``overwrite`` (replay rewrites, never
    duplicates), append the surviving fingerprints to the index (first
    batch: ``build_chunk_index``), then commit the batch id to a sidecar
    manifest (tmp + rename) so a checkpoint-replayed batch is a no-op.

    Crash between append and commit re-appends the batch's fingerprint
    rows on replay; duplicate index rows cost space, never correctness —
    the probe EXCLUDES index rows owned by the batch's own ids before
    forming its hit set (so the replay's verdicts are identical to the
    original run's, never self-contaminated), and the hit set is
    ``.distinct()`` on the fingerprint before the keep decision.
    PRECONDITION inherited from the batch operator: ids
    must arrive in monotone order across batches (the natural append-only
    ingest shape) for exact equality with the full-corpus recompute."""
    from kafka_connect_tablestore_spark.operators.corpus import (
        append_to_chunk_index,
        build_chunk_index,
        chunk_dedup,
        incremental_chunk_dedup,
    )

    def _step(docs: DataFrame, n_docs: int, batch_id: int) -> dict:
        spark = docs.sparkSession
        _ensure_index_params(
            index_path, {"chunk_words": chunk_words, "n_buckets": n_buckets}
        )
        slice_dir = os.path.join(dedup_path, f"batch_id={batch_id}")
        if os.path.exists(index_path):
            per_doc, kept = incremental_chunk_dedup(
                spark, index_path, docs, text_col, id_col,
                chunk_words, n_buckets,
            )
            per_doc.write.mode("overwrite").parquet(slice_dir)
            append_to_chunk_index(kept, index_path)
        else:
            # batch 0 chunks the docs twice (the verdict aggregate and the
            # index build each walk _chunk_rows) — the same bootstrap-only
            # double cost the semantic stream documents for its first
            # batch; every later batch shares one probe pass via
            # incremental_chunk_dedup's checkpointed `marked` frame
            chunk_dedup(docs, text_col, id_col, chunk_words).write.mode(
                "overwrite"
            ).parquet(slice_dir)
            build_chunk_index(docs, index_path, text_col, id_col,
                              chunk_words, n_buckets)
        return {"n_docs": n_docs}

    _apply = _index_stream_apply(
        index_path, (id_col, text_col), {"n_docs": 0}, _step
    )
    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_fingerprint_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "fingerprint-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted exact-dedup fingerprint index from a document
    stream — the streaming twin of the multi-day ``incremental_dedup_exact``
    loop (the exact-fingerprint index is the FIRST gate a daily crawl
    ingest hits).

    Per micro-batch: dedup the batch against the index plus within-batch
    first occurrences, write per-doc ``(id, fp, kept)`` verdicts to
    ``verdicts_path/batch_id=N`` with ``overwrite`` (replay rewrites,
    never duplicates), append the surviving fingerprints to the index
    (first batch: ``build_fingerprint_index``), then commit the batch id
    to the sidecar manifest (tmp + rename) so a checkpoint-replayed batch
    is a no-op.  Crash between append and commit re-appends fingerprint
    rows on replay; duplicate index rows cost space, never correctness —
    the probe EXCLUDES index rows owned by the batch's own ids before
    forming its hit set (replay verdicts are identical to the original
    run's, never self-contaminated), and distincts the hit set before
    the keep decision.
    PRECONDITION inherited from the batch operator: monotone ids across
    batches (the natural append-only ingest shape) for exact equality
    with ``dedup_exact`` on the full corpus."""
    from pyspark.sql import Window

    from kafka_connect_tablestore_spark.functions.text import doc_fingerprint
    from kafka_connect_tablestore_spark.operators.dedup import (
        append_to_fingerprint_index,
        build_fingerprint_index,
        incremental_dedup_exact,
    )

    def _step(docs: DataFrame, n_docs: int, batch_id: int) -> dict:
        spark = docs.sparkSession
        _ensure_index_params(index_path, {"n_buckets": n_buckets})
        slice_dir = os.path.join(verdicts_path, f"batch_id={batch_id}")
        if os.path.exists(index_path):
            verdicts, kept = incremental_dedup_exact(
                spark, index_path, docs, text_col, id_col, n_buckets
            )
            verdicts = verdicts.localCheckpoint(eager=True)
            verdicts.write.mode("overwrite").parquet(slice_dir)
            append_to_fingerprint_index(kept, index_path)
            n_kept = verdicts.where("kept").count()
        else:
            # first batch: within-batch first occurrence wins (the same
            # (fp, id-asc) row_number the incremental probe uses)
            first = Window.partitionBy("fp").orderBy(id_col)
            verdicts = (
                docs.select(
                    F.col(id_col), doc_fingerprint(text_col).alias("fp")
                )
                .withColumn("kept", F.row_number().over(first) == 1)
                .localCheckpoint(eager=True)
            )
            verdicts.write.mode("overwrite").parquet(slice_dir)
            build_fingerprint_index(docs, index_path, text_col, id_col, n_buckets)
            n_kept = verdicts.where("kept").count()
        return {"n_docs": n_docs, "n_kept": n_kept}

    _apply = _index_stream_apply(
        index_path, (id_col, text_col), {"n_docs": 0, "n_kept": 0}, _step
    )
    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_semantic_index_stream(
    vecs_stream: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint_dir: str,
    *,
    threshold: float = 0.9,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "semantic-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted SemDeDup survivor index from an embedding
    stream, driven end-to-end under the streaming engine.

    Per micro-batch, in order:

    1. dedup: compute every new vector's verdict against the index + the
       batch itself (``incremental_semantic_dedup``; first batch: plain
       ``semantic_dedup``), written to ``verdicts_path/batch_id=N`` with
       ``overwrite`` — re-running a batch rewrites, never duplicates, its
       verdict slice;
    2. index: append the batch's SURVIVOR rows in index format
       (``append_to_semantic_index``; first batch: ``build_semantic_index``,
       whose 'first'-trained centroids are persisted in an atomic sidecar
       JSON — the query-side contract every later batch reuses);
    3. commit: record the batch id in the sidecar manifest (tmp + rename)
       so a checkpoint-replayed batch is a no-op.

    Crash-safety argument: a crash between steps 2 and 3 makes the replay
    re-probe against an index that already holds this batch's survivors,
    then re-append them.  The probe's id self-exclusion makes the re-probe
    exact (a vector's own index copy never dominates it at cosine 1.0;
    every other contaminating copy is an original-run survivor, which only
    dominates vectors the original run killed anyway — so replay verdicts
    are identical).  The duplicate survivor rows the re-append leaves cost
    space, never correctness: dominance is an ANY-match against same-cell
    index survivors, so a duplicated survivor produces identical verdicts.
    Under the monotone-id ingest precondition the union of verdict slices
    equals full-corpus ``semantic_dedup`` restricted to arrived ids — the
    greedy scan is prefix-stable, so each vector's verdict is final the
    micro-batch it arrives (the `incremental_semantic_dedup` docstring
    carries the proof sketch).

    First-batch cost note: batch 0 runs the greedy fixpoint twice (once
    for verdicts, once inside ``build_semantic_index``) — bounded, one-time,
    and kept in exchange for a single authoritative writer of the index
    row format."""
    _apply = _make_semantic_apply(
        index_path, verdicts_path, threshold, n_cells, id_col, vec_col
    )

    return _start_query(
        vecs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def _make_semantic_apply(
    index_path: str,
    verdicts_path: str,
    threshold: float,
    n_cells: int,
    id_col: str,
    vec_col: str,
):
    """Build the per-micro-batch apply function for the semantic index
    stream.

    Module-level (rather than a closure inside the stream starter) so the
    batch-0 guard ordering is directly testable: a failed batch 0 (too few
    vectors to train ``n_cells`` centroids) must NOT leave a params sidecar
    behind — see ``start_semantic_index_stream``'s docstring for the full
    protocol."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        append_to_semantic_index,
        build_semantic_index,
        incremental_semantic_dedup,
        semantic_dedup,
    )

    centroids_file = index_path.rstrip("/") + ".centroids.json"

    def _step(vecs: DataFrame, n_vecs: int, batch_id: int) -> dict:
        spark = vecs.sparkSession
        slice_dir = os.path.join(verdicts_path, f"batch_id={batch_id}")
        if os.path.exists(centroids_file):
            # validate against the frozen sidecar (batch 0 wrote it AFTER
            # its own guards passed — freezing before the batch-0 n_vecs
            # check would leave a sidecar for an index that was never
            # built, and following the error's own advice then tripped a
            # bogus params-mismatch)
            _ensure_index_params(
                index_path, {"threshold": threshold, "n_cells": n_cells}
            )
            with open(centroids_file) as f:
                centroids = json.load(f)
            per_vec, kept = incremental_semantic_dedup(
                spark, index_path, centroids, vecs, threshold,
                id_col=id_col, vec_col=vec_col,
            )
            (per_vec.select(id_col, "is_survivor")
             .write.mode("overwrite").parquet(slice_dir))
            n_surv = kept.count()
            append_to_semantic_index(kept, index_path)
        else:
            if n_vecs < n_cells:
                raise ValueError(
                    f"first micro-batch must carry at least n_cells="
                    f"{n_cells} vectors to train the cell centroids "
                    f"(got {n_vecs}); lower n_cells or enlarge batch 0"
                )
            # no pre-freeze here: build_semantic_index below writes the
            # sidecar itself (overwrite=True) once it has the centroids —
            # the guard above guarantees len(centroids) == n_cells so the
            # incremental branch's validation matches on every later batch
            per_vec = semantic_dedup(
                vecs, threshold, n_cells, id_col, vec_col, train="first"
            )
            (per_vec.select(id_col, "is_survivor")
             .write.mode("overwrite").parquet(slice_dir))
            centroids = build_semantic_index(
                vecs, index_path, threshold, n_cells,
                id_col=id_col, vec_col=vec_col, train="first",
            )
            write_text_atomic(centroids_file, json.dumps(centroids))
            n_surv = spark.read.parquet(slice_dir).where("is_survivor").count()
        return {"n_vecs": n_vecs, "n_survivors": n_surv}

    return _index_stream_apply(
        index_path, (id_col, vec_col), {"n_vecs": 0, "n_survivors": 0}, _step
    )


def start_view_maintenance_stream(
    events_stream: DataFrame,
    engine: CdcEngine,
    view_path: str,
    checkpoint_dir: str,
    *,
    group_cols: tuple[str, ...] = ("repo", "lang"),
    size_col: str = "content",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "cdc-view-maintenance",
) -> StreamingQuery:
    """Ingest a change-event stream AND keep a grouped (row count, byte sum)
    materialized view current, per micro-batch, without ever re-aggregating
    the base table — the streaming leg of
    ``operators/changefeed.py::maintain_aggregate``.

    Per micro-batch, in order:

    1. ingest: ``engine.apply_batch`` (idempotent via the lake's batch
       manifest — a checkpoint-replayed batch is skipped and returns its
       original manifest, including the version it committed);
    2. delta: the lake changefeed between the pre- and post-batch versions,
       pre-image included, PRUNED to the manifest's ``touched_buckets`` —
       per-batch cost is proportional to the batch, never the table;
    3. view: ``maintain_aggregate`` applies retract/assert rows to the
       previous persisted view and writes the result to
       ``view_path/v{version}`` with ``overwrite`` (replay rewrites, never
       double-applies);
    4. commit: the batch id lands in a sidecar manifest (tmp + rename), so
       a crash between 3 and 4 just replays an idempotent overwrite.

    The view at version V always equals ``GROUP BY`` over the table read at
    version V — the equality the batch tests prove and this stream carries
    across micro-batches.
    """
    from kafka_connect_tablestore_spark.operators.changefeed import (
        maintain_aggregate,
    )

    def _view_dir(version: int) -> str:
        return os.path.join(view_path, f"v{version:06d}")

    def _aggregate(state: DataFrame) -> DataFrame:
        return state.groupBy(*group_cols).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.coalesce(F.length(size_col), F.lit(0)))
            .cast("long")
            .alias("content_bytes"),
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_committed(view_path, batch_id):
            return
        spark = batch_df.sparkSession
        manifest = engine.apply_batch(batch_df, f"{query_name}-{batch_id}")
        v_after = manifest.get("committed_at_version")
        if v_after is None:
            # merge_batch always assigns a version (even an all-errant
            # batch commits an empty clean frame), so a missing version
            # means `engine` is not a single-table CdcEngine (e.g. a
            # MultiTableEngine's dict-of-manifests) — committing a no-op
            # here would silently disable view maintenance forever
            raise TypeError(
                "view maintenance requires a single-table engine whose "
                "apply_batch manifest carries committed_at_version; got "
                f"manifest keys {sorted(manifest)}"
            )
        v_before = v_after - 1
        prev_dir = _view_dir(v_before)
        changes = engine.table.changefeed(
            v_before,
            v_after,
            include_old=True,
            buckets=manifest.get("touched_buckets"),
        )
        if os.path.exists(prev_dir):
            base = spark.read.parquet(prev_dir)
        else:
            # stream bootstrap: aggregate the pre-stream state ONCE; every
            # later batch reads the persisted view.  A snapshot missing a
            # view column (version-0 pk-only, or a column added later by
            # schema evolution) aggregates with the absent columns as typed
            # nulls — exactly what a recompute at that version produces.
            # An empty base is only ever the aggregate OF an empty snapshot,
            # never a silent drop of pre-stream rows.
            state0 = engine.table.read(version=v_before)
            have = set(state0.columns)
            delta_types = {f.name: f.dataType for f in changes.schema.fields}
            proj = [
                F.col(c) if c in have
                else F.lit(None).cast(delta_types[c]).alias(c)
                for c in (*group_cols, size_col)
                if c in have or c in delta_types
            ]
            missing = [
                c for c in (*group_cols, size_col)
                if c not in have and c not in delta_types
            ]
            if missing:
                raise ValueError(
                    f"view columns {missing} absent from both the v{v_before} "
                    "snapshot and the changefeed schema"
                )
            base = _aggregate(state0.select(*proj))
        view = maintain_aggregate(base, changes, group_cols, size_col)
        out_dir = _view_dir(v_after)
        view.write.mode("overwrite").parquet(out_dir)
        n_groups = spark.read.parquet(out_dir).count()
        commit_batch(view_path, batch_id, version=v_after, n_groups=n_groups)

    return _start_query(
        events_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def _make_bloom_apply(
    index_path: str,
    verdicts_path: str,
    m_bits: int,
    k: int,
    text_col: str,
    id_col: str,
):
    """Build the per-micro-batch apply function for the Bloom index stream.

    Module-level (rather than a closure inside the stream starter) so the
    crash-replay protocol is directly testable: tests drive batches through
    it, delete a manifest to simulate a crash inside the append→commit
    window, and assert the replay's verdicts are untouched."""
    from kafka_connect_tablestore_spark.functions.text import doc_fingerprint
    from kafka_connect_tablestore_spark.operators.dedup import (
        _bloom_meta,
        append_to_bloom_index,
        build_bloom_bitset,
        build_bloom_index,
        incremental_bloom_dedup,
    )

    staged_dir = verdicts_path.rstrip("/") + ".staged"

    def _staged(batch_id: int) -> bool:
        # own sidecar marker, written by _stage below: the slice's Spark
        # _SUCCESS file is honored too (older layouts), but is NOT relied
        # on — clusters running with
        # mapreduce.fileoutputcommitter.marksuccessfuljobs=false never
        # write it, which would silently disarm the replay guard and let
        # a crash-replay re-probe the batch against its own bits
        slice_dir = os.path.join(verdicts_path, f"batch_id={batch_id}")
        return os.path.exists(
            os.path.join(staged_dir, f"{batch_id}.marker")
        ) or os.path.exists(os.path.join(slice_dir, "_SUCCESS"))

    def _stage(batch_id: int) -> None:
        # the marker disarms the re-probe on replay: it must never be LESS
        # durable than the index append it authorizes (write_text_atomic
        # fsyncs before the rename)
        write_text_atomic(
            os.path.join(staged_dir, f"{batch_id}.marker"), str(batch_id)
        )

    def _step(docs: DataFrame, n_docs: int, batch_id: int) -> dict:
        spark = docs.sparkSession
        slice_dir = os.path.join(verdicts_path, f"batch_id={batch_id}")
        meta_exists = os.path.exists(index_path.rstrip("/") + ".meta")
        if meta_exists and _staged(batch_id):
            # crash-replay after the slice committed: the index may already
            # hold this batch's bits, so re-probing would flag the whole
            # batch against itself.  Reuse the durable verdicts, re-derive
            # the bits map-only (no index read), re-OR (idempotent), commit.
            m_bits_idx, k_idx = _bloom_meta(index_path)
            new_bits = build_bloom_bitset(docs, m_bits_idx, k_idx, text_col)
            append_to_bloom_index(new_bits, index_path)
            n_flagged = (
                spark.read.parquet(slice_dir).where("maybe_in_prior").count()
            )
        elif meta_exists:
            # validate-or-freeze like every other stream: a restart under a
            # different (m_bits, k) would silently probe with the OLD
            # position math while the operator believes the filter was
            # resized — refuse with both parameter sets named
            m_bits_idx, k_idx = _bloom_meta(index_path)
            if (m_bits_idx, k_idx) != (m_bits, k):
                raise ValueError(
                    f"bloom index at {index_path} was built with "
                    f"m_bits={m_bits_idx}, k={k_idx}; the stream was "
                    f"restarted with m_bits={m_bits}, k={k} — rebuild at a "
                    "fresh index path to change the filter geometry"
                )
            verdicts, new_bits = incremental_bloom_dedup(
                spark, index_path, docs, text_col, id_col
            )
            verdicts = verdicts.localCheckpoint(eager=True)
            verdicts.write.mode("overwrite").parquet(slice_dir)
            _stage(batch_id)
            append_to_bloom_index(new_bits, index_path)
            n_flagged = verdicts.where("maybe_in_prior").count()
        else:
            verdicts = docs.select(
                F.col(id_col),
                doc_fingerprint(text_col).alias("fp"),
                F.lit(False).alias("maybe_in_prior"),
            ).localCheckpoint(eager=True)
            verdicts.write.mode("overwrite").parquet(slice_dir)
            _stage(batch_id)
            build_bloom_index(docs, index_path, m_bits, k, text_col)
            n_flagged = 0
        return {"n_docs": n_docs, "n_flagged": n_flagged}

    return _index_stream_apply(
        index_path, (id_col, text_col), {"n_docs": 0, "n_flagged": 0}, _step
    )


def start_bloom_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    verdicts_path: str,
    checkpoint_dir: str,
    *,
    m_bits: int = 1 << 22,
    k: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "bloom-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted Bloom bitset index from a document stream —
    the streaming twin of the ``incremental_bloom_dedup`` loop.  Per
    micro-batch: probe the index
    (first batch: everything is definitely-new), write per-doc
    ``(id, fp, maybe_in_prior)`` verdicts to ``verdicts_path/batch_id=N``
    with ``overwrite``, append the batch's bitset rows, commit the batch
    id to the sidecar manifest (tmp + rename).

    The append is idempotent under OR, but the PROBE is not replay-safe
    against an index that already holds this batch's own bits (every doc
    would flag ``maybe_in_prior`` against itself — and bits carry no ids
    to exclude, unlike the fingerprint/chunk/semantic probes).  The
    verdict slice is therefore the staged commit point: the index is only
    appended AFTER the slice is durable, recorded by an explicit sidecar
    marker (``<verdicts>.staged/<batch>.marker``, tmp + rename — NOT the
    slice's Spark ``_SUCCESS`` file, which clusters running
    ``marksuccessfuljobs=false`` never write; ``_SUCCESS`` is still
    honored for indexes staged by older builds).  A replay that finds the
    marker skips the probe entirely — it re-derives
    the batch's bits map-only (never reading the index) and re-ORs them.
    Every crash window is safe: before the marker the index is untouched
    (clean recompute); after it the probe never runs again.  Unlike the
    fingerprint index there is NO monotone-id precondition: the bitset is
    a set of content bits, blind to ids and arrival order."""
    _apply = _make_bloom_apply(
        index_path, verdicts_path, m_bits, k, text_col, id_col
    )

    return _start_query(
        docs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_ivf_index_stream(
    vecs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "ivf-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted IVF inverted file from an embedding stream
    (:func:`start_ivfpq_index_stream` adds the PQ-coded variant on the
    same coarse layer).

    Batch 0 trains the centroids with the same deterministic 'first' rule
    as ``build_ivf_index(train='first')`` (the first ``n_cells`` vectors by
    id) and persists them in an atomic sidecar JSON — the query-side
    contract every later batch and every probe reuses.  Under the
    monotone-id ingest precondition (day 0 holds the smallest ids) those
    are the same vectors the one-shot batch build would pick, so the
    streamed index is content-equal to ``build_ivf_index`` +
    ``append_to_ivf_index`` over the same slices.

    Idempotency is STRUCTURAL here, not manifest-dependent: unlike the
    OR-idempotent Bloom bitset or the ANY-match semantic survivors, a
    duplicated IVF row would occupy a second top-k rank slot at probe
    time, so blind re-append on crash-replay is NOT safe.  Each batch
    therefore lands as a dynamic partition overwrite of its own
    ``batch_id=N/cell=C`` slice — a replayed batch rewrites, never
    duplicates, its rows (the manifest remains as a fast-skip).  Partition
    pruning on ``cell`` is unaffected by the extra ``batch_id`` level:
    ``ann_ivf_indexed_topk``'s probed-cell filter still prunes to the
    probed directories.
    """
    from kafka_connect_tablestore_spark.operators.similarity import (
        _norm,
        ivf_assign,
    )

    centroids_file = index_path.rstrip("/") + ".centroids.json"

    def _step(vecs: DataFrame, n_vecs: int, batch_id: int) -> dict:
        if os.path.exists(centroids_file):
            with open(centroids_file) as f:
                centroids = json.load(f)
            if len(centroids) != n_cells:
                raise ValueError(
                    f"ivf stream n_cells={n_cells} does not match the "
                    f"persisted index ({len(centroids)} centroids); restart "
                    "with the index's parameters"
                )
        else:
            if n_vecs < n_cells:
                # training fewer centroids than n_cells would permanently
                # cripple the index (every later vector squeezes into the
                # few cells batch 0 happened to carry) — refuse loudly
                raise ValueError(
                    f"first micro-batch must carry at least n_cells="
                    f"{n_cells} vectors to train the coarse quantizer "
                    f"(got {n_vecs}); lower n_cells or enlarge batch 0"
                )
            centroids = _first_by_id(vecs, id_col, vec_col, n_cells)
            write_text_atomic(centroids_file, json.dumps(centroids))
        d0 = len(vecs.select(vec_col).first()[0])
        if d0 != len(centroids[0]):
            # len-mismatched dot products zip_with-truncate silently,
            # assigning rows to essentially arbitrary cells the probe
            # will never find — recall collapses with no error
            raise ValueError(
                f"ivf stream vectors are {d0}-dim but the index centroids "
                f"are {len(centroids[0])}-dim — the embedding model "
                "changed; rebuild the index at a fresh path"
            )
        vd = F.col(vec_col).cast("array<double>")
        _overwrite_cells(
            vecs.select(
                F.col(id_col).alias("neighbor_id"),
                vd.alias("cv"),
                _norm(vd).alias("cn"),
                ivf_assign(F.col(vec_col), centroids).alias("cell"),
            ),
            batch_id,
            index_path,
        )
        return {"n_vecs": n_vecs}

    _apply = _index_stream_apply(
        index_path, (id_col, vec_col), {"n_vecs": 0}, _step
    )
    return _start_query(
        vecs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )


def start_ivfpq_index_stream(
    vecs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    encode: str = "residual",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    processing_time: str | None = None,
    query_name: str = "ivfpq-index-ingest",
) -> StreamingQuery:
    """Maintain the persisted IVFADC (IVF-PQ) index from an embedding
    stream — the production ANN shape:
    batch 0 trains BOTH quantizer levels with the deterministic 'first'
    rules (coarse centroids = first ``n_cells`` vectors by id; PQ
    codebooks = first ``n_codes`` residuals by id, exactly what
    ``build_ivfpq_index(train='first')`` would pick under the monotone-id
    ingest precondition) and freezes them in an atomic sidecar JSON — the
    query-side contract (``ann_ivfpq_indexed_topk``'s ``meta``) that every
    later batch encodes under, unchanged (retraining mid-stream would
    silently re-define every previously stored code).

    Idempotency is structural, exactly as in ``start_ivf_index_stream``
    and for the same reason (a duplicated row steals a top-k rank slot):
    each batch lands as a dynamic partition overwrite of its own
    ``batch_id=N/cell=C`` slice; the manifest is a fast-skip only.
    Partition pruning on ``cell`` survives the extra level."""
    from kafka_connect_tablestore_spark.operators.similarity import (
        _ivfpq_corpus_plan,
    )

    meta_file = index_path.rstrip("/") + ".meta.json"

    def _step(vecs: DataFrame, n_vecs: int, batch_id: int) -> dict:
        if os.path.exists(meta_file):
            with open(meta_file) as f:
                meta = json.load(f)
            centroids, codebooks = meta["centroids"], meta["codebooks"]
            # the persisted meta is the encoding contract; encoding a later
            # batch under different parameters would silently re-define the
            # distance math for every row it writes — reject the mismatch
            got = (encode, m, n_codes, dim, n_cells)
            want = (
                meta.get("encode", encode),
                len(codebooks),
                len(codebooks[0]),
                len(centroids[0]),
                len(centroids),
            )
            if got != want:
                raise ValueError(
                    f"ivfpq stream params (encode, m, n_codes, dim, n_cells)"
                    f"={got} do not match the persisted index meta {want}; "
                    "restart with the index's parameters"
                )
        else:
            if n_vecs < max(n_cells, n_codes):
                raise ValueError(
                    f"first micro-batch must carry at least "
                    f"max(n_cells, n_codes)={max(n_cells, n_codes)} vectors "
                    f"to train both quantizer levels (got {n_vecs}); lower "
                    "them or enlarge batch 0"
                )
            centroids = _first_by_id(vecs, id_col, vec_col, n_cells)
            codebooks = None  # batch 0 trains them inside the encode plan
        d0 = len(vecs.select(vec_col).first()[0])
        if d0 != dim or dim % m != 0:
            # fail fast with the real cause: a wrong `dim` on batch 0
            # would train silently-truncated codebooks and freeze them
            # into the meta (every restart then fails unactionably), and
            # an embedding-model change passes the meta check (params
            # still match each other) while slice/zip_with truncate
            raise ValueError(
                f"ivfpq stream dim={dim} (m={m}) does not match the "
                f"actual vector length {d0} in this batch: dim must equal "
                "the embedding dimension and be divisible by m"
            )
        corpus, codebooks = _ivfpq_corpus_plan(
            vecs, centroids, m, n_codes, dim, id_col, vec_col,
            "first", encode, codebooks=codebooks,
        )
        if not os.path.exists(meta_file):
            write_text_atomic(
                meta_file,
                json.dumps({"centroids": centroids, "codebooks": codebooks,
                            "encode": encode}),
            )
        _overwrite_cells(corpus, batch_id, index_path)
        return {"n_vecs": n_vecs}

    _apply = _index_stream_apply(
        index_path, (id_col, vec_col), {"n_vecs": 0}, _step
    )
    return _start_query(
        vecs_stream, _apply, checkpoint_dir, query_name, available_now, processing_time
    )
