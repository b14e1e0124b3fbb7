"""MERGE semantics: fold a change-log batch into final per-key state.

The reference applies row changes *sequentially* per key (hash-PK bucketed
``WriteMode.SEQUENTIAL`` writer, ``TableStoreSinkWriter.java:120-129``), so
"state" is the left fold of the PUT/UPDATE/DELETE matrix
(``RowChangeTransformer.java:201-256``) over the key's events in
``(commit_ts, offset)`` order.

Spark-first re-expression: instead of imperatively replaying (a window over a
hot key serializes into one task), the fold DECOMPOSES into associative
aggregates, evaluated by one two-phase aggregation (partial map-side + final;
SortAggregate physically, since max_by buffers carry strings) — the partial
phase pre-reduces hot keys before the shuffle, giving skew resistance for
free (see BENCH/BASELINE.md "Skew resilience"):

- row exists  ⇔  no barrier (= last PUT/DELETE), or the barrier is a PUT, or
  an UPDATE exists after the barrier.
- per attribute column c, the winner is the LATEST event that *sets* c:
  every PUT (sets c to its value, null = absent) and DELETE (clears c), plus
  — depending on delete.mode — UPDATEs that carry c:
    delete.mode ∈ {none, row}            →  only non-null UPDATE values set c
                                             (null ignored);
    delete.mode ∈ {column, row_and_column} → every UPDATE sets c (null
                                             deletes the column).
  final c = winner.c unless the winner is a DELETE (→ null).

One ``max_by(struct(op, c), conditional-order)`` per column — associative,
partially aggregatable, and each column's payload is shuffled exactly once.
``max_by`` ignores rows whose ordering expression is NULL, which encodes the
"sets c" condition.  The pre-existing target row enters the fold as a virtual
PUT (or DELETE tombstone) at its stored version, making MERGE the same fold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.config import COL_DELETE_MODES_, SinkConfig

ORD_COLS = ("commit_ts", "offset")

#: system metadata columns persisted per lake row: the version (order struct
#: of the last change applied to the key) and a retained tombstone flag.
#: Versioned tombstones make PUT/DELETE application order-insensitive across
#: micro-batches (late or reordered full-row events converge to the same
#: state — the LWW-register treatment).  Partial UPDATEs keep the reference's
#: own delivery contract: in-order per key (Kafka per-partition order, one key
#: per partition — exactly the assumption in ``TableStoreSinkWriter.java:125``).
META_COLS = ("_deleted", "_ver_ts", "_ver_off")


def _ord() -> Column:
    """Total order of events: struct compares lexicographically."""
    return F.struct(*[F.col(c) for c in ORD_COLS])


def fold_state(
    events: DataFrame,
    config: SinkConfig,
    attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
    emit_meta: bool = False,
) -> DataFrame:
    """Fold clean change events into final state, one row per surviving key.

    Input columns: ``pk_fields + (commit_ts, offset, op) + attr_fields``;
    ``op ∈ {PUT, UPDATE, DELETE}`` (already validated/normalized upstream).
    Output: ``pk_fields + attr_fields`` for keys that exist after the fold;
    with ``emit_meta`` every key is emitted (deleted ones flagged) plus the
    META_COLS version columns, for tombstone-retaining sinks.
    """
    if config.column_whitelist is not None:
        attr_fields = tuple(f for f in attr_fields if f in config.column_whitelist)
    pk = list(config.pk_fields)
    op = F.col("op")
    is_upd = op == F.lit("UPDATE")
    is_bar = ~is_upd  # PUT or DELETE
    col_delete = config.delete_mode in COL_DELETE_MODES_

    # Sentinel "no such event" order: NULL (max/max_by ignore NULL orders).
    aggs = [
        F.max(F.when(is_bar, _ord())).alias("_bar_ord"),
        F.max_by(op, F.when(is_bar, _ord())).alias("_bar_op"),
        F.max(F.when(is_upd, _ord())).alias("_upd_ord"),
    ]
    for c in attr_fields:
        # events that SET column c: all barriers + (qualifying) updates
        sets_c = is_bar | (is_upd if col_delete else (is_upd & F.col(c).isNotNull()))
        aggs.append(
            F.max_by(
                F.struct(op.alias("op"), F.col(c).alias("v")),
                F.when(sets_c, _ord()),
            ).alias(f"_w_{c}")
        )

    g = events.groupBy(*pk).agg(*aggs)

    bar_ord, upd_ord = F.col("_bar_ord"), F.col("_upd_ord")
    exists = (
        bar_ord.isNull()
        | (F.col("_bar_op") == F.lit("PUT"))
        | (upd_ord.isNotNull() & (bar_ord.isNull() | (upd_ord > bar_ord)))
    )

    def final(c: str) -> Column:
        w = F.col(f"_w_{c}")
        return F.when(w.isNotNull() & (w["op"] != F.lit("DELETE")), w["v"])

    out_cols: list[Column] = [F.col(c) for c in pk]
    if not emit_meta:
        out_cols += [final(c).alias(c) for c in attr_fields]
        return g.where(exists).select(*out_cols)
    # emit_meta: every key survives; deleted rows keep null attributes and a
    # tombstone flag + version (order-insensitive PUT/DELETE convergence).
    out_cols += [F.when(exists, final(c)).alias(c) for c in attr_fields]
    # version = order of the key's latest event (greatest skips NULL sides)
    all_ord = F.greatest(bar_ord, upd_ord)
    out_cols += [
        (~exists).alias("_deleted"),
        all_ord["commit_ts"].alias("_ver_ts"),
        all_ord["offset"].alias("_ver_off"),
    ]
    return g.select(*out_cols)


def merge_into_state(
    target: DataFrame | None,
    events: DataFrame,
    config: SinkConfig,
    attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
    emit_meta: bool = False,
) -> DataFrame:
    """MERGE a batch of clean events into existing ``target`` state.

    The existing row re-enters the fold as a virtual event: a PUT (or a
    DELETE, for a retained tombstone) at its stored version — or at order
    (-1, -1) when the target carries no version columns (strictly before
    every real event).  The same fold therefore implements WHEN MATCHED
    UPDATE / DELETE and WHEN NOT MATCHED INSERT in one pass (the reference's
    overwrite-by-PK idempotency, SURVEY §2 S11/S19), and stored versions make
    redelivered/reordered full-row events converge.
    """
    if config.column_whitelist is not None:
        attr_fields = tuple(f for f in attr_fields if f in config.column_whitelist)
    pk = list(config.pk_fields)
    ev = events.select(*pk, *ORD_COLS, "op", *attr_fields)
    if target is None:
        return fold_state(ev, config, attr_fields, emit_meta)
    has_meta = all(c in target.columns for c in META_COLS)
    if has_meta:
        virt = target.select(
            *pk,
            F.col("_ver_ts").alias("commit_ts"),
            F.col("_ver_off").alias("offset"),
            F.when(F.col("_deleted"), F.lit("DELETE")).otherwise(F.lit("PUT")).alias("op"),
            *[F.col(c) for c in attr_fields],
        )
    else:
        virt = target.select(
            *pk,
            F.lit(-1).cast("long").alias("commit_ts"),
            F.lit(-1).cast("long").alias("offset"),
            F.lit("PUT").alias("op"),
            *[F.col(c) for c in attr_fields],
        )
    return fold_state(virt.unionByName(ev), config, attr_fields, emit_meta)
