"""Row-change classification + error-tolerance gate (SURVEY §2 S10/S11/S14).

Vectorized re-expression of ``utils/RowChangeTransformer.java``:

- tombstone detection (``:174-191``): op=DELETE, or — when the log carries no
  explicit op column — an all-null payload (the fixed-schema stand-in for
  Connect's ``value == null``);
- the decision matrix (``:201-256``): PUT/UPDATE/DELETE vs errant, by
  insert.mode × delete.mode × null shape (full expected matrix ported from
  ``RowChangeTransformerTest.java:106-762`` into
  ``tests/test_rowchange_matrix.py``).  Notably, a tombstone that cannot
  delete (delete.mode ∈ {none, column}) is an *empty-row overwrite* under
  insert.mode=put (``:209-210``) and a dirty record only under update
  (``:211-212``);
- the tolerance gate (``TableStoreSinkWriter.java:226-241``,
  ``enums/RuntimeErrorTolerance.java``): NONE → first error raises;
  ALL → errant rows split to the DLQ.

Everything is Catalyst column expressions (no Python in the row loop); the
errant/clean split is two filters over one cached classification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.config import (
    COL_DELETE_MODES_,
    ROW_DELETE_MODES_,
    InsertMode,
    SinkConfig,
)

ERROR_COL = "error_info"


class ToleranceError(RuntimeError):
    """Raised on the first errant record when tolerance=NONE
    (mirrors ConnectException at ``TableStoreSinkWriter.java:232-236``)."""


def classify_op(
    config: SinkConfig, attr_fields: tuple[str, ...], has_op_col: bool
) -> Column:
    """Effective op per record: explicit op column, else derived from the
    null shape + configured insert mode (the reference has no op column —
    ``value == null`` means delete, otherwise insert.mode decides)."""
    all_null = F.lit(True)
    for c in attr_fields:
        all_null = all_null & F.col(c).isNull()
    if has_op_col:
        base = F.col("op")
    else:
        base = F.when(all_null, F.lit("DELETE")).otherwise(
            F.lit("UPDATE" if config.insert_mode is InsertMode.UPDATE else "PUT")
        )
    # Config-forced update mode downgrades explicit PUTs to UPDATEs
    # (insert.mode is a sink-level switch in the reference).
    if has_op_col and config.insert_mode is InsertMode.UPDATE:
        base = F.when(base == F.lit("PUT"), F.lit("UPDATE")).otherwise(base)
    return base


def validate_and_classify(
    events: DataFrame,
    config: SinkConfig,
    attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
) -> DataFrame:
    """Add ``_op`` (normalized op) and ``error_info`` (null = clean) columns."""
    # Tombstone detection is RECORD-level (the reference's ``value == null``,
    # RowChangeTransformer.java:174-191, checked BEFORE column projection):
    # it must see every attribute column, so a record whose whitelisted
    # columns are null but whose other columns carry data is a normal
    # insert/update with an empty projected payload — NOT a delete.
    full_attrs = tuple(attr_fields)
    if config.column_whitelist is not None:
        attr_fields = tuple(f for f in attr_fields if f in config.column_whitelist)
    has_op = "op" in events.columns
    op = classify_op(config, full_attrs, has_op)

    null_pk = F.lit(False)
    for c in config.pk_fields:
        null_pk = null_pk | F.col(c).isNull()

    # an op-carrying log must carry a KNOWN op: anything else would either
    # vanish from the fold (null) or act as a phantom row-delete barrier
    # (unrecognized string) — both silent; dead-letter it instead
    if has_op:
        invalid_op = F.col("op").isNull() | ~F.col("op").isin("PUT", "UPDATE", "DELETE")
    else:
        invalid_op = F.lit(False)

    # "nothing to write": evaluated over the PROJECTED payload — with a
    # whitelist, non-whitelisted data cannot rescue an UPDATE that writes
    # zero columns
    all_null = F.lit(True)
    for c in attr_fields:
        all_null = all_null & F.col(c).isNull()

    row_deletable = config.delete_mode in ROW_DELETE_MODES_
    col_deletable = config.delete_mode in COL_DELETE_MODES_
    put_mode = config.insert_mode is InsertMode.PUT

    # Tombstone that cannot delete the row: PUT mode → empty-row overwrite
    # (RowChangeTransformer.java:209-210); UPDATE mode → dirty record.
    is_dead_tombstone = (op == F.lit("DELETE")) & F.lit(not row_deletable)
    op = F.when(is_dead_tombstone & F.lit(put_mode), F.lit("PUT")).otherwise(op)

    error = (
        F.when(null_pk, F.lit("NULL_PRIMARY_KEY"))
        .when(invalid_op, F.lit("UNKNOWN_OP"))
        .when(
            is_dead_tombstone & F.lit(not put_mode),
            F.lit("DELETE_NOT_ALLOWED"),
        )
        .when(
            (op == F.lit("UPDATE")) & all_null & F.lit(not col_deletable),
            F.lit("ALL_COLUMNS_NULL"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    if ERROR_COL in events.columns:
        # a payload parser (e.g. parse_map_payload's TYPE_MISMATCH) may have
        # classified the record already — parse errors precede row-change
        # classification, exactly as the reference's parser throws before the
        # transformer runs; never clobber them
        error = F.coalesce(F.col(ERROR_COL), error)
    out = events.withColumn("_op", op).withColumn(ERROR_COL, error)
    # A DELETE downgraded to an empty PUT must present a columnless payload
    # even if the producer attached one (value==null ⇒ no columns parsed).
    # Clean rows only: an errant DELETE (e.g. null PK) keeps its original
    # payload for the DLQ — split_errant's "errant keeps the record" contract.
    if put_mode and not row_deletable:
        downgraded = is_dead_tombstone & F.col(ERROR_COL).isNull()
        types = dict(out.dtypes)
        out = out.select(
            *[
                F.when(downgraded, F.lit(None).cast(types[c]))
                .otherwise(F.col(c))
                .alias(c)
                if c in attr_fields
                else F.col(c)
                for c in out.columns
            ]
        )
    return out


def split_errant(classified: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Tolerance gate: return ``(clean, errant)``.

    ``clean`` has the normalized ``op`` column; ``errant`` keeps the original
    record plus ``error_info`` (DLQ layout applied downstream, S15/S16).
    With tolerance=NONE the caller must refuse a batch whose ``errant``
    is non-empty (``CdcEngine.apply_batch`` does so before its commit).
    """
    err = F.col(ERROR_COL)
    clean = (
        classified.where(err.isNull())
        .drop(ERROR_COL)
        .drop("op")
        .withColumnRenamed("_op", "op")
    )
    errant = classified.where(err.isNotNull()).drop("_op")
    return clean, errant


def dlq_rows(errant: DataFrame, config: SinkConfig | None = None) -> DataFrame:
    """Project errant records to the DLQ layout mirroring
    ``errors/TableStoreReporter.java:243-270``:
    ``(topic_partition, offset, key, value, error_info)``.

    The key JSON is built from the *configured* primary key (the reference
    serializes the record key, which is the PK source in record_key mode) —
    not a hardcoded column list, so non-default PKs round-trip."""
    pk_fields = config.pk_fields if config is not None else ("repo", "path")
    key_json = F.to_json(F.struct(*pk_fields))
    payload_cols = [c for c in errant.columns if c not in ("topic", "partition", "offset", ERROR_COL)]
    return errant.select(
        F.concat_ws("_", F.col("topic"), F.col("partition")).alias("topic_partition"),
        F.col("offset"),
        key_json.cast("binary").alias("key"),
        F.to_json(F.struct(*payload_cols)).cast("binary").alias("value"),
        F.col(ERROR_COL),
    )
