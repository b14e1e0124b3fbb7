"""Sink configuration: the engine's equivalent of the reference's
``TableStoreSinkConfig`` (reference: ``TableStoreSinkConfig.java``).

Only semantic knobs are carried over — buffer sizes / flush intervals / client
retry budgets are physical-write engineering the Spark runtime owns (micro-batch
triggers, task retries, AQE).  Validation rules mirror the reference:

- ``delete.mode != NONE`` requires ``primarykey.mode == RECORD_KEY``
  (``TableStoreSinkConfig.java:590-593``).
- topic→table routing via explicit assignment or a ``<topic>`` format string
  (``TableStoreSinkConfig.java:715-737``).
- per-table primary-key schema and optional attribute-column whitelist
  (``TableStoreSinkConfig.java:761-883``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum


class InsertMode(str, Enum):
    """Reference: ``enums/InsertMode.java:3-12``."""

    PUT = "put"          # RowPutChange: full-row overwrite
    UPDATE = "update"    # RowUpdateChange: partial, per-column update


class DeleteMode(str, Enum):
    """Reference: ``enums/DeleteMode.java:3-20``."""

    NONE = "none"                    # null value / null columns are errors or ignored
    ROW = "row"                      # null value => delete row
    COLUMN = "column"                # null column => delete that column
    ROW_AND_COLUMN = "row_and_column"


#: delete modes that allow row deletes / column deletes
#: (``enums/DeleteMode.java:3-20``).
ROW_DELETE_MODES_ = (DeleteMode.ROW, DeleteMode.ROW_AND_COLUMN)
COL_DELETE_MODES_ = (DeleteMode.COLUMN, DeleteMode.ROW_AND_COLUMN)


class PrimaryKeyMode(str, Enum):
    """Reference: PK-mode dispatch in ``utils/RowChangeTransformer.java:76-89``."""

    KAFKA = "kafka"              # PK := (topic_partition, offset)
    RECORD_KEY = "record_key"    # PK fields pulled from the record key
    RECORD_VALUE = "record_value"  # PK fields pulled from the record value
    SEARCH = "search"            # PK := (md5[0:5], topic, partition, offset)


class RuntimeErrorTolerance(str, Enum):
    """Reference: ``enums/RuntimeErrorTolerance.java:3-12``."""

    NONE = "none"  # first error kills the job
    ALL = "all"    # errant rows split off to the DLQ


class SearchTimeMode(str, Enum):
    """Reference: ``enums/SearchTimeMode.java:7-18``."""

    KAFKA = "kafka"  # timestamp column := record timestamp
    LOCAL = "local"  # timestamp column := wall clock (non-deterministic; tests pin it)


#: Connect-type → engine-type lattice, mirroring ``ColumnCoverterUtil.java:57-76``:
#: all integer widths collapse to long, all float widths to double.
COLUMN_TYPE_WIDENING = {
    "int8": "long",
    "int16": "long",
    "int32": "long",
    "int64": "long",
    "long": "long",
    "float32": "double",
    "float64": "double",
    "float": "double",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "bytes": "binary",
    "binary": "binary",
}

#: Primary-key columns may only be these types
#: (``DefaultEventParser.java:389-404``).
PK_ALLOWED_TYPES = {"string", "long", "binary"}


@dataclass
class SinkConfig:
    """Engine configuration for one sink job.

    ``pk_fields`` is the ordered primary-key column list (1..4 cols, like a
    Tablestore PrimaryKey).  For the graft input the key is ``(repo, path)``.
    """

    pk_fields: tuple[str, ...] = ("repo", "path")
    pk_types: tuple[str, ...] = ("string", "string")
    insert_mode: InsertMode = InsertMode.PUT
    delete_mode: DeleteMode = DeleteMode.NONE
    pk_mode: PrimaryKeyMode = PrimaryKeyMode.RECORD_VALUE
    tolerance: RuntimeErrorTolerance = RuntimeErrorTolerance.ALL
    search_time_mode: SearchTimeMode = SearchTimeMode.KAFKA
    # Optional attribute-column whitelist (None => dynamic: every non-PK field).
    column_whitelist: tuple[str, ...] | None = None
    # topic → table routing (explicit map) and/or a "<topic>"-substituting format.
    topic_table_map: dict[str, str] = field(default_factory=dict)
    table_name_format: str = "<topic>"
    # Physical knobs for the lake sink.
    n_buckets: int = 32
    auto_create: bool = True       # CREATE TABLE IF NOT EXISTS semantics (S17)
    # Lineage granularity.  False (default): global lineage is observed as
    # a side-effect of the merge write (df.observe — no extra scan of the
    # batch; a clean batch runs 3 Spark jobs, the fold and bucket shuffles
    # plus the write, and a dirty one adds the DLQ write) and all buckets
    # are treated as touched (uniform batches touch them all anyway).
    # True: per-source-partition offset ranges + the touched-bucket set, at
    # the cost of one extra aggregation pass over the batch — turn on for
    # sparse/selective batches (only touched buckets are read and
    # rewritten) or when per-partition audit lineage matters.
    lineage_per_partition: bool = False
    # Pluggable event parser — the engine's one user extension point,
    # mirroring the reference's ``event.parse.class``
    # (``TableStoreSinkConfig.java:53-54``, instantiation ``:702-710``,
    # interface ``parsers/EventParser.java:13-66``).  A callable
    # ``DataFrame -> DataFrame`` applied to the raw batch before
    # classification; it must emit the engine's event columns
    # (pk_fields + attr fields + envelope).  Declarative column expressions
    # keep it JVM-side; an Arrow ``mapInPandas`` stage works for payloads
    # Catalyst can't express.  None = built-in (records already structured).
    event_parser: object | None = None

    def __post_init__(self) -> None:
        if not (1 <= len(self.pk_fields) <= 4):
            raise ValueError("primary key must have 1..4 columns")
        if len(self.pk_fields) != len(self.pk_types):
            raise ValueError("pk_fields and pk_types must align")
        for t in self.pk_types:
            if t not in PK_ALLOWED_TYPES:
                raise ValueError(
                    f"primary-key type {t!r} not in {sorted(PK_ALLOWED_TYPES)} "
                    "(reference: DefaultEventParser.java:389-404)"
                )
        # Reference rule: delete requires record_key PK mode
        # (TableStoreSinkConfig.java:590-593). We relax it to "a payload-derived
        # PK" because our graft keys live in the value; KAFKA/SEARCH modes
        # synthesize keys per-event so a DELETE could never match a prior row.
        if self.delete_mode != DeleteMode.NONE and self.pk_mode in (
            PrimaryKeyMode.KAFKA,
            PrimaryKeyMode.SEARCH,
        ):
            raise ValueError(
                "delete.mode requires a record-derived primary key "
                "(reference: TableStoreSinkConfig.java:590-593)"
            )
        if self.n_buckets < 1:
            raise ValueError("bucket counts must be >= 1")

    def table_for_topic(self, topic: str) -> str:
        """Topic→table routing (reference: ``TableStoreSinkConfig.java:715-737``)."""
        if topic in self.topic_table_map:
            return self.topic_table_map[topic]
        return self.table_name_format.replace("<topic>", topic)
