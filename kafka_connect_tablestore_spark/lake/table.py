"""LakeTable: bucketed, snapshot-versioned parquet table with atomic commits.

An Iceberg-shaped storage layer with no external jars (SURVEY §7 "Iceberg
caveat"): the same engine code would target real Iceberg ``MERGE INTO`` /
``ALTER TABLE`` by swapping this class — the interface is deliberately the
Iceberg verb set (create-if-absent, merge, alter-via-schema-registry,
snapshot commit with embedded manifest).

Layout (all under ``root/<table>/``)::

    VERSION                 atomic pointer (text "n"), swapped by rename
    meta/v{n}.json          snapshot: schema, bucket->files map, batch manifests
    data/snap{n}/_bucket=K/ per-bucket parquet (copy-on-write per bucket)
    dlq/batch={id}/         dead-letter rows (idempotent per batch)

Scale design (10^10 events / 1000 executors):

- **hash-PK bucketing** mirrors the reference's ``DispatchMode.HASH_PRIMARY_KEY``
  (``TableStoreSinkWriter.java:120-125``): one key ↔ one bucket, so a MERGE
  touches only the buckets its batch writes — untouched buckets are carried
  forward *by reference* in the snapshot metadata (metadata-only, like
  Iceberg's manifest reuse), never rewritten.
- **partition pruning by construction**: the target-side read enumerates
  exactly the touched buckets' files.
- **exactly-once** (upgrade of the reference's at-least-once offset commit,
  ``TableStoreSinkWriter.java:244-270``): each snapshot embeds the batch
  manifest ``(batch_id, per-partition offset ranges, row counts)``; data and
  manifest become visible in the same atomic pointer swap, and re-applying a
  committed batch_id is a no-op.  A crash before the swap leaves only orphan
  files; replaying the batch recomputes them deterministically.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_connect_tablestore_spark.config import SinkConfig
from kafka_connect_tablestore_spark.functions.hashing import (
    bucket_of,
    cast_pk_columns,
    content_sha256,
)
from kafka_connect_tablestore_spark.plans.merge import META_COLS, merge_into_state
from kafka_connect_tablestore_spark.plans.schema_evolution import (
    align_to_schema,
    batch_attr_schema,
    evolve,
)

SHA_COL = "content_sha256"

#: attribute-column count cap per table, mirroring the reference's column
#: count limit check (``utils/ParamChecker.java:75-97``).
MAX_ATTR_COLUMNS = 128

#: the per-partition lineage keys of a batch manifest
LINEAGE_KEYS = ("start_offset", "end_offset", "rows", "errant_rows")


def lineage_aggs(is_clean: Column) -> list[Column]:
    """The batch-lineage aggregates, named :data:`LINEAGE_KEYS`: offset
    range and count of the events where ``is_clean`` holds, and the count
    of the rest."""
    return [
        F.min(F.when(is_clean, F.col("offset"))).alias("start_offset"),
        F.max(F.when(is_clean, F.col("offset"))).alias("end_offset"),
        F.count(F.when(is_clean, F.lit(1))).alias("rows"),
        F.count(F.when(~is_clean, F.lit(1))).alias("errant_rows"),
    ]


class TableValidationError(ValueError):
    """Config ↔ existing-table conflict (the reference's ``ParamChecker``
    failures: PK name/type positional mismatch, PK-name collision in the
    attribute whitelist, column count limit — ``utils/ParamChecker.java:
    41-97``)."""


class ConcurrentCommitError(RuntimeError):
    """Another committer created this snapshot version first.

    The snapshot meta file is created with link(2) exclusivity, so exactly
    one of two racing committers (e.g. a cron ``compact``/``expire_snapshots``
    racing a streaming ``merge_batch``) wins a version number; the loser gets
    this error and must re-read the new current snapshot and re-derive its
    commit — the Iceberg optimistic-concurrency loop.  A streaming engine
    surfaces it as a batch failure and the retried batch recomputes against
    the fresh snapshot."""


def check_table(meta: dict, config: SinkConfig, attr_fields: tuple[str, ...]) -> None:
    """Validate a SinkConfig against an existing table's stored identity.

    Port of ``utils/ParamChecker.java:41-97``: ① PK names and types must match
    positionally (``:41-65``); ② no attribute column may collide with a PK
    name (``:75-97``); ③ attribute column count is capped.  Additionally the
    physical bucket count must match — a different ``n_buckets`` would hash
    keys into different buckets and silently leave stale duplicate-PK rows in
    buckets a merge no longer touches.
    """
    stored_pk = tuple(meta.get("pk_fields", config.pk_fields))
    stored_types = tuple(meta.get("pk_types", config.pk_types))
    if stored_pk != tuple(config.pk_fields):
        raise TableValidationError(
            f"primary-key names mismatch: table has {stored_pk}, "
            f"config has {tuple(config.pk_fields)} (ParamChecker.java:41-65)"
        )
    if stored_types != tuple(config.pk_types):
        raise TableValidationError(
            f"primary-key types mismatch: table has {stored_types}, "
            f"config has {tuple(config.pk_types)} (ParamChecker.java:41-65)"
        )
    stored_buckets = meta.get("n_buckets", config.n_buckets)
    if stored_buckets != config.n_buckets:
        raise TableValidationError(
            f"bucket count mismatch: table was created with n_buckets="
            f"{stored_buckets}, config has {config.n_buckets}"
        )
    if config.column_whitelist is not None:
        # narrowing the whitelist on an existing table would silently drop
        # the stored non-whitelisted columns from every bucket a merge
        # rewrites (the fold re-filters attr_fields by the whitelist) while
        # the snapshot schema still advertises them — refuse up front, like
        # ParamChecker refuses any config/table identity drift.
        dropped = [c for c in meta.get("schema", {}) if c not in config.column_whitelist]
        if dropped:
            raise TableValidationError(
                f"column_whitelist excludes stored column(s) {dropped}: "
                "narrowing the whitelist on an existing table would silently "
                "erase their data from every rewritten bucket; migrate the "
                "table explicitly instead"
            )
    for c in attr_fields:
        if c in config.pk_fields:
            raise TableValidationError(
                f"attribute column {c!r} collides with a primary-key name "
                "(ParamChecker.java:75-97)"
            )
    if len(meta.get("schema", {})) > MAX_ATTR_COLUMNS:
        raise TableValidationError(
            f"table exceeds {MAX_ATTR_COLUMNS} attribute columns "
            "(ParamChecker.java:75-97 column count limit)"
        )


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        config: SinkConfig,
        attr_fields: tuple[str, ...] = ("commit", "lang", "content"),
    ) -> None:
        self.spark = spark
        self.dir = os.path.join(root, name)
        self.name = name
        self.config = config
        if config.column_whitelist is not None:
            attr_fields = tuple(f for f in attr_fields if f in config.column_whitelist)
        self.attr_fields = attr_fields
        if self.exists():
            # reference behavior: an existing table is validated against the
            # config at writer startup (TableStoreSinkWriter.java:280-354 →
            # ParamChecker.checkTable), not lazily at first write.
            check_table(self.snapshot(), config, attr_fields)

    # ---------------------------------------------------------------- meta
    @property
    def _version_path(self) -> str:
        return os.path.join(self.dir, "VERSION")

    def exists(self) -> bool:
        return bool(self._list_versions())

    def _list_versions(self) -> list[int]:
        """Retained snapshot versions, numerically ascending.

        Parsed from the meta-file names (NOT a lexicographic listdir sort:
        past version 999999 the zero-padded names stop sorting textually —
        ``v1000000`` < ``v999999`` — and at 10^10 events in micro-batches
        version counts beyond 10^6 are the design point)."""
        meta_dir = os.path.join(self.dir, "meta")
        if not os.path.isdir(meta_dir):
            return []
        out = []
        for fn in os.listdir(meta_dir):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    out.append(int(fn[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def current_version(self) -> int:
        """Highest committed snapshot version.

        The meta listing is the source of truth (Delta-log-style: creating
        ``v{n}.json`` IS the commit); the ``VERSION`` pointer file is kept as
        a debugging hint only, so a crash between meta creation and pointer
        update can never hide a committed snapshot."""
        versions = self._list_versions()
        if not versions:
            raise FileNotFoundError(
                f"table {self.name} has no committed snapshot (meta/ empty)"
            )
        return versions[-1]

    def _meta_path(self, version: int) -> str:
        return os.path.join(self.dir, "meta", f"v{version:06d}.json")

    def snapshot(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        path = self._meta_path(v)
        if not os.path.exists(path):
            raise FileNotFoundError(f"table {self.name} has no snapshot v{v}")
        return json.load(open(path))

    def snapshots(self) -> list[dict]:
        """All retained snapshot metas, oldest first (version, parent,
        batches committed at that version) — the time-travel catalog."""
        return [json.load(open(self._meta_path(v))) for v in self._list_versions()]

    def committed_batches(self) -> dict[str, dict]:
        return self.snapshot()["batches"] if self.exists() else {}

    def lineage(self) -> "DataFrame":
        """The per-batch per-partition lineage manifests as ONE queryable
        DataFrame: ``(batch_id, partition, start_offset, end_offset, rows,
        errant_rows, committed_at_version, wall_secs)`` — the audit table
        behind "resumable from checkpoint with per-partition lineage and
        metrics".  Covers both manifest shapes: per-partition lineage rows
        and the observed-mode ``_global`` row (one aggregate row per batch
        when lineage rides the merge write via ``Dataset.observe``).

        Manifests are snapshot METADATA (one small dict per batch), so
        building this frame from the driver-side snapshot is not a
        driver-data-path violation — it is the same JSON a reader must
        parse to plan time travel; at 10^5 batches this is megabytes.
        """
        rows = []
        for bid, m in self.committed_batches().items():
            parts = m.get("partitions") or {}
            for p, ln in parts.items():
                rows.append(
                    (
                        bid,
                        str(p),
                        ln.get("start_offset"),
                        ln.get("end_offset"),
                        ln.get("rows"),
                        ln.get("errant_rows"),
                        m.get("committed_at_version"),
                        m.get("wall_secs"),
                    )
                )
        schema = (
            "batch_id string, partition string, start_offset long, "
            "end_offset long, rows long, errant_rows long, "
            "committed_at_version long, wall_secs double"
        )
        return self.spark.createDataFrame(rows, schema)

    def schema(self) -> dict[str, str]:
        return dict(self.snapshot()["schema"])

    #: bounded wait-for-table-readiness schedule after auto-create, mirroring
    #: the reference's 20 × 1 s describe-table poll
    #: (``TableStoreSinkWriter.java:336-354``)
    CREATE_READINESS_RETRIES = 20
    CREATE_READINESS_INTERVAL_S = 1.0

    #: readiness probe, overridable for catalog backends where a freshly
    #: created table is not immediately readable (Iceberg/Glue-style
    #: eventually-consistent catalogs).  Defaults to ``self.exists``.
    readiness_probe = None

    def _await_readiness(self, interval_s: float | None = None) -> None:
        """Wait until the just-created table is visible, bounded
        (``TableStoreSinkWriter.java:336-354``: 20 retries / 1 s awaiting
        table readiness).  The local filesystem backend is atomically
        visible so the first probe succeeds; an eventually-consistent
        catalog backend plugs in via ``readiness_probe``."""
        probe = self.readiness_probe or self.exists
        interval = (
            self.CREATE_READINESS_INTERVAL_S if interval_s is None else interval_s
        )
        for _ in range(self.CREATE_READINESS_RETRIES):
            if probe():
                return
            time.sleep(interval)
        raise TimeoutError(
            f"table {self.name} not readable "
            f"{self.CREATE_READINESS_RETRIES} probes after create "
            "(TableStoreSinkWriter.java:336-354 readiness loop exhausted)"
        )

    def create_if_absent(self, schema: dict[str, str] | None = None) -> None:
        """S17 validate-or-create (``TableStoreSinkWriter.java:280-354``)."""
        if self.exists():
            return
        if not self.config.auto_create:
            raise FileNotFoundError(
                f"table {self.name} absent and auto.create=false "
                "(reference: OTSObjectNotExist without auto.create)"
            )
        os.makedirs(os.path.join(self.dir, "meta"), exist_ok=True)
        os.makedirs(os.path.join(self.dir, "data"), exist_ok=True)
        meta = {
            "version": 0,
            "schema": schema or {},
            "buckets": {},
            "batches": {},
            "parent": None,
            # table identity, validated against the config on every open
            # (ParamChecker.java:41-97; n_buckets governs the key→bucket hash
            # so it is as much a part of the table's identity as the PK)
            "pk_fields": list(self.config.pk_fields),
            "pk_types": list(self.config.pk_types),
            "n_buckets": self.config.n_buckets,
        }
        try:
            self._commit(meta)
        except ConcurrentCommitError:
            # a concurrent creator won the v0 race: the table now exists —
            # validate our config against it, exactly as the exists() path
            self._await_readiness()
            check_table(self.snapshot(), self.config, self.attr_fields)
            return
        self._await_readiness()

    def _commit(self, meta: dict) -> None:
        """Atomic, compare-and-swap commit of one snapshot version.

        The commit point is the exclusive creation (link(2), which fails
        with EEXIST rather than replacing) of ``meta/v{n}.json`` — the same
        put-if-absent protocol as the Delta transaction log: of two racing
        committers that both derived version ``n`` from snapshot ``n-1``,
        exactly one creates the file; the other raises
        :class:`ConcurrentCommitError` and must recompute against the new
        current snapshot.  ``current_version`` reads the meta listing, so a
        crash immediately after the link leaves a fully committed snapshot
        (data files were written before ``_commit``) and a replayed batch is
        skipped idempotently.  The ``VERSION`` pointer file is a best-effort
        debugging hint, updated after the real commit."""
        v = meta["version"]
        mp = self._meta_path(v)
        # per-committer scratch, never shared: two streams in ONE driver
        # commit from different threads of the same pid
        tmp = f"{mp}.{os.getpid()}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, mp)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"table {self.name}: snapshot v{v} was committed by another "
                "writer; re-read the current snapshot and retry the commit"
            ) from None
        finally:
            os.unlink(tmp)
        vtmp = f"{self._version_path}.{os.getpid()}.{uuid.uuid4().hex}.tmp"
        with open(vtmp, "w") as f:
            f.write(str(v))
            f.flush()
            os.fsync(f.fileno())
        os.rename(vtmp, self._version_path)

    # ---------------------------------------------------------------- read
    #: types of the merge metadata columns as written by ``fold_state``
    _META_TYPES = {"_deleted": "boolean", "_ver_ts": "long", "_ver_off": "long"}

    def _read_ddl(self, schema: dict[str, str], with_sha: bool, with_meta: bool) -> str:
        """Explicit parquet read schema for the table's data files.

        Snapshot metadata — not file-footer inference — is the source of
        truth: the data dirs of one read span snapshots from different
        schema versions (untouched buckets are carried forward by
        reference), and footer inference picks ONE arbitrary footer, so a
        column ADDed after that footer's file was written would read as
        absent (then be silently nulled for every row by alignment), and a
        WIDENed column (int→long) would fail the scan outright.  With an
        explicit schema Spark null-fills per file and widens per file —
        and skips the footer-inference job entirely."""
        cols = [
            f"`{c}` {t}"
            for c, t in zip(self.config.pk_fields, self.config.pk_types)
        ]
        cols += [f"`{c}` {t}" for c, t in schema.items()]
        if with_sha:
            cols.append(f"`{SHA_COL}` string")
        if with_meta:
            cols += [f"`{c}` {t}" for c, t in self._META_TYPES.items()]
        return ", ".join(cols)

    def _read_buckets(
        self,
        bucket_dirs: list[str],
        schema: dict[str, str],
        session: SparkSession | None = None,
    ) -> DataFrame | None:
        if not bucket_dirs:
            return None
        ddl = self._read_ddl(schema, with_sha=False, with_meta=True)
        df = (session or self.spark).read.schema(ddl).parquet(*bucket_dirs)
        # a file written without version metadata reads as typed NULLs —
        # restore the meta-less sentinel (live row, ordered (-1,-1) strictly
        # before every real event, plans/merge.py) per row
        df = (
            df.withColumn("_deleted", F.coalesce(F.col("_deleted"), F.lit(False)))
            .withColumn("_ver_ts", F.coalesce(F.col("_ver_ts"), F.lit(-1).cast("long")))
            .withColumn("_ver_off", F.coalesce(F.col("_ver_off"), F.lit(-1).cast("long")))
        )
        keep = list(self.config.pk_fields) + list(META_COLS)
        return align_to_schema(df, schema, keep)

    def read(
        self,
        include_meta: bool = False,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """Table state (pk + attrs + content_sha256), current or time-travel.

        ``version`` reads the table AS OF that snapshot (Iceberg
        ``VERSION AS OF``): snapshots are immutable and data files are only
        deleted by ``vacuum``, so any un-vacuumed version reconstructs
        exactly — a metadata-only operation, no data copied at commit time.

        ``buckets`` restricts the scan to those hash buckets — metadata-only
        pruning (the snapshot's bucket→files map, the Iceberg
        partition-pruning analogue), so a reader that knows which buckets a
        batch touched pays for those buckets only, never the table.

        Retained tombstones (``_deleted``) are filtered out unless
        ``include_meta`` — they exist so late/reordered full-row events
        converge, and are compactable after a retention window."""
        snap = self.snapshot(version)
        bucket_map = snap["buckets"]
        if buckets is not None:
            want = {str(b) for b in buckets}
            bucket_map = {b: ds for b, ds in bucket_map.items() if b in want}
        dirs = [d for ds in bucket_map.values() for d in ds]
        if version is not None:
            # a vacuumed snapshot still has its meta file, but its data dirs
            # are gone — fail with a clear error instead of a mid-scan
            # path-not-found from Spark
            gone = [d for d in dirs if not os.path.exists(d)]
            if gone:
                raise FileNotFoundError(
                    f"table {self.name} version {snap['version']} has been "
                    f"vacuumed ({len(gone)}/{len(dirs)} data dirs removed); "
                    "time-travel to it is no longer possible"
                )
        if not dirs:
            # typed empty frame with the EXACT schema of a non-empty read —
            # PK columns in their configured types (not string), and the
            # META columns when include_meta (so e.g. compact() of an empty
            # table resolves its tombstone-watermark filter)
            cols = [
                f"`{c}` {t}"
                for c, t in zip(self.config.pk_fields, self.config.pk_types)
            ]
            if include_meta:
                cols += [f"`{c}` {t}" for c, t in self._META_TYPES.items()]
            cols += [f"`{c}` {t}" for c, t in snap["schema"].items()]
            cols.append(f"`{SHA_COL}` string")
            return self.spark.createDataFrame([], ", ".join(cols))
        ddl = self._read_ddl(snap["schema"], with_sha=True, with_meta=True)
        df = self.spark.read.schema(ddl).parquet(*dirs)
        out = align_to_schema(
            df,
            {**snap["schema"], SHA_COL: "string"},
            list(self.config.pk_fields) + [*META_COLS],
        )
        if include_meta:
            return out
        # null-safe: a row from a file without version metadata is live
        return out.where(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(*META_COLS)

    def changefeed(
        self,
        from_version: int,
        to_version: int | None = None,
        include_old: bool = False,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """INSERT/UPDATE/DELETE rows transforming snapshot ``from_version``
        into ``to_version`` (default: current) — an Iceberg-changelog-style
        incremental read computed relationally from two time-travel reads
        (``operators/changefeed.py::snapshot_diff``).  Both sides come from
        the same bucket layout, so the full-outer PK join co-partitions;
        downstream consumers get "changes since version X" without log
        replay.  ``include_old=True`` adds the pre-image ``old_<c>``
        columns an incremental view (``maintain_aggregate``) retracts
        against.  ``buckets`` prunes BOTH time-travel reads to those hash
        buckets — exact whenever no key outside them changed between the
        two versions, which a batch manifest's ``touched_buckets`` set
        guarantees, making the per-batch changefeed cost proportional to
        the batch, not the table."""
        from kafka_connect_tablestore_spark.operators.changefeed import (
            snapshot_diff,
        )

        schema = self.snapshot(to_version)["schema"]
        attrs = sorted(schema)
        old = self.read(version=from_version, buckets=buckets)
        new = self.read(version=to_version, buckets=buckets)
        for c in attrs:  # from_version may predate later ADD COLUMNs
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(schema[c]))
        return snapshot_diff(
            old,
            new,
            tuple(self.config.pk_fields),
            tuple(attrs),
            include_old=include_old,
        )

    # --------------------------------------------------------------- merge
    def merge_batch(
        self,
        clean_events: DataFrame,
        batch_id: str,
        touched: list[int] | None = None,
        before_commit=None,
    ) -> dict:
        """MERGE one micro-batch of clean events. Idempotent by batch_id.

        Returns the batch manifest entry (also persisted in the snapshot).
        Without ``touched``, one combined stats pass computes the touched
        buckets and the per-source-partition lineage (offset range + row
        count).  A caller that passes ``touched`` has computed its own
        lineage (see ``CdcEngine.apply_batch``) — at 10^10 events every
        extra scan of the batch matters — and sets it from
        ``before_commit``.

        ``before_commit(manifest)`` runs after the data files are written but
        *before* the snapshot pointer swap: it may enrich the manifest (e.g.
        lineage) or raise to abort the commit (tolerance gate) — an abort
        leaves only orphan files, never visible state.
        """
        self.create_if_absent()
        snap = self.snapshot()
        check_table(snap, self.config, self.attr_fields)
        if batch_id in snap["batches"]:
            return {**snap["batches"][batch_id], "skipped": True}

        t0 = time.time()
        # PK types must match the stored table's before ANY bucket hash —
        # xxhash64 is type-sensitive, and the post-union merge output is
        # hashed in the stored type (see functions/hashing.cast_pk_columns)
        clean_events = cast_pk_columns(
            clean_events, self.config.pk_fields, self.config.pk_types
        )
        # --- schema evolution (diff → "ALTER" via registry) ----------------
        bschema = batch_attr_schema(clean_events, self.attr_fields)
        new_schema, changes = evolve(snap["schema"], bschema)
        if len(new_schema) > MAX_ATTR_COLUMNS:
            # enforce the cap on the EVOLVED schema before anything is
            # written: committing past it would make every later
            # check_table() refuse to open the table
            raise TableValidationError(
                f"schema evolution would exceed {MAX_ATTR_COLUMNS} attribute "
                f"columns ({len(new_schema)}) "
                "(ParamChecker.java:75-97 column count limit)"
            )
        pk = list(self.config.pk_fields)
        attr_fields = tuple(new_schema.keys())

        bucket = bucket_of(self.config.pk_fields, self.config.n_buckets)
        lineage = None
        if touched is None:
            # one combined stats pass: per-partition offset ranges + row
            # counts + the touched-bucket set (config-bounded collect)
            stats = (
                clean_events.groupBy("partition")
                .agg(
                    *lineage_aggs(F.lit(True)),
                    F.collect_set(bucket).alias("buckets"),
                )
                .collect()
            )
            # every event handed in here is clean: no errant_rows key
            lineage = {
                str(r["partition"]): {
                    k: r[k] for k in ("start_offset", "end_offset", "rows")
                }
                for r in stats
            }
            touched = sorted({b for r in stats for b in r["buckets"]})
        old_buckets: dict[str, list[str]] = snap["buckets"]
        target_dirs = [d for b in touched for d in old_buckets.get(str(b), [])]
        # Read the target side on the SAME session as the incoming batch.
        # Inside foreachBatch the batch frame belongs to the micro-batch's
        # cloned session; a main-session target read would move the merged
        # plan's execution (and its SQLExecutionEnd events) to the main
        # session, which the clone-registered Observation listener filters
        # out — obs.get in before_commit would then block forever.
        target = self._read_buckets(
            target_dirs, new_schema, session=clean_events.sparkSession
        )

        ev = align_to_schema(
            clean_events, new_schema, pk + ["commit_ts", "offset", "op"]
        )
        sha = (
            content_sha256("content")
            if "content" in attr_fields
            else F.lit(None).cast("string")
        )
        npart = min(self.config.n_buckets, max(len(touched), 1))
        merged = merge_into_state(
            target, ev, self.config, attr_fields, emit_meta=True
        )
        out = (
            merged.withColumn(SHA_COL, F.when(~F.col("_deleted"), sha))
            .withColumn("_bucket", bucket)
            .repartition(npart, "_bucket")
        )

        # --- copy-on-write: write only touched buckets ----------------------
        version = snap["version"] + 1
        snap_dir = os.path.join(self.dir, "data", f"snap{version:06d}")
        (
            out.write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(snap_dir)
        )
        new_dirs = {
            int(d.split("=")[1]): [os.path.join(snap_dir, d)]
            for d in os.listdir(snap_dir)
            if d.startswith("_bucket=")
        }
        buckets = {
            b: ds for b, ds in old_buckets.items() if int(b) not in set(touched)
        }
        for b in touched:
            buckets[str(b)] = new_dirs.get(b, [])

        manifest = {
            "batch_id": batch_id,
            "partitions": lineage,
            "touched_buckets": touched,
            "schema_changes": changes,
            "committed_at_version": version,
            "wall_secs": round(time.time() - t0, 3),
        }
        if before_commit is not None:
            # tolerance gate / lineage: runs post-write, pre-swap —
            # a raise here aborts the commit (orphan files only)
            before_commit(manifest)
        meta = {
            "version": version,
            "schema": new_schema,
            "buckets": buckets,
            "batches": {**snap["batches"], batch_id: manifest},
            "parent": snap["version"],
            "pk_fields": snap.get("pk_fields", list(self.config.pk_fields)),
            "pk_types": snap.get("pk_types", list(self.config.pk_types)),
            "n_buckets": snap.get("n_buckets", self.config.n_buckets),
        }
        self._commit(meta)
        return {**manifest, "skipped": False}

    # ------------------------------------------------------------ compaction
    def compact(
        self,
        tombstone_watermark_ts: int | None = None,
        zorder_cols: list[str] | None = None,
    ) -> dict:
        """Rewrite every bucket into a single fresh snapshot: merges the
        per-batch file fragments (a long-running ingest accretes one file
        per touched bucket per batch) and drops tombstones whose version is
        older than ``tombstone_watermark_ts`` (safe once no event older than
        the watermark can still arrive — the same reasoning as a streaming
        watermark).  Metadata-only readers are unaffected: the snapshot swap
        is atomic and old snapshots remain readable until GC'd.

        ``zorder_cols`` additionally sorts each bucket's rewrite on the
        Morton curve over those columns (``lake/optimize.py``): the bucket
        assignment — the MERGE contract — is untouched, but parquet
        row-group min/max stats inside each bucket file become tight slabs
        of the indexed key space, so analytic range predicates on those
        columns skip most row groups of every bucket.  The in-bucket sort
        is free at compaction time (the rewrite already shuffles every
        row) — the same reason Delta's OPTIMIZE is the place ZORDER lives."""
        snap = self.snapshot()
        df = self.read(include_meta=True)
        if tombstone_watermark_ts is not None:
            df = df.where(
                ~F.col("_deleted") | (F.col("_ver_ts") >= F.lit(tombstone_watermark_ts))
            )
        out = df.withColumn(
            "_bucket", bucket_of(self.config.pk_fields, self.config.n_buckets)
        )
        sort_cols = ["_bucket"]
        if zorder_cols:
            from kafka_connect_tablestore_spark.lake.optimize import (
                zorder_value,
            )

            out = out.withColumn("_z", zorder_value(out, zorder_cols))
            sort_cols.append("_z")
        version = snap["version"] + 1
        snap_dir = os.path.join(self.dir, "data", f"snap{version:06d}")
        (
            out.repartition(self.config.n_buckets, "_bucket")
            .sortWithinPartitions(*sort_cols)
            .drop("_z")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(snap_dir)
        )
        buckets = {
            d.split("=")[1]: [os.path.join(snap_dir, d)]
            for d in os.listdir(snap_dir)
            if d.startswith("_bucket=")
        }
        meta = {
            "version": version,
            "schema": snap["schema"],
            "buckets": buckets,
            "batches": snap["batches"],
            "parent": snap["version"],
            "compacted": True,
            "pk_fields": snap.get("pk_fields", list(self.config.pk_fields)),
            "pk_types": snap.get("pk_types", list(self.config.pk_types)),
            "n_buckets": snap.get("n_buckets", self.config.n_buckets),
        }
        self._commit(meta)
        return {"version": version, "n_buckets": len(buckets)}

    def _gc_data_dirs(self, live: set[str]) -> list[str]:
        """Delete top-level ``data/`` entries referenced by no path in
        ``live`` (crash orphans + superseded snapshot/bucket dirs)."""
        import shutil

        data = os.path.join(self.dir, "data")
        removed = []
        for sd in sorted(os.listdir(data)):
            p = os.path.normpath(os.path.join(data, sd))
            # path-boundary prefix match: 'data/snap1000000/...' must NOT
            # keep 'data/snap100000' alive
            keep = any(
                os.path.normpath(d) == p or os.path.normpath(d).startswith(p + os.sep)
                for d in live
            )
            if not keep:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
        return removed

    def vacuum(self) -> list[str]:
        """Delete data directories not referenced by the current snapshot
        (crash orphans + superseded bucket files).  Run after ``compact``.

        This is the aggressive keep-current-only GC: every older version's
        data is dropped (its meta stays, and time-travel to it raises a
        clear error).  Production retention — keep the newest K versions
        time-travelable while bounding storage AND metadata — is
        :meth:`expire_snapshots`."""
        snap = self.snapshot()
        live = {os.path.normpath(d) for ds in snap["buckets"].values() for d in ds}
        return self._gc_data_dirs(live)

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Retention maintenance, the Iceberg ``expireSnapshots`` analogue:
        keep the newest ``keep_last`` snapshots fully time-travelable,
        delete the meta files of everything older, then GC data
        directories referenced by no retained snapshot.

        The current version is always retained.  After expiry,
        :meth:`snapshots` catalogs only the retained window, and
        :meth:`read`/:meth:`changefeed` over versions inside the window
        behave exactly as before: liveness is computed from the RETAINED
        snapshots' bucket maps, so a data directory first written under an
        expired version but still referenced by a retained descendant
        (bucket maps accrete across appends) is preserved — only
        directories no retained snapshot can reach are deleted.  Reads of
        expired versions raise
        ``FileNotFoundError`` with the no-snapshot message rather than a
        mid-scan path error.

        Everything here is driver-side metadata work (list + delete of
        O(versions) small JSON files and O(snapshots × buckets) directory
        names) — no Spark job, no data read; safe to run as a cron
        maintenance task concurrent with readers of retained versions.
        Returns ``{"expired": [versions], "removed_dirs": [paths]}``."""
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        snaps = self.snapshots()
        current = self.current_version()
        keep_versions = {s["version"] for s in snaps[-keep_last:]} | {current}
        expired = []
        for s in snaps:
            v = s["version"]
            if v not in keep_versions:
                os.remove(self._meta_path(v))
                expired.append(v)
        live = {
            os.path.normpath(d)
            for s in snaps
            if s["version"] in keep_versions
            for ds in s["buckets"].values()
            for d in ds
        }
        removed = self._gc_data_dirs(live)
        return {"expired": expired, "removed_dirs": removed}

    def rollback(self, version: int) -> dict:
        """Roll the table back to snapshot ``version`` — the Iceberg
        ``rollback_to_snapshot`` analogue and the bad-batch recovery move:
        a corrupting deploy committed garbage, roll back, fix, re-apply.

        Metadata-only and history-preserving: a NEW snapshot is committed
        whose visible state (schema, bucket map) is copied from the
        target, so no data moves and the bad versions stay
        time-travelable (until :meth:`expire_snapshots` retires them —
        do NOT vacuum between rollback and inspection of the bad run).
        The exactly-once ledger rewinds with the state: the new
        snapshot's ``batches`` set is the target's, so batches committed
        after ``version`` leave the committed set and a corrected batch
        re-applied under the SAME batch_id is accepted rather than
        idempotently skipped — replaying the tail from the rollback
        point reconverges the table.  Schema changes introduced by the
        rolled-back batches revert too; re-applied batches re-evolve the
        schema through the ordinary diff path."""
        snap = self.snapshot(version)  # raises if missing/expired
        gone = [
            d for ds in snap["buckets"].values() for d in ds if not os.path.exists(d)
        ]
        if gone:
            raise FileNotFoundError(
                f"table {self.name} version {version} has been vacuumed "
                f"({len(gone)} data dirs removed); cannot roll back to it"
            )
        cur = self.snapshot()
        new_version = cur["version"] + 1
        meta = {
            "version": new_version,
            "schema": snap["schema"],
            "buckets": snap["buckets"],
            "batches": snap["batches"],
            "parent": cur["version"],
            "rolled_back_to": version,
            "pk_fields": snap.get("pk_fields", list(self.config.pk_fields)),
            "pk_types": snap.get("pk_types", list(self.config.pk_types)),
            "n_buckets": snap.get("n_buckets", self.config.n_buckets),
        }
        self._commit(meta)
        return {"version": new_version, "rolled_back_to": version}

    # ----------------------------------------------------------------- dlq
    def append_dlq(self, dlq_df: DataFrame, batch_id: str) -> None:
        """Idempotent dead-letter append: one directory per batch
        (layout mirrors ``errors/TableStoreReporter.java:243-270``)."""
        path = os.path.join(self.dir, "dlq", f"batch={batch_id}")
        dlq_df.write.mode("overwrite").parquet(path)

    def read_dlq(self) -> DataFrame | None:
        path = os.path.join(self.dir, "dlq")
        if not os.path.isdir(path) or not os.listdir(path):
            return None
        return self.spark.read.parquet(os.path.join(path, "batch=*"))
