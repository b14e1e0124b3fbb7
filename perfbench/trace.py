"""Traced run: spans around every layer call plus the Spark event log.

Spans are kept in memory and written out when the run ends.  Each span
records its name, start, end, parent and batch id; a span's self time is its
duration minus its children's.  The wrappers are installed on the names each
caller looks up (module attributes and class methods of the engine, the lake
table and ``DataFrameWriter.parquet``); the engine's code is unchanged.

Spark is lazy, so a wrapper on a plan-building call times driver-side plan
construction only; the executed work lands inside the write call.  The
uncompressed Spark event log splits that work into jobs, stages and tasks.
Jobs are attributed to a batch by job group (direct ``apply_batch`` calls,
where the workload sets the group to the batch id) or by the
``streaming.sql.batchId`` job property (the stream).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrameWriter

import kafka_connect_tablestore_spark.engine as engine_mod
import kafka_connect_tablestore_spark.lake.table as table_mod
from kafka_connect_tablestore_spark.engine import CdcEngine
from kafka_connect_tablestore_spark.lake.table import LakeTable
from perfbench.replay import parquet_files
from perfbench.workloads import STREAM_QUERY, snap_dir

#: (owner, attribute, span name) of every wrapped call
WRAPPED = (
    (CdcEngine, "apply_batch", "engine.apply_batch"),
    (engine_mod, "validate_and_classify", "rowchange.build"),
    (engine_mod, "dlq_rows", "rowchange.build"),
    (LakeTable, "append_dlq", "rowchange.dlq_write"),
    (table_mod, "batch_attr_schema", "schema_evolution.build"),
    (table_mod, "evolve", "schema_evolution.build"),
    (table_mod, "align_to_schema", "schema_evolution.build"),
    (table_mod, "merge_into_state", "merge.build"),
    (LakeTable, "merge_batch", "lake.merge_batch"),
    (LakeTable, "snapshot", "lake.snapshot"),
    (LakeTable, "_read_buckets", "lake.target_read_build"),
    (LakeTable, "_commit", "lake.commit"),
    (LakeTable, "expire_snapshots", "lake.expire"),
    (DataFrameWriter, "parquet", "spark.write_parquet"),
)


class Span:
    __slots__ = ("name", "start", "end", "parent", "batch", "attrs", "children_s")

    def __init__(self, name, parent, batch):
        self.name, self.parent, self.batch = name, parent, batch
        self.start = time.time()
        self.end = None
        self.attrs = {}
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self.last_batch: str | None = None
        self.installed_at: float | None = None

    # ---------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch: str | None = None):
        """A span around the ``with`` body; it inherits the parent's batch
        id, or the last applied batch's when it has no parent."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch is None:
            batch = parent.batch if parent else self.last_batch
        s = Span(name, parent, batch)
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            if parent is not None:
                parent.children_s += s.dur

    # ------------------------------------------------------------- wrappers
    def _wrap(self, owner, attr: str, name: str):
        orig = getattr(owner, attr)
        tracer = self

        if name == "engine.apply_batch":
            def wrapper(self_, events, batch_id, *a, **kw):
                with tracer.span(name, batch_id):
                    out = orig(self_, events, batch_id, *a, **kw)
                tracer.last_batch = batch_id
                return out
        elif name == "lake.commit":
            def wrapper(self_, meta, *a, **kw):
                with tracer.span(name) as s:
                    out = orig(self_, meta, *a, **kw)
                with tracer.span("trace.bookkeeping"):
                    s.attrs["meta_bytes"] = os.path.getsize(self_._meta_path(meta["version"]))
                    files = parquet_files(snap_dir(self_, meta["version"]))
                    s.attrs["files"] = len(files)
                    s.attrs["bytes"] = sum(os.path.getsize(f) for f in files)
                return out
        else:
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        self.installed_at = time.time()
        for owner, attr, name in WRAPPED:
            self._wrap(owner, attr, name)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def dump(self, path: str) -> None:
        ids = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": ids[id(s)],
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": ids[id(s.parent)] if s.parent else None,
                        "batch": s.batch,
                        "self_s": s.self_s,
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                f,
            )

    # --------------------------------------------------------------- layers
    def per_layer(self, t, event_dir: str, cpus: int) -> dict:
        """Per-layer metrics of the timed phase, per batch (median over
        batches) unless the name says otherwise."""
        jobs = read_event_log(event_dir, self.installed_at)
        ledger = t.engine.table.committed_batches()
        batches = [s for s in self.spans if s.name == "engine.apply_batch"]
        rows = [_batch_layers(self.spans, ap, jobs, ledger.get(ap.batch), cpus) for ap in batches]
        m: dict[str, tuple[float, str]] = {
            key: (statistics.median(r[key] for r in rows), unit) for key, unit in _BATCH_METRICS
        }
        prog = t.progress
        for key, field in (
            ("streaming.trigger_s", "triggerExecution"),
            ("streaming.add_batch_s", "addBatch"),
            ("streaming.wal_commit_s", "walCommit"),
            ("streaming.commit_offsets_s", "commitOffsets"),
        ):
            m[key] = (statistics.median(p.get(field, 0.0) for p in prog) if prog else 0.0, "s")
        m["streaming.overhead_s"] = (
            statistics.median(p["triggerExecution"] - p["addBatch"] for p in prog) if prog else 0.0,
            "s",
        )
        n_ev = sum(r["events"] for r in rows)
        m["rowchange.errant_ratio"] = (sum(r["errant"] for r in rows) / n_ev if n_ev else 0.0, "ratio")
        expires = [s.dur for s in self.spans if s.name == "lake.expire"]
        m["lake.expire_s"] = (statistics.median(expires) if expires else 0.0, "s")
        reads = [s.dur for s in self.spans if s.name == "lake.read"]
        m["lake.read_s"] = (statistics.median(reads), "s")
        clean = [r["spark.jobs"] for r in rows if r["errant"] == 0]
        dirty = [r["spark.jobs"] for r in rows if r["errant"] > 0]
        m["spark.jobs_clean_batch"] = (statistics.median(clean) if clean else 0.0, "count")
        m["spark.jobs_dirty_batch"] = (statistics.median(dirty) if dirty else 0.0, "count")
        meta = [r["lake.meta_bytes"] for r in rows]
        m["lake.meta_growth_bytes_per_commit"] = (
            (meta[-1] - meta[0]) / (len(meta) - 1) if len(meta) > 1 else 0.0,
            "bytes",
        )
        m["trace.batch_s_p50"] = (statistics.median(t.batch_s), "s")
        m["trace.ingest_eps"] = (t.events / t.ingest_s, "events/s")
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


#: per-batch metrics, reported as the median over the timed batches
_BATCH_METRICS = (
    ("engine.apply_batch_s", "s"),
    ("engine.self_s", "s"),
    ("engine.pre_commit_wait_s", "s"),
    ("engine.fallback_jobs", "count"),
    ("rowchange.build_s", "s"),
    ("rowchange.dlq_write_s", "s"),
    ("schema_evolution.build_s", "s"),
    ("merge.build_s", "s"),
    ("merge.shuffle_write_bytes", "bytes"),
    ("merge.rows_in", "rows"),
    ("merge.rows_out", "rows"),
    ("merge.task_skew", "ratio"),
    ("lake.snapshot_s", "s"),
    ("lake.commit_s", "s"),
    ("lake.meta_bytes", "bytes"),
    ("lake.target_read_build_s", "s"),
    ("lake.target_rows", "rows"),
    ("lake.write_s", "s"),
    ("lake.bytes_written", "bytes"),
    ("lake.files_written", "count"),
    ("lake.rows_rewritten_per_event", "ratio"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.busy_ratio", "ratio"),
)


def _descendants(spans: list[Span], root: Span) -> list[Span]:
    out = []
    for s in spans:
        p = s.parent
        while p is not None and p is not root:
            p = p.parent
        if p is root:
            out.append(s)
    return out


def _outer_sum(spans: list[Span], name: str) -> float:
    """Total time in spans called ``name``, nested repeats counted once."""
    total = 0.0
    for s in spans:
        if s.name != name:
            continue
        p = s.parent
        while p is not None and p.name != name:
            p = p.parent
        if p is None:
            total += s.dur
    return total


def _within(job: dict, s: Span) -> bool:
    """Whether ``job`` was submitted while ``s`` was open (1 ms clock slack)."""
    return s.start * 1000 - 1 <= job["submit"] <= s.end * 1000 + 1


def _batch_layers(spans, ap: Span, jobs: list[dict], manifest: dict | None, cpus: int) -> dict:
    inner = _descendants(spans, ap)
    merge = [s for s in inner if s.name == "lake.merge_batch"][-1]
    write = [s for s in inner if s.name == "spark.write_parquet" and s.parent is merge][-1]
    commits = [s for s in inner if s.name == "lake.commit"]
    commit = commits[-1]
    dlq = [s for s in inner if s.name == "rowchange.dlq_write"]
    lineage = ((manifest or {}).get("partitions") or {}).get("_global", {})
    clean, errant = lineage.get("rows", 0), lineage.get("errant_rows", 0)
    events = clean + errant

    bjobs = [j for j in jobs if j["batch"] == ap.batch and _within(j, ap)]
    wjobs = [j for j in bjobs if _within(j, write)]
    # jobs between the data write and the commit, other than the DLQ write:
    # the Observation fallback's direct aggregate
    fallback = [
        j for j in bjobs
        if write.end * 1000 <= j["submit"] <= commit.start * 1000 + 1
        and not any(_within(j, d) for d in dlq)
    ]
    stages = [st for j in wjobs for st in j["stages"].values()]
    fold_map = [st for st in stages if st["records_read"] > 0 and st["shuffle_write_bytes"] > 0]
    fold_reduce = [st for st in stages if st["shuffle_read_bytes"] > 0 and st["shuffle_write_bytes"] > 0]
    rows_in = sum(st["records_read"] for st in fold_map)
    run_times = sorted(x for st in fold_reduce for x in st["task_run_ms"])
    all_stages = [st for j in bjobs for st in j["stages"].values()]
    job_wall = sum(j["end"] - j["submit"] for j in bjobs) / 1000.0
    run_s = sum(st["run_ms"] for st in all_stages) / 1000.0
    return {
        "events": events,
        "errant": errant,
        "engine.apply_batch_s": ap.dur,
        "engine.self_s": ap.self_s,
        "engine.pre_commit_wait_s": commit.start - write.end
        - sum(d.dur for d in dlq if d.start >= write.end),
        "engine.fallback_jobs": len(fallback),
        "rowchange.build_s": _outer_sum(inner, "rowchange.build"),
        "rowchange.dlq_write_s": _outer_sum(inner, "rowchange.dlq_write"),
        "schema_evolution.build_s": _outer_sum(inner, "schema_evolution.build"),
        "merge.build_s": _outer_sum(inner, "merge.build"),
        "merge.shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in fold_map),
        "merge.rows_in": rows_in,
        "merge.rows_out": sum(st["shuffle_records_written"] for st in fold_reduce),
        "merge.task_skew": (run_times[-1] / max(statistics.median(run_times), 1)) if run_times else 0.0,
        "lake.snapshot_s": _outer_sum(inner, "lake.snapshot"),
        "lake.commit_s": sum(c.dur for c in commits),
        "lake.meta_bytes": commit.attrs["meta_bytes"],
        "lake.target_read_build_s": _outer_sum(inner, "lake.target_read_build"),
        "lake.target_rows": max(rows_in - events, 0),
        "lake.write_s": write.dur,
        "lake.bytes_written": commit.attrs["bytes"],
        "lake.files_written": commit.attrs["files"],
        "lake.rows_rewritten_per_event": (
            sum(st["records_written"] for st in stages) / events if events else 0.0
        ),
        "spark.jobs": len(bjobs),
        "spark.stages": sum(1 for st in all_stages if st["tasks"]),
        "spark.tasks": sum(st["tasks"] for st in all_stages),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(st["cpu_ns"] for st in all_stages) / 1e9,
        "spark.gc_s": sum(st["gc_ms"] for st in all_stages) / 1000.0,
        "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in all_stages),
        "spark.spill_bytes": sum(st["spill_bytes"] for st in all_stages),
        "spark.busy_ratio": run_s / (job_wall * cpus) if job_wall else 0.0,
    }


def read_event_log(event_dir: str, since: float) -> list[dict]:
    """Jobs submitted after ``since`` (epoch seconds), each with its batch id
    and per-stage task totals, from the uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, dict] = {}
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    if ev["Submission Time"] < since * 1000:
                        continue
                    props = ev.get("Properties") or {}
                    if "streaming.sql.batchId" in props:
                        batch = f"{STREAM_QUERY}-{props['streaming.sql.batchId']}"
                    else:
                        batch = props.get("spark.jobGroup.id")
                    job = {"batch": batch, "submit": ev["Submission Time"], "end": None, "stages": {}}
                    jobs[ev["Job ID"]] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    st = stage_job[ev["Stage ID"]]["stages"].setdefault(ev["Stage ID"], _new_stage())
                    _add_task(st, ev.get("Task Metrics") or {})
    return [j for j in jobs.values() if j["end"] is not None]


def _new_stage() -> dict:
    return {
        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "task_run_ms": [],
        "records_read": 0, "records_written": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "shuffle_records_written": 0, "spill_bytes": 0,
    }


def _add_task(st: dict, tm: dict) -> None:
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    st["tasks"] += 1
    st["run_ms"] += tm.get("Executor Run Time", 0)
    st["task_run_ms"].append(tm.get("Executor Run Time", 0))
    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
    st["gc_ms"] += tm.get("JVM GC Time", 0)
    st["records_read"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    st["records_written"] += (tm.get("Output Metrics") or {}).get("Records Written", 0)
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    st["shuffle_records_written"] += sw.get("Shuffle Records Written", 0)
    st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
