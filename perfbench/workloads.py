"""The three CDC ingest workloads.

Each workload is a closed loop: a stream catching up on a backlog that is
fully present when timing starts, where the next micro-batch starts only
after the previous one commits (the ``foreachBatch`` contract).  One driver
process runs ``local[nproc]``; no other load threads are started.

A workload has three phases:

- ``generate``: write the change log as parquet (the log tail the engine
  reads), deterministic in the seed;
- ``setup_round``: bring one fresh lake to the state timing starts from.
  Set-up runs several identical rounds; the early ones are throwaway warm-up
  (JIT, codegen, first-query costs) and the last one's lake is kept;
- ``run``: the timed phase, ``seconds`` long.

Only the engine's public API is used: ``synth_changelog``,
``CdcEngine.apply_batch`` / ``state``, ``start_cdc_stream`` and
``LakeTable.expire_snapshots``.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from kafka_connect_tablestore_spark import DeleteMode, SinkConfig
from kafka_connect_tablestore_spark.engine import CdcEngine
from kafka_connect_tablestore_spark.sources.synth import synth_changelog
from kafka_connect_tablestore_spark.streaming.pipeline import start_cdc_stream

from perfbench.replay import log_counts, parquet_files

#: the engine configuration every workload runs: row deletes, dead-letter
#: tolerance, the default 32 hash buckets and observed (one-pass) lineage
CONFIG = SinkConfig(delete_mode=DeleteMode.ROW)

#: the timed stream's query name; its lake batch ids are ``cdc-<batchId>``
STREAM_QUERY = "cdc"


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cpus: int
    tracer: object | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Timed:
    """What one timed phase produced."""

    engine: CdcEngine
    log_files: list[str]           # the whole log replayed into ``engine``
    batch_ids: list[str]           # the ledger ``engine`` must hold
    batch_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    events: int = 0                # events consumed by timed batches
    ingest_s: float = 0.0          # ingest wall time (reader scans excluded)
    input_bytes: int = 0           # change-log bytes consumed by timed batches
    lake_bytes: int = 0            # lake data + DLQ bytes they wrote
    progress: list[dict] = field(default_factory=list)  # streaming only


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def snap_dir(table, version: int) -> str:
    """The data directory a ``LakeTable`` commit of ``version`` wrote."""
    return os.path.join(table.dir, "data", f"snap{version:06d}")


def _written_bytes(engine: CdcEngine, batch_id: str) -> int:
    """Data and DLQ bytes written by one committed batch."""
    version = engine.table.committed_batches()[batch_id]["committed_at_version"]
    dlq = os.path.join(engine.table.dir, "dlq", f"batch={batch_id}")
    return dir_bytes(snap_dir(engine.table, version)) + dir_bytes(dlq)


def scan(engine: CdcEngine) -> None:
    """A reader's full scan of the committed state (every column)."""
    engine.state().write.format("noop").mode("overwrite").save()


def read_scan(ctx: Ctx, engine: CdcEngine, out: Timed, batch: str | None) -> None:
    t0 = time.perf_counter()
    with nullcontext() if ctx.tracer is None else ctx.tracer.span("lake.read", batch):
        scan(engine)
    out.read_s.append(time.perf_counter() - t0)


class Workload:
    name = ""
    why = ""
    rounds = 2

    def generate(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def setup_round(self, ctx: Ctx) -> CdcEngine:
        raise NotImplementedError

    def run(self, ctx: Ctx, engine: CdcEngine, seconds: float) -> Timed:
        raise NotImplementedError

    def _apply(self, ctx: Ctx, engine: CdcEngine, events, batch_id: str) -> float:
        if ctx.tracer is not None:
            ctx.spark.sparkContext.setJobGroup(batch_id, batch_id)
        t0 = time.perf_counter()
        engine.apply_batch(events, batch_id)
        return time.perf_counter() - t0


class BulkLoad(Workload):
    """Clean events, each apply one batch into an empty table."""

    name = "bulk_load"
    why = (
        "one large clean batch into an empty table: fold shuffle and data-write "
        "throughput dominate, like bench.py's headline"
    )
    events = 200_000
    n_repos, paths_per_repo, skew = 5000, 200, 3.0

    def generate(self, ctx: Ctx) -> None:
        log = synth_changelog(
            ctx.spark, self.events, seed=ctx.seed, n_repos=self.n_repos,
            paths_per_repo=self.paths_per_repo, skew=self.skew, slices=ctx.cpus * 2,
        )
        log.write.parquet(ctx.path("log"))
        self.log_files = parquet_files(ctx.path("log"))
        self.log_bytes = dir_bytes(ctx.path("log"))

    def _fresh(self, ctx: Ctx, name: str) -> CdcEngine:
        shutil.rmtree(ctx.path(name), ignore_errors=True)
        return CdcEngine(ctx.spark, CONFIG, ctx.path(name))

    def setup_round(self, ctx: Ctx) -> CdcEngine:
        engine = self._fresh(ctx, "lake-setup")
        engine.apply_batch(ctx.spark.read.parquet(ctx.path("log")), "bulk-0")
        scan(engine)
        return engine

    def run(self, ctx: Ctx, engine: CdcEngine, seconds: float) -> Timed:
        out = Timed(engine, self.log_files, [])
        t_end = time.perf_counter() + seconds
        i = 0
        while i == 0 or time.perf_counter() < t_end:
            # every apply loads a fresh lake; the last one is checked
            bid = f"bulk-{i}"
            engine = out.engine = self._fresh(ctx, f"lake-{i % 2}")
            out.batch_ids = [bid]
            dt = self._apply(ctx, engine, ctx.spark.read.parquet(ctx.path("log")), bid)
            out.batch_s.append(dt)
            out.ingest_s += dt
            out.events += self.events
            out.input_bytes += self.log_bytes
            out.lake_bytes += _written_bytes(engine, bid)
            read_scan(ctx, engine, out, bid)
            i += 1
        return out


class SteadyUpsert(Workload):
    """Upsert batches from a continuing log onto a preloaded table."""

    name = "steady_upsert"
    why = (
        "the product's steady state: copy-on-write reads and rewrites the whole "
        "table every batch, and a reader scans after each commit"
    )
    preload = 60_000
    batch = 4_000
    warm_batches = 1
    max_batches = 20
    n_repos, paths_per_repo, skew = 250, 240, 3.0
    expire_every = 5

    def generate(self, ctx: Ctx) -> None:
        n = self.preload + (self.warm_batches + self.max_batches) * self.batch
        log = synth_changelog(
            ctx.spark, n, seed=ctx.seed, n_repos=self.n_repos,
            paths_per_repo=self.paths_per_repo, skew=self.skew, slices=ctx.cpus * 2,
        )
        b = F.when(F.col("offset") < self.preload, 0).otherwise(
            F.floor((F.col("offset") - self.preload) / self.batch) + 1
        )
        # spark.range slices hold contiguous offsets, so each batch directory
        # gets one or two files without a shuffle
        log.withColumn("b", b.cast("int")).write.partitionBy("b").parquet(ctx.path("log"))

    def _dir(self, ctx: Ctx, k: int) -> str:
        return ctx.path("log", f"b={k}")

    def _events(self, ctx: Ctx, k: int):
        return ctx.spark.read.parquet(self._dir(ctx, k))

    def setup_round(self, ctx: Ctx) -> CdcEngine:
        shutil.rmtree(ctx.path("lake"), ignore_errors=True)
        engine = CdcEngine(ctx.spark, CONFIG, ctx.path("lake"))
        for b in range(self.warm_batches + 1):
            engine.apply_batch(self._events(ctx, b), f"steady-{b}")
        scan(engine)
        return engine

    def run(self, ctx: Ctx, engine: CdcEngine, seconds: float) -> Timed:
        first = self.warm_batches + 1
        out = Timed(engine, [], [f"steady-{b}" for b in range(first)])
        t_end = time.perf_counter() + seconds
        b = first
        while b < first + self.max_batches and (b == first or time.perf_counter() < t_end):
            bid = f"steady-{b}"
            dt = self._apply(ctx, engine, self._events(ctx, b), bid)
            out.batch_s.append(dt)
            out.batch_ids.append(bid)
            out.events += log_counts(parquet_files(self._dir(ctx, b)), ctx.work)[0]
            out.input_bytes += dir_bytes(self._dir(ctx, b))
            out.lake_bytes += _written_bytes(engine, bid)
            if b % self.expire_every == 0:
                t0 = time.perf_counter()
                engine.table.expire_snapshots(keep_last=2)
                dt += time.perf_counter() - t0
            out.ingest_s += dt
            read_scan(ctx, engine, out, bid)
            b += 1
        out.log_files = [f for k in range(b) for f in parquet_files(self._dir(ctx, k))]
        return out


class TrickleDirty(Workload):
    """Small dirty micro-batches through the Structured Streaming driver."""

    name = "trickle_dirty"
    why = (
        "small dirty micro-batches through start_cdc_stream: per-batch fixed "
        "cost (plan build, offset logs, DLQ write, commit) dominates"
    )
    batch = 2_000
    warm_files = 2
    max_files = 25
    n_repos, paths_per_repo, skew = 200, 50, 50.0
    p_malformed = 0.02
    reads = 10

    def generate(self, ctx: Ctx) -> None:
        n = (self.warm_files + self.max_files) * self.batch
        log = synth_changelog(
            ctx.spark, n, seed=ctx.seed, n_repos=self.n_repos,
            paths_per_repo=self.paths_per_repo, skew=self.skew,
            p_malformed=self.p_malformed, slices=self.warm_files + self.max_files,
        )
        # each spark.range slice holds one batch's contiguous offsets, so the
        # write makes one file per micro-batch, named in log order
        log.write.parquet(ctx.path("stage"))
        # the file source admits the oldest file first (maxFilesPerTrigger=1),
        # so the mtimes fix the order
        base = time.time() - 10_000
        os.makedirs(ctx.path("warm"))
        os.makedirs(ctx.path("backlog"))
        self.files = []
        for k, src in enumerate(parquet_files(ctx.path("stage"))):
            dst = ctx.path("warm" if k < self.warm_files else "backlog", f"log-{k:05d}.parquet")
            os.rename(src, dst)
            os.utime(dst, (base + k, base + k))
            self.files.append(dst)
        shutil.rmtree(ctx.path("stage"))
        self.schema = ctx.spark.read.parquet(ctx.path("warm")).schema

    def _stream(self, ctx: Ctx, engine: CdcEngine, src: str, ckpt: str, name: str):
        stream = (
            ctx.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        t0 = time.perf_counter()
        q = start_cdc_stream(stream, engine, ckpt, available_now=True, query_name=name)
        q.awaitTermination()  # raises if the stream failed
        wall = time.perf_counter() - t0
        return wall, [p for p in q.recentProgress if p.numInputRows > 0]

    def setup_round(self, ctx: Ctx) -> CdcEngine:
        for d in ("lake", "ckpt-warm"):
            shutil.rmtree(ctx.path(d), ignore_errors=True)
        engine = CdcEngine(ctx.spark, CONFIG, ctx.path("lake"))
        _, progress = self._stream(ctx, engine, ctx.path("warm"), ctx.path("ckpt-warm"), "warm")
        self.warm_batch_s = progress[-1].durationMs["triggerExecution"] / 1000.0
        scan(engine)
        return engine

    def run(self, ctx: Ctx, engine: CdcEngine, seconds: float) -> Timed:
        # the backlog is sized from the last warm batch so that draining it
        # takes about ``seconds``; all of it is present before the stream starts
        n = min(self.max_files, max(5, math.ceil(seconds / self.warm_batch_s)))
        os.makedirs(ctx.path("src"))
        timed_files = []
        for f in self.files[self.warm_files : self.warm_files + n]:
            dst = ctx.path("src", os.path.basename(f))
            os.rename(f, dst)
            timed_files.append(dst)
        warm_files = self.files[: self.warm_files]
        out = Timed(
            engine,
            warm_files + timed_files,
            [f"warm-{k}" for k in range(self.warm_files)]
            + [f"{STREAM_QUERY}-{k}" for k in range(n)],
        )
        out.ingest_s, progress = self._stream(
            ctx, engine, ctx.path("src"), ctx.path("ckpt"), STREAM_QUERY
        )
        out.progress = [{k: v / 1000.0 for k, v in p.durationMs.items()} for p in progress]
        out.batch_s = [p["triggerExecution"] for p in out.progress]
        out.events = log_counts(timed_files, ctx.work)[0]
        out.input_bytes = sum(os.path.getsize(f) for f in timed_files)
        out.lake_bytes = sum(_written_bytes(engine, b) for b in out.batch_ids[self.warm_files :])
        for _ in range(self.reads):
            read_scan(ctx, engine, out, None)
        return out


WORKLOADS = {w.name: w for w in (BulkLoad, SteadyUpsert, TrickleDirty)}
