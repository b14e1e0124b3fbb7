"""CDC ingest benchmark: one workload, one run, one JSON result line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload steady_upsert --seed 1 --seconds 15 --trace 0

``--workload all`` runs ``bulk_load``, ``steady_upsert`` and
``trickle_dirty`` one after another, each in its own process.

``--trace 0`` measures the end-to-end metrics listed in ``BENCHMARK.json``;
``--trace 1`` runs the same workload with spans around every layer call and
an uncompressed Spark event log, and reports the per-layer metrics instead.
Its ``trace.batch_s_p50`` against an untraced run's ``batch_s_p50`` is the
tracing overhead.

Every run checks the final table against an independent DuckDB replay of
the generated log (``perfbench/replay.py``).  A run that fails the check
prints ``"correct": false`` with no metrics and exits 1.

The last line of standard output is the result object; the lines before it
are a readable summary: the host and settings record, the correctness
verdict and every end-to-end metric by name with its unit.  All files go to
``.perfbench_work/`` under the checkout and are removed when the run ends,
except the traced run's spans, kept as ``trace-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.dont_write_bytecode = True  # write nothing outside the checkout

#: driver heap: enough for every workload, well below a small host's RAM
DRIVER_MEMORY_MB = 1024

#: JIT: C1 only.  With C2 a batch keeps getting faster for ~50 micro-batches
#: (~100 s on a 4-core host), so a run would time the JIT's progress, which
#: varies from run to run; with C1 batch times are flat after set-up.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1"


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (from /proc/mounts)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                _, mnt, typ = line.split()[:3]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, fstype = mnt, typ
    except OSError:
        pass
    return fstype


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user ... steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings (0 on hosts that do not report steal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def start_spark(work: str, cpus: int, event_log: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{DRIVER_MEMORY_MB}m")
        # a fixed-size heap, so peak RSS does not follow heap-resizing decisions
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY_MB}m {JIT_OPTIONS} -Djava.io.tmpdir={work}/tmp",
        )
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", f"{work}/tmp")
    )
    if event_log:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def settings(spark, work: str, cpus: int, seed: int, seconds: int, trace: int) -> dict:
    import duckdb

    return {
        "nproc": cpus,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory_mb": DRIVER_MEMORY_MB,
        "jit_options": JIT_OPTIONS,
        "physical_ram_mb": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20,
        "lake_fs": _fs_type(work),
        "spark_local_fs": _fs_type(os.path.join(work, "spark-local")),
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
    }


def tail(xs: list[float]) -> tuple[float, int] | None:
    """The highest percentile of ``xs`` with at least ten samples beyond it,
    as (value, percentile); None when fewer than 20 samples leave no
    percentile at or above the median with ten beyond it."""
    n = len(xs)
    if n < 20:
        return None
    pct = 100 * (n - 10) // n
    return statistics.quantiles(xs, n=100, method="inclusive")[pct - 1], pct


def end_to_end(t, setup_s: float, peak_rss_mb: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "ingest_eps": (t.events / t.ingest_s, "events/s"),
        "batch_s_p50": (statistics.median(t.batch_s), "s"),
        "write_amp": (t.lake_bytes / t.input_bytes, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def report(w, t, rec, session_s, generate_s, rounds, steal, problems, peak_rss_mb, tracer, work) -> int:
    """Print the summary and the result line; return the exit code."""
    attempted = len(t.batch_s) + len(t.read_s)
    print(f"perfbench {w.name}: {w.why}")
    print("settings: " + json.dumps(rec, sort_keys=True))
    # a loaded host slows every time metric; this says how loaded it was
    print(f"host: {steal:.1%} of CPU time stolen by other guests while timing")
    print(
        f"setup: session {session_s:.2f} s, generate {generate_s:.2f} s, "
        "rounds " + ", ".join(f"{r:.2f}" for r in rounds) + " s"
    )
    if problems:
        print("correctness: FAIL")
        for p in problems:
            print("  " + p)
        print(json.dumps({"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}))
        return 1
    print(f"correctness: PASS ({len(t.batch_ids)} batches replayed in DuckDB)")
    print("batch_s: " + " ".join(f"{x:.3f}" for x in t.batch_s))
    e2e = end_to_end(t, session_s + generate_s + statistics.median(rounds), peak_rss_mb)
    for name, (value, unit) in e2e.items():
        print(f"{name} = {value:.6g} {unit}")
    tl = tail(t.batch_s)
    print(
        f"batch_s_tail = {tl[0]:.6g} s (p{tl[1]}, n={len(t.batch_s)})"
        if tl
        else f"batch_s_tail = omitted (n={len(t.batch_s)} batches, needs >= 20)"
    )
    print(f"read_s_p50 = {statistics.median(t.read_s):.6g} s (n={len(t.read_s)})")
    print(f"failed_ratio = 0 ratio (0 of {attempted} batches and reads failed)")
    if tracer is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        metrics = tracer.per_layer(t, os.path.join(work, "events"), rec["nproc"])
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{w.name}-seed{rec['seed']}.json"))
        for name, m in metrics.items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": metrics}))
    return 0


def main(argv: list[str] | None = None) -> int:
    # the engine and DuckDB must be importable before anything starts
    import duckdb  # noqa: F401

    import kafka_connect_tablestore_spark  # noqa: F401
    from perfbench.replay import check
    from perfbench.workloads import WORKLOADS, Ctx

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        # each workload in its own process, so none inherits another's warm JVM
        rcs = [
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)]
            ).returncode
            for name in WORKLOADS
        ]
        return max(rcs)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for d in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every temporary file of Python, the JVM and Spark stays in the work dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM (the launcher's included) writes its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    w = WORKLOADS[args.workload]()
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus, os.path.join(work, "events") if tracer else None)
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, args.seed, cpus)
        rec = settings(spark, work, cpus, args.seed, args.seconds, args.trace)
        t0 = time.perf_counter()
        w.generate(ctx)
        generate_s = time.perf_counter() - t0
        rounds = []
        for _ in range(w.rounds):
            t0 = time.perf_counter()
            engine = w.setup_round(ctx)
            rounds.append(time.perf_counter() - t0)
        if tracer is not None:
            tracer.install()
            ctx.tracer = tracer
        try:
            ticks = _cpu_ticks()
            t = w.run(ctx, engine, args.seconds)
            steal = _steal_share(ticks, _cpu_ticks())
        finally:
            if tracer is not None:
                tracer.uninstall()
        problems = check(t.engine, t.log_files, t.batch_ids, work)
        peak_rss_mb = (
            _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        stop_spark(spark)
        spark = None
        return report(
            w, t, rec, session_s, generate_s, rounds, steal, problems, peak_rss_mb, tracer, work
        )
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
