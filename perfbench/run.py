#!/usr/bin/env python3
"""helixdb_spark benchmark: closed-loop, single-client workloads.

    python3 perfbench/run.py --workload kv_ingest_mixed --seed 1 --seconds 10 --trace 0

One process drives the engine through its public API and waits for each
answer before sending the next call. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` records one span per public call and prints the
per-layer metrics (see perfbench/WORKLOADS.md). Every answer is checked
against a model built from the same seed; a wrong answer or an exception
counts as a failed operation and never stops the run.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
report, with every metric's unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the checkout's own helixdb_spark and perfbench

from perfbench.lifecycle import ROWS as LIFECYCLE_ROWS  # noqa: E402

# Session pins: both sides of a comparison run with these, whatever the
# caller's environment holds.
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "4g"

# Metrics of the last output line, in BENCHMARK.json order.
END_TO_END = ["setup_s", "spark_jobs_per_op", "space_amp"]
LIFECYCLE_END_TO_END = ["setup_s", "lifecycle_pass_s"]
PER_LAYER = [
    "engine.put.self_ms", "engine.put.jobs",
    "engine.compact.ms", "engine.compact.jobs", "engine.compact.bytes_written",
    "engine.outdate.ms",
    "engine.get_many.jobs", "engine.get_many.files_read",
    "engine.get_many.rows_read_per_hit",
    "engine.get_many_asof.rows_read_per_hit",
    "engine.scan.jobs", "engine.scan.files_read", "engine.scan.shuffle_bytes",
    "engine.write_amp",
    "fsio.state_commits", "fsio.state_commit_ms", "fsio.state_log_bytes",
    "maintenance.compactions", "maintenance.outdates",
    "layout.hot_files", "layout.cold_files", "layout.live_buckets",
    "codecs.blob_chunk_share", "codecs.blob_bytes_per_entry",
] + [
    f"index_store.{k}.{m}" for k in ("write", "append", "drift", "compact_index")
    for m in ("calls", "ms", "jobs")
] + [
    "streaming.batches", "streaming.batch_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.input_bytes", "spark.task_busy_s", "spark.driver_gap_s",
    "spark.unattributed_jobs",
    "trace.overhead_frac",
]

LIFECYCLE_PER_LAYER = [
    n for n in PER_LAYER if n.startswith(("index_store.", "streaming."))
] + [
    f"plans.{row}.{m}" for row in LIFECYCLE_ROWS for m in ("s", "jobs", "driver_gap_s")
] + [n for n in PER_LAYER if n.startswith(("spark.", "trace."))]

# A run measures a fixed number of whole cycles, ``--seconds`` over the
# cycle length and at least one: every run of a workload does the same mix
# of calls, and a traced run's counts repeat exactly for a seed. The cycle
# lengths are medians measured on 4 cores (an ingest cycle is a pair of
# puts with their reads and one index micro-batch; a cold-read cycle is
# five reads).
SECONDS_PER_CYCLE = {"kv_ingest_mixed": 11.0, "kv_cold_read": 10.0}
MIN_CYCLES = 1


def pin_environment(work: str) -> None:
    """Fix the session shape and keep every file the run writes in ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # JVMs write their performance counters under /tmp; keep the run's
    # files inside ``work``
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # Python workers unpickle the codec dispatch function by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None


def start_session(work: str):
    from helixdb_spark.session import get_session

    return get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # keep every job of a run in the status store for attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Run:
    """Times, checks and counts the public calls of one workload run."""

    def __init__(self, spark, tracer=None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.lat: dict[str, list[float]] = {}
        self.rows: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.measuring = False
        self.t_start = self.t_stop = None
        self.cpu_start = self.cpu_stop = None
        self.measured_ops = 0
        self.user_bytes_written = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext({})

    def call(self, op: str, fn, check, rows: int = 0, hits: int = 0, span: str = ""):
        """One public call: timed, then checked. An exception or a wrong
        answer counts as failed and the run goes on."""
        self.attempted += 1
        try:
            with self.span(span or f"engine.{op}") as rec:
                rec["hits"] = hits
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            print(f"[perfbench] {op} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        if self.measuring:
            self.lat.setdefault(op, []).append(dt)
            self.rows[op] = self.rows.get(op, 0) + rows
            self.measured_ops += 1
        try:
            ok = check(out)
        except Exception:
            ok = False
        if not ok:
            self.failed += 1
            print(f"[perfbench] {op}: wrong answer", file=sys.stderr)
        return out

    def start_measuring(self) -> None:
        self.measuring = True
        self.cpu_start = cpu_times()
        self.wall_start = time.time()
        self.t_start = time.perf_counter()

    def stop_measuring(self) -> None:
        self.measuring = False
        self.t_stop = time.perf_counter()
        self.wall_stop = time.time()
        self.cpu_stop = cpu_times()


def cpu_times() -> list[int] | None:
    """The machine's CPU time counters (Linux ``/proc/stat``), if readable."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


LATENCY = {"put": "put", "get_many": "get_many", "get_many_asof": "get_asof",
           "get": "get", "scan": "scan", "stream_append": "stream_append",
           "index_drift": "index_drift", "index_fold": "index_fold"}  # op -> p50 name
TAIL = ("put", "get_many")  # ops whose compaction or merge stalls show at p90
THROUGHPUT = {"put": "put_rows_per_s", "scan_full": "scan_full_rows_per_s"}


def end_to_end(run: Run, res: dict, session_s: float) -> dict:
    from perfbench.trace import jobs_submitted

    out = {}

    def put(name, value, unit, n):
        out[name] = {"value": value, "unit": unit, "n": n}

    put("setup_s", res["setup_s"], "s", res.get("setups", 1))
    put("session_s", session_s, "s", 1)
    put("ops_per_s", run.measured_ops / (run.t_stop - run.t_start), "1/s",
        run.measured_ops)
    # Spark jobs behind the measured calls: each is a scheduling round trip
    # the caller waits for, and the count does not move with host load
    jobs = jobs_submitted(run.spark, run.wall_start, run.wall_stop)
    put("spark_jobs_per_op", jobs / max(1, run.measured_ops), "jobs/op", run.measured_ops)

    for op, lat in run.lat.items():
        ms = [x * 1000 for x in lat]
        if op in LATENCY:
            put(f"{LATENCY[op]}_p50_ms", statistics.median(ms), "ms", len(ms))
        if op in TAIL:
            put(f"{LATENCY[op]}_p90_ms", pct(ms, 0.9), "ms", len(ms))
        if op in THROUGHPUT:
            put(THROUGHPUT[op], run.rows[op] / sum(lat), "rows/s", len(lat))
    rows = [op for op in run.lat if op in LIFECYCLE_ROWS]
    if rows:
        for op in rows:
            put(f"{op}_s", run.lat[op][0], "s", 1)
        put("lifecycle_pass_s", sum(run.lat[op][0] for op in rows), "s", len(rows))
    if "space_amp" in res:
        put("space_amp", res["space_amp"], "ratio", 1)
    if run.cpu_start and run.cpu_stop:
        # time the hypervisor gave this machine's CPUs to others: host
        # contention, which moves every timing of the run alike
        d = [b - a for a, b in zip(run.cpu_start, run.cpu_stop)]
        if sum(d) and len(d) > 7:
            put("host.cpu_steal_frac", d[7] / sum(d), "ratio", 1)
    put("ops_failed_frac", run.failed / max(1, run.attempted), "ratio", run.attempted)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("kv_ingest_mixed", "kv_cold_read", "lifecycle_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="sf0.01 table dir for lifecycle_queries")
    args = ap.parse_args(argv)
    if args.workload == "lifecycle_queries" and not args.data:
        ap.error("lifecycle_queries reads its tables from --data")

    try:
        import helixdb_spark  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] helixdb_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        report = run_workload(spark, args, work, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "trace": args.trace, "report": report["report"]}))
    print(json.dumps(report["result"]))
    return 0 if report["ok"] else 1


def run_workload(spark, args, work: str, session_s: float) -> dict:
    from perfbench import kv, layers, lifecycle

    workloads = {
        "kv_ingest_mixed": kv.kv_ingest_mixed,
        "kv_cold_read": kv.kv_cold_read,
        "lifecycle_queries": lifecycle.lifecycle_queries,
    }
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
        layers.install(tracer)
    run = Run(spark, tracer)
    cycles = max(MIN_CYCLES, round(args.seconds / SECONDS_PER_CYCLE.get(args.workload, 1)))
    cfg = {"cycles": cycles, "data": args.data}
    ok = True
    try:
        res = workloads[args.workload](run, cfg, args.seed, os.path.join(work, "db"))
    except Exception:
        print(f"[perfbench] {args.workload} aborted:\n{traceback.format_exc()}",
              file=sys.stderr)
        run.failed += 1
        run.attempted += 1
        res, ok = None, False
    finally:
        if tracer is not None:
            layers.uninstall(tracer)

    report = {}
    if res is not None:
        try:
            report = end_to_end(run, res, session_s)
            if tracer is not None:
                report.update(layers.per_layer(tracer, run, res))
                layers.write_spans(tracer, args, HERE)
        finally:
            if "state" in res:
                res["state"].close()
    if args.workload == "lifecycle_queries":
        names = LIFECYCLE_PER_LAYER if args.trace else LIFECYCLE_END_TO_END
    else:
        names = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": report[n]["value"], "unit": report[n]["unit"]}
               for n in names if n in report}
    ok = ok and len(metrics) == len(names)
    result = {
        "correct": ok and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return {"report": report, "result": result, "ok": ok}


if __name__ == "__main__":
    sys.exit(main())
