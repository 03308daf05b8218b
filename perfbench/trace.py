"""Span tracing for the traced benchmark run.

A span is one public call into the system: its name, wall start and end,
parent span, and the Spark work it launched. Each span sets the Spark job
group to its own id while it is open, so every job the call launches
carries that id; at the end of the run one pass over Spark's status stores
attributes jobs, stages, tasks, bytes and files read to the span that
launched them. A job launched from another thread (a thread pool inside the
call, a streaming micro-batch) does not carry the span's group; it goes to
the innermost span that was open when it was submitted. Nothing is read from
the status stores while spans are open.

Spans stay in memory until :meth:`Tracer.collect`, which the caller runs
once after the measured region.
"""

from __future__ import annotations

import functools
import itertools
import re
import time
import uuid
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_FILES_READ = re.compile(r"SQLPlanMetric\(number of files read,(\d+),")
_INT = re.compile(r"\d+")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        # job-group ids must not collide with an earlier tracer's in the
        # same Spark application
        self._prefix = f"pb-{uuid.uuid4().hex[:8]}-"
        self._ids = itertools.count()
        # wall time spent inside the tracer's own bookkeeping while spans
        # were being recorded (the measured-region cost of tracing)
        self.self_cost_s = 0.0
        # jobs submitted while the tracer was open but outside every span
        self.unattributed_jobs = 0
        self.t_open = time.time()

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": f"{self._prefix}{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        self._stack.append(rec)
        self.sc.setLocalProperty(_GROUP, rec["id"])
        self.self_cost_s += time.perf_counter() - t_in
        try:
            yield rec
        finally:
            t_out = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, parent["id"] if parent else None)
            self.spans.append(rec)
            self.self_cost_s += time.perf_counter() - t_out

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner: object, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``on_call(rec, args, kwargs)`` may add fields to the span record."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                if on_call is not None:
                    on_call(rec, args, kwargs)
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---------------------------------------------------------- attribution
    def _innermost(self, t: float) -> dict | None:
        """The latest-started span open at wall time ``t`` (job submission
        times have millisecond resolution, hence the slack)."""
        best = None
        for s in self.spans:
            if s["start"] - 0.001 <= t <= s["end"] and (best is None
                                                         or s["start"] > best["start"]):
                best = s
        return best

    def collect(self) -> None:
        """Attach the Spark counts of each span's own jobs to the span.

        A job whose group is none of this tracer's spans but that was
        submitted while the tracer was open belongs to the innermost span
        open at its submission, or counts in ``unattributed_jobs``. A stage
        shared by several jobs (a skipped re-use) is counted once, for the
        first job that ran it."""
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            s.update(jobs=0, stages=0, tasks=0, task_ms=0, input_bytes=0,
                     input_records=0, output_bytes=0, shuffle_write_bytes=0,
                     files_read=0, job_intervals=[])
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        job_span: dict[int, dict] = {}
        seen_stages: set[int] = set()
        rows = []
        t_close = time.time()
        self.unattributed_jobs = 0
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            span = by_id.get(g.get()) if g.isDefined() else None
            if span is None:
                sub = j.submissionTime()
                t = sub.get().getTime() / 1000.0 if sub.isDefined() else None
                if t is None or not self.t_open <= t <= t_close:
                    continue  # not submitted while this tracer was open
                span = self._innermost(t)
                if span is None:
                    self.unattributed_jobs += 1
                    continue
            rows.append((j.jobId(), span, j))
        rows.sort(key=lambda r: r[0])
        for job_id, s, j in rows:
            job_span[job_id] = s
            s["jobs"] += 1
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                s["job_intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids = [int(x) for x in _INT.findall(j.stageIds().toString())]
            for sid in stage_ids:
                if sid in seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                seen_stages.add(sid)
                s["stages"] += 1
                s["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                s["task_ms"] += st.executorRunTime()
                s["input_bytes"] += st.inputBytes()
                s["input_records"] += st.inputRecords()
                s["output_bytes"] += st.outputBytes()
                s["shuffle_write_bytes"] += st.shuffleWriteBytes()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            job_ids = [int(x) for x in _INT.findall(e.jobs().keySet().toString())]
            owner = next((job_span[j] for j in job_ids if j in job_span), None)
            if owner is None:
                continue
            # adaptive re-plans list a scan's metric again under the same id
            acc_ids = set(_FILES_READ.findall(e.metrics().toString()))
            if not acc_ids:
                continue
            values = sql.executionMetrics(e.executionId())
            for acc in acc_ids:
                v = values.get(int(acc))
                if v.isDefined():
                    owner["files_read"] += int(v.get().replace(",", ""))


def jobs_submitted(spark, t0: float, t1: float) -> int:
    """Spark jobs submitted in the wall-time window ``[t0, t1]``, from the
    status store. Drains the listener bus first, so every job of the window
    is in the store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    n = 0
    for i in range(jobs.size()):
        sub = jobs.apply(i).submissionTime()
        # submission times have millisecond resolution, hence the slack
        if sub.isDefined() and t0 - 0.001 <= sub.get().getTime() / 1000.0 <= t1:
            n += 1
    return n


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def subtree(spans: list[dict]) -> dict[str, list[dict]]:
    """Span id -> the span and every span below it."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out: dict[str, list[dict]] = {}

    def walk(s: dict) -> list[dict]:
        if s["id"] not in out:
            acc = [s]
            for c in children.get(s["id"], []):
                acc.extend(walk(c))
            out[s["id"]] = acc
        return out[s["id"]]

    for s in spans:
        walk(s)
    return out


def driver_gap_s(span: dict, below: list[dict]) -> float:
    """Span wall time during which no job of the span or its children ran."""
    intervals = [iv for s in below for iv in s["job_intervals"]]
    dur = span["end"] - span["start"]
    return max(0.0, dur - covered(intervals, span["start"], span["end"]))


def self_s(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    dur = span["end"] - span["start"]
    ivs = [(c["start"], c["end"]) for c in children]
    return dur - covered(ivs, span["start"], span["end"])
