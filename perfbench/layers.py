"""Per-layer metrics of a traced run.

:func:`install` wraps, at run time, the public calls that the engine makes
on its own (reviewer-fired ``compact``/``outdate``, state commits through
``EngineFS.write_text_cas``, and the ``AnnIndexStore`` maintenance calls) so
they get spans too, and attaches a ``StreamingQueryListener`` that records
every micro-batch; the benchmark's own calls get their spans in
``Run.call``. Nothing under ``helixdb_spark/`` is edited.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.trace import driver_gap_s, self_s, subtree

ENGINE_CHILDREN = ("engine.compact", "engine.outdate")


def _batch_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batch_ms: list[int] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.batch_ms.append(event.progress.batchDuration)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return BatchListener()


def install(tracer) -> None:
    from helixdb_spark.engine import HelixSpark
    from helixdb_spark.fsio import EngineFS
    from helixdb_spark.index_store import AnnIndexStore

    tracer.wrap(HelixSpark, "compact", "engine.compact")
    tracer.wrap(HelixSpark, "outdate", "engine.outdate")

    def commit_bytes(rec, args, kwargs):
        text = args[2] if len(args) > 2 else kwargs["text"]
        rec["bytes"] = len(text.encode("utf-8"))

    tracer.wrap(EngineFS, "write_text_cas", "fsio.state_commit", commit_bytes)
    for attr in sorted(vars(AnnIndexStore)):
        if attr.startswith("write_"):
            kind = "write"
        elif attr.startswith("append_"):
            kind = "append"
        elif "drift" in attr and not attr.startswith("_"):
            kind = "drift"
        elif attr == "compact_index":
            kind = "compact_index"
        else:
            continue
        tracer.wrap(AnnIndexStore, attr, f"index_store.{kind}")
    tracer.batches = _batch_listener()
    tracer.spark.streams.addListener(tracer.batches)


def uninstall(tracer) -> None:
    tracer.unwrap_all()
    tracer.spark.streams.removeListener(tracer.batches)


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


def _ms(s) -> float:
    return (s["end"] - s["start"]) * 1000


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_call(spans, field) -> float:
    return sum(s[field] for s in spans) / len(spans) if spans else 0.0


def per_layer(tracer, run, res: dict) -> dict:
    """Every per-layer metric, with its unit and the number of spans or
    objects it was computed from."""
    tracer.collect()
    spans = tracer.spans
    below = subtree(spans)
    out: dict = {}

    def put(name, value, unit, n):
        out[name] = {"value": value, "unit": unit, "n": n}

    if "state" in res:
        _engine(spans, run, put)
        out.update(_layout_and_codecs(res["state"].db))
    for kind in ("write", "append", "drift", "compact_index"):
        calls = _named(spans, f"index_store.{kind}")
        put(f"index_store.{kind}.calls", len(calls), "count", len(calls))
        put(f"index_store.{kind}.ms", sum(_ms(s) for s in calls), "ms", len(calls))
        put(f"index_store.{kind}.jobs", sum(s["jobs"] for s in _under(calls, below)),
            "count", len(calls))
    batch_ms = tracer.batches.batch_ms
    put("streaming.batches", len(batch_ms), "count", len(batch_ms))
    put("streaming.batch_ms", _med(batch_ms), "ms", len(batch_ms))
    # each row runs twice, warm-up first: the later span is the measured one
    measured = {s["name"]: s for s in sorted(spans, key=lambda s: s["start"])
                if s["name"].startswith("plans.")}
    for row, s in measured.items():
        put(f"{row}.s", _ms(s) / 1000, "s", 1)
        put(f"{row}.jobs", sum(c["jobs"] for c in below[s["id"]]), "count", 1)
        put(f"{row}.driver_gap_s", driver_gap_s(s, below[s["id"]]), "s", 1)

    put("spark.jobs", sum(s["jobs"] for s in spans), "count", len(spans))
    put("spark.unattributed_jobs", tracer.unattributed_jobs, "count",
        tracer.unattributed_jobs)
    put("spark.stages", sum(s["stages"] for s in spans), "count", len(spans))
    put("spark.tasks", sum(s["tasks"] for s in spans), "count", len(spans))
    put("spark.shuffle_write_bytes", sum(s["shuffle_write_bytes"] for s in spans),
        "bytes", len(spans))
    put("spark.input_bytes", sum(s["input_bytes"] for s in spans), "bytes", len(spans))
    put("spark.task_busy_s", sum(s["task_ms"] for s in spans) / 1000, "s", len(spans))
    roots = [s for s in spans if s["parent"] is None]
    put("spark.driver_gap_s", sum(driver_gap_s(s, below[s["id"]]) for s in roots), "s",
        len(roots))
    traced_s = sum(s["end"] - s["start"] for s in roots)
    put("trace.overhead_frac", tracer.self_cost_s / traced_s if traced_s else 0.0,
        "ratio", len(spans))
    return out


def _under(calls, below):
    """``calls`` and every span below them, each once (an index-store call
    can run inside another, e.g. a write inside a drift refit)."""
    seen = {}
    for c in calls:
        for s in below[c["id"]]:
            seen[s["id"]] = s
    return list(seen.values())


def _engine(spans, run, put) -> None:
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    puts = _named(spans, "engine.put")
    put("engine.put.self_ms", _med([
        self_s(s, [c for c in kids.get(s["id"], []) if c["name"] in ENGINE_CHILDREN]) * 1000
        for s in puts]), "ms", len(puts))
    put("engine.put.jobs", _per_call(puts, "jobs"), "jobs/call", len(puts))
    comp = _named(spans, "engine.compact")
    put("engine.compact.ms", _med([_ms(s) for s in comp]), "ms", len(comp))
    put("engine.compact.jobs", _per_call(comp, "jobs"), "jobs/call", len(comp))
    put("engine.compact.bytes_written", sum(s["output_bytes"] for s in comp), "bytes",
        len(comp))
    outd = _named(spans, "engine.outdate")
    put("engine.outdate.ms", _med([_ms(s) for s in outd]), "ms", len(outd))

    for op in ("get_many", "get_many_asof"):
        calls = _named(spans, f"engine.{op}")
        hits = sum(s["hits"] for s in calls)
        if op == "get_many":
            put("engine.get_many.jobs", _per_call(calls, "jobs"), "jobs/call", len(calls))
            put("engine.get_many.files_read", _per_call(calls, "files_read"),
                "files/call", len(calls))
        put(f"engine.{op}.rows_read_per_hit",
            sum(s["input_records"] for s in calls) / hits if hits else 0.0,
            "rows/hit", len(calls))
    scans = _named(spans, "engine.scan") + _named(spans, "engine.scan_full")
    put("engine.scan.jobs", _per_call(scans, "jobs"), "jobs/call", len(scans))
    put("engine.scan.files_read", _per_call(scans, "files_read"), "files/call", len(scans))
    put("engine.scan.shuffle_bytes", _per_call(scans, "shuffle_write_bytes"),
        "bytes/call", len(scans))

    commits = _named(spans, "fsio.state_commit")
    log_bytes = sum(s["bytes"] for s in commits)
    written = sum(s["output_bytes"] for s in puts + comp) + log_bytes
    user = run.user_bytes_written
    put("engine.write_amp", written / user if user else 0.0, "ratio", len(puts))
    put("fsio.state_commits", len(commits), "count", len(commits))
    put("fsio.state_commit_ms", _med([_ms(s) for s in commits]), "ms", len(commits))
    put("fsio.state_log_bytes", log_bytes, "bytes", len(commits))

    put_ids = {s["id"] for s in puts}
    put("maintenance.compactions", sum(s["parent"] in put_ids for s in comp), "count",
        len(comp))
    put("maintenance.outdates", sum(s["parent"] in put_ids for s in outd), "count",
        len(outd))


def _layout_and_codecs(db) -> dict:
    from helixdb_spark.codecs import ARRAY_CODEC

    base = db.layout.base_path

    def parquet_files(sub):
        n = 0
        for _, _, files in os.walk(os.path.join(base, sub)):
            n += sum(f.endswith(".parquet") for f in files)
        return n

    hot_buckets = set()
    if os.path.isdir(db.layout.hot_path):
        hot_buckets = {int(d.split("=", 1)[1]) for d in os.listdir(db.layout.hot_path)
                       if d.startswith("time_bucket=")}
    chunks = db.scan_raw().select("time_bucket", "key", "codec", "blob").collect()
    blobs = [r for r in chunks if r["codec"] != ARRAY_CODEC]
    entries = sum(len(db.codecs.get(r["codec"]).decompress(bytes(r["key"]), bytes(r["blob"])))
                  for r in blobs)
    blob_bytes = sum(len(r["blob"]) for r in blobs)
    live = hot_buckets | {int(r["time_bucket"]) for r in chunks}
    n = len(chunks)
    return {
        "layout.hot_files": {"value": parquet_files("hot"), "unit": "count", "n": 1},
        "layout.cold_files": {"value": parquet_files("cold"), "unit": "count", "n": 1},
        "layout.live_buckets": {"value": len(live), "unit": "count", "n": 1},
        "codecs.blob_chunk_share": {"value": len(blobs) / n if n else 0.0,
                                    "unit": "ratio", "n": n},
        "codecs.blob_bytes_per_entry": {"value": blob_bytes / entries if entries else 0.0,
                                        "unit": "bytes", "n": entries},
    }


def write_spans(tracer, args, here: str) -> str:
    out_dir = os.path.join(here, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
    keep = ("id", "name", "parent", "start", "end", "jobs", "stages", "tasks", "task_ms",
            "input_bytes", "input_records", "output_bytes", "shuffle_write_bytes",
            "files_read", "hits", "bytes")
    with open(path, "w") as f:
        json.dump([{k: s[k] for k in keep if k in s} for s in tracer.spans], f)
    return path
