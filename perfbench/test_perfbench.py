"""Tests of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The lifecycle workload reads sf0.01-shaped tables; its test runs only when
``PERFBENCH_LIFECYCLE_DATA`` names such a table directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import kv  # noqa: E402
from perfbench import run as bench  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

# workload sizes small enough for a test; the shapes stay the same
TINY_INGEST = dict(keys=16, scan_keys=4, get_many_probes=16, fit_vectors=64,
                   batch_vectors=32, ivf_stride=16)
TINY_COLD = dict(keys=16, scan_keys=4, get_many_probes=16, asof_probes=8)
TINY_SETUPS = 2

# every end-to-end metric each workload names, with its unit
REPORTED = {
    "kv_ingest_mixed": {
        "setup_s": "s", "session_s": "s", "ops_per_s": "1/s", "spark_jobs_per_op": "jobs/op",
        "put_rows_per_s": "rows/s", "put_p50_ms": "ms", "put_p90_ms": "ms",
        "get_many_p50_ms": "ms", "get_many_p90_ms": "ms", "scan_p50_ms": "ms",
        "stream_append_p50_ms": "ms", "index_drift_p50_ms": "ms",
        "index_fold_p50_ms": "ms", "space_amp": "ratio", "ops_failed_frac": "ratio",
    },
    "kv_cold_read": {
        "setup_s": "s", "session_s": "s", "ops_per_s": "1/s", "spark_jobs_per_op": "jobs/op",
        "get_many_p50_ms": "ms",
        "get_many_p90_ms": "ms", "get_p50_ms": "ms", "get_asof_p50_ms": "ms",
        "scan_p50_ms": "ms", "scan_full_rows_per_s": "rows/s", "space_amp": "ratio",
        "ops_failed_frac": "ratio",
    },
    "lifecycle_queries": {
        "setup_s": "s", "lifecycle_pass_s": "s", "ops_failed_frac": "ratio",
    },
}

# per-layer counts that must repeat exactly for a seed
EXACT = (".jobs", ".files_read", "fsio.state_commits", "maintenance.", "layout.")


def _args(workload, seed=7, trace=0, data=None):
    return argparse.Namespace(workload=workload, seed=seed, seconds=1.0, trace=trace,
                              data=data)


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    for k, v in TINY_INGEST.items():
        monkeypatch.setitem(kv.INGEST, k, v)
    for k, v in TINY_COLD.items():
        monkeypatch.setitem(kv.COLD, k, v)
    monkeypatch.setattr(kv, "SETUPS", TINY_SETUPS)


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(HERE, ".work", f"test-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    bench.pin_environment(work)
    session = bench.start_session(work)
    yield session, work
    bench.stop_session(session)
    shutil.rmtree(work, ignore_errors=True)


def _run(spark, args):
    session, work = spark
    return bench.run_workload(session, args, work, session_s=0.0)


def test_cli_prints_contract_line():
    """The last stdout line is the result object; the line before it is the
    report with every metric's unit."""
    code = (
        "import sys; from perfbench import kv, run; "
        f"kv.INGEST.update({TINY_INGEST!r}); kv.SETUPS = {TINY_SETUPS}; "
        "sys.exit(run.main(['--workload', 'kv_ingest_mixed', '--seed', '3', "
        "'--seconds', '1', '--trace', '0']))"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == bench.END_TO_END
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"} and m["value"] > 0
    report = json.loads(lines[-2])["report"]
    for name, unit in REPORTED["kv_ingest_mixed"].items():
        assert report[name]["unit"] == unit, name


@pytest.mark.parametrize("workload", ["kv_ingest_mixed", "kv_cold_read"])
def test_tiny_run_reports_every_metric(spark, workload):
    out = _run(spark, _args(workload))
    assert out["ok"] and out["result"]["correct"], out["result"]
    for name, unit in REPORTED[workload].items():
        assert out["report"][name]["unit"] == unit, name
        assert out["report"][name]["n"] >= 1, name
    assert out["report"]["ops_failed_frac"]["value"] == 0.0


def test_wrong_expected_value_counts_as_failed(spark, monkeypatch):
    real = kv.expect_many

    def corrupted(model, probes):
        exp = real(model, probes)
        if exp:
            k = next(iter(exp))
            exp[k] = exp[k] + b"!"
        return exp

    monkeypatch.setattr(kv, "expect_many", corrupted)
    out = _run(spark, _args("kv_ingest_mixed"))
    result = out["result"]
    assert not result["correct"] and result["failed"] >= 1
    assert out["report"]["ops_failed_frac"]["value"] > 0
    # the run still reports every metric
    assert set(result["metrics"]) == set(bench.END_TO_END)


@pytest.mark.parametrize("workload", ["kv_ingest_mixed", "kv_cold_read"])
def test_traced_counts_repeat_for_a_seed(spark, workload):
    first = _run(spark, _args(workload, trace=1))
    second = _run(spark, _args(workload, trace=1))
    assert list(first["result"]["metrics"]) == bench.PER_LAYER
    exact = [n for n in bench.PER_LAYER if any(t in n for t in EXACT)]
    assert "fsio.state_commits" in exact and "layout.cold_files" in exact
    for name in exact + ["spark_jobs_per_op"]:
        assert first["report"][name]["value"] == second["report"][name]["value"], name


def test_jobs_of_other_threads_are_attributed(spark):
    """A job launched from a thread the span's job group does not reach
    counts for the span open at its submission; a job outside every span
    counts as unattributed."""
    session, _ = spark
    tracer = Tracer(session)

    def count():
        session.range(100).count()

    def count_without_group():
        # as in a pool thread or a streaming callback: no job group set
        session.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        count()

    with tracer.span("outer") as outer:
        with tracer.span("inner") as inner:
            t = threading.Thread(target=count_without_group)
            t.start()
            t.join()
    count()
    tracer.collect()
    assert inner["jobs"] >= 1 and outer["jobs"] == 0
    assert tracer.unattributed_jobs >= 1


@pytest.mark.skipif(not os.environ.get("PERFBENCH_LIFECYCLE_DATA"),
                    reason="PERFBENCH_LIFECYCLE_DATA names no table directory")
def test_lifecycle_reports_every_metric(spark):
    data = os.environ["PERFBENCH_LIFECYCLE_DATA"]
    out = _run(spark, _args("lifecycle_queries", data=data))
    assert out["result"]["correct"], out["result"]
    for name, unit in REPORTED["lifecycle_queries"].items():
        assert out["report"][name]["unit"] == unit, name
