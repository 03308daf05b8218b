"""Where an ordered scan's one-task sort stops paying off.

``HelixSpark.scan`` sorts in one task when the files its plan reads hold at
most ``engine.SCAN_ONE_TASK_SORT_BYTES`` on disk, and behind a
range-partitioned shuffle otherwise. This script builds one compacted DB
(``--buckets`` buckets of ``--keys`` keys x ``--rick-range`` ts, 8-byte
values in native array chunks: the most rows per on-disk byte the default
dispatch writes) and times ordered scans of 1, 2, ... buckets down both
paths, forcing each by setting the constant. Each size runs ``--pairs``
alternating pairs after one warm-up of each path, for the full key range
and for a 1/16 key range (the ``kv_cold_read`` scans keep 32 of 512 keys).
Scans write to Spark's ``noop`` sink, so the time is the plan's, not the
driver's collect.

    SPARK_GRAFT_CPUS=4 python3 scripts/scan_sort_breakeven.py --work /tmp/be

Each run builds its DB in a new ``db_*`` dir under ``--work`` and removes
it when done, so runs sharing one ``--work`` never touch each other's files.

One JSON line per (buckets, key fraction): touched MiB, the entries the
scan keeps (buckets x ``--rick-range`` x kept keys), the on-disk bytes per
stored entry, the two medians and how many pairs the one-task sort won.
Sizes below one bucket come from fewer keys, e.g. ``--keys 100``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from helixdb_spark import comparators, engine  # noqa: E402
from helixdb_spark.engine import HelixOptions, HelixSpark  # noqa: E402
from helixdb_spark.session import get_session  # noqa: E402


def le_u64(i: int) -> bytes:
    return i.to_bytes(8, "little")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--work", default=None, help="parent of this run's db_* dir (default: a temp dir)")
    ap.add_argument("--buckets", type=int, default=4)
    ap.add_argument("--keys", type=int, default=200)
    ap.add_argument("--rick-range", type=int, default=1000)
    ap.add_argument("--pairs", type=int, default=4)
    args = ap.parse_args()
    work = args.work or tempfile.mkdtemp(prefix="scan_breakeven_")
    os.makedirs(work, exist_ok=True)
    path = tempfile.mkdtemp(prefix="db_", dir=work)
    R, K, B = args.rick_range, args.keys, args.buckets

    spark = get_session("scan_breakeven", extra_conf={"spark.ui.showConsoleProgress": "false"})
    db = HelixSpark.open(spark, path, HelixOptions(rick_range=R, auto_maintain=False))
    ids = spark.range(0, B * R * K)
    ts = (F.col("id") / K).cast("long")
    kid = F.col("id") % K
    as_le_u64 = lambda c: F.reverse(F.unhex(F.lpad(F.hex(c.cast("long")), 16, "0")))  # noqa: E731
    db.put(ids.select(
        ts.alias("ts"),
        as_le_u64(kid).alias("key"),
        as_le_u64(kid * 1000 + ts % 997).alias("value"),  # slowly varying gauge
    ))
    db.compact(0, B * R - 1)
    saved = engine.SCAN_ONE_TASK_SORT_BYTES

    def touched_bytes(n_buckets: int) -> int:
        plan = db.scan((0, n_buckets * R - 1))._jdf.queryExecution().sparkPlan()
        return engine._file_bytes(plan)

    def timed(n_buckets: int, key_range, one_task: bool) -> float:
        engine.SCAN_ONE_TASK_SORT_BYTES = 1 << 62 if one_task else -1
        df = db.scan((0, n_buckets * R - 1), key_range, comparator=comparators.le_u64)
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    try:
        for n in range(1, B + 1):
            touched = touched_bytes(n)
            for frac, key_range in ((1, None), (16, (le_u64(0), le_u64(K // 16 - 1)))):
                timed(n, key_range, True), timed(n, key_range, False)
                one, rng = [], []
                for i in range(args.pairs):
                    order = (True, False) if i % 2 else (False, True)
                    for flag in order:
                        (one if flag else rng).append(timed(n, key_range, flag))
                print(json.dumps({
                    "buckets": n,
                    "key_fraction": f"1/{frac}",
                    "touched_mib": round(touched / 2**20, 2),
                    "entries_kept": n * R * (K // frac),
                    "bytes_per_entry": round(touched / (n * R * K), 2),
                    "one_task_s": round(statistics.median(one), 3),
                    "range_sort_s": round(statistics.median(rng), 3),
                    "one_task_won": f"{sum(a < b for a, b in zip(one, rng))}/{args.pairs}",
                }), flush=True)
    finally:
        engine.SCAN_ONE_TASK_SORT_BYTES = saved
        db.close()
        spark.stop()
        shutil.rmtree(path, ignore_errors=True)


if __name__ == "__main__":
    main()
