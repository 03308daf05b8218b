"""lifecycle_queries: one pass over five registered rows whose time goes to
fixed ladders of small Spark jobs (index-store write/append/drift/fold,
streaming micro-batches, graph rounds, state-log commits).

The rows come from ``__spark_entry__.queries()`` and read the sf0.01 tables
in ``--data``; each answer is compared once per run with its
``oracle_sql()`` answer in DuckDB, outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import random
import time

ROWS = (
    "stream_index_refresh",
    "ann_drift_refit",
    "ann_pq_chain_autofold",
    "kv_statelog_scan",
    "supplier_customer_pagerank",
)


class _Collected:
    """A collected answer in the shape ``tests.oracle_utils.compare`` reads."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def lifecycle_queries(run, cfg: dict, seed: int, workdir: str) -> dict:
    import __spark_entry__ as entry
    from tests.oracle_utils import compare, duckdb_conn

    data = cfg["data"]
    spark = run.spark
    queries, oracles = entry.queries(), entry.oracle_sql()
    order = list(ROWS)
    random.Random(seed).shuffle(order)

    def collect(row):
        df = queries[row](spark, data)
        return _Collected(df.columns, df.collect())

    from helixdb_spark.plans import pipeline

    # The ANN rows keep their persisted index store under a fixed /tmp path.
    # Point it into this run's work directory, so the run writes only there
    # and starts from an empty store, like a fresh machine.
    store_base = pipeline._store_base
    pipeline._store_base = lambda sf_dir: os.path.join(
        workdir, "ann_store", hashlib.md5(sf_dir.encode()).hexdigest()[:12])
    try:
        # warm-up pass: fills the process memos a long-lived session keeps
        t0 = time.perf_counter()
        for row in order:
            run.call(row, lambda: collect(row), lambda out: True, span=f"plans.{row}")
        setup_s = time.perf_counter() - t0

        con = duckdb_conn(data)
        run.start_measuring()
        for row in order:
            run.call(row, lambda: collect(row),
                     lambda out: compare(out, con, oracles[row])[0], span=f"plans.{row}")
        run.stop_measuring()
    finally:
        pipeline._store_base = store_base
    return {"setup_s": setup_s}
