"""Structured Streaming ingest + stateful operators.

The reference's only streaming-ish machinery is its write-batch micro-batcher
(reference src/level.rs:593-721) and the logical-time tumbling compaction
policy (src/level.rs:550-591); real streaming semantics (watermarks, windows,
state) are engine additions mapped onto Structured Streaming (SURVEY.md
§2.10).

For deterministic local runs the parquet testdata drives the stream
(one file → one micro-batch) into a memory sink via
``processAllAvailable()``; in production the same plans read Kafka/files and
write to the hot table (the streaming form of ``HelixSpark.put``).
"""

from __future__ import annotations

import itertools
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COUNTER = itertools.count()


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream. ts arrives as long nanoseconds
    (TIMESTAMP(NANOS) + nanosAsLong) and converts exactly like the batch
    loader so streaming results hash-match batch oracles."""
    path = f"{sf_dir.rstrip('/')}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file stream source requires a directory; glob-filter to the table
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # default parquet read of TIMESTAMP(NANOS) yields NTZ, which
        # withWatermark rejects; normalize like the batch loader (UTC session)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(agg: DataFrame, mode: str) -> DataFrame:
    name = f"stream_out_{next(_COUNTER)}"
    spark = agg.sparkSession
    # State-store partition count is frozen at query start from
    # spark.sql.shuffle.partitions. Size it to the stream, not the batch
    # default: a local bounded micro-batch with 8 state partitions avoids
    # paying 32 store inits + checkpoint dirs per batch. A production
    # deployment would set this per-query to match throughput; it does not
    # change results, only state layout.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def _ship_batch_files(
    df: DataFrame, bucket, n_batches: int, stream_dir: str
) -> None:
    """Land ``n_batches`` single-file parquet micro-batches (``b{i}.parquet``,
    strictly increasing mtimes — the file stream source's arrival order) in
    ONE Spark job: a ``partitionBy`` write over the ``bucket`` index column
    (0..n_batches-1), instead of one filtered scan + ``coalesce(1)`` write
    per batch. ``repartition(bucket)`` puts each batch's rows in exactly one
    task, so every partition dir holds exactly one file (r12 — the per-batch
    loop paid N full input scans + N write jobs for the same files)."""
    import glob
    import os
    import shutil

    root = os.path.dirname(stream_dir.rstrip("/"))
    tmp = f"{root}/slices_tmp"
    (
        df.withColumn("_b", bucket.cast("int"))
        .repartition(F.col("_b"))
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(tmp)
    )
    for i in range(n_batches):
        parts = glob.glob(f"{tmp}/_b={i}/part-*.parquet")
        assert len(parts) == 1, f"batch {i}: expected 1 file, got {parts}"
        dst = f"{stream_dir}/b{i}.parquet"
        shutil.move(parts[0], dst)
        mtime = 1_000_000_000 + i * 500
        os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation over the event stream (complete
    mode so every window is emitted deterministically on a bounded source)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.lit(1e-9) + F.sum("value"), 2).alias("total_value"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("win.start").alias("hour"), "event_type", "n_events", "total_value"
    ).orderBy("hour", "event_type")


STREAM_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       round(1e-9 + sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def stream_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour windows advancing hourly: each event lands in two
    windows. Demonstrates overlapping-window state; complete mode on the
    bounded source keeps it deterministic."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win")).agg(
        F.count("*").alias("n_events"),
        F.round(F.lit(1e-9) + F.sum("value"), 2).alias("total_value"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("win.start").alias("win_start"), "n_events", "total_value"
    ).orderBy("win_start")


STREAM_SLIDING_SQL = """
SELECT win_start, count(*) AS n_events,
       round(1e-9 + sum(value), 2) AS total_value
FROM (
  SELECT unnest([date_trunc('hour', ts),
                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
         value
  FROM events
)
GROUP BY win_start
ORDER BY win_start
"""


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user via
    ``F.session_window`` — the built-in form of the sessionization the batch
    plan does with lag + running sum (plans/events.ev_sessionize)."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("win")
    ).agg(F.count("*").alias("n_events"))
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id", F.col("win.start").alias("session_start"), "n_events"
    ).orderBy("user_id", "session_start")


STREAM_SESSION_SQL = """
WITH marked AS (
  -- Spark merges sessions iff ts < prev_ts + gap (end-exclusive window
  -- overlap), so a new session starts at ts >= prev_ts + 30 minutes
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR ts >= prev_ts + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
  )
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def stream_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: per-user
    running (count, total value, max value). On the bounded testdata stream
    the final state equals the batch aggregate, so it stays oracle-checkable.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select("user_id", "value")

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("mx", T.DoubleType()),
        ]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(1e-9 + total, 2)],
                "max_value": [round(1e-9 + mx, 2)],
            }
        )

    agg = ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    out = _run_to_memory(agg, "update")
    # on a bounded single-batch source each user emits once; keep the final
    # state per user in case the source split into multiple batches
    w_latest = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
        F.max("max_value").alias("max_value"),
    )
    return w_latest.orderBy("user_id")


STREAM_USER_STATE_SQL = """
SELECT user_id, count(*) AS n_events,
       round(1e-9 + sum(value), 2) AS total_value,
       round(1e-9 + max(value), 2) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: purchases within one hour
    after a click by the same user. Both sides carry a 2-hour watermark and
    the join condition bounds event time on both ends, so Spark can expire
    join state — the canonical unbounded-join pattern. On the bounded
    testdata stream the append-mode result equals the batch self-join."""
    clicks = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = _run_to_memory(joined, "append")
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
        ).alias("lag_seconds"),
    ).orderBy("click_id", "purchase_id")


STREAM_JOIN_SQL = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       date_diff('second', c.ts, p.ts) AS lag_seconds
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
ORDER BY 1, 2
"""


def stream_ingest_to_engine(spark: SparkSession, sf_dir: str, db) -> None:
    """Streaming form of ``HelixSpark.put``: micro-batches append to the hot
    table via foreachBatch (exactly the reference's WriteBatch micro-batching
    — src/level.rs:593-721 — with Spark owning the trigger)."""
    ev = _events_stream(spark, sf_dir)
    entries = ev.select(
        F.unix_timestamp("ts").alias("ts"),
        F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
        F.encode(F.col("props"), "utf-8").alias("value"),
    )
    q = entries.writeStream.foreachBatch(
        lambda batch_df, epoch_id: db.put(batch_df)
    ).start()
    q.processAllAvailable()
    q.stop()


LATE_LO = 1704067200  # 2024-01-01 00:00:00 UTC (events corpus start)
LATE_DAY = 86400
LATE_DELAY_MS = 90_000_000  # 25 hours

_INGEST_DIRS: dict[str, str] = {}


def _ingest_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Four-file time-ordered replay of the events table as engine entry
    rows (ts/key/value pre-shaped) — file mtimes order the micro-batches
    oldest-first, so the reviewer's watermark advances monotonically the
    way a live ingest's would."""
    if sf_dir in _INGEST_DIRS:
        return _INGEST_DIRS[sf_dir]
    import os
    import shutil
    import tempfile

    from helixdb_spark.sources import load_table

    root = tempfile.mkdtemp(prefix="helix_ingeststream_")
    import atexit

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    entries = ev.select(
        F.unix_timestamp("ts").alias("ts"),
        F.col("event_id").cast("string").alias("key"),
        F.col("props").alias("value"),
    )
    d2, d4, d7 = (LATE_LO + k * LATE_DAY for k in (2, 4, 7))
    stream_dir = f"{root}/stream"
    os.makedirs(stream_dir)
    # one partitioned write lands all four batch files (r12)
    bucket = (
        F.when(F.col("ts") < d2, F.lit(0))
        .when(F.col("ts") < d4, F.lit(1))
        .when(F.col("ts") < d7, F.lit(2))
        .otherwise(F.lit(3))
    )
    _ship_batch_files(entries, bucket, 4, stream_dir)
    _INGEST_DIRS[sf_dir] = stream_dir
    return stream_dir


def stream_ingest_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's streaming-ingest lifecycle end-to-end, graded: the
    events table replays as four time-ordered micro-batches, foreachBatch
    feeds each into ``HelixSpark.put`` with ``auto_maintain=True`` — so
    the reviewer's watermark advances batch-by-batch and compactions fire
    MID-STREAM (hot day buckets flip cold while later batches are still
    arriving; the reference's WriteBatch + reviewer loop,
    src/level.rs:593-721 driven by 550-591, as one continuous job) — and
    the final engine scan of the first week must equal the plain SQL
    range select over the source table (the compaction-transparency
    contract, src/level.rs:823-875, now under streaming arrival)."""
    from helixdb_spark.engine import HelixOptions, HelixSpark
    from helixdb_spark.plans.kv import (
        KEY_HI,
        KEY_LO,
        SCAN_TS_HI,
        SCAN_TS_LO,
        _scratch_dir,
    )

    path = _ingest_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    entries = stream.select(
        "ts",
        F.encode("key", "utf-8").alias("key"),
        F.encode("value", "utf-8").alias("value"),
    )
    db = HelixSpark.open(
        spark,
        _scratch_dir("kvstream"),
        HelixOptions(
            rick_range=86400, outdate_range=1 << 40, auto_maintain=True
        ),
    )
    # the ingest phase is many small maintenance jobs over micro-batch-
    # sized inputs; size its shuffles to the batches (the _run_to_memory
    # discipline), restore before the analytic scan
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = entries.writeStream.foreachBatch(
            lambda batch_df, _epoch: db.put(batch_df)
        ).start()
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    scanned = db.scan(
        (SCAN_TS_LO, SCAN_TS_HI), (KEY_LO.encode(), KEY_HI.encode())
    )
    return scanned.select(
        "ts",
        F.decode("key", "utf-8").alias("key"),
        F.decode("value", "utf-8").alias("value"),
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` on the
    (user_id, event_type, ts) identity — the state-bounded form (state for a
    key is dropped once the watermark passes it, so a 100 TB/day stream
    holds hours of state, not the full history; plain ``dropDuplicates``
    would grow without bound). The memory-sink rows are then aggregated per
    event_type so the graded output is deterministic."""
    ev = _events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    out = _run_to_memory(
        deduped.select("user_id", "event_type", "ts"), "append"
    )
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
        .orderBy("event_type")
    )


STREAM_DEDUP_SQL = """
SELECT event_type, count(*) AS n_unique
FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
GROUP BY event_type
ORDER BY event_type
"""


# inline dimension for the stream-static enrichment join: event_type ->
# (category, weight). Tiny by construction — the broadcast side.
def stream_restart_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint recovery graded: the dedup STATE must survive a full
    stop/restart. Phase 1 streams days 1-3 through
    ``dropDuplicatesWithinWatermark`` into a parquet sink (foreachBatch)
    and STOPS — state lands in the checkpoint. Phase 2 re-sends days 2-3
    VERBATIM (exact duplicate identities) plus fresh day-4 rows and
    restarts from the same checkpoint: the restored state must swallow
    every re-sent row (they are within the 3-day delay, the direction the
    watermark contract guarantees) while day 4 passes. The final per-type
    count over everything the sink received equals the batch DISTINCT
    count — which it cannot if restart lost state (the re-sent rows would
    pass twice) or if the sink double-wrote a batch. This is the
    exactly-once restart story a production rollup depends on; the
    reference has no streaming surface at all (engine addition)."""
    import glob
    import os
    import shutil
    import tempfile

    from helixdb_spark.sources import load_table

    root = tempfile.mkdtemp(prefix="helix_restart_")
    import atexit

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    stream_dir, ckpt, out = (f"{root}/{d}" for d in ("stream", "ckpt", "out"))
    os.makedirs(stream_dir)

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    es = F.unix_timestamp("ts")
    d2, d3, d4 = (LATE_LO + k * LATE_DAY for k in (2, 3, 4))
    phase_a = ev.where(es < d3)
    resent = ev.where((es >= d2) & (es < d3))  # exact dup identities
    fresh = ev.where((es >= d3) & (es < d4))
    phase_b = resent.unionByName(fresh)

    def ship(name: str, df: DataFrame, mtime: int) -> None:
        tmp = f"{root}/{name}_tmp"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{stream_dir}/{name}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    schema = ev.schema

    def run_phase() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        deduped = stream.withWatermark(
            "ts", "3 days"
        ).dropDuplicatesWithinWatermark(["user_id", "event_type", "ts"])
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                deduped.writeStream.foreachBatch(
                    lambda batch_df, _eid: batch_df.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    ship("a", phase_a, 1_000_000_000)
    run_phase()  # phase 1: state -> checkpoint, query fully stopped
    ship("b", phase_b, 1_000_000_500)
    run_phase()  # phase 2: fresh query object restored from the checkpoint

    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
        .orderBy("event_type")
    )


STREAM_RESTART_DEDUP_SQL = f"""
SELECT event_type, count(*) AS n_unique FROM (
  SELECT DISTINCT user_id, event_type, ts FROM events
  WHERE epoch(ts) < {LATE_LO + 4 * LATE_DAY}
)
GROUP BY event_type
ORDER BY event_type
"""


EVENT_DIM = [
    ("click", "engagement", 1.0),
    ("view", "engagement", 0.5),
    ("purchase", "revenue", 10.0),
    ("signup", "growth", 5.0),
    ("logout", "session", 0.1),
    ("login", "session", 0.2),
]


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a small static
    dimension (broadcast — no stream-side state at all, unlike a
    stream-stream join) and aggregates weighted value per category. This is
    the standard streaming ETL shape: dimensions live in a table, facts
    stream past them; at 100 TB/day the static side re-broadcasts per
    micro-batch and the stream side never shuffles before the aggregate's
    own exchange."""
    dim = spark.createDataFrame(
        EVENT_DIM, "event_type string, category string, weight double"
    )
    ev = _events_stream(spark, sf_dir)
    joined = ev.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("category").agg(
        F.count("*").alias("n_events"),
        F.round(F.lit(1e-9) + F.sum(F.col("value") * F.col("weight")), 2).alias(
            "weighted_value"
        ),
    )
    return _run_to_memory(agg, "complete").orderBy("category")


STREAM_ENRICH_SQL = """
WITH dim(event_type, category, weight) AS (VALUES
  ('click', 'engagement', 1.0), ('view', 'engagement', 0.5),
  ('purchase', 'revenue', 10.0), ('signup', 'growth', 5.0),
  ('logout', 'session', 0.1), ('login', 'session', 0.2))
SELECT category, count(*) AS n_events,
       round(1e-9 + sum(value * weight), 2) AS weighted_value
FROM events JOIN dim USING (event_type)
GROUP BY category
ORDER BY category
"""


def stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL distinct-count sketch: the SAME operator code as the
    batch sketch (operators.sketches.hll_registers — a select + groupBy
    max) runs unchanged on the stream, because the register state is a
    mergeable aggregate with O(m)=256-row state. Complete mode emits the
    live (register, max_rho) table each micro-batch; the estimate is a
    cheap batch expression over the emitted state (hll_estimate). This is
    the streaming cardinality monitor a TSDB runs next to ingest."""
    from helixdb_spark.operators import sketches

    ev = _events_stream(spark, sf_dir)
    agg = sketches.hll_registers(ev, "user_id")
    out = _run_to_memory(agg, "complete")
    return out.orderBy("register")


STREAM_HLL_SQL = """
WITH h AS (
  SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 2))::BIGINT AS register,
         ('0x' || substr(md5(user_id::VARCHAR), 3, 12))::BIGINT AS w
  FROM events
)
SELECT register,
       max(CASE WHEN w > 0 THEN 49 - length(bin(w)) ELSE 49 END) AS max_rho
FROM h GROUP BY 1 ORDER BY 1
"""


def stream_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: the SAME cell-fold as the batch sketch
    (operators.sketches.cms_cells — explode to d cells, groupBy count)
    runs unchanged on the stream. State is bounded at d·w cells no matter
    how much flows past — the live heavy-hitter monitor a 100 TB/day
    ingest runs without keeping per-key counts. Complete mode emits the
    cell table; probing it for any key's estimate is a broadcast lookup."""
    from helixdb_spark.operators import sketches

    ev = _events_stream(spark, sf_dir)
    agg = sketches.cms_cells(ev, "user_id")
    out = _run_to_memory(agg, "complete")
    return out.orderBy("row", "col")


def _stream_cms_sql() -> str:
    from helixdb_spark.operators import sketches

    return f"""
SELECT j AS "row",
       ('0x' || substr(md5(j::VARCHAR || ':' || user_id::VARCHAR), 1, 15))::BIGINT
         % {sketches.CMS_WIDTH} AS col,
       count(*)::BIGINT AS cnt
FROM events, range({sketches.CMS_DEPTH}) t(j)
GROUP BY 1, 2 ORDER BY 1, 2
"""


STREAM_CMS_SQL = _stream_cms_sql()


STREAM_TOPK = 3


def stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window top-k: tumbling 6-hour windows of per-user event
    counts maintained as streaming state (complete mode on the bounded
    source), then the k heaviest users per window ranked over the emitted
    state. The streaming stage keeps only (window, user, count) rows —
    bounded by actives per window, never raw events; the rank is a cheap
    batch window over the sink, which is how a monitoring surface would
    read it."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "6 hours").alias("win"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = _run_to_memory(agg, "complete")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("win").orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        out.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= STREAM_TOPK)
        .select(
            F.col("win.start").alias("win_start"), "rk", "user_id", "n_events"
        )
        .orderBy("win_start", "rk")
    )


STREAM_TOPK_SQL = f"""
WITH c AS (
  SELECT to_timestamp(floor(epoch(ts) / 21600) * 21600)::TIMESTAMP AS win_start,
         user_id, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY win_start
             ORDER BY n_events DESC, user_id ASC) AS rk
  FROM c
)
SELECT win_start, rk, user_id, n_events FROM r WHERE rk <= {STREAM_TOPK}
ORDER BY win_start, rk
"""


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet as a bounded stream (the _events_stream pattern
    for the corpus table)."""
    path = f"{sf_dir.rstrip('/')}/documents.parquet"
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir.rstrip("/"))
    )


def stream_token_meter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token meter: running per-source SUBWORD totals over the
    document ingest stream (complete mode) — the live "tokens ingested
    per domain" dashboard a training pipeline watches against its data
    mixture budgets. The tokenizer is the same greedy-vocab regex the
    batch budget queries use, running inside the streaming aggregate;
    state is one counter row per source."""
    from helixdb_spark.functions.text import subword_count

    docs = _docs_stream(spark, sf_dir)
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(subword_count(F.col("text")).cast("long")).alias("n_subwords"),
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy("source")


def _stream_token_meter_sql() -> str:
    from helixdb_spark.functions.text import subword_pattern

    pat = subword_pattern().replace("'", "''")
    return f"""
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(lower(text), '{pat}')))::BIGINT AS n_subwords
FROM documents
GROUP BY 1
ORDER BY 1
"""


# --------------------------- watermark window finalization (round 7)
# Two-micro-batch replay: batch 0 carries the middle of the week (days
# 3-5), batch 1 carries days 1-2 (arriving late) plus the tail (days 6-7).
# The graded contract is APPEND-mode finalization: a window row is emitted
# exactly when the event-time watermark (max event time seen - delay, ms
# precision) passes the window end — the oracle replicates that boundary
# arithmetic exactly, so the emitted window set itself is under the gate.
# Note Spark's watermark guarantee is one-directional: rows within the
# delay are NEVER dropped; rows beyond it MAY still be aggregated — and
# this Spark build accepts them (verified empirically), so the late days
# 1-2 rows COUNT toward their windows, which the final watermark then
# closes. State stays O(open windows) either way — the bounded-state
# shape a 100 TB stream needs.

_LATE_DIRS: dict[str, str] = {}


def _late_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf) the two-file replay directory;
    file mtimes order the micro-batches oldest-first."""
    if sf_dir in _LATE_DIRS:
        return _LATE_DIRS[sf_dir]
    import os
    import shutil
    import tempfile

    from helixdb_spark.sources import load_table

    root = tempfile.mkdtemp(prefix="helix_latestream_")
    import atexit

    atexit.register(shutil.rmtree, root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    d2, d5, d7 = (LATE_LO + k * LATE_DAY for k in (2, 5, 7))
    stream_dir = f"{root}/stream"
    os.makedirs(stream_dir)
    # one partitioned write lands both batch files (r12): batch 0 = on-time
    # days 2-5, batch 1 = the late head (days 0-2) plus the tail (days 5-7)
    bucket = F.when((es >= d2) & (es < d5), F.lit(0)).otherwise(F.lit(1))
    _ship_batch_files(
        ev.where((es >= LATE_LO) & (es < d7)), bucket, 2, stream_dir
    )
    _LATE_DIRS[sf_dir] = stream_dir
    return stream_dir


def stream_watermark_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts in APPEND mode under a 25-hour watermark over
    the two-batch replay: the memory sink receives a window exactly when
    the watermark closes it, so the graded result is the set of windows
    with end <= (max event time - 25h), at Spark's millisecond watermark
    precision — the append-mode finalization contract every downstream
    consumer of a streaming rollup depends on. Days 1-2 arrive a batch
    late and still count (the watermark guarantee is one-directional:
    within-delay data is never dropped, beyond-delay data may be
    processed — this build processes it); the open tail past the final
    watermark is withheld, exactly as a live query would withhold it."""
    path = _late_stream_dir(spark, sf_dir)
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    agg = (
        stream.withWatermark("ts", "25 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.col("win.start").alias("hour"), "event_type", "n_events"
    ).orderBy("hour", "event_type")


STREAM_WATERMARK_CLOSE_SQL = f"""
WITH wk AS (
  SELECT ts, event_type, epoch_us(ts) AS us FROM events
  WHERE epoch(ts) >= {LATE_LO} AND epoch(ts) < {LATE_LO + 7 * LATE_DAY}
),
wm AS (SELECT max(us) // 1000 - {LATE_DELAY_MS} AS wm_ms FROM wk)
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events
FROM wk, wm
WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 <= wm.wm_ms
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ------------------------------------------- streaming index maintenance ----
def _pack_f32(vec_col):
    """array<float> -> little-endian float32 bytes (an engine value blob).
    Bit-exact round trip with _unpack_f32: the streamed corpus the index
    refresh decodes is the corpus that was ingested."""

    @F.pandas_udf(T.BinaryType())
    def _pack(s: pd.Series) -> pd.Series:
        import numpy as np

        return s.map(lambda v: np.asarray(v, dtype="<f4").tobytes())

    return _pack(vec_col)


def _unpack_f32(val_col):
    """Inverse of _pack_f32."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _unpack(s: pd.Series) -> pd.Series:
        import numpy as np

        return s.map(
            lambda b: np.frombuffer(bytes(b), dtype="<f4").tolist()
        )

    return _unpack(val_col)


_EMB_STREAM_DIRS: dict[tuple, str] = {}


def _emb_stream_dir(spark: SparkSession, sf_dir: str, bounds) -> str:
    """Time-ordered micro-batch replay of the embeddings table as engine
    entry rows (ts=vec_id, key=str(vec_id), value=packed float32 blob),
    one file per consecutive vec_id range."""
    import atexit
    import os
    import shutil
    import tempfile

    key = (sf_dir, tuple(bounds))
    cached = _EMB_STREAM_DIRS.get(key)
    # the memo can outlive the directory (atexit teardown ordering, manual
    # temp cleanup) — validate before returning, rebuild if gone
    if cached is not None and os.path.isdir(cached):
        return cached

    from helixdb_spark.sources import load_table

    root = tempfile.mkdtemp(prefix="helix_embstream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings")
    entries = emb.select(
        F.col("vec_id").cast("long").alias("ts"),
        F.col("vec_id").cast("string").alias("key"),
        _pack_f32(F.col("embedding")).alias("value"),
    )
    stream_dir = f"{root}/stream"
    os.makedirs(stream_dir)
    # one partitioned write lands every batch file (r12): membership by
    # chained range CASE over the contiguous bounds
    bucket = F.lit(len(bounds) - 1)
    for i in reversed(range(len(bounds) - 1)):
        bucket = F.when(F.col("ts") < bounds[i][1], F.lit(i)).otherwise(bucket)
    _ship_batch_files(
        entries.where(
            (F.col("ts") >= bounds[0][0]) & (F.col("ts") < bounds[-1][1])
        ),
        bucket,
        len(bounds),
        stream_dir,
    )
    _EMB_STREAM_DIRS[key] = stream_dir
    return stream_dir


def stream_index_refresh(
    spark: SparkSession,
    sf_dir: str,
    queries: DataFrame,
    k: int = 5,
    debug: dict | None = None,
) -> DataFrame:
    """The full streaming-ingest -> automatic-index-maintenance lifecycle
    in ONE job — the composition round 8's machinery exists for:

    1. the first quarter of the embeddings corpus is ``put`` into a fresh
       engine (ts=vec_id, value=the packed vector) and a persisted LSH
       index is built FROM THE ENGINE'S OWN DECODED ENTRIES;
    2. the index is ``register_index``-ed (max_segments=2) so every
       maintenance commit appends the ingest delta under the frozen
       hyperplanes and folds the segment chain when it exceeds the bound;
    3. the remaining three quarters arrive as streaming micro-batches
       (foreachBatch -> put) with ``auto_maintain=True`` and
       rick_range=quarter, so a compaction — and therefore an index
       refresh and one mid-stream chain fold — fires after EVERY batch
       (the reference's WriteBatch + reviewer loop, src/level.rs:593-721,
       with index upkeep riding the compaction the way the reference
       rebuilds per compacted level, src/level.rs:430-447);
    4. the final probe answers from the persisted chain and must equal
       the plain full-corpus LSH oracle (ann_lsh_topk's SQL) — streaming
       arrival, engine round-trip, frozen-state appends, and chain folds
       all provably invisible to the reader.
    """
    from helixdb_spark.engine import HelixOptions, HelixSpark
    from helixdb_spark.index_store import AnnIndexStore
    from helixdb_spark.plans.kv import _scratch_dir
    from helixdb_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    quarter = n // 4
    bounds = [(quarter, 2 * quarter), (2 * quarter, 3 * quarter), (3 * quarter, n)]
    path = _emb_stream_dir(spark, sf_dir, bounds)

    def corpus_fn(db) -> DataFrame:
        # NO_ORDER: index building hashes each row independently, so the
        # comparator sort (an exchange, which every maintenance append
        # would pay again) buys nothing (r12)
        from helixdb_spark import comparators

        scanned = db.scan((0, n), comparator=comparators.NO_ORDER)
        return scanned.select(
            F.decode("key", "utf-8").cast("long").alias("vec_id"),
            _unpack_f32(F.col("value")).alias("embedding"),
        )

    db = HelixSpark.open(
        spark,
        _scratch_dir("kvidxstream"),
        HelixOptions(
            rick_range=quarter, outdate_range=1 << 40, auto_maintain=True
        ),
    )
    store = AnnIndexStore(spark, _scratch_dir("annidxstream"))
    base = (
        emb.where(F.col("vec_id") < quarter)
        .select(
            F.col("vec_id").cast("long").alias("ts"),
            F.encode(F.col("vec_id").cast("string"), "utf-8").alias("key"),
            _pack_f32(F.col("embedding")).alias("value"),
        )
    )
    # many small maintenance jobs over micro-batch-sized inputs: size the
    # shuffles to the batches, restore before the analytic probe. One
    # try/finally covers the conf, the StreamingQuery, AND the engine: a
    # failing micro-batch must not leak a running stream or an open engine
    # into the session.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = None
    try:
        db.put(base)  # fires the quarter-0 compaction (registry empty yet)
        store.write_lsh(corpus_fn(db))
        # delta_scan: vec_id==ts, the corpus_fn is a 1:1 scan decode, and
        # the tumbling reviewer commits disjoint quarters — each refresh
        # appends only its commit's scan range (O(batch), r12)
        db.register_index(store, "lsh", corpus_fn, max_segments=2,
                          delta_scan=True)
        schema = spark.read.parquet(path).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        entries = stream.select(
            "ts", F.encode("key", "utf-8").alias("key"), "value"
        )
        q = entries.writeStream.foreachBatch(
            lambda batch_df, _epoch: db.put(batch_df)
        ).start()
        q.processAllAvailable()
    finally:
        if q is not None:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 — best-effort on the error path
                pass
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        db.close()
    if debug is not None:
        desc = store.list_indexes()["lsh"]
        debug["segments"] = len(desc["segments"])
        debug["n_rows"] = int(desc["n_rows"])
    return store.lsh_topk(queries, k=k)


def stream_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift MONITORING — the observability half of the r9 drift
    policy (``HelixSpark.register_index(drift_threshold=...)`` acts;
    this row is what an operator watches): an IVF index is fit on the
    first half of the embeddings corpus, the second half arrives as three
    time-ordered micro-batches appended under the FROZEN centroids
    (foreachBatch -> ``AnnIndexStore.append_ivf``), and the LAST batch is
    distribution-shifted (every vector folded into the positive orthant —
    the unambiguous rerouting case the refit lifecycle uses). The output
    is the per-segment assignment-share TV time series
    (``ivf_share_drift_by_segment``): clean appends sit low, the shifted
    batch spikes — the dashboard line that crosses the re-fit threshold.

    Scale shape: each append assigns only its micro-batch against the
    broadcast centroid set and writes one lists segment; the statistic is
    one map-side-combined (seg, centroid_id) count scan — no vectors, no
    truth tier, per-commit cost independent of corpus size."""
    import atexit
    import os
    import shutil
    import tempfile

    from helixdb_spark.index_store import AnnIndexStore
    from helixdb_spark.plans.kv import _scratch_dir
    from helixdb_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.agg(F.max("vec_id")).first()[0] + 1
    half, q = n // 2, n // 6
    bounds = [(half, half + q), (half + q, half + 2 * q), (half + 2 * q, n)]
    fit = emb.where(F.col("vec_id") < half)

    # dedicated stream dir: the LAST batch's vectors are |x|-folded at file
    # build time (the stream carries what actually arrived)
    root = tempfile.mkdtemp(prefix="helix_driftstream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    stream_dir = f"{root}/stream"
    os.makedirs(stream_dir)
    # one partitioned write lands all three batch files (r12): the last
    # batch's vectors are |x|-folded in the same pass
    folded = F.when(
        F.col("vec_id") >= bounds[-1][0],
        F.transform("embedding", lambda x: F.abs(x)),
    ).otherwise(F.col("embedding"))
    entries = emb.where(F.col("vec_id") >= bounds[0][0]).select(
        F.col("vec_id").cast("long").alias("ts"),
        F.col("vec_id").cast("string").alias("key"),
        _pack_f32(folded).alias("value"),
    )
    _ship_batch_files(
        entries,
        F.least(
            ((F.col("ts") - bounds[0][0]) / q).cast("int"),
            F.lit(len(bounds) - 1),
        ),
        len(bounds),
        stream_dir,
    )

    store = AnnIndexStore(spark, _scratch_dir("anndriftstream"))
    # fit at full parallelism; 8 shuffle partitions only for the
    # delta-sized micro-batch appends (see stream_dedup_lsh)
    store.write_ivf(fit, name="ivf")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    qry = None
    try:

        def _append(batch_df, _epoch):
            vecs = batch_df.select(
                F.col("key").cast("long").alias("vec_id"),
                _unpack_f32(F.col("value")).alias("embedding"),
            )
            # micro-batches are disjoint by construction (file-per-batch
            # source): skip the committed-id anti-join, O(batch) append
            store.append_ivf(vecs, name="ivf", assume_new=True)

        schema = spark.read.parquet(stream_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        qry = stream.writeStream.foreachBatch(_append).start()
        qry.processAllAvailable()
    finally:
        if qry is not None:
            try:
                qry.stop()
            except Exception:  # noqa: BLE001 — best-effort on the error path
                pass
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return store.ivf_share_drift_by_segment("ivf")


def stream_dedup_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    debug: dict | None = None,
) -> DataFrame:
    """Near-duplicate detection maintained MID-STREAM (r9 VERDICT #6 —
    the streaming counterpart of ``dedup_minhash_lsh``): the first half
    of the documents corpus builds the persisted MinHash-LSH index
    (``AnnIndexStore.write_minhash`` — banded signatures + shingles),
    the second half arrives as three time-ordered micro-batches and each
    batch appends under the FROZEN coefficients/banding
    (foreachBatch -> ``append_minhash`` — the delta re-shingles, the
    corpus does not), and the final verified-pair scan answers from the
    persisted segment chain. The result must equal the plain full-corpus
    LSH pass (``dedup_minhash_lsh``'s oracle): streaming arrival and
    frozen-state appends provably invisible to the dedup reader — a new
    document's duplicates are queryable the moment its batch commits,
    without ever re-signing the backlog.

    Scale shape: per batch, shingling/signing touches only the batch
    (one band/shingle segment write + the anti-join against committed
    ids); the pair scan is the shared ``minhash_verify_pairs`` single
    band-key shuffle over the chain. ``debug`` (tests) receives the
    per-batch segment count and the per-batch NEW-vs-KNOWN duplicate
    counts a live dedup dashboard would chart."""
    import atexit
    import os
    import shutil
    import tempfile

    from helixdb_spark.index_store import AnnIndexStore
    from helixdb_spark.plans.kv import _scratch_dir
    from helixdb_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    half, q = n // 2, n // 6
    bounds = [(half, half + q), (half + q, half + 2 * q), (half + 2 * q, n)]

    root = tempfile.mkdtemp(prefix="helix_dedupstream_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    stream_dir = f"{root}/stream"
    os.makedirs(stream_dir)
    # one partitioned write lands all three batch files (r12) instead of a
    # filtered corpus scan + coalesce(1) write per batch
    _ship_batch_files(
        docs.where(F.col("doc_id") >= bounds[0][0]),
        F.least(
            ((F.col("doc_id") - bounds[0][0]) / q).cast("int"),
            F.lit(len(bounds) - 1),
        ),
        len(bounds),
        stream_dir,
    )

    store = AnnIndexStore(spark, _scratch_dir("minhashstream"))
    batch_stats: list = []
    # the FIT runs at the session's full shuffle parallelism (it is the
    # corpus-sized stage); only the micro-batch appends drop to 8 —
    # a delta-sized batch gains nothing from 32 shuffle partitions and
    # pays per-partition task overhead on every one of its fixed jobs
    store.write_minhash(docs.where(F.col("doc_id") < half))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    qry = None
    try:

        seen_epochs: set = set()

        def _append(batch_df, epoch_id):
            # disjoint micro-batches by construction: O(batch) append with
            # no committed-chain re-scan (see append_minhash assume_new).
            # foreachBatch is only at-least-once — a replayed epoch after
            # a task/driver failure would double-count the batch's
            # shingles under assume_new — so already-committed epoch ids
            # are skipped (in-process ledger; a durable pipeline would
            # persist the committed-epoch set next to the descriptor)
            if epoch_id in seen_epochs:
                return
            store.append_minhash(batch_df, assume_new=True)
            seen_epochs.add(epoch_id)
            if debug is not None:
                ids = {r["doc_id"] for r in batch_df.select("doc_id").collect()}
                pairs = store.minhash_pairs(threshold=threshold).collect()
                new = sum(
                    1 for p in pairs
                    if p["id_a"] in ids or p["id_b"] in ids
                )
                known = len(pairs) - new
                batch_stats.append({"new_dup_pairs": new, "known_pairs": known})

        schema = spark.read.parquet(stream_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        qry = stream.writeStream.foreachBatch(_append).start()
        qry.processAllAvailable()
    finally:
        if qry is not None:
            try:
                qry.stop()
            except Exception:  # noqa: BLE001 — best-effort on the error path
                pass
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    if debug is not None:
        desc = store.list_indexes()["minhash"]
        debug["segments"] = len(desc["segments"])
        debug["n_rows"] = int(desc["n_rows"])
        debug["batches"] = batch_stats
    return store.minhash_pairs(threshold=threshold)
