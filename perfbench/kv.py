"""The two key-value workloads and the model that checks their answers.

Keys are 8-byte little-endian u64 ids, so ``comparators.le_u64`` orders
them numerically. Even ids carry 8-byte metric values and dispatch to the
``ts_delta_xor`` codec; odd ids carry ~256-byte payloads and stay in native
``array`` chunks. Every input comes from ``random.Random(seed)``; the engine
sees only the generated rows and probes.

``kv_ingest_mixed`` also keeps an IVF index (``AnnIndexStore``) next to the
database, fed by a Structured Streaming query whose micro-batches append
seed-generated vectors to it.
"""

from __future__ import annotations

import bisect
import os
import random
import shutil
import statistics
import struct
import time

from helixdb_spark import HelixOptions, HelixSpark, comparators
from helixdb_spark.codecs import ARRAY_CODEC, CodecRegistry

BLOB_CODEC = "ts_delta_xor"


def key_bytes(kid: int) -> bytes:
    return struct.pack("<Q", kid)


def dispatch(key: bytes) -> str:
    # key[0] is the low byte of the little-endian id: even ids hold 8-byte
    # metric values, the only shape ts_delta_xor accepts
    return BLOB_CODEC if key[0] % 2 == 0 else ARRAY_CODEC


def codecs() -> CodecRegistry:
    reg = CodecRegistry()
    reg.register_dispatch(dispatch)
    return reg


def make_value(rng: random.Random, kid: int, ts: int) -> bytes:
    if kid % 2 == 0:
        # slowly varying gauge: XOR against the previous value leaves few bytes
        return struct.pack("<d", kid + (ts % 997) / 8.0 + rng.randrange(4))
    return rng.randbytes(240 + rng.randrange(33))


class Model:
    """Expected logical contents: last write wins per ``(ts, key)``, and
    retention hides every ts at or below the outdate cutoff.

    The cutoff follows the engine's documented retention rule (the
    reference's SimpleTimestampReviewer): once the newest observed ts is
    ``outdate_range`` past the last outdate mark, ts up to
    ``mark + rick_range - 1`` retire and the mark moves one bucket."""

    def __init__(self, rick_range: int, outdate_range: int) -> None:
        self.rick_range = rick_range
        self.outdate_range = outdate_range
        self.data: dict[tuple[int, int], bytes] = {}
        self.cutoff: int | None = None
        self._mark = 0
        # pairs the latest outdate retired: probes that must read None
        self.retired: list[tuple[int, int]] = []

    def put(self, rows: list[tuple[int, int, bytes]]) -> None:
        for ts, kid, v in rows:
            if self.live(ts):
                self.data[(ts, kid)] = v
        newest = max(ts for ts, _, _ in rows)
        if newest - self._mark + 1 >= self.outdate_range:
            self.cutoff = self._mark + self.rick_range - 1
            self._mark += self.rick_range
            self.retired = [p for p in self.data if p[0] <= self.cutoff]
            self.data = {p: v for p, v in self.data.items() if p[0] > self.cutoff}

    def live(self, ts: int) -> bool:
        return self.cutoff is None or ts > self.cutoff

    def get(self, ts: int, kid: int) -> bytes | None:
        return self.data.get((ts, kid))

    def user_bytes(self) -> int:
        """Live user bytes: key + value + 8-byte ts per entry."""
        return sum(16 + len(v) for v in self.data.values())

    def scan(self, lo: int, hi: int, klo: int, khi: int):
        """Rows in ``[lo, hi]`` x ``[klo, khi]``, in key-then-ts order."""
        rows = [
            (ts, kid, v)
            for (ts, kid), v in self.data.items()
            if lo <= ts <= hi and klo <= kid <= khi
        ]
        rows.sort(key=lambda r: (r[1], r[0]))
        return [(ts, key_bytes(kid), v) for ts, kid, v in rows]

    def series(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for ts, kid in self.data:
            out.setdefault(kid, []).append(ts)
        for s in out.values():
            s.sort()
        return out


def rows_of(rows: list[tuple[int, int, bytes]]) -> list[tuple[int, bytes, bytes]]:
    return [(ts, key_bytes(kid), v) for ts, kid, v in rows]


def gen_batch(rng, per_key: int, t_lo: int, t_hi: int, n_keys: int):
    """``per_key`` rows for every key, at distinct random ts in
    ``[t_lo, t_hi)``. Key 0 always gets ``t_hi - 1``, so the batch's newest
    ts, which drives the reviewer, is the same for every seed. Fixed counts
    per key keep the stored layout (rows and distinct keys per file, hence
    parquet bloom-filter sizes) the same shape for every seed; the seed
    moves timestamps, values and probes."""
    rows = []
    for kid in range(n_keys):
        stamps = rng.sample(range(t_lo, t_hi), per_key)
        if kid == 0 and t_hi - 1 not in stamps:
            stamps[0] = t_hi - 1
        rows += [(ts, kid, make_value(rng, kid, ts)) for ts in stamps]
    return rows


def overwrite(rng, pairs) -> list[tuple[int, int, bytes]]:
    """New values for stored ``(ts, key)`` pairs."""
    return [(ts, kid, make_value(rng, kid, ts)) for ts, kid in pairs]


def open_db(spark, path: str, rick_range: int, outdate_range: int):
    """A fresh DB with reviewer-driven maintenance (the default) on."""
    shutil.rmtree(path, ignore_errors=True)
    opts = HelixOptions(rick_range=rick_range, outdate_range=outdate_range)
    return HelixSpark.open(spark, path, opts, codecs())


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ----------------------------------------------------------------- checks
def expect_many(model: Model, probes) -> dict:
    out = {}
    for ts, kid in probes:
        v = model.get(ts, kid)
        if v is not None:
            out[(ts, key_bytes(kid))] = v
    return out


def expect_asof(series: dict[int, list[int]], model: Model, probes) -> dict:
    """Latest live entry at or before each probe ts; ``series`` is
    ``model.series()``."""
    out = {}
    for ts, kid in probes:
        s = series.get(kid, [])
        i = bisect.bisect_right(s, ts) - 1
        if i >= 0:
            out[(ts, key_bytes(kid))] = (s[i], model.data[(s[i], kid)])
    return out


def collected(df) -> list[tuple[int, bytes, bytes]]:
    return [(r["ts"], bytes(r["key"]), bytes(r["value"])) for r in df.collect()]


def pick_probes(rng, model: Model, n: int, t_lo: int, t_hi: int, n_keys: int,
                hit_share: float):
    """``n`` probes in ``[t_lo, t_hi]``: ``hit_share`` of them name stored
    pairs, the rest random pairs (mostly absent)."""
    stored = [p for p in model.data if t_lo <= p[0] <= t_hi]
    n_hit = min(int(n * hit_share), len(stored))
    probes = rng.sample(stored, n_hit)
    while len(probes) < n:
        probes.append((rng.randint(t_lo, t_hi), rng.randrange(n_keys)))
    return probes


def read_scan(run, db, model, rng, lo, hi, n_keys, scan_keys) -> None:
    """Ordered key-range + time-range scan under ``le_u64``, collected."""
    klo = rng.randrange(n_keys - scan_keys)
    khi = klo + scan_keys - 1
    exp = model.scan(lo, hi, klo, khi)
    run.call(
        "scan",
        lambda: collected(db.scan((lo, hi), (key_bytes(klo), key_bytes(khi)),
                                  comparators.le_u64)),
        lambda out: out == exp,
        rows=len(exp),
    )


def read_many(run, db, model, probes) -> None:
    exp = expect_many(model, probes)
    run.call("get_many", lambda: db.get_many([(t, key_bytes(k)) for t, k in probes]),
             lambda out: out == exp, hits=len(exp))


# ------------------------------------------------------------------ set-up
SETUPS = 3  # set-ups per run; setup_s is the median of their times


def set_up(load, workdir: str):
    """Run ``load`` into ``SETUPS`` fresh directories and keep the last one.

    The first set-up of a process also pays for class loading and
    first-call compilation, so the median is a warm set-up. Each set-up but
    the last is closed and deleted before the next one starts. Returns the
    last loaded state and the median set-up time in seconds."""
    times = []
    for i in range(SETUPS):
        path = f"{workdir}/setup{i}"
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.perf_counter()
        state = load(path)
        times.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            state.close()
            shutil.rmtree(path, ignore_errors=True)
    return state, statistics.median(times)


def put_rows(run, db, model: Model, rows) -> None:
    model.put(rows)
    run.user_bytes_written += sum(16 + len(v) for _, _, v in rows)
    run.call("put", lambda: db.put(rows_of(rows)), lambda out: out is None,
             rows=len(rows))


# --------------------------------------------------------- kv_ingest_mixed
INGEST = dict(
    keys=512,
    rick_range=1000,
    outdate_range=2000,
    # 7 new rows per key and one overwrite of a pair of the previous put:
    # 4096 rows a put, 1/8 of them last-write-wins overwrites. Each put
    # advances logical time by half a bucket: the reviewer compacts after
    # every odd put and, from the fourth put on, retires one bucket with
    # each compaction
    new_per_key=7,
    put_advance=500,
    get_many_probes=64,
    scan_keys=32,
    # an IVF index over a stream of vectors: fit on 512 vectors in set-up,
    # then micro-batches of 256 vectors, each shifted further from the fit
    # distribution; the segment chain folds whenever it reaches fold_at
    # segments
    dim=8,
    fit_vectors=512,
    batch_vectors=256,
    ivf_stride=64,
    fold_at=3,
)

VECTOR_SCHEMA = "vec_id long, embedding array<float>"


def write_vectors(path: str, first_id: int, vecs: list[list[float]]) -> None:
    """One parquet file of ``(vec_id, embedding)`` rows, written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({
        "vec_id": pa.array(range(first_id, first_id + len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
    }), path)


class Ingest:
    """One kv_ingest_mixed database with its model, and the vector stream
    that maintains an ANN index next to it."""

    def __init__(self, run, seed: int, path: str) -> None:
        c = self.c = INGEST
        self.run, self.path = run, path
        self.rng = random.Random(seed)
        self.model = Model(c["rick_range"], c["outdate_range"])
        self.db = open_db(run.spark, f"{path}/db", c["rick_range"], c["outdate_range"])
        self.puts = 0
        self.prev: list[tuple[int, int]] = []
        self.query = None
        self.put_step()
        # the index, fit on the first vectors
        from helixdb_spark.index_store import AnnIndexStore

        self.store = AnnIndexStore(run.spark, f"{path}/ann")
        os.makedirs(f"{path}/stream")
        os.makedirs(f"{path}/staging")
        fit = f"{path}/staging/fit.parquet"
        write_vectors(fit, 0, self.vectors(c["fit_vectors"], 0.0))
        self.segments = [c["fit_vectors"]]
        self.batches = 0
        run.call("index_write",
                 lambda: self.store.write_ivf(run.spark.read.parquet(fit),
                                              stride=c["ivf_stride"]),
                 lambda d: d["n_rows"] == c["fit_vectors"], span="ann.index_write")

    def start_stream(self) -> None:
        """A long-lived stream over the vector directory; each micro-batch
        appends to the index."""
        self.query = (
            self.run.spark.readStream.schema(VECTOR_SCHEMA).parquet(f"{self.path}/stream")
            .writeStream.option("checkpointLocation", f"{self.path}/checkpoint")
            .foreachBatch(lambda df, _: self.store.append_ivf(df, assume_new=True))
            .start()
        )

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        self.db.close()

    def vectors(self, n: int, shift: float) -> list[list[float]]:
        d = self.c["dim"]
        return [[self.rng.gauss(shift if j < 2 else 0.0, 1.0) for j in range(d)]
                for _ in range(n)]

    def put_step(self) -> None:
        c, rng, i = self.c, self.rng, self.puts
        lo, hi = i * c["put_advance"], (i + 1) * c["put_advance"]
        new = gen_batch(rng, c["new_per_key"], lo, hi, c["keys"])
        # one pair per key of the previous put gets a new value
        by_key: dict[int, list[int]] = {}
        for ts, kid in self.prev:
            by_key.setdefault(kid, []).append(ts)
        rows = new + overwrite(rng, [(rng.choice(v), k) for k, v in sorted(by_key.items())])
        put_rows(self.run, self.db, self.model, rows)
        self.prev = [(ts, kid) for ts, kid, _ in new]
        self.puts += 1

    def read_step(self) -> None:
        c, rng, model = self.c, self.rng, self.model
        newest = self.puts * c["put_advance"] - 1
        bucket_lo = (newest // c["rick_range"]) * c["rick_range"]
        # get_many skewed to the newest buckets: 3/4 of the probes in the
        # newest bucket, the rest over the retained range, plus a few pairs
        # the latest outdate retired (these must read None)
        n, n_keys = c["get_many_probes"], c["keys"]
        oldest = 0 if model.cutoff is None else model.cutoff + 1
        retired = rng.sample(model.retired, min(n // 16, len(model.retired)))
        probes = pick_probes(rng, model, n * 3 // 4, bucket_lo, newest, n_keys, 0.9)
        probes += pick_probes(rng, model, n - len(probes) - len(retired), oldest,
                              newest, n_keys, 0.8)
        read_many(self.run, self.db, model, probes + retired)
        read_scan(self.run, self.db, model, rng, bucket_lo, newest, n_keys,
                  c["scan_keys"])

    def index_shape(self) -> tuple[int, int]:
        d = self.store.list_indexes()["ivf"]
        return d["n_rows"], len(d["segments"])

    def index_step(self) -> None:
        """One micro-batch of vectors through the stream into the index,
        the drift statistic over the chain, and a fold when the chain is
        long enough."""
        c, run = self.c, self.run
        self.batches += 1
        # stage, then rename: the stream never sees a half-written file
        first = c["fit_vectors"] + (self.batches - 1) * c["batch_vectors"]
        staged = f"{self.path}/staging/batch-{self.batches:05d}.parquet"
        write_vectors(staged, first, self.vectors(c["batch_vectors"], 0.5 * self.batches))
        os.rename(staged, f"{self.path}/stream/batch-{self.batches:05d}.parquet")
        self.segments.append(c["batch_vectors"])
        shape = (sum(self.segments), len(self.segments))
        run.call("stream_append", self.query.processAllAvailable,
                 lambda _: self.index_shape() == shape, span="ann.stream_append")
        fit, newest = self.segments[0], self.segments[-1]

        def drift_ok(rows) -> bool:
            (r,) = rows
            return (r["n_fit"], r["n_newest"]) == (fit, newest) and 0 <= r["share_drift"] <= 1

        run.call("index_drift", lambda: self.store.ivf_share_drift("ivf").collect(),
                 drift_ok, span="ann.index_drift")
        if len(self.segments) >= c["fold_at"]:
            self.segments = [sum(self.segments)]
            run.call("index_fold", lambda: self.store.compact_index("ivf"),
                     lambda d: (d["n_rows"], len(d["segments"])) == (self.segments[0], 1),
                     span="ann.index_fold")


def kv_ingest_mixed(run, cfg: dict, seed: int, workdir: str) -> dict:
    state, setup_s = set_up(lambda path: Ingest(run, seed, path), workdir)
    # warm-up: the second put fires the first compaction, which starts the
    # Python codec workers; the first reads and the first micro-batch of the
    # process compile their paths
    state.put_step()
    state.read_step()
    state.start_stream()
    state.index_step()
    run.start_measuring()
    # whole pairs of puts: reads right after a compaction find fewer files
    # than reads after a plain put, and every run samples both alike; then
    # one micro-batch into the index
    for _ in range(cfg["cycles"]):
        for _ in range(2):
            state.put_step()
            state.read_step()
        # taken right after the compaction of the pair's second put
        space_amp = du(f"{state.path}/db") / max(1, state.model.user_bytes())
        state.index_step()
    run.stop_measuring()
    return {"setup_s": setup_s, "setups": SETUPS, "state": state, "space_amp": space_amp}


# ------------------------------------------------------------ kv_cold_read
COLD = dict(
    keys=512,
    rick_range=1000,
    # retention fires once, at the second put: bucket 0 retires
    outdate_range=12_000,
    cold_buckets=12,
    # 512 keys x 3 rows x 12 buckets = 18 432 cold rows; then 1024 new hot
    # rows and 1024 late overwrites, one per key in each of two cold buckets
    per_key_per_bucket=3,
    hot_per_key=2,
    late_buckets=(3, 9),
    get_many_probes=64,
    asof_probes=32,
    scan_keys=32,
    scan_buckets=2,
)


class ColdRead:
    """One kv_cold_read database, loaded, with its model and its reads."""

    def __init__(self, run, seed: int, path: str) -> None:
        c = self.c = COLD
        R, n_keys = c["rick_range"], c["keys"]
        self.run, self.path = run, path
        self.rng = random.Random(seed)
        self.model = Model(R, c["outdate_range"])
        self.db = open_db(run.spark, f"{path}/db", R, c["outdate_range"])
        # load: one put of every cold bucket, which the reviewer compacts;
        # then half a bucket of new rows and late overwrites in two cold
        # buckets, which stay hot
        top = c["cold_buckets"] * R
        rows = []
        for b in range(c["cold_buckets"]):
            # the newest cold ts stays below 11999, so retention fires at
            # the second put for every seed
            rows += gen_batch(self.rng, c["per_key_per_bucket"], b * R,
                              min((b + 1) * R, top - 1), n_keys)
        put_rows(run, self.db, self.model, rows)
        # late overwrites: each key rewrites one of its pairs in each late
        # bucket; they stay hot, so reads there merge hot over cold
        stored: dict[tuple[int, int], list[int]] = {}
        for ts, kid, _ in rows:
            stored.setdefault((ts // R, kid), []).append(ts)
        late = [(self.rng.choice(stored[(b, kid)]), kid)
                for kid in range(n_keys) for b in c["late_buckets"]]
        put_rows(run, self.db, self.model,
                 gen_batch(self.rng, c["hot_per_key"], top, top + R // 2, n_keys)
                 + overwrite(self.rng, late))
        self.series = self.model.series()
        self.top = top + R // 2 - 1

    def close(self) -> None:
        self.db.close()

    def get_many(self, rng) -> None:
        c = self.c
        read_many(self.run, self.db, self.model,
                  pick_probes(rng, self.model, c["get_many_probes"], 0, self.top,
                              c["keys"], 0.9))

    def scan(self, rng) -> None:
        c, R = self.c, self.c["rick_range"]
        b = rng.randrange(c["cold_buckets"] - c["scan_buckets"] + 1)
        read_scan(self.run, self.db, self.model, rng, b * R,
                  (b + c["scan_buckets"]) * R - 1, c["keys"], c["scan_keys"])

    def get_many_asof(self, rng) -> None:
        c = self.c
        probes = [(rng.randint(0, self.top), rng.randrange(c["keys"]))
                  for _ in range(c["asof_probes"])]
        exp = expect_asof(self.series, self.model, probes)
        self.run.call("get_many_asof",
                      lambda: self.db.get_many_asof([(t, key_bytes(k)) for t, k in probes]),
                      lambda out: out == exp, hits=len(exp))

    def get(self, rng) -> None:
        (ts, kid), = pick_probes(rng, self.model, 1, 0, self.top, self.c["keys"], 1.0)
        exp = self.model.get(ts, kid)
        self.run.call("get", lambda: self.db.get(ts, key_bytes(kid)),
                      lambda out: out == exp, hits=int(exp is not None))

    def scan_full(self, rng) -> None:
        n_live = len(self.model.data)
        self.run.call("scan_full",
                      lambda: self.db.scan((0, self.top),
                                           comparator=comparators.NO_ORDER).count(),
                      lambda out: out == n_live, rows=n_live)


def kv_cold_read(run, cfg: dict, seed: int, workdir: str) -> dict:
    state, setup_s = set_up(lambda path: ColdRead(run, seed, path), workdir)
    # warm-up: the first read of the process compiles the read path and
    # starts the decode workers
    state.get_many(random.Random(seed ^ 0x5EED))
    run.start_measuring()
    # whole cycles only, so every run measures the same mix of reads
    for _ in range(cfg["cycles"]):
        for read in (state.get_many, state.scan, state.get_many_asof, state.get,
                     state.scan_full):
            read(state.rng)
    run.stop_measuring()
    return {
        "setup_s": setup_s,
        "setups": SETUPS,
        "state": state,
        "space_amp": du(f"{state.path}/db") / max(1, state.model.user_bytes()),
    }
