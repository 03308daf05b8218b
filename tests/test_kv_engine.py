"""E2E parity with the reference's public-API tests (SURVEY.md §5):

- put→get roundtrip (reference src/db.rs:281-298 ``example``)
- scan cardinality = num_ts × num_key grid (db.rs:300-354 scan_test_scaffold)
- overwrite same (ts, key) ⇒ last write wins (level.rs:787-819, rick.rs:403-417)
- compaction transparency: reads identical across hot/cold (level.rs:823-875)
- outdated reads return None / retention boundary
- restart durability (db.rs:372-402)
"""

from __future__ import annotations

import itertools
import json
import struct

import pytest

from helixdb_spark import comparators
from helixdb_spark.engine import HelixOptions, HelixSpark


def le_u64(i: int) -> bytes:
    return struct.pack("<Q", i)


@pytest.fixture
def db_path(tmp_path):
    return str(tmp_path / "db")


def test_put_get_roundtrip(spark, db_path):
    db = HelixSpark.open(spark, db_path)
    db.put([(0, b"key", b"value")])
    assert db.get(0, b"key") == b"value"
    assert db.get(0, b"missing") is None
    assert db.get(999, b"key") is None
    # direct_get names a shard for API parity (reference db.rs:57-65);
    # placement is Spark's, so any shard id resolves identically
    assert db.direct_get(3, 0, b"key") == b"value"
    db.close()
    with pytest.raises(RuntimeError):
        db.put([(1, b"k", b"v")])


def test_scan_grid_cardinality(spark, db_path):
    """Grid (ts=8, keys=16): scan returns exactly ts×keys rows, key-major
    then ts order (reference scan_test_scaffold, db.rs:300-354, scaled
    down for CI speed)."""
    num_ts, num_key = 8, 16
    db = HelixSpark.open(spark, db_path, HelixOptions(rick_range=1024, auto_maintain=False))
    rows = [(t, le_u64(k), b"v") for t in range(num_ts) for k in range(num_key)]
    db.put(rows)
    got = db.scan((0, num_ts - 1), comparator=comparators.le_u64).collect()
    assert len(got) == num_ts * num_key
    keys_order = [struct.unpack("<Q", bytes(r["key"]))[0] for r in got]
    assert keys_order == sorted(keys_order)
    # per-key ts ordering (SURVEY.md O5: assert set + per-key ts order)
    per_key_ts = {}
    for r in got:
        per_key_ts.setdefault(bytes(r["key"]), []).append(r["ts"])
    for ts_list in per_key_ts.values():
        assert ts_list == list(range(num_ts))


def test_scan_ranges_inclusive(spark, db_path):
    db = HelixSpark.open(spark, db_path, HelixOptions(auto_maintain=False))
    rows = [(t, le_u64(k), b"v") for t in range(10) for k in range(4)]
    db.put(rows)
    got = db.scan((2, 5), (le_u64(1), le_u64(2))).collect()
    assert len(got) == 4 * 2  # ts 2..5 inclusive × keys 1..2 inclusive


def test_overwrite_last_write_wins(spark, db_path):
    db = HelixSpark.open(spark, db_path, HelixOptions(auto_maintain=False))
    db.put([(5, b"key1", b"old")])
    db.put([(5, b"key1", b"new")])
    assert db.get(5, b"key1") == b"new"
    got = db.scan((0, 10)).collect()
    assert len(got) == 1 and bytes(got[0]["value"]) == b"new"


def test_compaction_transparency(spark, db_path):
    """One key, ts 0..25, rick_range=10: reads identical across the hot/cold
    boundary (reference level.rs:823-875)."""
    db = HelixSpark.open(
        spark, db_path, HelixOptions(rick_range=10, outdate_range=1000, num_shard=2)
    )
    for t in range(26):
        db.put([(t, b"key", f"value{t}".encode())])
    # reviewer should have compacted [0,9] and [10,19] by now
    assert db.reviewer.last_compacted == 20
    for t in range(26):
        assert db.get(t, b"key") == f"value{t}".encode(), f"ts={t}"
    got = db.scan((0, 25)).collect()
    assert [r["ts"] for r in got] == list(range(26))


def test_compaction_with_blob_codec(spark, db_path):
    from helixdb_spark.codecs import CodecRegistry

    reg = CodecRegistry()
    reg.register_dispatch(lambda key: "delta_zlib")
    db = HelixSpark.open(
        spark,
        db_path,
        HelixOptions(rick_range=10, outdate_range=1000, auto_maintain=False),
        codecs=reg,
    )
    rows = [(t, le_u64(k), f"v{k}@{t}".encode()) for t in range(10) for k in range(3)]
    db.put(rows)
    db.compact(0, 9)
    for t in (0, 5, 9):
        for k in range(3):
            assert db.get(t, le_u64(k)) == f"v{k}@{t}".encode()
    assert len(db.scan((0, 9)).collect()) == 30


def test_outdate_retention(spark, db_path):
    db = HelixSpark.open(
        spark, db_path, HelixOptions(rick_range=10, outdate_range=30, num_shard=2)
    )
    for t in range(40):
        db.put([(t, b"k", le_u64(t))])
    # per the reviewer trace (level.rs:734-753): ts<=19 outdated by now
    assert db.get(5, b"k") is None
    assert db.get(19, b"k") is None
    assert db.get(20, b"k") == le_u64(20)
    assert db.get(39, b"k") == le_u64(39)
    got = db.scan((0, 100)).collect()
    assert [r["ts"] for r in got] == list(range(20, 40))


def test_restart_durability(spark, db_path):
    """50 ts spanning compactions; reopen and re-read all
    (reference db.rs:372-402: compact_interval=5, retention=100)."""
    db = HelixSpark.open(spark, db_path, HelixOptions(rick_range=5, outdate_range=100))
    db.put([(t, b"durable", le_u64(t)) for t in range(50)])
    db.close()
    db2 = HelixSpark.open(spark, db_path, HelixOptions(rick_range=5, outdate_range=100))
    probes = db2.get_many([(t, b"durable") for t in range(50)])
    assert len(probes) == 50
    for t in range(50):
        assert probes[(t, b"durable")] == le_u64(t)


def test_get_many_batched(spark, db_path):
    db = HelixSpark.open(spark, db_path, HelixOptions(auto_maintain=False))
    db.put([(t, le_u64(k), le_u64(t * k)) for t in range(4) for k in range(4)])
    out = db.get_many([(1, le_u64(2)), (3, le_u64(3)), (99, le_u64(0))])
    assert out == {(1, le_u64(2)): le_u64(2), (3, le_u64(3)): le_u64(9)}


def test_user_keys_and_counts(spark, db_path):
    db = HelixSpark.open(spark, db_path, HelixOptions(auto_maintain=False))
    db.put([(1, b"a", b"x"), (2, b"a", b"y"), (3, b"b", b"z")])
    keys = {bytes(r["key"]) for r in db.user_keys().collect()}
    assert keys == {b"a", b"b"}
    counts = {bytes(r["key"]): r["count"] for r in db.key_counts().collect()}
    assert counts == {b"a": 2, b"b": 1}


def test_scan_key_range_uses_comparator(spark, db_path):
    """LE-u64 keys range numerically through the comparator, not bytewise
    (reference passes cmp into the range check — level.rs:145-149)."""
    db = HelixSpark.open(spark, db_path, HelixOptions(auto_maintain=False))
    db.put([(0, le_u64(k), b"v") for k in range(300)])
    got = db.scan((0, 0), (le_u64(0), le_u64(299)), comparator=comparators.le_u64)
    assert got.count() == 300  # bytewise would exclude most keys >= 256
    got2 = db.scan((0, 0), (le_u64(10), le_u64(20)), comparator=comparators.le_u64)
    assert got2.count() == 11


def test_sql_surface_over_entries(spark, db_path):
    """SQL view over the engine's logical entry set (SURVEY §7.1 phase 6)."""
    db = HelixSpark.open(spark, db_path, HelixOptions(auto_maintain=False))
    db.put([(t, b"a" if t % 2 else b"b", str(t).encode()) for t in range(10)])
    row = db.sql(
        "SELECT count(*) AS n, count(DISTINCT key) AS k FROM entries"
    ).first()
    assert (row["n"], row["k"]) == (10, 2)
    agg = db.sql(
        "SELECT key, max(ts) AS max_ts FROM entries GROUP BY key ORDER BY key"
    ).collect()
    assert [(bytes(r["key"]), r["max_ts"]) for r in agg] == [(b"a", 9), (b"b", 8)]


def test_read_entries_csv_json(spark, tmp_path):
    """CSV/JSON connector surface feeding the engine's entry schema."""
    import json as _json

    from helixdb_spark.sources import read_entries

    csv_p = tmp_path / "in_csv"
    csv_p.mkdir()
    (csv_p / "part.csv").write_text("ts,key,value\n1,a,v1\n2,b,v2\n")
    got = read_entries(spark, str(csv_p), fmt="csv").collect()
    assert {(r["ts"], bytes(r["key"]), bytes(r["value"])) for r in got} == {
        (1, b"a", b"v1"),
        (2, b"b", b"v2"),
    }

    json_p = tmp_path / "in_json"
    json_p.mkdir()
    (json_p / "part.json").write_text(
        "\n".join(_json.dumps({"ts": t, "key": f"k{t}", "value": "x"}) for t in range(3))
    )
    got = read_entries(spark, str(json_p), fmt="json").collect()
    assert {(r["ts"], bytes(r["key"])) for r in got} == {(t, f"k{t}".encode()) for t in range(3)}


def test_compaction_late_data_recompact(spark, db_path):
    """Re-compacting a bucket after late puts must MERGE with the existing
    cold rows, not replace them (SURVEY.md §7.2 late-data stance; the
    reference loses late puts instead — §2.10 caveat)."""
    db = HelixSpark.open(spark, db_path, HelixOptions(rick_range=10, auto_maintain=False))
    db.put([(t, b"k%d" % t, b"v%d" % t) for t in range(10)])
    db.compact(0, 9)
    assert db.scan((0, 9)).count() == 10
    # late arrival: one new key, one overwrite of a compacted entry
    db.put([(5, b"late", b"lv"), (3, b"k3", b"v3new")])
    db.compact(0, 9)
    assert db.scan((0, 9)).count() == 11
    assert db.get(5, b"late") == b"lv"
    assert db.get(3, b"k3") == b"v3new"  # hot overwrite beats cold
    assert db.get(7, b"k7") == b"v7"     # untouched cold entry survives
    # partial-range compaction first must not lose out-of-range cold rows
    db.put([(15, b"p", b"q"), (16, b"r", b"s")])
    db.compact(10, 15)
    db.compact(10, 19)
    assert db.get(16, b"r") == b"s"


def test_custom_sharding_expr(spark, db_path):
    """Pluggable ShardingKeyFn analog (reference fn_registry.rs:50-55):
    entries route to write partitions by a user expression; reads are
    placement-independent."""
    from pyspark.sql import functions as F

    db = HelixSpark.open(
        spark,
        db_path,
        HelixOptions(
            auto_maintain=False,
            num_shard=4,
            sharding_expr=lambda key: F.crc32(key) % 2,
        ),
    )
    db.put([(t, le_u64(k), le_u64(t + k)) for t in range(4) for k in range(8)])
    assert db.get(2, le_u64(5)) == le_u64(7)
    assert db.scan((0, 3)).count() == 32


def test_get_asof(spark, db_path):
    """As-of read: latest entry at or before ts (engine addition — the
    reference's compressed-chunk probe is exact-match only,
    src/level.rs:503-505). Must see across hot/cold and respect retention."""
    db = HelixSpark.open(
        spark, db_path, HelixOptions(rick_range=10, outdate_range=1 << 40,
                                     auto_maintain=False)
    )
    db.put([(0, b"k", b"v0"), (5, b"k", b"v5"), (25, b"k", b"v25")])
    assert db.get_asof(5, b"k") == (5, b"v5")     # exact hit
    assert db.get_asof(7, b"k") == (5, b"v5")     # between points
    assert db.get_asof(100, b"k") == (25, b"v25")  # after last
    assert db.get_asof(4, b"missing") is None
    # transparent across compaction (bucket [0,9] goes cold)
    db.compact(0, 9)
    assert db.get_asof(7, b"k") == (5, b"v5")
    # retention: outdating through ts=9 hides the old points
    db.outdate(9)
    assert db.get_asof(7, b"k") is None
    assert db.get_asof(100, b"k") == (25, b"v25")
    db.close()


def test_stream_ingest_to_engine(spark, db_path, sf_dir):
    """foreachBatch streaming ingest lands the same logical entries as a
    batch put (the reference's WriteBatch micro-batching, level.rs:593-721,
    with Spark owning the trigger)."""
    from pyspark.sql import functions as F

    from helixdb_spark.sources import load_table
    from helixdb_spark.streaming import stream_ingest_to_engine

    db = HelixSpark.open(
        spark, db_path,
        HelixOptions(rick_range=86400, outdate_range=1 << 60, auto_maintain=False),
    )
    stream_ingest_to_engine(spark, sf_dir, db)
    events = load_table(spark, sf_dir, "events")
    n_logical = events.select(
        F.unix_timestamp("ts"), F.col("user_id")
    ).distinct().count()
    lo, hi = events.agg(
        F.min(F.unix_timestamp("ts")), F.max(F.unix_timestamp("ts"))
    ).first()
    # scan dedups (ts, key) last-write-wins, so the count is the distinct
    # (second, user) grid, not the raw event count
    assert db.scan((lo, hi)).count() == n_logical
    row = events.select(
        F.unix_timestamp("ts").alias("ts"),
        F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
    ).first()
    assert db.get(row["ts"], bytes(row["key"])) is not None
    db.close()


ROWS10 = [(t, b"k%d" % t, b"v%d" % t) for t in range(10)]
OPTS10 = HelixOptions(rick_range=10, auto_maintain=False)


def _rows(db):
    return sorted(
        (r["ts"], bytes(r["key"]), bytes(r["value"]))
        for r in db.scan((0, 99)).collect()
    )


def _cold_dirs(db):
    """(gen, bucket) cold dirs on disk."""
    import os as _os

    cold = db.layout.cold_path
    return {
        (int(g.split("=", 1)[1]), b)
        for g in _os.listdir(cold)
        for b in db._fs.list_buckets(f"{cold}/{g}")
    }


def _compact_small_files(spark, db, lo, hi):
    """compact() with AQE off: one file per shuffle task holding keys, so
    ``optimize`` has work."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        db.compact(lo, hi)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _crashed_cold_write(spark, db_path, monkeypatch, writer, after_commit):
    """Run one cold writer against an engine whose bucket 0 is committed
    cold in several files (so ``optimize`` has work), crashing its second
    state save — the commit; the first is the gen reservation — just
    before or just after it publishes. Returns the reopened engine, the
    rows a scan returned before, the rows the call commits, and the
    manifest before."""
    db = HelixSpark.open(spark, db_path, OPTS10)
    db.put(ROWS10)
    db.put(ROWS10)
    _compact_small_files(spark, db, 0, 9)  # gen=0
    if writer == "compact":
        db.put([(3, b"k3", b"late")])  # late overwrite: a re-compaction
        call, new = (lambda d: d.compact(0, 9)), _rows(db)
    elif writer == "bulk_load":
        bulk = [(t, b"b%d" % t, b"bulk") for t in range(20, 25)]
        call, new = (lambda d: d.bulk_load(bulk)), sorted(_rows(db) + bulk)
    elif writer == "optimize":
        call, new = (lambda d: d.optimize(target_file_bytes=1 << 30)), _rows(db)
    else:  # restore_chunks replaces the live bucket 0
        new = [(t, b"k%d" % t, b"r%d" % t) for t in range(10)]
        src = HelixSpark.open(spark, db_path + "_src", OPTS10)
        src.put(new)
        src.compact(0, 9)
        exported = src.scan_raw()
        call = lambda d: d.restore_chunks(exported)  # noqa: E731
    old, manifest = _rows(db), dict(db._state["cold_manifest"])

    real_save = HelixSpark._save_state
    calls = []

    def boom(self):
        calls.append(1)
        if len(calls) == 2 and not after_commit:
            raise RuntimeError("injected crash before commit")
        real_save(self)
        if len(calls) == 2:
            raise RuntimeError("injected crash after commit")

    monkeypatch.setattr(HelixSpark, "_save_state", boom)
    with pytest.raises(RuntimeError, match="injected"):
        call(db)
    monkeypatch.undo()
    return HelixSpark.open(spark, db_path, OPTS10), call, old, new, manifest


COLD_WRITERS = ("compact", "bulk_load", "optimize", "restore_chunks")


@pytest.mark.parametrize("writer", COLD_WRITERS)
def test_compact_crash_before_commit(spark, db_path, monkeypatch, writer):
    """Crash between the staged generation write and the manifest flip,
    for every cold writer: the old manifest stays live, readers never see
    the staged gen, vacuum() collects it, and a retried call commits
    (reference contract: the LEVEL_INFO superblock flip,
    src/types/level_info.rs:98-111)."""
    db, call, old, new, manifest = _crashed_cold_write(
        spark, db_path, monkeypatch, writer, after_commit=False
    )
    assert db._state["cold_manifest"] == manifest  # nothing committed
    assert _rows(db) == old
    staged = db._state["cold_gen_seq"] - 1
    assert any(g == staged for g, _ in _cold_dirs(db))  # crashed staging leftover
    db.vacuum()
    assert _cold_dirs(db) == {(g, int(b)) for b, g in manifest.items()}
    assert _rows(db) == old
    call(db)  # the retry stages under a FRESH reserved gen
    assert _rows(db) == new


@pytest.mark.parametrize("writer", COLD_WRITERS)
def test_compact_crash_after_commit_before_gc(spark, db_path, monkeypatch, writer):
    """Crash right after the manifest flip, before any GC, for every cold
    writer: the new state answers after reopen (superseded cold dirs
    linger but the manifest prunes them; undropped hot partitions re-win
    the LWW dedup with identical values), and vacuum() collects every dir
    the manifest no longer references."""
    db, _, _, new, _ = _crashed_cold_write(
        spark, db_path, monkeypatch, writer, after_commit=True
    )
    assert db._state["cold_gen_seq"] - 1 in db._state["cold_manifest"].values()
    assert _rows(db) == new
    live = {(int(g), int(b)) for b, g in db._state["cold_manifest"].items()}
    if writer != "bulk_load":  # the other three replace bucket 0's gen=0 dir
        assert (0, 0) in _cold_dirs(db) - live
    db.vacuum()
    assert _cold_dirs(db) == live
    assert _rows(db) == new


def test_read_cache_point_gets(spark, db_path):
    """Opt-in read cache (M7, reference src/cache.rs:12-162): the second
    probe batch reads the persisted entry view (InMemoryTableScan in the
    plan), results identical, and any mutation invalidates."""
    db = HelixSpark.open(
        spark, db_path,
        HelixOptions(rick_range=10, auto_maintain=False, cache_reads=True),
    )
    db.put([(t, le_u64(k), le_u64(t * k)) for t in range(8) for k in range(8)])
    probes = [(t, le_u64(k)) for t in range(8) for k in range(8)]
    first = db.get_many(probes)
    assert len(first) == 64
    # the cached view is now materialized; the probe plan must hit it
    plan = db._entries_df(ts_lo=0, ts_hi=7)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    second = db.get_many(probes)
    assert second == first
    assert db.get(3, le_u64(5)) == le_u64(15)
    # mutation invalidates: new data must be visible immediately
    db.put([(3, le_u64(5), b"fresh")])
    assert db.get(3, le_u64(5)) == b"fresh"
    db.compact(0, 9)
    assert db.get(3, le_u64(5)) == b"fresh"
    assert db.get(2, le_u64(2)) == le_u64(4)


def test_scan_iter_streamed_order(spark, db_path):
    """scan_iter yields the full grid incrementally in (key, ts) order —
    the reference's bounded-prefetch pull iterator (src/option.rs:150-153,
    db.rs:215) as toLocalIterator over the scan's global sort."""
    num_ts, num_key = 6, 12
    db = HelixSpark.open(spark, db_path, HelixOptions(rick_range=16, auto_maintain=False))
    db.put([(t, le_u64(k), b"v") for t in range(num_ts) for k in range(num_key)])
    it = db.scan_iter((0, num_ts - 1), comparator=comparators.le_u64)
    import collections.abc
    assert isinstance(it, collections.abc.Iterator)  # lazy, not a list
    seen = []
    for row in it:
        seen.append((struct.unpack("<Q", bytes(row["key"]))[0], row["ts"]))
    assert len(seen) == num_ts * num_key
    assert seen == sorted(seen)  # key-major, then ts — the scan contract


# ------------------------------------------------- compaction rollback
def _rollback_db(spark, path, keep=2):
    return HelixSpark.open(
        spark,
        path,
        HelixOptions(
            rick_range=100,
            outdate_range=1 << 40,
            auto_maintain=False,
            keep_generations=keep,
        ),
    )


def _grid(n_ts=300, n_key=4):
    return [
        (t, f"k{k}".encode(), f"v{t}-{k}".encode())
        for t in range(n_ts)
        for k in range(n_key)
    ]


def _snapshot(db):
    return sorted(
        (r["ts"], bytes(r["key"]), bytes(r["value"]))
        for r in db.scan((0, 1 << 40)).collect()
    )


def test_rollback_restores_pre_compaction_state(spark, db_path):
    db = _rollback_db(spark, db_path)
    db.put(_grid())
    before = _snapshot(db)
    db.compact(0, 199)
    assert _snapshot(db) == before  # transparency
    assert db.rollback_compaction()
    assert _snapshot(db) == before  # exact pre-compaction data
    # the engine is fully functional after rollback: compact again, read
    db.compact(0, 199)
    assert _snapshot(db) == before
    assert db.rollback_compaction()
    assert not db.rollback_compaction()  # history exhausted
    db.close()


def test_rollback_survives_restart(spark, db_path):
    db = _rollback_db(spark, db_path)
    db.put(_grid())
    before = _snapshot(db)
    db.compact(0, 199)
    db.close()
    db2 = _rollback_db(spark, db_path)
    assert db2.rollback_compaction()  # history rode the atomic state flip
    assert _snapshot(db2) == before
    db2.close()


def test_rollback_merges_with_new_puts(spark, db_path):
    db = _rollback_db(spark, db_path)
    db.put(_grid())
    db.compact(0, 199)
    db.put([(50, b"k0", b"amended")])  # recreates a parked bucket dir
    assert db.rollback_compaction()
    # the post-compaction put must survive the restore and win LWW
    assert db.get(50, b"k0") == b"amended"
    # and the pre-compaction neighbors are back
    assert db.get(50, b"k1") == b"v50-1"
    db.close()


def test_deferred_gc_expires_beyond_keep(spark, db_path):
    import os

    db = _rollback_db(spark, db_path, keep=1)
    db.put(_grid())
    db.compact(0, 99)
    trash1 = db.layout.trash_path(0)
    assert os.path.exists(trash1)
    db.put([(150, b"k9", b"x")])
    db.compact(100, 199)  # second commit pushes the first out of keep=1
    assert not os.path.exists(trash1)
    # only the newest commit remains rollbackable
    assert db.rollback_compaction()
    assert not db.rollback_compaction()
    db.close()


def test_vacuum_preserves_rollback_capability(spark, db_path):
    db = _rollback_db(spark, db_path)
    db.put(_grid())
    before = _snapshot(db)
    db.compact(0, 199)
    db.compact(200, 299)
    db.vacuum()  # must not collect dirs the rollback history references
    assert db.rollback_compaction()
    assert db.rollback_compaction()
    assert _snapshot(db) == before
    db.close()


# --------------------------------------------------------------- remote FS
# file:// URIs exercise the SAME py4j Hadoop FileSystem code path as
# hdfs:// / s3a:// (EngineFS.remote is True), so these tests cover the
# remote pointer protocol end-to-end on the local disk.


@pytest.fixture
def remote_db_path(tmp_path):
    return "file://" + str(tmp_path / "rdb")


def _kv_state(db):
    return {
        (r["ts"], bytes(r["key"])): bytes(r["value"])
        for r in db.scan((0, 10**9)).collect()
    }


def test_remote_pointer_versioned_roundtrip(spark, remote_db_path):
    """On a scheme:// store the state pointer is versioned: every commit
    publishes state.json.v{N} by rename-to-a-fresh-name (no delete window),
    reads fold checkpoint + deltas, old versions are GC'd down to the fold
    base (round-3 verdict 'What's wrong #1'; round-7 delta log)."""
    opts = HelixOptions(rick_range=10, auto_maintain=False)
    db = HelixSpark.open(spark, remote_db_path, opts)
    db.put([(t, b"k%d" % t, b"v%d" % t) for t in range(10)])
    db.compact(0, 9)
    db.put([(t + 10, b"k%d" % t, b"w%d" % t) for t in range(10)])
    expect = _kv_state(db)
    assert len(expect) == 20
    db.close()

    local_meta_dir = remote_db_path[len("file://"):] + "/_meta"
    import os as _os

    names = sorted(_os.listdir(local_meta_dir))
    versioned = [n for n in names if n.startswith("state.json.v")]
    assert versioned, names
    assert "state.json" not in names or len(versioned) == 1  # legacy gone once v1 lands
    assert not [n for n in names if ".tmp-" in n]  # tmp debris collected
    # GC floor: everything from the fold-base checkpoint (v0 here) stays
    # readable, bounded by the checkpoint interval
    from helixdb_spark.engine import STATE_CHECKPOINT_EVERY

    assert len(versioned) <= STATE_CHECKPOINT_EVERY + 1
    import json as _json

    oldest = min(versioned, key=lambda n: int(n.rsplit(".v", 1)[1]))
    with open(f"{local_meta_dir}/{oldest}") as f:
        assert "__delta__" not in _json.load(f)  # fold base is a snapshot

    db2 = HelixSpark.open(spark, remote_db_path, opts)
    assert set(db2._state["cold_manifest"]) == {"0"}
    assert _kv_state(db2) == expect
    db2.close()


def test_remote_pointer_crash_before_publish_keeps_old_state(spark, remote_db_path, monkeypatch):
    """Crash injected between the tmp write and the versioned rename: the
    previous pointer version is untouched, so a reopen sees the last
    committed state (the delete-then-rename protocol this replaces would
    have left NO pointer here)."""
    from helixdb_spark.fsio import EngineFS

    opts = HelixOptions(rick_range=10, auto_maintain=False)
    db = HelixSpark.open(spark, remote_db_path, opts)
    db.put([(t, b"k%d" % t, b"v%d" % t) for t in range(10)])
    expect = _kv_state(db)

    def boom(self, tmp, target):
        raise RuntimeError("injected crash before pointer publish")

    monkeypatch.setattr(EngineFS, "_publish_pointer", boom)
    with pytest.raises(RuntimeError, match="injected"):
        db.put([(99, b"k99", b"v99")])
    monkeypatch.undo()

    db2 = HelixSpark.open(spark, remote_db_path, opts)
    got = _kv_state(db2)
    # the data parquet landed before the crashed state flip; what matters is
    # the committed manifest/watermark state survived — and every committed
    # row is still exactly readable
    for k, v in expect.items():
        assert got[k] == v
    assert db2._state["seq"] >= 1
    db2.compact(0, 9)  # engine still fully operational
    assert _kv_state(db2)[(0, b"k0")] == b"v0"
    db2.close()


def test_remote_pointer_missing_adopts_complete_tmp(spark, remote_db_path):
    """Recovery branch: pointer versions deleted (simulating the legacy
    delete-then-rename crash window) but a COMPLETE tmp remains — reopen
    adopts the tmp instead of silently re-initializing with an empty cold
    manifest, and the kv scan stays exact."""
    opts = HelixOptions(rick_range=10, auto_maintain=False)
    db = HelixSpark.open(spark, remote_db_path, opts)
    db.put([(t, b"k%d" % t, b"v%d" % t) for t in range(10)])
    db.compact(0, 9)
    expect = _kv_state(db)
    state_text = __import__("json").dumps(db._state)
    db.close()

    import os as _os

    meta = remote_db_path[len("file://"):] + "/_meta"
    for n in _os.listdir(meta):
        _os.remove(f"{meta}/{n}")
    # a garbage (torn) tmp plus the complete one: adoption must skip the torn
    with open(f"{meta}/state.json.tmp-deadbeef", "w") as f:
        f.write(state_text[: len(state_text) // 2])
    with open(f"{meta}/state.json.tmp-cafebabe", "w") as f:
        f.write(state_text)

    db2 = HelixSpark.open(spark, remote_db_path, opts)
    assert set(db2._state["cold_manifest"]) == {"0"}  # manifest recovered
    assert _kv_state(db2) == expect
    db2.close()


def test_rollback_refuses_stale_history(spark, db_path):
    """A keep==0 compact bumps cold_gen_seq without appending history and
    GC's superseded dirs immediately — a later rollback must detect the
    retained entry is stale (gen != cold_gen_seq - 1) and refuse rather
    than restore a manifest whose directories are gone."""
    db = _rollback_db(spark, db_path, keep=2)
    db.put(_grid())
    db.compact(0, 199)          # history entry for gen=0
    db.close()
    db0 = _rollback_db(spark, db_path, keep=0)  # reopened without retention
    db0.put([(50, b"k0", b"late")])
    db0.compact(0, 199)         # gen=1 commits, no history, immediate GC
    after = _snapshot(db0)
    assert not db0.rollback_compaction()  # stale gen=0 entry refused
    assert _snapshot(db0) == after        # state untouched
    assert db0.get(50, b"k0") == b"late"
    db0.close()


def test_vacuum_collects_orphan_trash(spark, db_path):
    """trash/commit=G dirs no retained history entry references (crash
    debris or a lowered keep_generations) are collected by vacuum();
    referenced parking dirs survive."""
    import os

    db = _rollback_db(spark, db_path, keep=2)
    db.put(_grid())
    before = _snapshot(db)
    db.compact(0, 199)  # trash/commit=0 parked, referenced by history
    live_trash = db.layout.trash_path(0)
    orphan = db.layout.trash_path(99)
    os.makedirs(orphan + "/time_bucket=7", exist_ok=True)
    with open(orphan + "/time_bucket=7/part-junk.parquet", "w") as f:
        f.write("debris")
    db.vacuum()
    assert not os.path.exists(orphan)      # orphan collected
    assert os.path.exists(live_trash)      # referenced parking survives
    assert db.rollback_compaction()        # and still restores exactly
    assert _snapshot(db) == before
    db.close()


def test_scan_asof_commit_time_travel(spark, db_path):
    """Snapshot reads at 1 and 2 commits back see exactly the historical
    states, read-only (the live scan is untouched); depth beyond retention
    raises."""
    db = _rollback_db(spark, db_path, keep=2)
    db.put(_grid(n_ts=150))  # seq 0
    v0 = _snapshot(db)
    db.compact(0, 99)        # commit 1 (seq_at=1)
    db.put([(50, b"k0", b"amended")])  # seq 1
    v1 = sorted(set(v0) - {(50, b"k0", "v50-0".encode())} | {(50, b"k0", b"amended")})
    db.compact(0, 99)        # commit 2 folds the amendment (seq_at=2)
    db.put([(120, b"k1", b"newest")])  # seq 2, outside compacted range

    def snap(n):
        return sorted(
            (r["ts"], bytes(r["key"]), bytes(r["value"]))
            for r in db.scan_asof_commit(n, (0, 1 << 40)).collect()
        )

    assert snap(2) == v0                      # before commit 1: original
    assert snap(1) == v1                      # before commit 2: + amendment
    live = _snapshot(db)
    assert (120, b"k1", b"newest") in live    # live state unaffected
    assert (50, b"k0", b"amended") in live
    with pytest.raises(ValueError, match="not retained"):
        db.scan_asof_commit(3, (0, 1 << 40))
    # key-range + comparator path
    few = db.scan_asof_commit(2, (0, 1 << 40), (b"k0", b"k0")).collect()
    assert all(bytes(r["key"]) == b"k0" for r in few)
    assert len(few) == 150
    db.close()


def test_scan_asof_commit_refuses_broken_chain(spark, db_path):
    """A keep=0 compact between commits breaks history contiguity — the
    snapshot must refuse rather than mix epochs."""
    db = _rollback_db(spark, db_path, keep=2)
    db.put(_grid(n_ts=150))
    db.compact(0, 99)
    db.close()
    db0 = _rollback_db(spark, db_path, keep=0)
    db0.put([(10, b"k0", b"x")])
    db0.compact(0, 99)  # bumps gen without history
    with pytest.raises(ValueError, match="not contiguous"):
        db0.scan_asof_commit(1, (0, 1 << 40))
    db0.close()


def test_commit_diff_classifies_all_three(spark, db_path):
    """commit_diff emits added / updated / deleted (and nothing for the
    untouched majority): overwrite one key, insert one new identity, and
    outdate a prefix so rows the snapshot could see are gone live."""
    db = _rollback_db(spark, db_path, keep=2)
    db.put(_grid(n_ts=150))  # identities (t, k) for t in 0..149
    db.compact(0, 99)        # commit 1 — the snapshot point
    db.put([(50, b"k0", b"amended"), (200, b"k0", b"brandnew")])
    db.compact(0, 99)        # commit 2
    db.outdate(9)            # drops ts <= 9 from the live view only

    rows = {
        (r["ts"], bytes(r["key"]), r["change"]): (
            None if r["old_value"] is None else bytes(r["old_value"]),
            None if r["new_value"] is None else bytes(r["new_value"]),
        )
        for r in db.commit_diff(2, (0, 1 << 40)).collect()
    }
    assert rows[(50, b"k0", "updated")] == (b"v50-0", b"amended")
    assert rows[(200, b"k0", "added")] == (None, b"brandnew")
    # every grid key at each outdated ts shows as deleted
    assert rows[(5, b"k1", "deleted")][1] is None
    n_keys = len({k for (_, k, c) in rows if c == "deleted"})
    n_deleted = sum(1 for (_, _, c) in rows if c == "deleted")
    assert n_deleted == 10 * n_keys
    # nothing else: untouched identities never appear
    assert len(rows) == 2 + n_deleted
    db.close()


# ------------------------------------------------ one-job point reads
_JOB_GROUPS = itertools.count()


def _jobs_of(spark, fn):
    """(result, Spark jobs ``fn`` launched), counted by job group."""
    sc = spark.sparkContext
    group = f"point_read_{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "point-read job count")
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(jobs)


def _lww_model(puts, cutoff):
    """Brute-force last write wins over the put history: a later put beats
    an earlier one, ties inside one put go to the larger value bytes, and
    retention hides every ts at or below ``cutoff``."""
    won: dict = {}
    for seq, rows in enumerate(puts):
        for ts, key, value in rows:
            cand = (seq, value)
            if (ts, key) not in won or cand > won[(ts, key)]:
                won[(ts, key)] = cand
    return {p: w[1] for p, w in won.items() if p[0] > cutoff}


@pytest.mark.parametrize("cache_reads", [False, True])
def test_point_reads_job_counts_and_answers(spark, db_path, cache_reads):
    """get_many and get run one job, get_many_asof two (one shuffle), with
    and without the read cache, and every answer matches a brute-force
    last-write-wins model: hot late overwrites over cold chunks, blob
    (ts_delta_xor) and native chunks, duplicate probes, probes at and
    below the outdate cutoff."""
    from helixdb_spark.codecs import ARRAY_CODEC, CodecRegistry

    reg = CodecRegistry()
    # x-keys hold 8-byte values, the only shape ts_delta_xor accepts
    reg.register_dispatch(lambda k: "ts_delta_xor" if k[:1] == b"x" else ARRAY_CODEC)
    db = HelixSpark.open(
        spark,
        db_path,
        HelixOptions(
            rick_range=10, outdate_range=1 << 30, auto_maintain=False,
            cache_reads=cache_reads,
        ),
        codecs=reg,
    )
    keys = [b"xa", b"xb", b"ka", b"kb"]

    def val(key, ts, tag):
        v = struct.pack("<d", ts + 0.5 * tag)
        return v if key[:1] == b"x" else v + b"-native"

    puts = [
        [(t, k, val(k, t, 0)) for t in range(0, 50, 2) for k in keys],
        # late overwrites into soon-to-be-cold buckets, plus new hot rows
        [(t, k, val(k, t, 1)) for t in (14, 22, 36) for k in (b"xa", b"ka")]
        + [(t, k, val(k, t, 1)) for t in (51, 53) for k in keys],
        # a second overwrite of one pair, and a same-put duplicate
        [(22, b"xa", val(b"xa", 22, 2)), (36, b"kb", val(b"kb", 36, 3)),
         (36, b"kb", val(b"kb", 36, 2))],
    ]
    db.put(puts[0])
    db.compact(0, 39)  # buckets 0-3 cold, 4 hot
    db.put(puts[1])
    db.put(puts[2])
    db.outdate(12)  # bucket 0 retires whole, ts 10-12 are filtered
    model = _lww_model(puts, 12)

    probes = (
        [(t, k) for t in (5, 12, 14, 22, 36, 44, 51, 52) for k in keys]
        + [(22, b"xa"), (36, b"kb"), (14, b"zz")]  # duplicates, a miss
    )
    if cache_reads:
        db.get(22, b"xa")  # builds the cached view once, off the count
    got, jobs = _jobs_of(spark, lambda: db.get_many(probes))
    assert jobs == 1
    assert got == {p: model[p] for p in probes if p in model}

    scalar, jobs = _jobs_of(spark, lambda: db.get(22, b"xa"))
    assert jobs == 1
    assert scalar == model[(22, b"xa")] == val(b"xa", 22, 2)
    assert db.get(12, b"ka") is None and db.get(14, b"zz") is None

    asof_probes = probes + [(13, b"xa"), (100, b"kb"), (49, b"ka")]
    got_asof, jobs = _jobs_of(spark, lambda: db.get_many_asof(asof_probes))
    assert jobs == 2
    want_asof = {}
    for p_ts, key in asof_probes:
        hits = [t for (t, k) in model if k == key and t <= p_ts]
        if hits:
            want_asof[(p_ts, key)] = (max(hits), model[(max(hits), key)])
    assert got_asof == want_asof
    assert db.get_asof(37, b"kb") == (36, model[(36, b"kb")])
    assert db.get_asof(12, b"ka") is None
    db.close()


def test_write_job_counts(spark, db_path):
    """Spark jobs per write call: put 2, compact and re-compact 2,
    bulk_load 2, a packing optimize 3 and restore_chunks 2. The shared
    cold commit path lists the produced buckets on the driver and observes
    the blob flag on the write, so it adds no job of its own; compact
    observes its hot-row count on the write instead of probing first."""
    db = HelixSpark.open(spark, db_path, OPTS10)
    rows = [(t, b"k%d" % t, b"v%d" % t) for t in range(40)]
    assert _jobs_of(spark, lambda: db.put(rows))[1] == 2
    assert _jobs_of(spark, lambda: db.compact(0, 19))[1] == 2
    db.put([(3, b"k3", b"late")])
    assert _jobs_of(spark, lambda: db.compact(0, 19))[1] == 2
    bulk = [(t, b"b%d" % t, b"bulk") for t in range(100, 120)]
    assert _jobs_of(spark, lambda: db.bulk_load(bulk))[1] == 2
    db.put(rows[20:30])
    db.put(rows[20:30])
    _compact_small_files(spark, db, 20, 29)
    packed, jobs = _jobs_of(spark, lambda: db.optimize(1 << 30))
    assert packed == {2: 1} and jobs == 3
    src = HelixSpark.open(spark, db_path + "_src", OPTS10)
    src.put([(t, b"r%d" % t, b"x%d" % t) for t in range(20)])
    src.compact(0, 19)
    assert _jobs_of(spark, lambda: db.restore_chunks(src.scan_raw()))[1] == 2
    assert db.get(3, b"r3") == b"x3" and db.get(3, b"k3") is None  # replaced


def test_compact_without_hot_bucket_runs_no_job(spark, db_path):
    """A compaction range with no hot bucket dir returns after the driver
    listing: no Spark job, and the state (manifest, generation counter,
    history) and the files are unchanged."""
    import os

    db = HelixSpark.open(spark, db_path, OPTS10)
    db.put([(t, b"k%d" % t, b"v") for t in range(20, 30)])
    db.compact(20, 24)
    state = json.loads(json.dumps(db._state))
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(db_path) for f in fs)
    assert _jobs_of(spark, lambda: db.compact(0, 19))[1] == 0
    assert db._state == state
    assert sorted(
        os.path.join(r, f) for r, _, fs in os.walk(db_path) for f in fs
    ) == files
    db.close()


def test_compact_of_rowless_hot_range_commits_nothing(spark, db_path):
    """Hot buckets in the range hold no row inside [start_ts, end_ts] while
    cold data of the range does: the compaction commits nothing, leaves no
    staged generation dir, and ``rollback_compaction`` still undoes the
    previous commit. When the hot files' ``ts`` footer statistics miss the
    range it runs no Spark job and writes no byte; when a hot file spans
    the range without a row in it, the staged generation is discarded."""
    import os

    db = HelixSpark.open(
        spark,
        db_path,
        HelixOptions(rick_range=10, auto_maintain=False, keep_generations=2),
    )
    db.put([(t, b"k%d" % t, b"v") for t in (*range(10), *range(15, 20))])
    db.compact(0, 12)  # bucket 0 goes cold; hot bucket 1 keeps 15..19
    state = json.loads(json.dumps(db._state))
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(db_path) for f in fs)
    assert _jobs_of(spark, lambda: db.compact(5, 12))[1] == 0
    assert db._state == state
    assert sorted(
        os.path.join(r, f) for r, _, fs in os.walk(db_path) for f in fs
    ) == files
    assert db.rollback_compaction()
    assert db.scan((0, 19)).count() == 15 and not db._state["cold_manifest"]

    # one key, so ts 11 and 18 share one hot file whose ts min/max spans
    # [13, 14] without a row in it; the compaction of [11, 11] puts cold
    # data in bucket 1
    db.put([(11, b"s", b"v"), (18, b"s", b"v")])
    db.compact(11, 11)
    state = json.loads(json.dumps(db._state))
    cold = sorted(os.listdir(db.layout.cold_path))
    assert _jobs_of(spark, lambda: db.compact(13, 14))[1] == 2  # staged
    assert db._state == state
    assert sorted(os.listdir(db.layout.cold_path)) == cold
    assert db.rollback_compaction()
    assert db.scan((0, 19)).count() == 17
    db.close()


def _parquet_sizes(path):
    import glob
    import os

    return [
        os.path.getsize(f)
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    ]


def _scanned_rows(plan):
    """Rows the parquet leaves of an executed ``plan`` handed up: row
    groups a key filter skipped are never read."""
    total = 0
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            total += leaf.metrics().apply("numOutputRows").value()
    return total


def test_key_bloom_sized_by_data(spark, db_path):
    """Key bloom filters are sized to each file's distinct keys, not
    written at the 1 MiB maximum into every file: hot files, cold files
    and a restored export stay a few KiB, and a single-key get over a
    multi-file cold bucket still skips the files whose filter rules the
    key out."""
    db = HelixSpark.open(spark, db_path, OPTS10)
    rows = [(i % 20, b"key%04d" % i, b"v%d" % i) for i in range(300)]
    db.put(rows)
    assert max(_parquet_sizes(db.layout.hot_path)) < 64 << 10
    _compact_small_files(spark, db, 0, 19)  # 8 files of distinct keys a bucket
    cold = _parquet_sizes(db.layout.cold_path)
    assert len(cold) > 2 and max(cold) < 64 << 10

    ts, key, value = rows[123]
    probe = db._point_df(db._live_probes([(ts, key)]))
    assert [bytes(r["value"]) for r in probe.collect()] == [value]
    bucket_rows = sum(1 for t, _, _ in rows if t // 10 == ts // 10)
    assert 0 < _scanned_rows(probe._jdf.queryExecution().executedPlan()) < bucket_rows

    dst = HelixSpark.open(spark, db_path + "_restored", OPTS10)
    dst.restore_chunks(db.scan_raw())
    assert sum(_parquet_sizes(dst.layout.cold_path)) < 64 << 10
    assert dst.get(ts, key) == value


def test_tie_break_parity_across_reads(spark, db_path):
    """Two writes of one (ts, key) inside one put share a seq; every read
    path breaks the tie on unsigned value bytes (0x80 beats 0x7f), and a
    later put beats both whatever its bytes."""
    db = HelixSpark.open(
        spark, db_path, HelixOptions(rick_range=10, auto_maintain=False)
    )
    lo, hi = b"\x7f" + b"z" * 7, b"\x80" + b"a" * 7
    db.put([(3, b"k", lo), (3, b"k", hi), (4, b"k", hi), (4, b"k", lo)])
    db.put([(4, b"k", b"\x00later")])

    def answers():
        scanned = {
            r["ts"]: bytes(r["value"]) for r in db.scan((0, 9)).collect()
        }
        many = db.get_many([(3, b"k"), (4, b"k")])
        return (
            (db.get(3, b"k"), many[(3, b"k")], scanned[3]),
            (db.get(4, b"k"), many[(4, b"k")], scanned[4]),
        )

    assert answers() == ((hi,) * 3, (b"\x00later",) * 3)
    db.compact(0, 9)  # the cold chunk keeps the same winners
    assert answers() == ((hi,) * 3, (b"\x00later",) * 3)
    db.close()


def test_failing_tier_read_raises(spark, db_path, tmp_path):
    """A tier whose read fails (here: a stray nested partition directory)
    must raise, not read as an empty tier that silently answers None."""
    import glob
    import os
    import shutil

    from pyspark.errors import PySparkException

    from helixdb_spark.layout import HOT_SCHEMA

    db = HelixSpark.open(
        spark, db_path, HelixOptions(rick_range=10, auto_maintain=False)
    )
    db.put([(t, b"k", b"v%d" % t) for t in range(20)])
    assert db.get(3, b"k") == b"v3"
    stray = f"{db.layout.hot_path}/time_bucket=5/extra=1"
    os.makedirs(stray)
    shutil.copy(glob.glob(f"{db.layout.hot_path}/time_bucket=0/*.parquet")[0], stray)
    with pytest.raises(PySparkException, match="CONFLICTING_PARTITION_COLUMN_NAMES"):
        db.get(3, b"k")
    with pytest.raises(PySparkException, match="CONFLICTING_PARTITION_COLUMN_NAMES"):
        db.scan((0, 19)).count()
    # only a tier that vanished after the listing reads as absent
    assert db._read_tier(str(tmp_path / "gone"), HOT_SCHEMA) is None


def test_scan_asof_commit_broken_tier_raises(spark, db_path):
    """A snapshot read whose cold tier fails to read (a stray nested
    partition directory) must raise like the live scan, not drop the cold
    rows and answer from hot and trash alone."""
    import glob
    import os
    import shutil

    from pyspark.errors import PySparkException

    db = HelixSpark.open(
        spark,
        db_path,
        HelixOptions(rick_range=10, auto_maintain=False, keep_generations=2),
    )
    db.put([(t, b"k", b"v%d" % t) for t in range(30)])
    db.compact(0, 9)
    db.compact(10, 19)
    assert db.scan_asof_commit(1, (0, 29)).count() == 30
    gen0 = f"{db.layout.cold_gen_path(0)}/time_bucket=0"
    os.makedirs(f"{gen0}/extra=1")
    shutil.copy(glob.glob(f"{gen0}/*.parquet")[0], f"{gen0}/extra=1/x.parquet")
    for read in (lambda: db.scan((0, 29)), lambda: db.scan_asof_commit(1, (0, 29))):
        with pytest.raises(PySparkException, match="CONFLICTING_PARTITION_COLUMN_NAMES"):
            read().count()
    db.close()


@pytest.mark.parametrize("cache_reads", [False, True])
def test_scan_job_counts_both_sides_of_gate(spark, db_path, cache_reads, monkeypatch):
    """An ordered scan whose files fit ``SCAN_ONE_TASK_SORT_BYTES`` sorts
    in one task: 2 jobs (1 from a built read cache). Over the threshold
    (forced to zero bytes) the range-partitioned sort comes back: 4 jobs (3
    cached). An unordered ``count()`` keeps the dedup's partitions on both
    sides: 3 jobs (2 cached). The rows and their order equal a brute-force
    last-write-wins model under ``lexical`` and ``le_u64``, and
    ``scan_iter`` yields the same sequence. The gate counts the files of
    the scanned buckets, but every file a read cache was built from, so a
    narrow scan of a large cache keeps the range-partitioned sort."""
    from helixdb_spark import engine
    from helixdb_spark.codecs import ARRAY_CODEC, CodecRegistry

    reg = CodecRegistry()
    # odd low bytes take ts_delta_xor (8-byte values only), the rest native
    reg.register_dispatch(lambda k: "ts_delta_xor" if k[0] % 2 else ARRAY_CODEC)
    db = HelixSpark.open(
        spark,
        db_path,
        HelixOptions(
            rick_range=10, outdate_range=1 << 30, auto_maintain=False,
            cache_reads=cache_reads,
        ),
        codecs=reg,
    )
    # bytewise and numeric order disagree on these keys
    keys = [le_u64(i) for i in (1, 2, 256, 257, 300)]

    def val(key, ts, tag):
        v = struct.pack("<d", ts + 0.5 * tag)
        return v if key[0] % 2 else v + b"-native"

    puts = [
        [(t, k, val(k, t, 0)) for t in range(0, 50, 2) for k in keys],
        [(t, k, val(k, t, 1)) for t in (14, 22, 36) for k in keys[:3]]
        + [(t, k, val(k, t, 1)) for t in (51, 53) for k in keys],
        [(22, keys[0], val(keys[0], 22, 2)), (36, keys[4], val(keys[4], 36, 3)),
         (36, keys[4], val(keys[4], 36, 2))],
    ]
    db.put(puts[0])
    db.compact(0, 39)  # buckets 0-3 cold, 4 hot
    db.put(puts[1])
    db.put(puts[2])
    db.outdate(12)
    model = _lww_model(puts, 12)
    if cache_reads:
        db.get(22, keys[0])  # builds the cached view once, off the count

    def numeric(k):
        return struct.unpack("<Q", k)[0]

    def check(scan_jobs, count_jobs):
        for cmp, order in ((comparators.lexical, bytes), (comparators.le_u64, numeric)):
            want = [
                (t, k, model[(t, k)])
                for t, k in sorted(model, key=lambda p: (order(p[1]), p[0]))
            ]
            rows, jobs = _jobs_of(spark, lambda: db.scan((0, 60), comparator=cmp).collect())
            assert jobs == scan_jobs
            assert [(r["ts"], bytes(r["key"]), bytes(r["value"])) for r in rows] == want
            streamed = [
                (r["ts"], bytes(r["key"]), bytes(r["value"]))
                for r in db.scan_iter((0, 60), comparator=cmp)
            ]
            assert streamed == want
        ranged = db.scan((0, 60), (keys[1], keys[3]), comparator=comparators.le_u64)
        assert [(r["ts"], bytes(r["key"])) for r in ranged.collect()] == [
            (t, k) for t, k in sorted(model, key=lambda p: (numeric(p[1]), p[0]))
            if 2 <= numeric(k) <= 257
        ]
        n, jobs = _jobs_of(
            spark, lambda: db.scan((0, 60), comparator=comparators.NO_ORDER).count()
        )
        assert (n, jobs) == (len(model), count_jobs)

    def plan(time_range):
        return db.scan(time_range)._jdf.queryExecution().executedPlan().toString()

    check(1 if cache_reads else 2, 2 if cache_reads else 3)
    assert "rangepartitioning" not in plan((0, 60))
    whole = engine._file_bytes(db._entries_df()._jdf.queryExecution().sparkPlan())
    monkeypatch.setattr(engine, "SCAN_ONE_TASK_SORT_BYTES", whole - 1)
    assert ("rangepartitioning" in plan((20, 29))) == cache_reads
    monkeypatch.setattr(engine, "SCAN_ONE_TASK_SORT_BYTES", 0)
    check(3 if cache_reads else 4, 2 if cache_reads else 3)
    db.close()
