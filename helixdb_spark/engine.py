"""HelixSpark — the KV/time-series engine facade.

Public surface mirrors the reference ``HelixDB::{open, open_default, put,
direct_put, get, direct_get, scan, close}`` (reference src/db.rs:32-80), built
entirely from DataFrame plans:

====================  =========================================================
reference              this engine
====================  =========================================================
shard (db.rs:108-132)  hash partitioning on ``key`` (Spark tasks replace
                       glommio executors); ``shard_of`` kept only for parity
rick L0 (file/rick.rs) ``hot/`` parquet, partitioned by ``time_bucket``
L>=1 + SSTable         ``cold/gen=N/`` parquet generations, one row per
(level.rs:356-459)     (key,bucket) with the key's sorted series; parquet
                       min/max stats + key dictionaries or key bloom
                       filters sized to each file's keys = the index
LevelInfo              partition-pruned reads + a tiny JSON state file that
(level_info.rs)        is ALSO the commit log: the bucket→generation cold
                       manifest and the reviewer watermarks flip together in
                       one atomic state replace (the analog of the
                       reference's fdatasync'd LEVEL_INFO superblock,
                       level_info.rs:98-111)
MemIndex (index.rs)    not needed — parquet footers survive restart (S8)
k-way merge            ``orderBy``: in one task when the files a scan reads
(iterator.rs:111-195)  are small, else a range-partitioned sort;
                       toLocalIterator preserves order for streamed
                       consumption
====================  =========================================================

Scale posture (100 TB): every job here touches only the partitions named by
its predicate — ``get`` prunes to one ``time_bucket`` directory and then to
row groups via key min/max stats and each file's key dictionary or key
bloom filter (``_KEY_BLOOM``); ``compact`` is an incremental per-bucket
job (idempotent MERGE-style: late data re-compacts a bucket by rewriting
that bucket only — SURVEY.md §7.2 late-data stance) that commits
write-new-then-flip (never mutates live data in place, safe on
object stores); ``outdate`` drops whole partition directories without
reading them. Nothing ever collects data to the driver except the
user-requested point values (every stored version of each probed pair, so
the driver can pick the last-write-wins winner).
"""

from __future__ import annotations

import functools
import json
import math
import os
from dataclasses import dataclass
from typing import Iterable, Iterator, Optional, Sequence

from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from helixdb_spark import comparators
from helixdb_spark.codecs import ARRAY_CODEC, CodecRegistry
from helixdb_spark.fsio import EngineFS
from helixdb_spark.layout import (
    CHUNK_TYPE,
    COLD_GEN_SCHEMA,
    COLD_SCHEMA,
    ENTRY_SCHEMA,
    HOT_SCHEMA,
    Layout,
)
from helixdb_spark.maintenance import (
    Compact,
    Outdate,
    SimpleTimestampReviewer,
    TimestampAction,
)

# Full state snapshot every N commits; in between, commits are O(changed)
# delta records (see _save_state). 16 bounds the reopen fold at 15 deltas
# while amortizing the O(buckets) snapshot serialize across commits.
STATE_CHECKPOINT_EVERY = 16

# Writer options of both Parquet writes (put's hot write and _stage_cold):
# a bloom filter on the key column, the analog of the reference's per-file
# FilterBlocks (protos/flatbuffer/helix.fbs:53-57). Point gets prune row
# groups beyond what min/max stats allow. With no expected NDV parquet-mr
# writes a filter of parquet.bloom.filter.max.bytes (1 MiB) into every
# file; the adaptive writer keeps 16 candidate sizes (16 halvings of 1 MiB
# reach the 32-byte minimum) and, at close, writes the smallest one that
# holds the file's actual key NDV at 1% fpp: 1 KiB for 300 keys, 256 KiB
# for 200k. Hot files whose keys repeat stay dictionary-encoded and carry
# no bloom (the dictionary filter prunes them); chunked cold files and
# distinct-key hot files carry a filter sized to their NDV. parquet-mr
# 1.16 reads adaptive mode only globally and the candidate count only per
# column, hence the spelling.
_KEY_BLOOM = {
    "parquet.bloom.filter.enabled#key": "true",
    "parquet.bloom.filter.adaptive.enabled": "true",
    "parquet.bloom.filter.candidates.number#key": "16",
}

# An ordered scan whose plan reads at most this many bytes of files sorts in
# one task instead of behind a range-partitioned shuffle: two Spark jobs
# fewer, but one core dedups and sorts every entry the scan keeps, so the
# break-even follows the entries kept, which file bytes only bound.
# Measured on 4 cores (scripts/scan_sort_breakeven.py, 6 alternating pairs
# a point, dense layouts at 5.2-5.5 bytes an entry on disk): keeping all
# keys, one task won 6/6 pairs up to 250k entries (1.31 MiB; 0.64 vs
# 0.86 s) and lost 6/6 from 300k (1.55 MiB; 0.83 vs 0.62 s), 1.4-1.5x
# slower at 400k-600k (2-3 MiB); keeping 1/16 of the keys it won 6/6 at
# every size up to 3.1 MiB. The benchmark's ordered scans read at most
# 0.92 MiB (kv_ingest_mixed after an even put).
SCAN_ONE_TASK_SORT_BYTES = 5 << 18  # 1.25 MiB


def _state_delta(old: dict, new: dict) -> dict:
    """Commit record: top-level keys that changed plus cold_manifest entry
    set/del ops — the only state component that grows with bucket count
    gets entry-grain ops (O(changed buckets) per commit); everything else
    (seq, reviewer watermarks, bounded commit_history) is O(1)-ish and
    rides whole."""
    d: dict = {"__delta__": 1}
    om = old.get("cold_manifest") or {}
    nm = new.get("cold_manifest") or {}
    m_set = {b: g for b, g in nm.items() if om.get(b) != g}
    m_del = [b for b in om if b not in nm]
    if m_set:
        d["m_set"] = m_set
    if m_del:
        d["m_del"] = m_del
    changed = {
        k: v
        for k, v in new.items()
        if k != "cold_manifest" and (k not in old or old[k] != v)
    }
    if changed:
        d["set"] = changed
    gone = [k for k in old if k != "cold_manifest" and k not in new]
    if gone:
        d["del"] = gone
    return d


def _apply_state_delta(state: dict, d: dict) -> None:
    m = dict(state.get("cold_manifest") or {})
    m.update(d.get("m_set") or {})
    for b in d.get("m_del") or []:
        m.pop(b, None)
    state["cold_manifest"] = m
    state.update(d.get("set") or {})
    for k in d.get("del") or []:
        state.pop(k, None)


def _binary_sql(b: bytes) -> str:
    """A binary SQL literal. Probe sets reach the plan as one parsed SQL
    expression rather than one py4j call per literal."""
    return f"X'{b.hex()}'"


def _key_ordered(df: DataFrame, comparator: comparators.Comparator) -> DataFrame:
    """``df`` sorted by (comparator(key), ts). The sort key is projected
    once per row first: an expression left in the sort order is evaluated
    again on both rows of every comparison, which makes ``le_u64`` sorts
    2.5-4x slower."""
    return (
        df.withColumn("_sort_key", comparator(F.col("key")))
        .orderBy("_sort_key", "ts")
        .drop("_sort_key")
    )


def _file_bytes(plan) -> int:
    """On-disk bytes of the files a physical ``plan`` (a py4j ``SparkPlan``)
    reads after partition pruning, from the file listing the plan already
    holds, so it lists nothing itself. A cached view counts every file it
    was built from."""
    total = 0
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.getClass().getSimpleName()
        if name == "FileSourceScanExec":
            total += leaf.selectedPartitions().totalFileSize()
        elif name == "InMemoryTableScanExec":
            total += _file_bytes(leaf.relation().cachedPlan())
        elif name == "AdaptiveSparkPlanExec":
            total += _file_bytes(leaf.inputPlan())
    return total


def _last_write_wins(df: DataFrame) -> DataFrame:
    """One row per (ts, key): the highest (seq, time_bucket, value) — the
    newest put wins (overwrite semantics, reference src/file/rick.rs:
    403-417), and ties inside one put break deterministically on value
    bytes. A hash aggregation rather than a row_number window: map-side
    partial combine, no per-group sort."""
    return (
        df.groupBy("ts", "key")
        .agg(F.max(F.struct("seq", "time_bucket", "value")).alias("_w"))
        .select(
            "ts",
            "key",
            F.col("_w.value").alias("value"),
            F.col("_w.seq").alias("seq"),
            F.col("_w.time_bucket").alias("time_bucket"),
        )
    )


@dataclass
class HelixOptions:
    """Engine options (reference src/option.rs). ``rick_range`` is the time
    width of one compacted bucket; ``outdate_range`` the retention horizon;
    ``num_shard`` only sizes write parallelism (Spark owns scheduling).

    ``sharding_expr`` is the reference's pluggable ``ShardingKeyFn``
    (fn_registry.rs:50-55, applied db.rs:149,182): a function from the key
    Column to the expression entries are hash-partitioned by on write. None
    = partition by the key itself (Spark's hash of the bytes — equivalent to
    the reference routing by key hash). Reads never depend on it; Spark
    finds rows wherever they landed, so a changed sharding_expr is not the
    corruption hazard it is in the reference."""

    rick_range: int = 1024
    outdate_range: int = 8192
    num_shard: int = 8
    auto_maintain: bool = True  # run reviewer-driven compaction on put
    sharding_expr: Optional[object] = None  # Callable[[Column], Column]
    # Opt-in read-path cache (the reference's LRU cache tier, src/cache.rs:
    # 12-162, M7): persist the deduped logical entry view so repeated point
    # reads skip the parquet re-scan + re-dedup. Invalidated on every
    # mutation (put/compact/outdate). Off by default — a write-heavy
    # workload would churn the cache; the reference sizes its caches for
    # the read-mostly benchmark shape (benchmarks/src/read.rs:15-56).
    cache_reads: bool = False
    # Deferred compaction GC: keep the last K commits' superseded cold
    # bucket dirs AND the hot partitions they replaced (parked under
    # trash/), so ``rollback_compaction()`` can restore the exact
    # pre-compaction state — the operational escape hatch after e.g. a
    # misbehaving UDCF codec compacted garbage. 0 = GC immediately (no
    # rollback), the reference's behavior (its LEVEL_INFO advance is
    # one-way, src/types/level_info.rs:98-111).
    keep_generations: int = 0
    # Opt-in small-file maintenance: after every reviewer-triggered
    # compaction, bin-pack cold buckets whose file count exceeds
    # ceil(bytes/target) (engine.optimize) — the scheduler hook of the
    # reference's QueueUpCompSched (src/compact_sched.rs:16-143) applied
    # to the file-count axis. None = manual optimize() only.
    optimize_target_bytes: Optional[int] = None


class HelixSpark:
    """One opened engine instance rooted at ``base_path``."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        options: Optional[HelixOptions] = None,
        codecs: Optional[CodecRegistry] = None,
    ) -> None:
        self.spark = spark
        self.options = options or HelixOptions()
        self.layout = Layout(base_path, self.options.rick_range)
        self.codecs = codecs or CodecRegistry()
        self._closed = False
        self._fs = EngineFS(spark, self.layout.base_path)
        self._state = self._load_state()
        self.reviewer = SimpleTimestampReviewer.from_state(self._state["reviewer"])
        self._entries_cache: Optional[DataFrame] = None
        # session-local index-maintenance registry (register_index): the
        # reference rebuilds its index INSIDE compaction (src/file/
        # sstable.rs:94-143 driven by src/level.rs:430-447); here every
        # cold commit ends by appending registered AnnIndexStore
        # indexes' ingest deltas so a persisted index can't silently go
        # stale between corpus version and index version.
        self._index_registry: list[tuple] = []

    # ------------------------------------------------------------------ open
    @classmethod
    def open(
        cls,
        spark: SparkSession,
        base_path: str,
        options: Optional[HelixOptions] = None,
        codecs: Optional[CodecRegistry] = None,
    ) -> "HelixSpark":
        """Open or create a DB at ``base_path`` (reference src/db.rs:33-43).
        Restart durability needs no index rebuild (reference rebuilds its
        MemIndex by scanning the rick log — src/file/rick.rs:164-189): the
        parquet files + the JSON watermark state ARE the recovered state."""
        return cls(spark, base_path, options, codecs)

    @classmethod
    def open_default(cls, spark: SparkSession, base_path: str) -> "HelixSpark":
        return cls.open(spark, base_path)

    # ----------------------------------------------------------------- state
    def _load_state(self) -> dict:
        """Fold the commit log: newest FULL snapshot (checkpoint) + every
        delta record after it. The reference's LEVEL_INFO is a single
        superblock rewritten per advance (src/types/level_info.rs:44-52);
        at 100x bucket counts that is an O(buckets) serialize per commit
        and an unbounded pointer size — the Delta-log answer is O(changed)
        delta records with periodic checkpoint compaction
        (STATE_CHECKPOINT_EVERY), which the versioned CAS pointer already
        gives us for free: each commit IS a log record."""
        # One retry on a torn read: a reader listing log versions
        # concurrently with a writer's checkpoint commit can see old
        # deltas whose base the writer's GC (keep_from advance) deletes
        # before this reader opens them — a TRANSIENT gap/missing-base.
        # Re-list once (the new checkpoint is complete by then); a second
        # failure is real corruption and raises (round-8 advice).
        try:
            return self._fold_state_log(
                self._fs.read_pointer_log(self.layout.meta_path)
            )
        except RuntimeError:
            return self._fold_state_log(
                self._fs.read_pointer_log(self.layout.meta_path)
            )

    def _fold_state_log(self, log) -> dict:
        self._state_version = log[-1][0] if log else -1
        self._ckpt_version = -1
        if log:
            base_i = None
            for i in range(len(log) - 1, -1, -1):
                if "__delta__" not in json.loads(log[i][1]):
                    base_i = i
                    break
            if base_i is None:
                raise RuntimeError(
                    f"{self.layout.meta_path}: delta records survive but "
                    "their base checkpoint is gone — refusing to guess"
                )
            state = json.loads(log[base_i][1])
            self._ckpt_version = prev_v = log[base_i][0]
            for v, text in log[base_i + 1:]:
                if v != prev_v + 1:
                    raise RuntimeError(
                        f"{self.layout.meta_path}: state log gap "
                        f"v{prev_v} -> v{v}"
                    )
                _apply_state_delta(state, json.loads(text))
                prev_v = v
            self._last_saved_text = json.dumps(state)
            return state
        self._last_saved_text = None
        return {
            "seq": 0,
            "reviewer": SimpleTimestampReviewer(
                self.options.rick_range, self.options.outdate_range
            ).to_state(),
            "outdate_cutoff": None,  # ts <= cutoff is retired
            # cold commit log: bucket (str) -> generation (int) holding its
            # live compacted data, plus the next generation number. A
            # compaction stages a new gen dir and COMMITS by flipping these
            # entries in one atomic state replace — the write-new-then-flip
            # protocol of the reference's LEVEL_INFO superblock
            # (src/types/level_info.rs:98-111), object-store safe because
            # live data is never mutated in place.
            "cold_manifest": {},
            "cold_gen_seq": 0,
        }

    def _save_state(self) -> None:
        """Atomically publish the state commit — the engine's ONE commit
        point. Compare-and-swap against the version this instance last
        read/wrote (fsio.write_text_cas): if another writer committed in
        between, this raises ConcurrentWriterError instead of silently
        clobbering their manifest/watermark flips — reopen and retry. The
        reference never faces this (single-process by construction,
        src/db.rs:27-30); two Spark jobs sharing one table do.

        What lands is a DELTA record (changed top-level keys + manifest
        entry set/del ops — O(changed buckets), not O(buckets)) unless a
        checkpoint is due: every STATE_CHECKPOINT_EVERY commits, or when
        the delta wouldn't be smaller, a full snapshot compacts the log
        and lets the GC floor advance past the old chain."""
        self._state["reviewer"] = self.reviewer.to_state()
        text = json.dumps(self._state)
        if text == self._last_saved_text:
            return  # clean instance (e.g. read-only close): nothing to publish
        target = self._state_version + 1
        checkpoint = (
            self._last_saved_text is None
            or self._ckpt_version < 0
            or target - self._ckpt_version >= STATE_CHECKPOINT_EVERY
        )
        payload = text
        if not checkpoint:
            dtext = json.dumps(
                _state_delta(json.loads(self._last_saved_text), self._state)
            )
            if len(dtext) < len(text):
                payload = dtext
            else:
                checkpoint = True  # delta no smaller: snapshot instead
        self._state_version = self._fs.write_text_cas(
            self.layout.meta_path,
            payload,
            self._state_version,
            # deltas must keep their fold base readable; a checkpoint
            # advances the GC floor (one predecessor stays, harmless —
            # readers fold from the NEWEST full snapshot)
            keep_from=(target - 1) if checkpoint else self._ckpt_version,
        )
        if checkpoint:
            self._ckpt_version = self._state_version
        self._last_saved_text = text

    def _check_open(self) -> None:
        if self._closed:
            raise RuntimeError("DB is closed")  # reference db.rs:143-147

    def _reserve_cold_gen(self) -> int:
        """CAS-reserve the next cold generation number BEFORE any staging
        write: the bump publishes through ``_save_state`` (write_text_cas),
        so a writer whose in-memory state is stale raises
        ConcurrentWriterError here — with zero directories touched — and
        two live writers can never stage into the same ``gen=N`` path.
        A reservation whose writer then crashes leaves an unreferenced dir
        ``vacuum()`` collects (manifest liveness is the source of truth)."""
        gen = int(self._state.get("cold_gen_seq", 0))
        self._state["cold_gen_seq"] = gen + 1
        self._save_state()
        return gen

    def _stage_cold(self, df: DataFrame) -> Optional[tuple[int, list[int], bool]]:
        """STAGE half of the cold commit protocol (see :meth:`_commit_cold`)
        and the engine's only cold write. Returns ``(gen, produced buckets,
        any blob-codec row)`` — from a driver-side listing and an
        Observation on the write, so staging runs no job of its own — or
        None, with the staged dir removed, when the write produced nothing."""
        gen = self._reserve_cold_gen()
        gen_dir = self.layout.cold_gen_path(gen)
        obs = Observation()
        (
            df.select(*COLD_SCHEMA.fieldNames())
            .observe(obs, F.max(F.col("codec") != ARRAY_CODEC).alias("blobs"))
            .write.mode("overwrite")
            .options(**_KEY_BLOOM)
            .partitionBy("time_bucket")
            .parquet(gen_dir)
        )
        produced = self._fs.list_buckets(gen_dir)
        if not produced:
            self._discard_cold(gen)
            return None
        return gen, produced, bool(obs.get["blobs"])

    def _discard_cold(self, gen: int) -> None:
        """Drop an uncommitted staged generation and CAS-release its
        reserved number, so ``cold_gen_seq`` again ends at the last commit
        and ``rollback_compaction`` can still undo that commit. A crash
        before the release only burns the number, as any crashed writer
        does; ``vacuum()`` collects a dir the delete missed."""
        self._fs.delete(self.layout.cold_gen_path(gen))
        if int(self._state.get("cold_gen_seq", 0)) == gen + 1:
            self._state["cold_gen_seq"] = gen
            self._save_state()

    def _commit_cold(
        self,
        gen: int,
        produced: Sequence[int],
        blobs: bool,
        hot_dropped: Sequence[int] = (),
    ) -> None:
        """COMMIT + GC half of the cold commit protocol, shared by every
        cold writer (compact, bulk_load, optimize, restore_chunks).
        Write-new-then-flip; reference analog: the fdatasync'd LEVEL_INFO
        superblock, src/types/level_info.rs:98-111:

        1. STAGE (:meth:`_stage_cold`) — write the bucket data to a fresh
           CAS-reserved generation dir ``cold/gen=N/`` (live data is never
           mutated or renamed in place, so this is object-store safe).
        2. COMMIT — flip the ``produced`` buckets' manifest entries to
           ``gen``, OR the staged blob flag into ``has_blobs``, and (with
           ``keep_generations``) append the rollback / time-travel history
           entry, all in ONE atomic state replace. A crash before this
           point leaves the old manifest: readers never see the staged gen,
           whose unreferenced dir ``vacuum()`` collects.
        3. GC — delete superseded cold bucket dirs and the ``hot_dropped``
           partitions the new generation covers. Best-effort: a crash
           mid-GC leaves garbage the manifest doesn't reference (invisible
           to readers; hot leftovers re-win the LWW dedup with identical
           values) that a retried compact or ``vacuum()`` collects later.
           With ``keep_generations`` > 0 the dropped hot partitions PARK in
           trash/ (restorable), superseded cold dirs stay put (the manifest
           hides them), and only commits that fall out of the retention
           window are collected."""
        manifest_before = dict(self._state.get("cold_manifest") or {})
        manifest = dict(manifest_before)
        superseded = [
            (int(manifest[str(b)]), b) for b in produced if str(b) in manifest
        ]
        manifest.update({str(b): gen for b in produced})
        keep = self.options.keep_generations
        expired: list = []
        if keep > 0:
            history = list(self._state.get("commit_history") or [])
            history.append(
                {
                    "gen": gen,
                    "manifest_before": manifest_before,
                    "superseded": [[g, b] for g, b in superseded],
                    "hot_dropped": list(hot_dropped),
                    # put-sequence watermark at commit time: lets
                    # scan_asof_commit exclude rows written after this
                    # commit (time travel)
                    "seq_at_commit": int(self._state.get("seq", 0)),
                }
            )
            expired, history = history[:-keep], history[-keep:]
            self._state["commit_history"] = history
        self._state["cold_manifest"] = manifest
        if blobs:
            # must land in the SAME commit that makes blob rows visible, or
            # a reopen would skip the decompress UDF and explode would
            # silently drop the blob rows
            self._state["has_blobs"] = True
        self._save_state()
        self._invalidate_cache()

        if keep > 0:
            for b in hot_dropped:
                self._fs.move(
                    f"{self.layout.hot_path}/time_bucket={b}",
                    f"{self.layout.trash_path(gen)}/time_bucket={b}",
                )
            for e in expired:
                for old_gen, b in e["superseded"]:
                    self._fs.delete(
                        f"{self.layout.cold_gen_path(int(old_gen))}/time_bucket={int(b)}"
                    )
                self._fs.delete(self.layout.trash_path(int(e["gen"])))
        else:
            # the reference purges its memindex range + advances the rick GC
            # offset (level.rs:430-459); here the unit of GC is the
            # partition directory
            for old_gen, b in superseded:
                self._fs.delete(f"{self.layout.cold_gen_path(old_gen)}/time_bucket={b}")
            for b in hot_dropped:
                self._fs.delete(f"{self.layout.hot_path}/time_bucket={b}")

    # ------------------------------------------------------------------ put
    def put(self, entries: DataFrame | Sequence[tuple[int, bytes, bytes]]) -> None:
        """Durable batch write (reference src/db.rs:45-47, sharding_put
        db.rs:143-160). The reference routes entries to shard threads by a
        key hash; Spark's writer parallelizes by partition instead — we
        repartition by key hash so each task writes a coherent key range per
        bucket, which is exactly the sharding semantics, minus the channels.
        """
        self._check_open()
        if not isinstance(entries, DataFrame):
            entries = self.spark.createDataFrame(
                [(int(t), bytes(k), bytes(v)) for t, k, v in entries], ENTRY_SCHEMA
            )
        # CAS-RESERVE the sequence number BEFORE any data lands: a writer
        # holding stale state loses here (ConcurrentWriterError) with zero
        # rows written, so a losing put can never leave orphan hot-path
        # rows carrying a seq the winner also used (LWW would then be
        # ambiguous). A crash after this reservation merely burns a seq.
        seq = self._state["seq"]
        self._state["seq"] = seq + 1
        self._save_state()
        df = (
            entries.select("ts", "key", "value")
            .withColumn("seq", F.lit(seq).cast("long"))
            .withColumn("time_bucket", self.layout.bucket_expr())
        )
        shard_on = (
            self.options.sharding_expr(F.col("key"))
            if self.options.sharding_expr is not None
            else F.col("key")
        )
        # A3 max-ts fold (level.rs:105-109) rides the write job as an
        # Observation metric instead of a second full pass over the input —
        # at ingest scale the input may be an expensive upstream plan.
        obs = Observation()
        (
            df.observe(obs, F.max("ts").alias("max_ts"))
            .repartition(self.options.num_shard, shard_on)
            .write.mode("append")
            .options(**_KEY_BLOOM)
            .partitionBy("time_bucket")
            .parquet(self.layout.hot_path)
        )
        self._invalidate_cache()

        max_ts = obs.get["max_ts"]
        if max_ts is not None and self.options.auto_maintain:
            self._handle_actions(self.reviewer.observe(int(max_ts)))
        self._save_state()

    def direct_put(self, shard_id: int, entries) -> None:
        """Parity shim for reference db.rs:49-51 — shard routing is Spark's
        job now, so this is put() (documented no-op distinction)."""
        self.put(entries)

    def bulk_load(
        self, entries: DataFrame | Sequence[tuple[int, bytes, bytes]]
    ) -> None:
        """Bulk COLD ingest: land a batch directly as a committed cold
        generation — ONE shuffle (the compaction group-by) + ONE partitioned
        write. ``put() -> compact()`` writes every byte twice (hot, then
        cold) and pays two commit cycles; a 100 TB backfill through this
        path pays one of each. This is the RocksDB ``IngestExternalFile`` /
        ClickHouse attach-part shape; the reference's closest analog is the
        rick append fast path it only uses internally (src/file/rick.rs:
        60-96) — exposing it for bulk ingest is an engine addition.

        Deliberately strict contract so correctness stays provable:

        - The batch's TIME BUCKETS must be disjoint from all existing data
          (hot partitions and cold manifest entries) — ``ValueError``
          otherwise, with nothing published (the staged generation dir is
          removed; a crash mid-raise leaves it for ``vacuum()``).
          Backfills own whole buckets; live ranges go through ``put()``.
          The overlap check runs on the STAGED output's partition values,
          so it costs a directory listing, not an extra pass over the
          input.
        - Duplicate (ts, key) rows within one batch resolve exactly like a
          compaction of equal-seq rows: the max value by byte order wins.
          Pre-dedup the batch for any other semantics.
        - The codec registry applies exactly as in a compaction: the
          dispatch picks each key's codec and blob codecs compress.

        Later ``put()``s into a bulk-loaded bucket behave exactly like
        late data into any compacted bucket: hot rows carry a real seq,
        cold rows read back as seq=-1, so the overwrite wins the LWW dedup
        and the next re-compaction folds it in.
        """
        self._check_open()
        if not isinstance(entries, DataFrame):
            entries = self.spark.createDataFrame(
                [(int(t), bytes(k), bytes(v)) for t, k, v in entries],
                ENTRY_SCHEMA,
            )
        # compact()'s chunks with every row at one seq: equal ts keeps the
        # max value, the winner a compaction picks for equal seq
        staged = self._stage_cold(
            self._encode_chunks(
                entries.select("ts", "key", "value")
                .withColumn("seq", F.lit(0).cast("long"))
                .withColumn("time_bucket", self.layout.bucket_expr())
            )
        )
        if staged is None:
            return  # empty batch: nothing to publish
        gen, produced, _ = staged
        manifest = self._state.get("cold_manifest") or {}
        hot_buckets = set(self._fs.list_buckets(self.layout.hot_path))
        clash = [b for b in produced if str(b) in manifest or b in hot_buckets]
        if clash:
            self._fs.delete(self.layout.cold_gen_path(gen))
            raise ValueError(
                f"bulk_load: time buckets {clash} already hold data — bulk "
                "ingest owns whole buckets; route live ranges through put()"
            )
        self._commit_cold(*staged)
        self._refresh_indexes()

    # ------------------------------------------------------------- get/scan
    @staticmethod
    def _has_data(path: str) -> bool:
        # local-FS fast path; remote URIs fall through to the reader
        if "://" in path:
            return True
        return os.path.isdir(path) and any(
            n.startswith("time_bucket=") for n in os.listdir(path)
        )

    def _read_tier(self, path: str, schema: T.StructType) -> Optional[DataFrame]:
        try:
            return self.spark.read.schema(schema).parquet(path)
        except AnalysisException as e:
            # a concurrent outdate/vacuum removed the tier after the caller
            # saw it; every other read failure (a corrupt or conflicting
            # layout) must surface, not read as an empty tier
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise

    def _hot_df(self) -> Optional[DataFrame]:
        if not self._has_data(self.layout.hot_path):
            return None
        return self._read_tier(self.layout.hot_path, HOT_SCHEMA)

    def _cold_df(self, manifest: Optional[dict] = None) -> Optional[DataFrame]:
        """Live cold rows per the committed manifest (or the given
        historical ``manifest``). The ``gen`` partition column is filtered
        to exactly the (gen, bucket) pairs the manifest references, so
        uncommitted staging generations (a crashed compact) and
        superseded-but-not-yet-GC'd generations are pruned at planning
        time — their files are never opened."""
        if manifest is None:
            manifest = self._state.get("cold_manifest") or {}
        if not manifest:
            return None
        df = self._read_tier(self.layout.cold_path, COLD_GEN_SCHEMA)
        if df is None:
            return None
        by_gen: dict[int, list[int]] = {}
        for bucket, gen in manifest.items():
            by_gen.setdefault(int(gen), []).append(int(bucket))
        pred = None
        for gen, buckets in by_gen.items():
            p = (F.col("gen") == gen) & F.col("time_bucket").isin(buckets)
            pred = p if pred is None else (pred | p)
        return df.where(pred).drop("gen")

    def _decode_cold(self, cold: DataFrame) -> DataFrame:
        """Explode cold chunks back to entry rows; blob codecs go through one
        Arrow-batched pandas UDF (the UDCF decompress path — reference
        fn_registry.rs:14-16, applied at level.rs:496-499). When no
        compaction has ever written a blob codec (the default-dispatch
        common case, tracked in engine state), the whole decode is a
        pure-JVM explode — no Python workers on the read path."""
        if not self._state.get("has_blobs"):
            decoded = cold
        else:
            registry = self.codecs

            @F.pandas_udf(CHUNK_TYPE)
            def decompress(codec_s, key_s, blob_s):
                import pandas as pd

                out = []
                # when()/otherwise() does not short-circuit pandas UDFs —
                # array rows reach here too and must pass through untouched.
                for codec, key, blob in zip(codec_s, key_s, blob_s):
                    if codec == ARRAY_CODEC or blob is None:
                        out.append(None)
                        continue
                    pairs = registry.get(codec).decompress(bytes(key), bytes(blob))
                    out.append([{"ts": ts, "value": v} for ts, v in pairs])
                return pd.Series(out)

            decoded = cold.withColumn(
                "chunk",
                F.when(F.col("codec") == F.lit(ARRAY_CODEC), F.col("chunk")).otherwise(
                    decompress("codec", "key", "blob")
                ),
            )
        return decoded.select(
            "key",
            "time_bucket",
            F.explode("chunk").alias("e"),
        ).select(
            F.col("e.ts").alias("ts"),
            "key",
            F.col("e.value").alias("value"),
            F.lit(-1).cast("long").alias("seq"),
            "time_bucket",
        )

    # ------------------------------------------------------------ read cache
    def _invalidate_cache(self) -> None:
        if self._entries_cache is not None:
            self._entries_cache.unpersist()
            self._entries_cache = None

    def _cached_entries(self) -> DataFrame:
        """The deduped logical entry view, persisted (M7 — the reference's
        LRU cache tier, src/cache.rs:12-162). Built lazily on first read,
        dropped on any mutation; repeated point reads then filter an
        in-memory columnar table instead of re-scanning parquet and
        re-running the dedup aggregate."""
        if self._entries_cache is None:
            self._entries_cache = _last_write_wins(
                self._prune(self._stored_df())
            ).persist(StorageLevel.MEMORY_AND_DISK)
        return self._entries_cache

    def _stored_df(
        self, manifest: Optional[dict] = None, extra_hot: Sequence[DataFrame] = ()
    ) -> DataFrame:
        """Every stored version: hot (plus ``extra_hot`` tiers) ∪ decoded
        cold rows (per ``manifest``, default the live one) as
        ``(ts, key, value, seq, time_bucket)``, before the last-write-wins
        dedup. Unlike the reference — whose scan misses keys that live only
        in compacted levels (SURVEY.md §3.3) — this view sees all levels;
        the survey calls that strictly-more-correct and we keep it."""
        parts = [p for p in (self._hot_df(), *extra_hot) if p is not None]
        cold = self._cold_df(manifest)
        if cold is not None:
            parts.append(self._decode_cold(cold))
        if not parts:
            return self.spark.createDataFrame([], HOT_SCHEMA)
        return functools.reduce(DataFrame.unionByName, parts)

    def _prune(
        self,
        df: DataFrame,
        ts_lo: Optional[int] = None,
        ts_hi: Optional[int] = None,
        buckets: Optional[Sequence[int]] = None,
    ) -> DataFrame:
        """Apply the ts range and the outdate cutoff. Bucket predicates
        derived from the range (or the exact ``buckets``) reach the parquet
        scan as partition filters — the reference's level pruning,
        level_info.rs:98-111, done by Catalyst instead of by hand."""
        if ts_lo is not None:
            df = df.where(
                (F.col("time_bucket") >= self.layout.bucket_of(ts_lo))
                & (F.col("ts") >= ts_lo)
            )
        if ts_hi is not None:
            df = df.where(
                (F.col("time_bucket") <= self.layout.bucket_of(ts_hi))
                & (F.col("ts") <= ts_hi)
            )
        if buckets is not None:
            df = df.where(F.col("time_bucket").isin(list(buckets)))
        cutoff = self._state.get("outdate_cutoff")
        if cutoff is not None:
            df = df.where(F.col("ts") > int(cutoff))
        return df

    def _entries_df(
        self,
        ts_lo: Optional[int] = None,
        ts_hi: Optional[int] = None,
        pre_filter=None,
    ) -> DataFrame:
        """Logical entry view: last-write-wins dedup on (ts, key) (overwrite
        semantics — reference src/file/rick.rs:403-417) with the read
        predicates applied. ``pre_filter`` (a key/ts predicate Column)
        applies BELOW the dedup: it groups by (ts, key), so dropping whole
        groups early is equivalent, and the dedup shuffle then carries only
        the selected rows instead of every entry in the ts range. With
        ``cache_reads`` on, predicates filter the persisted deduped view
        instead — equivalent placement for the same reason."""
        if self.options.cache_reads:
            df = self._prune(self._cached_entries(), ts_lo, ts_hi)
        else:
            df = self._prune(self._stored_df(), ts_lo, ts_hi)
        if pre_filter is not None:
            df = df.where(pre_filter)
        return df if self.options.cache_reads else _last_write_wins(df)

    def _probe_candidates(
        self,
        keys: Iterable[bytes],
        ts_lo: Optional[int],
        ts_hi: int,
        buckets: Optional[Sequence[int]] = None,
    ) -> DataFrame:
        """The point reads' shared candidate path: stored versions of
        ``keys`` (the cached deduped view with ``cache_reads`` on) pruned
        by bucket, ts and outdate cutoff, with the key set as a literal IN
        that reaches the parquet scan. No exchange — the callers resolve
        last-write-wins themselves."""
        src = self._cached_entries() if self.options.cache_reads else self._stored_df()
        return self._prune(src, ts_lo, ts_hi, buckets).where(
            F.expr(f"key IN ({', '.join(map(_binary_sql, sorted(keys)))})")
        )

    def _point_df(self, pairs: set[tuple[int, bytes]]) -> DataFrame:
        """Every stored version of exactly the ``(ts, key)`` pairs: the
        candidate path narrowed by a literal ``(ts, key)`` IN set, which
        Catalyst turns into one hash-set probe per row."""
        ts_set = {t for t, _ in pairs}
        exact = F.expr(
            "(ts, key) IN ("
            + ", ".join(f"({t}L, {_binary_sql(k)})" for t, k in sorted(pairs))
            + ")"
        )
        return (
            self._probe_candidates(
                {k for _, k in pairs},
                min(ts_set),
                max(ts_set),
                sorted({self.layout.bucket_of(t) for t in ts_set}),
            )
            .where(exact)
            .select("ts", "key", "value", "seq", "time_bucket")
        )

    def _live_probes(
        self, probes: Iterable[tuple[int, bytes]]
    ) -> set[tuple[int, bytes]]:
        """Distinct probes above the outdate cutoff: outdated timestamps
        answer None without a read (level_info.rs:98-111 ``None`` branch)."""
        cutoff = self._state.get("outdate_cutoff")
        return {
            (int(t), bytes(k))
            for t, k in probes
            if cutoff is None or int(t) > cutoff
        }

    def get(self, ts: int, key: bytes) -> Optional[bytes]:
        """Point lookup (reference src/db.rs:53-55, level routing
        level.rs:123-134): :meth:`get_many` with one probe, one job."""
        return self.get_many([(ts, key)]).get((int(ts), bytes(key)))

    def get_asof(self, ts: int, key: bytes) -> Optional[tuple[int, bytes]]:
        """Latest entry for ``key`` at or before ``ts`` — the as-of read a
        time-series store needs but the reference lacks: its
        compressed-chunk probe is exact-match only (binary_search ``.ok()``
        at src/level.rs:503-505 returns None on a miss instead of the
        previous value; SURVEY.md §2.3). Returns ``(found_ts, value)``;
        :meth:`get_many_asof` with one probe, two jobs. Retention still
        applies (an as-of read never resurrects outdated data)."""
        return self.get_many_asof([(ts, key)]).get((int(ts), bytes(key)))

    def get_raw(self, ts: int, key: bytes) -> Optional[tuple[str, bytes]]:
        """Point lookup WITHOUT running the decompress UDCF — the
        reference's ``ReadOption::no_decompress`` (src/option.rs:131-148):
        a caller shipping stored bytes elsewhere (backup, replication,
        cross-engine transfer) gets the blob exactly as compaction wrote
        it instead of paying a decompress + recompress round trip.

        Returns ``(codec, payload)``:

        * ``("raw", value)`` — the entry lives hot (uncompacted, wins LWW
          over any cold twin) or in a cold ARRAY chunk (native
          array<struct> storage, nothing to decompress): the exact value
          bytes :meth:`get` would return.
        * ``(codec_name, blob)`` — the key's series for ts's time bucket
          went through a blob UDCF at compaction: the stored compressed
          chunk, byte-identical to what is on disk. The chunk covers the
          key's WHOLE series in that bucket (chunks are per-(key, bucket)
          — the reference's compressed rick chunks likewise);
          ``CodecRegistry.get(codec).decompress(key, blob)`` yields its
          (ts, value) pairs, which need not include ``ts`` if the key has
          no entry there — the raw path hands back the container without
          probing inside it, exactly the no_decompress contract.
        * ``None`` — retired by retention, or no hot row and no cold
          chunk row exist for (key, bucket).
        """
        self._check_open()
        cutoff = self._state.get("outdate_cutoff")
        if cutoff is not None and ts <= cutoff:
            return None
        key_b, ts = bytes(key), int(ts)
        bucket = self.layout.bucket_of(ts)
        hot = self._hot_df()
        if hot is not None:
            row = (
                hot.where(
                    (F.col("time_bucket") == bucket)
                    & (F.col("ts") == ts)
                    & (F.col("key") == F.lit(key_b))
                )
                # same LWW winner as _last_write_wins's struct-max
                .agg(F.max(F.struct("seq", "value")).alias("_w"))
                .select("_w")
                .first()
            )
            if row is not None and row["_w"] is not None:
                return ("raw", bytes(row["_w"]["value"]))
        cold = self._cold_df()
        if cold is None:
            return None
        crow = (
            cold.where(
                (F.col("time_bucket") == bucket)
                & (F.col("key") == F.lit(key_b))
            )
            .select("codec", "chunk", "blob")
            .first()
        )
        if crow is None:
            return None
        if crow["codec"] == ARRAY_CODEC:
            for e in crow["chunk"]:
                if e["ts"] == ts:
                    return ("raw", bytes(e["value"]))
            return None
        return (crow["codec"], bytes(crow["blob"]))

    def scan_raw(
        self,
        time_range: Optional[tuple[int, int]] = None,
        key_range: Optional[tuple[bytes, bytes]] = None,
    ) -> DataFrame:
        """Stored-chunk scan without decode — the scan analog of
        :meth:`get_raw`: one row per live cold chunk
        ``(time_bucket, key, codec, chunk, blob)`` as compaction wrote it
        (blob codecs: ``chunk`` null + compressed ``blob``; array codec:
        native ``chunk`` + null ``blob``). No decompress UDCF runs and no
        explode happens — the plan is a manifest-pruned parquet scan, so
        exporting a bucket's compressed series moves the stored bytes and
        nothing else. Hot (uncompacted) entries are not chunks yet; read
        them with :meth:`scan`. Time bounds prune whole buckets (a chunk
        is kept if its bucket intersects the range); the key range is
        bytewise-lexical on the stored key."""
        self._check_open()
        cold = self._cold_df()
        if cold is None:
            return self.spark.createDataFrame(
                [], COLD_GEN_SCHEMA
            ).drop("gen").select("time_bucket", "key", "codec", "chunk", "blob")
        df = cold
        if time_range is not None:
            ts_lo, ts_hi = time_range
            df = df.where(
                (F.col("time_bucket") >= self.layout.bucket_of(int(ts_lo)))
                & (F.col("time_bucket") <= self.layout.bucket_of(int(ts_hi)))
            )
        cutoff = self._state.get("outdate_cutoff")
        if cutoff is not None:
            # buckets wholly at/below the cutoff are dropped by outdate's
            # manifest flip already; a bucket straddling it stays visible
            # here because its chunk is the stored unit (document: raw
            # export is chunk-grain, not row-grain)
            df = df.where(
                F.col("time_bucket") > self.layout.bucket_of(int(cutoff)) - 1
            )
        if key_range is not None:
            lo, hi = key_range
            df = df.where(
                (F.col("key") >= F.lit(bytes(lo)))
                & (F.col("key") <= F.lit(bytes(hi)))
            )
        return df.select(
            "time_bucket", "key", "codec", "chunk", "blob"
        ).orderBy("key", "time_bucket")

    def restore_chunks(self, chunks: DataFrame) -> None:
        """Import stored chunks (the :meth:`scan_raw` export shape:
        ``time_bucket, key, codec, chunk, blob``) into THIS engine WITHOUT
        decoding — the restore half of the raw replication path: source
        engine ``scan_raw`` → ship the stored bytes → destination
        ``restore_chunks``; compressed blobs move untouched, no
        decompress + recompress round trip anywhere (the operational use
        the reference's ``no_decompress`` exists for, src/option.rs:
        131-148, completed into a backup/replicate pair).

        Chunks land hash-partitioned by (key, bucket), as a compaction
        writes them, and commit like any cold write (:meth:`_commit_cold`:
        atomic manifest flip, history under ``keep_generations``, GC). A
        bucket already present is REPLACED (restore-wins), which may remove
        rows, so that restore invalidates registered indexes as ``outdate``
        does; otherwise it refreshes them. An empty ``chunks`` is a no-op.
        The destination must be opened with a codec registry that knows the
        imported codec names or later reads of those keys will fail."""
        self._check_open()
        staged = self._stage_cold(chunks.repartition("key", "time_bucket"))
        if staged is None:
            return
        manifest = self._state.get("cold_manifest") or {}
        replaced = [b for b in staged[1] if str(b) in manifest]  # restore-wins
        self._commit_cold(*staged)
        if replaced:
            self._invalidate_purged_indexes(
                f"restore_chunks replacing buckets {replaced}"
            )
        else:
            self._refresh_indexes()

    def direct_get(self, shard_id: int, ts: int, key: bytes) -> Optional[bytes]:
        """Point lookup naming the shard (reference src/db.rs:57-65
        ``direct_get`` / ``get_unchecked``). Spark owns data placement, so
        ``shard_id`` is accepted for API parity and ignored — the partition
        pruning in :meth:`get` already touches only the data that shard
        would hold."""
        return self.get(ts, key)

    def get_many(self, probes: Sequence[tuple[int, bytes]]) -> dict[tuple[int, bytes], bytes]:
        """Batched point lookups — one job for N probes (the reference
        coalesces batched rick reads the same way, src/file/rick.rs:116-154).
        This is the shape benchmarks should use: per-get job launch is
        Spark's latency floor, amortized here. Probes at or below the
        outdate cutoff and probes with no entry are absent from the result.

        The plan prunes to the probes' time_bucket partitions, then parquet
        key min/max stats and each file's key dictionary or bloom filter
        (``_KEY_BLOOM``) skip row groups — the SSTable index's job
        (src/file/sstable.rs), for free. It collects every stored version
        of the exact probe pairs (at most probes × versions per pair) and
        the driver picks the last-write-wins winner: the dedup aggregate's
        max-(seq, time_bucket, value) order, where Python ``bytes``
        compare unsigned like Spark binary."""
        self._check_open()
        pairs = self._live_probes(probes)
        if not pairs:
            return {}
        best: dict[tuple[int, bytes], tuple[int, int, bytes]] = {}
        for r in self._point_df(pairs).collect():
            pair = (r["ts"], bytes(r["key"]))
            w = (r["seq"], r["time_bucket"], bytes(r["value"]))
            if pair not in best or w > best[pair]:
                best[pair] = w
        return {pair: w[2] for pair, w in best.items()}

    def get_many_asof(
        self, probes: Sequence[tuple[int, bytes]]
    ) -> dict[tuple[int, bytes], tuple[int, bytes]]:
        """Batched as-of lookups — two jobs for N probes (one shuffle; the
        batched form of :meth:`get_asof`, same shape argument as
        :meth:`get_many`: per-probe job launch is Spark's latency floor).
        Returns ``{(probe_ts, key): (found_ts, value)}``; probes with no
        entry at or before their ts are absent from the result. The
        N-at-a-time as-of is the read pattern a feature-store /
        point-in-time-join client actually issues; the reference cannot
        express even the scalar form (its chunk probe is exact-match only,
        src/level.rs:503-505 — SURVEY.md §2.3). The heavy-N form of this
        is the asof_join operator (operators/asof.py, graded as
        kv_asof_probes); this wrapper keeps the dict-returning engine API
        shape for bounded probe sets.

        Each candidate row fans out to its key's probe timestamps through
        a literal key → probe-ts map, and one per-probe
        max-(ts, seq, time_bucket, value) aggregate picks the newest ts and,
        within it, the last-write-wins version — the dedup folded into the
        as-of aggregate."""
        self._check_open()
        pairs = self._live_probes(probes)
        if not pairs:
            return {}
        by_key: dict[bytes, list[int]] = {}
        for t, k in sorted(pairs):
            by_key.setdefault(k, []).append(t)
        probe_ts = F.expr(
            "map("
            + ", ".join(
                f"{_binary_sql(k)}, array({', '.join(f'{t}L' for t in ts)})"
                for k, ts in by_key.items()
            )
            + ")"
        )
        cutoff = self._state.get("outdate_cutoff")
        hits = (
            self._probe_candidates(
                by_key,
                int(cutoff) + 1 if cutoff is not None else None,
                max(t for t, _ in pairs),
            )
            .select("*", F.explode(probe_ts[F.col("key")]).alias("p_ts"))
            .where(F.col("ts") <= F.col("p_ts"))
            .groupBy("p_ts", "key")
            .agg(F.max(F.struct("ts", "seq", "time_bucket", "value")).alias("_w"))
            .select("p_ts", "key", "_w.ts", "_w.value")
            .collect()
        )
        return {
            (r["p_ts"], bytes(r["key"])): (r["ts"], bytes(r["value"]))
            for r in hits
        }

    def scan(
        self,
        time_range: tuple[int, int],
        key_range: Optional[tuple[bytes, bytes]] = None,
        comparator: comparators.Comparator = comparators.lexical,
    ) -> DataFrame:
        """Range scan (reference src/db.rs:67-74, per-shard level.rs:137-165).

        Returns a DataFrame ordered by (comparator(key), ts) — the reference's
        contract of key-major, then time order (src/level.rs:150-163). Both
        time bounds are inclusive, matching the *documented/tested* get-path
        semantics (TimeRange.contains, src/types/entry.rs:113-117) rather
        than the internal end-exclusive iteration quirk (SURVEY.md §1.1).
        Key range inclusive both ends and evaluated THROUGH the comparator
        (reference level.rs:145-149 passes cmp to the range check), so e.g.
        little-endian u64 keys range numerically, not bytewise. A None
        comparator (NoOrderComparator) makes the key-range predicate always
        true — an unordered full scan (reference util.rs:54-80, SURVEY F3).

        The reference implements scan as a key-ordered loop of point gets per
        shard plus a k-way heap merge on the client (iterator.rs:111-195);
        here it is one declarative plan — filter (pushed to parquet), the
        last-write-wins dedup, then a global sort. When the files an ordered
        scan's plan reads, after bucket pruning, hold at most
        ``SCAN_ONE_TASK_SORT_BYTES`` on disk, the sort runs in one task: the
        dedup's post-shuffle output is coalesced to one partition, which
        satisfies the sort's distribution, so no range exchange and no
        sampling job run (2 Spark jobs instead of 4), and the result is ONE
        partition. A scan of a built read cache counts every file the cache
        was built from and sorts in one task only when that whole cache is
        small (1 job instead of 3). Larger scans keep the range-partitioned
        sort shuffle, which scales out instead of serializing through one
        task. An unordered scan (``NO_ORDER``) keeps the dedup's partitions.
        Use ``.toLocalIterator()`` for the streamed, backpressured
        consumption the reference's bounded channels provide
        (option.rs:150-153).
        """
        self._check_open()
        ts_lo, ts_hi = time_range
        key_pred = None
        if key_range is not None and comparator is not None:
            lo, hi = key_range
            kexpr = comparator(F.col("key"))
            # key-only predicate — safe below the dedup window (whole (ts,key)
            # groups drop together), so the shuffle carries only the range
            key_pred = (kexpr >= comparator(F.lit(bytes(lo)))) & (
                kexpr <= comparator(F.lit(bytes(hi)))
            )
        df = self._entries_df(ts_lo=ts_lo, ts_hi=ts_hi, pre_filter=key_pred)
        df = df.select("ts", "key", "value")
        if comparator is not None:
            if _file_bytes(df._jdf.queryExecution().sparkPlan()) <= SCAN_ONE_TASK_SORT_BYTES:
                # one partition satisfies the sort's distribution, so it adds
                # no exchange. The coalesce sits after the dedup exchange, so
                # scan and decode keep their parallelism; over a cached view
                # it also takes the filter into the one task, which the gate
                # bounds by counting every file the cache was built from
                df = df.coalesce(1)
            df = _key_ordered(df, comparator)
        return df

    def scan_asof_commit(
        self,
        commits_back: int,
        time_range: tuple[int, int],
        key_range: Optional[tuple[bytes, bytes]] = None,
        comparator: comparators.Comparator = comparators.lexical,
    ) -> DataFrame:
        """Time travel: range-scan the DB as it stood immediately BEFORE the
        ``commits_back``-th most recent compaction commit (1 = before the
        latest). Read-only — unlike :meth:`rollback_compaction` nothing is
        restored or mutated, so snapshots of a live DB are free.

        Works because deferred GC (``keep_generations``) retains every byte
        a retained commit's previous state referenced: superseded cold dirs
        stay on disk (hidden by the manifest), dropped hot partitions park
        in trash/, and each history entry snapshots the pre-commit manifest
        plus the put-sequence watermark. A snapshot read is then: current
        hot ∪ the rewound commits' parked hot partitions ∪ cold per the
        historical manifest, with rows put after the snapshot's sequence
        watermark filtered out, under the same LWW dedup as a live scan.
        The reference cannot express this — its LEVEL_INFO advance is
        one-way (src/types/level_info.rs:98-111); engine addition.

        Raises ValueError if the history does not retain ``commits_back``
        contiguous commits (e.g. keep_generations too small, or a keep=0
        compact broke the chain). Retention caveat: an ``outdate`` between
        the snapshot point and now has physically dropped data — snapshots
        are exact only within the retention horizon.
        """
        self._check_open()
        history = list(self._state.get("commit_history") or [])
        if commits_back < 1 or commits_back > len(history):
            raise ValueError(
                f"scan_asof_commit: {commits_back} commits back not retained "
                f"(history holds {len(history)}; see keep_generations)"
            )
        tail = history[-commits_back:]
        next_gen = int(self._state.get("cold_gen_seq", 0))
        for i, e in enumerate(tail):
            if int(e["gen"]) != next_gen - commits_back + i:
                raise ValueError(
                    "scan_asof_commit: commit history is not contiguous with "
                    "the current state (a keep_generations=0 compact ran in "
                    "between)"
                )
        target = tail[0]
        seq_cut = target.get("seq_at_commit")
        # hot partitions the rewound commits parked in trash/
        parked = [
            self._read_tier(t, HOT_SCHEMA)
            for t in (self.layout.trash_path(int(e["gen"])) for e in tail)
            if self._fs.list_buckets(t)
        ]
        df = self._stored_df(target.get("manifest_before") or {}, parked)
        if seq_cut is not None:
            # cold rows carry seq=-1 and always pass — their generations are
            # manifest_before-listed, i.e. staged before the snapshot commit
            df = df.where(F.col("seq") < int(seq_cut))

        ts_lo, ts_hi = time_range
        df = df.where(
            (F.col("time_bucket") >= self.layout.bucket_of(ts_lo))
            & (F.col("time_bucket") <= self.layout.bucket_of(ts_hi))
            & (F.col("ts") >= ts_lo)
            & (F.col("ts") <= ts_hi)
        )
        if key_range is not None and comparator is not None:
            lo, hi = key_range
            kexpr = comparator(F.col("key"))
            df = df.where(
                (kexpr >= comparator(F.lit(bytes(lo))))
                & (kexpr <= comparator(F.lit(bytes(hi))))
            )
        df = _last_write_wins(df).select("ts", "key", "value")
        if comparator is not None:
            df = _key_ordered(df, comparator)
        return df

    def scan_iter(
        self,
        time_range: tuple[int, int],
        key_range: Optional[tuple[bytes, bytes]] = None,
        comparator: comparators.Comparator = comparators.lexical,
        prefetch: bool = True,
    ) -> Iterator[Row]:
        """Streamed scan consumption: yield rows in scan order while holding
        at most one partition (plus one prefetched) on the driver — the
        reference's pull-based iterator with a bounded prefetch buffer
        (``ScanOption.prefetch_buf_size``, src/option.rs:150-153, consumed
        at db.rs:215). The global sort in :meth:`scan` is either one
        partition or a range-partitioned shuffle, so partition-by-partition
        consumption preserves the (comparator(key), ts) order end to end;
        ``prefetch=False`` turns off the lookahead for a strictly-one-
        partition memory bound. An ordered scan small enough to sort in one
        task arrives as that one partition, so the driver holds its whole
        result — rows from at most ``SCAN_ONE_TASK_SORT_BYTES`` of on-disk
        files."""
        df = self.scan(time_range, key_range, comparator)
        return df.toLocalIterator(prefetchPartitions=prefetch)

    def commit_diff(
        self,
        commits_back: int,
        time_range: tuple[int, int],
        key_range: Optional[tuple[bytes, bytes]] = None,
        comparator: comparators.Comparator = comparators.lexical,
    ) -> DataFrame:
        """Change-data-capture between the snapshot ``commits_back`` commits
        ago (see :meth:`scan_asof_commit`) and the live view: one full outer
        join on the (ts, key) identity, classifying every difference as
        ``added`` (new entry since the snapshot), ``updated`` (same identity,
        different value — a LWW overwrite) or ``deleted`` (visible then,
        gone now, e.g. via outdate). Unchanged entries are never emitted, so
        the result is the incremental feed a downstream materialization
        would consume. Engine addition: the reference's LEVEL_INFO advance
        is one-way (src/types/level_info.rs:98-111) and it has no diff
        surface at all (src/db.rs:32-80).

        One shuffle on (ts, key) joining two scans that each prune to the
        requested time buckets / key range — the diff never reads more than
        the two views of the window being compared.
        """
        old = self.scan_asof_commit(
            commits_back, time_range, key_range, comparator
        ).select(
            "ts", "key", F.col("value").alias("old_value")
        )
        new = self.scan(time_range, key_range, comparator).select(
            "ts", "key", F.col("value").alias("new_value")
        )
        d = old.join(new, ["ts", "key"], "full_outer")
        change = (
            F.when(F.col("old_value").isNull(), "added")
            .when(F.col("new_value").isNull(), "deleted")
            .otherwise("updated")
        )
        d = d.where(
            F.col("old_value").isNull()
            | F.col("new_value").isNull()
            | (F.col("old_value") != F.col("new_value"))
        ).select("ts", "key", change.alias("change"), "old_value", "new_value")
        if comparator is not None:
            d = d.orderBy(comparator(F.col("key")), F.col("ts"))
        return d

    # ------------------------------------------------------------ maintenance
    def _handle_actions(self, actions: Iterable[TimestampAction]) -> None:
        """Reference src/level.rs:307-346 minus the shard mesh (one Spark job
        covers all partitions — SURVEY.md M5)."""
        compacted = False
        for action in actions:
            if isinstance(action, Compact):
                self.compact(action.start, action.end)
                compacted = True
            elif isinstance(action, Outdate):
                self.outdate(action.ts)
        if compacted and self.options.optimize_target_bytes:
            self.optimize(int(self.options.optimize_target_bytes))

    def compact(self, start_ts: int, end_ts: int) -> None:
        """Move [start_ts, end_ts] (inclusive) from hot to cold
        (reference src/level.rs:356-459).

        Per bucket: last-write-wins dedup, group by key,
        ``sort_array(collect_list(struct(ts,value)))`` — exactly the
        reference's HashMap group + sort (level.rs:387-397, SURVEY A1) as one
        shuffle — then the codec registry (:meth:`_encode_chunks`).
        Idempotent per bucket: cold rows for the bucket are replaced, and hot
        partition dirs are dropped afterwards — so re-compacting after late
        data is safe (unlike the reference, whose late puts become
        unreachable — SURVEY.md §2.10 caveat). Commits write-new-then-flip
        (:meth:`_commit_cold`); the hot partitions the range fully covers
        are its GC.

        Two Spark jobs (the group-by's shuffle-map job and the write) and
        no emptiness probe. A range returns with no job when the driver
        listing finds no hot bucket dir in it, or when the ``ts`` footer
        statistics of its hot files all miss it; a range whose hot files
        span it without holding a row in it is found by a row count
        observed on the write, whose staged generation is then discarded
        uncommitted.
        """
        self._check_open()
        b_lo, b_hi = self.layout.bucket_of(start_ts), self.layout.bucket_of(end_ts)
        buckets = [
            b for b in self._fs.list_buckets(self.layout.hot_path)
            if b_lo <= b <= b_hi
        ]
        if not buckets or self._hot_footers_miss(buckets, start_ts, end_ts):
            return
        hot = self._read_tier(self.layout.hot_path, HOT_SCHEMA)
        if hot is None:
            return
        hot_rows = Observation()
        src = hot.where(
            (F.col("time_bucket") >= b_lo)
            & (F.col("time_bucket") <= b_hi)
            & (F.col("ts") >= start_ts)
            & (F.col("ts") <= end_ts)
        ).observe(hot_rows, F.count(F.lit(1)).alias("n"))

        # A re-compaction (the late-data path) REPLACES the affected cold
        # bucket partitions below, so the previously compacted rows of those
        # buckets must ride along — all of them, not just [start_ts, end_ts]:
        # an earlier partial-range compaction may have left rows outside this
        # range in the same bucket. Cold rows carry seq=-1, so any hot
        # overwrite of the same (ts, key) still wins the dedup.
        cold_prev = self._cold_df()
        if cold_prev is not None:
            src = src.unionByName(
                self._decode_cold(
                    cold_prev.where(
                        (F.col("time_bucket") >= b_lo)
                        & (F.col("time_bucket") <= b_hi)
                    )
                )
            )
        staged = self._stage_cold(self._encode_chunks(src))
        if staged is None:
            return
        if not hot_rows.get["n"]:
            # only cold rows were restaged: nothing moves, so nothing commits
            self._discard_cold(staged[0])
            return
        full_lo = start_ts // self.layout.rick_range
        if start_ts % self.layout.rick_range:
            full_lo += 1  # never drop a bucket the range only partially covers
        full_hi = (end_ts + 1) // self.layout.rick_range - 1
        self._commit_cold(*staged, hot_dropped=range(full_lo, full_hi + 1))
        self._refresh_indexes(bounds=(start_ts, end_ts))

    def _hot_footers_miss(
        self, buckets: list[int], start_ts: int, end_ts: int
    ) -> bool:
        """True when the parquet footers of the hot files in ``buckets``
        prove no row has ``ts`` in [start_ts, end_ts]: every row group's
        ``ts`` min/max lies outside it. Read on the driver (pyarrow opens
        only the footers), so no Spark job runs. A remote store, a row
        group without ``ts`` statistics or an unreadable footer answers
        False, and the row count observed on the compaction's write
        decides instead."""
        if self._fs.remote:
            return False
        try:
            import pyarrow.parquet as pq

            for b in buckets:
                d = f"{self.layout.hot_path}/time_bucket={b}"
                for f in os.scandir(d):
                    if not (f.is_file() and f.name.endswith(".parquet")):
                        continue
                    md = pq.read_metadata(f.path)
                    col = md.schema.names.index("ts")
                    for i in range(md.num_row_groups):
                        rg = md.row_group(i)
                        if rg.num_rows == 0:
                            continue
                        st = rg.column(col).statistics
                        if st is None or not st.has_min_max:
                            return False
                        if st.min <= end_ts and st.max >= start_ts:
                            return False
            return True
        except (ImportError, ValueError, OSError):
            return False

    def _encode_chunks(self, src: DataFrame) -> DataFrame:
        """Cold rows ``(key, codec, chunk, blob, time_bucket)`` from stored
        versions ``(ts, key, value, seq, time_bucket)``, the chunk builder
        of :meth:`compact` and :meth:`bulk_load`.

        ONE shuffle: group straight to (key, bucket) chunks carrying seq,
        then last-write-wins-dedup INSIDE the sorted array (keep the last
        element of every ts-run). sort_array orders by (ts, seq, value), so
        the kept element is the highest seq per ts — the same winner the
        reference's offset-ordered memindex rebuild picks (src/file/rick.rs:
        403-417) — and among equal seqs the max value. Then the dispatch fn
        picks a codec per key (fn_registry.rs:46-49) and blob codecs run in
        one pandas UDF pass (UDCF compress, fn_registry.rs:8-12)."""
        raw = F.col("_raw")
        grouped = (
            src.groupBy("key", "time_bucket")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("ts", "seq", "value"))
                ).alias("_raw")
            )
            .select(
                "key",
                "time_bucket",
                F.transform(
                    F.filter(
                        raw,
                        # F.get is 0-based and NULL-safe out of bounds (ANSI
                        # sessions error on element_at past the end)
                        lambda x, i: (i == F.size(raw) - 1)
                        | (F.get(raw, i + 1)["ts"] != x["ts"]),
                    ),
                    lambda x: F.struct(
                        x["ts"].alias("ts"), x["value"].alias("value")
                    ),
                ).alias("chunk"),
            )
        )
        registry = self.codecs
        if not registry.custom_dispatch:
            # default dispatch: every key stores natively — no Python at all
            return grouped.select(
                "key",
                F.lit(ARRAY_CODEC).alias("codec"),
                "chunk",
                F.lit(None).cast("binary").alias("blob"),
                "time_bucket",
            )

        @F.pandas_udf(T.StringType())
        def pick_codec(key_s):
            import pandas as pd

            return pd.Series([registry.dispatch(bytes(k)) for k in key_s])

        @F.pandas_udf(T.BinaryType())
        def compress(codec_s, key_s, chunk_s):
            import pandas as pd

            out = []
            # when()/otherwise() does not short-circuit pandas UDFs —
            # array rows reach here too and must yield a null blob.
            for codec, key, chunk in zip(codec_s, key_s, chunk_s):
                if codec == ARRAY_CODEC:
                    out.append(None)
                    continue
                pairs = [(int(e["ts"]), bytes(e["value"])) for e in chunk]
                out.append(registry.get(codec).compress(bytes(key), pairs))
            return pd.Series(out)

        return (
            grouped.withColumn("codec", pick_codec("key"))
            .withColumn(
                "blob",
                F.when(
                    F.col("codec") == F.lit(ARRAY_CODEC),
                    F.lit(None).cast("binary"),
                ).otherwise(compress("codec", "key", "chunk")),
            )
            .withColumn(
                "chunk",
                F.when(
                    F.col("codec") == F.lit(ARRAY_CODEC), F.col("chunk")
                ).otherwise(F.lit(None).cast(CHUNK_TYPE)),
            )
            .select("key", "codec", "chunk", "blob", "time_bucket")
        )

    def rollback_compaction(self) -> bool:
        """Undo the most recent compaction commit — restore the previous
        manifest and un-park the hot partitions it dropped. Returns False
        when there is nothing to roll back (no history retained; see
        ``HelixOptions.keep_generations``).

        Sound because deferred GC keeps every byte the previous state
        referenced: superseded cold dirs were never deleted (the manifest
        merely stopped pointing at them) and dropped hot partitions moved
        to trash/ instead of dying. The rolled-back generation dir becomes
        an uncommitted staging leftover — the next compact's
        mode("overwrite") or ``vacuum()`` clears it.
        """
        self._check_open()
        history = list(self._state.get("commit_history") or [])
        if not history:
            return False
        e = history.pop()
        gen = int(e["gen"])
        # The entry must describe the MOST RECENT commit. A keep==0 compact
        # (e.g. the DB reopened with keep_generations=0) bumps cold_gen_seq
        # without appending history AND immediately GC's what it superseded
        # — a stale entry would "restore" a manifest whose dirs are gone.
        if gen != int(self._state.get("cold_gen_seq", 0)) - 1:
            return False
        for b in e["hot_dropped"]:
            src = f"{self.layout.trash_path(gen)}/time_bucket={int(b)}"
            dst = f"{self.layout.hot_path}/time_bucket={int(b)}"
            if self._fs.exists(dst):
                # puts since the compaction re-created this bucket dir —
                # merge file-by-file (uuid part names cannot collide) so
                # the new writes survive; LWW dedup reconciles the rows
                for name in self._fs.listdir(src):
                    self._fs.move(f"{src}/{name}", f"{dst}/{name}")
                self._fs.delete(src)
            else:
                self._fs.move(src, dst)
        self._fs.delete(self.layout.trash_path(gen))
        self._state["cold_manifest"] = dict(e["manifest_before"])
        self._state["cold_gen_seq"] = gen
        self._state["commit_history"] = history
        self._save_state()
        self._invalidate_cache()
        return True

    def vacuum(self) -> None:
        """Collect garbage a crashed GC left behind: cold bucket dirs no
        manifest entry references, and empty generation dirs. Safe to run
        any time — the manifest is the single source of truth for liveness
        (together with the rollback history's retained references), so
        nothing here can touch live or restorable data."""
        self._check_open()
        manifest: dict = self._state.get("cold_manifest") or {}
        live = {(int(g), int(b)) for b, g in manifest.items()}
        # dirs a retained rollback entry still references are not garbage
        for e in self._state.get("commit_history") or []:
            live |= {
                (int(g), int(b))
                for b, g in (e.get("manifest_before") or {}).items()
            }
            live |= {(int(g), int(b)) for g, b in e.get("superseded") or []}
        next_gen = int(self._state.get("cold_gen_seq", 0))
        for name in self._fs.listdir(self.layout.cold_path):
            if not name.startswith("gen="):
                continue
            gen = int(name.split("=", 1)[1])
            gen_dir = self.layout.cold_gen_path(gen)
            if gen >= next_gen:  # uncommitted staging leftovers
                self._fs.delete(gen_dir)
                continue
            for b in self._fs.list_buckets(gen_dir):
                if (gen, b) not in live:
                    self._fs.delete(f"{gen_dir}/time_bucket={b}")
            if not self._fs.list_buckets(gen_dir):
                self._fs.delete(gen_dir)
        # trash/commit=G parking dirs are restorable only while a history
        # entry references G; orphans (a crash between compact's expired-GC
        # deletes, a mid-rollback crash, or keep_generations lowered) would
        # otherwise leak disk forever.
        retained = {
            int(e["gen"]) for e in self._state.get("commit_history") or []
        }
        trash_root = f"{self.layout.base_path}/trash"
        for name in self._fs.listdir(trash_root):
            if not name.startswith("commit="):
                continue
            if int(name.split("=", 1)[1]) not in retained:
                self._fs.delete(f"{trash_root}/{name}")

    def optimize(self, target_file_bytes: int = 128 << 20) -> dict:
        """Bin-pack small cold files into target-size files — the
        Delta-OPTIMIZE analog of the reference's background compaction
        scheduler (QueueUpCompSched, src/compact_sched.rs:16-143), for the
        file-count axis instead of the merge axis. Repeated late-data
        re-compactions each rewrite a bucket with up-to-shuffle-partition
        files; at 100 TB that accumulates into the classic small-file tax
        (footer reads + task-per-file scheduling). This op rewrites ONLY
        buckets whose file count exceeds ceil(bytes/target), routing rows
        to ceil-many splits by key hash. It reads the planned buckets
        through the manifest-pruned cold read path and commits through the
        same stage / flip / GC path as compact (:meth:`_commit_cold`) — so
        a crash at any point leaves the previous packing live, and
        ``rollback_compaction`` undoes an optimize the same way it undoes a
        compact.

        Pure rewrite: row content is byte-identical (LWW merge already
        happened at compact time); only file boundaries change — asserted
        by the scan-parity test. Returns {bucket: packed_file_count} for
        the rewritten buckets ({} = nothing needed)."""
        self._check_open()
        manifest: dict = self._state.get("cold_manifest") or {}
        plan: dict[int, int] = {}
        for b, g in manifest.items():
            d = f"{self.layout.cold_gen_path(int(g))}/time_bucket={int(b)}"
            sizes = self._fs.file_sizes(d)
            if not sizes:
                continue
            want = max(1, math.ceil(sum(sizes.values()) / target_file_bytes))
            if len(sizes) > want:
                plan[int(b)] = want
        if not plan:
            return {}

        # live rows of exactly the planned buckets, via the same pruned
        # cold read path queries use (uncommitted/superseded gens never
        # opened); each bucket's rows route into its `want` splits by key
        # hash, so one write pass packs every planned bucket
        want_df = F.broadcast(
            self.spark.createDataFrame(
                [(b, w) for b, w in plan.items()], "time_bucket long, _want int"
            )
        )
        staged = self._stage_cold(
            self._cold_df({str(b): manifest[str(b)] for b in plan})
            .join(want_df, "time_bucket")
            .withColumn("_split", F.pmod(F.xxhash64("key"), F.col("_want")))
            .repartition("time_bucket", "_split")
            # key-clustered packing: sorted rows tighten every row-group's
            # key min/max (and its bloom), so point gets and key-range
            # scans skip more of the packed file than of the original
            # task-ordered files — free at rewrite time
            .sortWithinPartitions("key")
        )
        if staged is None:
            return {}
        self._commit_cold(*staged)
        self._refresh_indexes()
        return {b: plan[b] for b in staged[1]}

    def outdate(self, cutoff_ts: int) -> None:
        """Retention: retire data with ts <= cutoff (reference
        TimestampAction::Outdate, src/level.rs:535-536; the reference's
        actual deletion is ``todo!()`` — level.rs:476-484 — ours works).
        Whole partition directories are dropped without reading them; a
        cutoff inside a bucket is enforced by the read-path filter until the
        bucket fully ages out.

        Commit order mirrors compact: the state flip (cutoff + manifest
        entry removal) lands FIRST in one atomic replace, then directories
        are deleted. A crash mid-delete leaves dirs the reader either
        ignores (cold: no manifest entry) or filters out row-wise (hot:
        every row in a dropped bucket has ts <= cutoff) — so a partially
        deleted partition is never a torn read."""
        self._check_open()
        self._invalidate_cache()
        prev = self._state.get("outdate_cutoff")
        cutoff = max(int(cutoff_ts), prev) if prev is not None else int(cutoff_ts)
        self._state["outdate_cutoff"] = cutoff
        last_full_bucket = (cutoff + 1) // self.layout.rick_range - 1
        manifest = dict(self._state.get("cold_manifest") or {})
        dead = [(b, int(g)) for b, g in manifest.items() if int(b) <= last_full_bucket]
        for b, _ in dead:
            del manifest[b]
        self._state["cold_manifest"] = manifest
        self._save_state()
        for b, gen in dead:
            self._fs.delete(f"{self.layout.cold_gen_path(gen)}/time_bucket={b}")
        hot_buckets = [
            int(name.split("=", 1)[1])
            for name in self._fs.listdir(self.layout.hot_path)
            if name.startswith("time_bucket=")
        ]
        dropped_hot = [b for b in hot_buckets if b <= last_full_bucket]
        for b in dropped_hot:
            self._fs.delete(f"{self.layout.hot_path}/time_bucket={b}")
        # Purge decision for registered indexes from facts this call already
        # holds — NO Spark jobs (r8 counted the corpus once per index here):
        #   * whole buckets dropped -> rows definitely left the live view;
        #   * cutoff advanced into an OCCUPIED partial bucket -> rows with
        #     ts <= cutoff in it are now read-path-filtered, so rows MAY
        #     have left the live view (bucket-granularity conservative).
        # Conservative staleness costs a rebuild at worst; it is also
        # STRICTLY SAFER than the r8 count heuristic, which missed purges
        # whenever the index covered only a prefix of a still-larger corpus.
        pb = cutoff // self.layout.rick_range  # the partially-covered bucket
        advanced = prev is None or cutoff > prev
        partial_occupied = pb > last_full_bucket and (
            str(pb) in manifest or pb in hot_buckets
        )
        if dead or dropped_hot or (advanced and partial_occupied):
            self._invalidate_purged_indexes(f"retention (outdate cutoff={cutoff})")

    # ------------------------------------------------------------------ SQL
    def entries_view(self, name: str = "entries") -> DataFrame:
        """Register the logical entry set (hot ∪ decoded cold, deduped,
        retention-filtered) as a temp view — the SQL surface the reference
        lacks entirely (SURVEY.md §7.1 phase 6)."""
        df = self._entries_df().select("ts", "key", "value")
        df.createOrReplaceTempView(name)
        return df

    def sql(self, query: str, view_name: str = "entries") -> DataFrame:
        """Run SQL over the entry view: ``db.sql("SELECT count(*) FROM
        entries")``. Joins/aggregates/windows over KV data come from Spark
        SQL for free once the view exists."""
        self._check_open()
        self.entries_view(view_name)
        return self.spark.sql(query)

    # ------------------------------------------------------ index maintenance
    def register_index(
        self,
        store,
        name: str,
        corpus_fn,
        max_segments: int = 8,
        drift_threshold: float | None = None,
        drift_action: str = "invalidate",
        delta_scan: bool = False,
        **append_kw,
    ) -> None:
        """Register a persisted ANN index for automatic maintenance: after
        every cold commit (``compact``, ``bulk_load``, ``optimize``, a
        ``restore_chunks`` into new buckets), the engine appends the
        index's ingest delta (``AnnIndexStore.append_*`` under the frozen
        hash state) so the index version tracks the corpus version without
        a manual rebuild — the reference folds exactly this into compaction
        (index rebuilt per compacted level, src/file/sstable.rs:94-143
        driven by src/level.rs:430-447).

        ``corpus_fn(db) -> DataFrame`` supplies the current corpus (e.g. a
        decode of the engine's own entries, or the external table the
        index mirrors). Registration is session-local — it names the
        refresh policy of THIS maintenance process, not persisted state.
        Appends are no-ops when the corpus gained nothing (no generation
        burned), and ``validate()`` still refuses stale indexes for
        readers outside this process.

        ``max_segments`` bounds the segment-chain debt each refresh cycle
        adds: once the committed chain exceeds it, the same maintenance
        pass folds the chain back to ONE segment
        (``AnnIndexStore.compact_index`` — answers unchanged, file count
        bounded). The reference's compaction scheduler exists precisely to
        bound this class of debt (src/compact_sched.rs:16-143: queued
        compactions with a delay threshold); ``None`` opts out (manual
        ``compact_index`` only).

        Maintenance is APPEND-ONLY: retention (``outdate``) cannot remove
        rows from committed index segments, so an ``outdate()`` that may
        have removed live rows (whole buckets dropped, or the cutoff
        landing inside an occupied bucket — decided from the commit's own
        facts, no Spark jobs) INVALIDATES every registered index
        (``AnnIndexStore.invalidate``) — probes raise ``StaleIndexError``
        rather than silently serving ids for purged rows; rebuilding is
        the owner's call. Bucket-granularity conservatism: a cutoff inside
        an occupied bucket flips indexes stale even if no row actually
        fell below it; the rebuild is the price of never re-counting the
        corpus on the retention path.

        ``drift_threshold`` (r9) closes the drift loop the audit rows
        (`ann_ivf_drift_stats` / `ann_appended_drift_audit`) were built
        toward: frozen-quantizer appends are bit-exact but decay silently
        as the ingested distribution drifts from the fit corpus, and
        without a policy the maintenance loop appends forever. With a
        threshold set (IVF indexes only — the stat reads list routing),
        every append also computes the cheap assignment-SHARE drift
        statistic (``AnnIndexStore.ivf_share_drift`` — the total-variation
        distance between the newest segment's per-list assignment shares
        and the fit segment's, from the per-list counts the descriptor
        records at write time, or one scan of the lists table's (seg,
        centroid_id) pairs past ``LIST_COUNT_META_CAP`` lists; no vectors,
        NO truth tier). An empty newest
        segment has drift 0.0, so a commit that adds no corpus rows never
        trips the policy. When it exceeds the threshold, ``drift_action``
        fires:

        - ``"invalidate"`` (default): flip the index stale — readers get
          ``StaleIndexError`` instead of silently degraded recall, and
          the rebuild is the owner's explicit call;
        - ``"refit"``: re-fit from ``corpus_fn`` IN THE SAME maintenance
          pass with fresh quantizers (same stride/columns), resetting the
          chain to one segment — the self-healing mode.

        The reference never faces this choice because its on-disk index
        is exact (src/types/sstable.rs:115-121); bounding exactly this
        class of maintenance debt is what its compaction scheduler exists
        for (src/compact_sched.rs:16-143).

        ``delta_scan`` (r12, an optimization contract): promise that (a)
        ``corpus_fn`` derives its rows 1:1 from ``db.scan`` ts ranges, and
        (b) maintenance commits cover strictly increasing, never-repeated
        ts ranges (the tumbling ``SimpleTimestampReviewer`` shape — NOT
        manual re-compaction of old ranges). Under that promise each
        refresh calls ``corpus_fn`` on a scan-restricted engine view of
        the commit's ts range and appends with ``assume_new=True``: the
        maintenance pass shingles/hashes only the commit's delta and never
        re-scans the committed chain — O(commit) instead of O(corpus) per
        cycle, bit-identical by the append functions' frozen-state
        contract. Supported for lsh/ivf/minhash registrations; a violated
        promise double-appends the re-committed rows (it never corrupts
        committed segments)."""
        if drift_action not in ("invalidate", "refit"):
            raise ValueError(
                f"drift_action must be 'invalidate' or 'refit', got "
                f"{drift_action!r}"
            )
        self._index_registry.append(
            (store, name, corpus_fn, max_segments, drift_threshold,
             drift_action, delta_scan, append_kw)
        )

    def _refresh_indexes(self, bounds: "tuple[int, int] | None" = None) -> None:
        for (store, name, corpus_fn, max_segments, drift_threshold,
             drift_action, delta_scan, kw) in self._index_registry:
            info = store.list_indexes().get(name)
            if info is None or info["stale"]:
                continue  # never built / invalidated — rebuilding is the
                # owner's call, not the maintenance loop's
            append = getattr(store, f"append_{info['kind']}")
            if delta_scan and bounds is not None and info["kind"] in (
                "lsh", "ivf", "minhash"
            ):
                # O(commit) refresh (r12): corpus_fn reads a scan-restricted
                # view of the engine, so the append shingles/hashes ONLY the
                # commit's ts range, and assume_new skips the committed-id
                # anti-join — cost per maintenance cycle is the delta, not
                # the corpus. Only valid under the delta_scan registration
                # promise (corpus rows derive 1:1 from scan ts, commits are
                # disjoint in ts).
                new_desc = append(
                    corpus_fn(_ScanRestrictedView(self, *bounds)),
                    name=name, assume_new=True, **kw
                )
            else:
                new_desc = append(corpus_fn(self), name=name, **kw)
            if drift_threshold is not None and self._drift_tripped(
                store, name, new_desc, drift_threshold, drift_action, corpus_fn
            ):
                continue  # refit reset the chain / invalidate ended it
            if (
                max_segments is not None
                and len(new_desc["segments"]) > max_segments
            ):
                store.compact_index(name)

    def _drift_tripped(
        self, store, name, desc, threshold, action, corpus_fn
    ) -> bool:
        """Post-append drift policy (see register_index): total-variation
        distance between the newest segment's per-list assignment shares
        and the fit segment's; above the threshold either invalidate or
        re-fit. Driver state is one stat row — never corpus-sized."""
        if desc["kind"] != "ivf":
            raise ValueError(
                "drift_threshold reads IVF list routing; index "
                f"{name!r} is kind {desc['kind']!r} (only 'ivf' supports it)"
            )
        if len(desc["segments"]) <= 1:
            return False  # nothing appended yet — no drift to measure
        drift = float(store.ivf_share_drift(name).first()["share_drift"])
        if drift <= threshold:
            return False
        if action == "refit":
            s = desc["stride"]
            store.write_ivf(
                corpus_fn(self),
                name=name,
                stride=s if s == "sqrt" else int(s),
                id_col=desc["id_col"],
                vec_col=desc["vec_col"],
            )
        else:
            store.invalidate(
                name,
                f"assignment-share drift {drift:.6f} > threshold "
                f"{threshold} (newest segment routes into different lists "
                "than the fit corpus)",
            )
        return True

    def _invalidate_purged_indexes(self, reason: str) -> None:
        """Hook for commits that may have removed live rows (retention,
        a restore replacing a bucket): appended index segments cannot lose
        rows, so every registered index may be serving purged ids — flip
        them stale (see register_index docstring). The caller decides MAY
        from its own commit facts (buckets dropped / cutoff inside an
        occupied bucket / buckets replaced), so this path launches no Spark
        jobs; the r8 version counted the corpus once per index per
        outdate()."""
        for store, name, *_rest in self._index_registry:
            info = store.list_indexes().get(name)
            if info is None or info["stale"]:
                continue
            store.invalidate(
                name,
                f"{reason} may have purged rows covered by the index "
                f"(n_rows={info['n_rows']})",
            )

    # ------------------------------------------------------------------ misc
    def user_keys(self) -> DataFrame:
        """Distinct user keys (reference MemIndex.user_keys, src/index.rs:80-86)."""
        return self._entries_df().select("key").distinct()

    def key_counts(self) -> DataFrame:
        """Per-key entry counts (reference src/index.rs:13-14)."""
        return self._entries_df().groupBy("key").agg(F.count("*").alias("count"))

    def approx_key_count(self) -> int:
        """HLL estimate of the distinct-key count (~6.5% standard error).

        ``user_keys().count()`` shuffles every key; at 100 TB a cardinality
        probe should cost one map-side-combinable pass with O(256) state —
        the engine-side use of operators.sketches (the reference's unused
        FilterBlocks slot, protos/flatbuffer/helix.fbs:53-57, is the
        closest native analog of sketch-assisted reads)."""
        from helixdb_spark.operators import sketches

        regs = sketches.hll_registers(
            self._entries_df().select(F.hex(F.col("key")).alias("k")), "k"
        )
        row = sketches.hll_estimate(regs, "key").first()
        return int(round(row["estimate"]))

    def close(self) -> None:
        """Graceful shutdown (reference src/db.rs:76-79). State is already
        durable after every put; nothing to drain."""
        self._save_state()
        self._invalidate_cache()
        self._closed = True



class _ScanRestrictedView:
    """Engine view whose ``scan`` intersects the caller's ts range with a
    maintenance commit's range. ``_refresh_indexes`` hands this to
    ``corpus_fn`` for ``delta_scan`` registrations so a refresh reads the
    commit's delta instead of the whole corpus; every other attribute
    forwards to the real engine."""

    def __init__(self, db: "HelixSpark", lo: int, hi: int) -> None:
        self._db, self._lo, self._hi = db, lo, hi

    def scan(self, ts_range, *args, **kwargs):
        lo, hi = ts_range
        return self._db.scan(
            (max(int(lo), self._lo), min(int(hi), self._hi)), *args, **kwargs
        )

    def __getattr__(self, item):
        return getattr(self._db, item)
