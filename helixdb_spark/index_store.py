"""Persisted ANN index store — PQ codes/codebooks, LSH bucket tables,
MinHash band/shingle tables and IVF inverted lists written next to the data
under the engine's write-new-then-flip layout.

The reference persists its index structures beside the data and reopens
them instead of rebuilding (SSTable build + load, src/file/sstable.rs:94-143);
this module is the ANN counterpart for the Spark engine: a fitted index is
a one-time corpus pass whose artifacts (parquet code/bucket tables plus a
driver-sized JSON codebook) are committed with the same CAS JSON-pointer
flip the cold generations use (fsio.write_text_cas), so readers never see
a half-written index and a crashed writer leaves the previous generation
live.

Segmented layout: each index table lives under ONE parquet root with the
generation as a partition column::

    {base}/{name}/{table}/seg={g}/...

and the committed descriptor carries ``segments`` — the list of generation
numbers that make up the index. A read is a single scan of the table root
with ``seg IN (committed)``, which Spark resolves as PARTITION PRUNING, so
uncommitted/superseded segments cost nothing and the probe-side pruning
(``_bucket`` / ``centroid_id``) composes with it in the same scan node.
A descriptor without ``segments`` is refused when the store opens; such an
index must be rebuilt.

One table spec (``_KINDS``) says, for each index kind, which tables it
owns, the partition column of each, which table's row count is the
descriptor's ``n_rows``, and which tables are frozen fit-time state. Every
kind then shares one write path (``_write``: reserve a generation, stage
each table, commit the descriptor) and one append path (``_append``:
anti-join the delta against the committed ids unless the caller promises
disjoint batches, stage the new segment, commit ``segments + [new]``); the
public ``write_*`` / ``append_*`` methods keep only what is specific to
their kind: fitting and encoding. An ingest delta is a pure
encode-and-append: hash planes, MinHash coefficients, PQ codebooks and IVF
centroids are all frozen state, so ``append_*`` encodes ONLY the new rows
into a fresh segment — exactly how the reference folds new data into
per-level indexes at compaction (src/file/sstable.rs:94-143 driven by
src/level.rs:430-447) instead of re-reading the corpus. ``compact_index``
folds a long chain back to one segment (the small-file axis).

Writer concurrency: the generation number is CAS-RESERVED before any
staging write (the same reserve-then-write discipline engine.put uses for
its seq) — a writer holding stale state raises ConcurrentWriterError with
zero directories touched, so two writers can never stage into the same
``seg=N`` path and a loser can never clobber a winner's committed data.

Why this matters at 100 TB: the fit/encode pass IS the dominant cost of PQ
(`pq_fit_cold` times it explicitly in bench.py) — a production pipeline pays
it once per corpus version, then every query session reads the code table
(m small ints per vector, ~1% of raw vector bytes) and never touches raw
embeddings; a daily 1% ingest re-encodes 1% of the rows, not the corpus.

Bit-identity contract: querying a reopened (or appended) index returns
exactly what the in-session fit returns over the same frozen state, because
(a) the fits/hashes are deterministic, (b) codebook floats round-trip
exactly through JSON (repr-based), and (c) both paths share one scoring
implementation (similarity.pq_adc_from_codes / similarity.bucketed_topk /
similarity.ivf_probe_topk / dedup.minhash_verify_pairs). Proven in
tests/test_index_store.py.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from typing import NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from helixdb_spark.fsio import EngineFS
from helixdb_spark.operators import similarity as sim
from helixdb_spark.operators.similarity import (
    bucketed_topk,
    lsh_bucket,
    pq_adc_from_codes,
    pq_fit_codebooks,
)
from helixdb_spark.operators.util import spread

class StaleIndexError(RuntimeError):
    """Probe/append against an index that ``invalidate()`` marked stale
    (e.g. retention purged corpus rows the append-only segments still
    index). Rebuild with the matching ``write_*`` before using it."""


# append deltas at or below this many docs are written as one file per
# table (keeps the committed chain's file listing O(#appends) for
# streaming micro-batches); larger deltas keep their write parallelism
SINGLE_FILE_APPEND_ROWS = 100_000

# per-list count metadata (ivf drift bookkeeping) is kept in the JSON
# descriptor only while it stays driver-sized; past this many lists per
# segment the drift statistics fall back to the lists-table scan path
LIST_COUNT_META_CAP = 65536


class _Kind(NamedTuple):
    """What the shared write / append / fold paths need to know of a kind."""

    tables: dict  # table -> partition column (None: unpartitioned), staging order
    counted: str  # the table whose row count is the descriptor's n_rows
    frozen: tuple = ()  # fit-time tables an append reads but never restages
    list_counts: bool = False  # record per-list counts of "lists" (ivf drift)


_KINDS = {
    "pq": _Kind({"codes": None}, "codes"),
    "lsh": _Kind({"buckets": "_bucket"}, "buckets"),
    "minhash": _Kind({"bands": None, "shingles": None}, "shingles"),
    "ivf": _Kind(
        {"lists": "centroid_id", "centroids": None}, "lists", ("centroids",),
        list_counts=True,
    ),
    # IVFADC: "lists" carries (id, centroid_id, code_*) — the inverted
    # lists store PQ codes instead of raw vectors, partitioned by list
    "ivfpq": _Kind(
        {"lists": "centroid_id", "centroids": None}, "lists", ("centroids",)
    ),
}


def _stride_centroids(corpus, stride, id_col, vec_col) -> DataFrame:
    """The fixed-stride centroid rule: rows whose id is a multiple of
    ``stride``."""
    return corpus.where((F.col(id_col) % stride) == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("_cvec"),
    )


def source_fingerprint(*paths: str) -> str:
    """Cheap content fingerprint of local source data files: (relpath,
    size, mtime_ns) of every data file under each path — RECURSIVELY —
    md5'd. Detects a regenerated corpus that happens to keep the same row
    count (the round-6 advice: row-count-only validation silently serves a
    stale index over re-rolled data). The walk must recurse (round-8
    advice): a partitioned dataset rewritten in place changes only files
    nested in partition subdirs, whose stat triples a top-level listing
    never sees. Remote URIs return "" — callers fall back to the
    row-count check alone there."""
    import hashlib

    h = hashlib.md5()
    for p in sorted(paths):
        if "://" in p:
            return ""
        if os.path.isfile(p):
            files = [(os.path.basename(p), p)]
        elif os.path.isdir(p):
            files = []
            for root, dirs, names in os.walk(p):
                dirs[:] = sorted(
                    d for d in dirs if not d.startswith(("_", "."))
                )
                for n in names:
                    if n.startswith(("_", ".")):
                        continue
                    full = os.path.join(root, n)
                    files.append((os.path.relpath(full, p), full))
            files.sort()
        else:
            return ""
        for rel, f in files:
            st = os.stat(f)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


class AnnIndexStore:
    """A directory of named, versioned ANN indexes.

    Layout::

        {base}/_meta/index_state.json       # CAS pointer: name -> descriptor
        {base}/{name}/{table}/seg={g}/...   # immutable parquet segments
        {base}/trash/...                    # superseded segments (GC-deferred)

    Descriptors carry the driver-sized fitted state (PQ codebooks are
    m*k*(dim/m) floats; LSH needs only its parameters — the Rademacher
    planes are re-derived from md5, similarity.lsh_bucket), the committed
    ``segments`` list, and a corpus fingerprint (row count + optional
    content hash) validated on read so a stale index over a changed corpus
    is refused rather than silently served.
    """

    def __init__(self, spark: SparkSession, base_path: str) -> None:
        self.spark = spark
        self.base = base_path.rstrip("/")
        self._fs = EngineFS(spark, self.base)
        self._state = self._load_state()

    # ----------------------------------------------------------------- state
    @property
    def _meta_path(self) -> str:
        return f"{self.base}/_meta/index_state.json"

    def _load_state(self) -> dict:
        text, self._state_version = self._fs.read_text_versioned(
            self._meta_path
        )
        if text is None:
            return {"gen_seq": 0, "indexes": {}}
        state = json.loads(text)
        for name, desc in state["indexes"].items():
            if desc.get("segments") is None:
                raise ValueError(
                    f"index {name!r} at {self.base} has no 'segments' list "
                    "(the pre-segment layout is no longer read): rebuild "
                    "this index in a fresh store with the matching write_*"
                )
        return state

    def _save_state(self) -> None:
        # CAS publish (fsio.write_text_cas): a concurrent index writer
        # loses with ConcurrentWriterError instead of clobbering the flip
        self._state_version = self._fs.write_text_cas(
            self._meta_path, json.dumps(self._state), self._state_version
        )

    def _reserve_gen(self) -> int:
        """CAS-reserve the next generation number BEFORE any staging write:
        a writer whose in-memory state is stale dies here
        (ConcurrentWriterError) with zero directories touched, so reserved
        numbers are globally unique and no staging write can ever land in a
        path another writer committed. A crash after the reservation burns
        a number and leaves an unreferenced seg dir vacuum() collects."""
        gen = int(self._state["gen_seq"])
        self._state["gen_seq"] = gen + 1
        self._save_state()
        return gen

    # ---------------------------------------------------------------- layout
    def _table_root(self, name: str, table: str) -> str:
        return f"{self.base}/{name}/{table}"

    def _seg_path(self, name: str, table: str, gen: int) -> str:
        return f"{self._table_root(name, table)}/seg={int(gen)}"

    @staticmethod
    def _segments(desc: dict) -> list[int]:
        return [int(s) for s in desc["segments"]]

    def _local_df(self, rows, schema: str) -> DataFrame:
        """Driver-computed result rows as an Arrow-backed LocalRelation:
        ``collect()`` and ``first()`` over it run no Spark job (the
        ``parallelize`` relation it replaces cost 1 and 2). The rows go
        through a ``pyarrow.Table`` typed by the DDL ``schema``, not
        pandas, so a long column holding a None stays a nullable long
        (pandas would turn it into float64) and longs past 2^53 and
        doubles arrive exactly."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        struct = T.DataType.fromDDL(schema)
        arrow = to_arrow_schema(struct)
        table = pa.Table.from_pylist(
            [dict(zip(arrow.names, r)) for r in rows], schema=arrow
        )
        return self.spark.createDataFrame(table, struct)

    def _read_table(
        self, name: str, desc: dict, table: str, keep_seg: bool = False
    ) -> DataFrame:
        """One scan of the table root filtered to the COMMITTED segments —
        ``seg IN (...)`` resolves to partition pruning, so superseded or
        in-flight segments are never opened, and a probe-side partition
        filter (``_bucket`` / ``centroid_id``) prunes within the same scan
        node. The schema the write recorded in the descriptor (``schemas``,
        one DDL string a table) is passed to the reader, so opening it runs no
        schema-inference job; the partition column then keeps its staged
        type (``centroid_id`` long, where directory inference gives int). A
        descriptor without ``schemas`` reads by inference. ``keep_seg``
        keeps the ``seg`` column for per-segment statistics.

        A frozen table (the IVF centroids) is fit-time state that every
        consumer broadcasts whole, so it is read as one partition: the
        centroid assignment's 1-row ``collect_list`` then needs no
        ``Exchange SinglePartition`` job ahead of its broadcast (its
        tie-break does not depend on list order), and the one task reads
        no more than that broadcast carries."""
        df = self._reader(desc, table).parquet(
            self._table_root(name, table)
        ).where(F.col("seg").isin(self._segments(desc)))
        if table in _KINDS[desc["kind"]].frozen:
            df = df.coalesce(1)
        return df if keep_seg else df.drop("seg")

    def _reader(self, desc: dict, table: str):
        """A parquet reader carrying the schema ``desc`` records for
        ``table``, or an inferring one for a descriptor without
        ``schemas``."""
        schema = desc.get("schemas", {}).get(table)
        reader = self.spark.read
        return reader if schema is None else reader.schema(schema)

    def _read(self, name: str, kind: str) -> tuple:
        """(descriptor, *committed tables in spec order) of one index."""
        desc = self._descriptor(name, kind)
        return desc, *(
            self._read_table(name, desc, t) for t in _KINDS[kind].tables
        )

    def _commit(self, name: str, desc: dict) -> None:
        """Flip the pointer to the freshly-staged segment set, then trash
        segments the new descriptor no longer references (write-new-then-
        flip; readers of the old state keep complete segments until GC)."""
        old = self._state["indexes"].get(name)
        self._state["indexes"][name] = desc
        self._save_state()
        if old is None:
            return
        dropped = set(self._segments(old)) - set(self._segments(desc))
        for table in _KINDS[old["kind"]].tables:
            for g in dropped:
                self._fs.move(
                    self._seg_path(name, table, g),
                    f"{self.base}/trash/{name}/{table}/seg={g}",
                )

    def _descriptor(self, name: str, kind: str) -> dict:
        desc = self._state["indexes"].get(name)
        if desc is None:
            raise KeyError(f"no index named {name!r} at {self.base}")
        if desc["kind"] != kind:
            raise TypeError(
                f"index {name!r} is kind={desc['kind']!r}, wanted {kind!r}"
            )
        if desc.get("stale"):
            raise StaleIndexError(
                f"index {name!r} at {self.base} was invalidated "
                f"({desc['stale']}) — rebuild (write_*) before probing"
            )
        return desc

    def invalidate(self, name: str, reason: str) -> None:
        """Mark a committed index STALE: every probe/append raises
        ``StaleIndexError`` until the owner rebuilds it. This is the
        deletion story of the append-only maintenance family — retention
        (``HelixSpark.outdate``) cannot *remove* entries from appended
        segments, so it flips this flag instead of silently serving ids
        for purged rows (round-8 advice)."""
        desc = self._state["indexes"].get(name)
        if desc is None or desc.get("stale"):
            return
        new_desc = dict(desc)
        new_desc["stale"] = reason
        self._state["indexes"][name] = new_desc
        self._save_state()

    def list_indexes(self) -> dict:
        """name -> (kind, gen, segments, n_rows) for every committed index."""
        return {
            n: {
                "kind": d["kind"],
                "gen": d["gen"],
                "segments": self._segments(d),
                "n_rows": d["n_rows"],
                "stale": d.get("stale"),
            }
            for n, d in self._state["indexes"].items()
        }

    def validate(
        self, name: str, corpus: DataFrame, fingerprint: str | None = None
    ) -> bool:
        """Staleness check: the fingerprint recorded at build time still
        matches the corpus — row count always, plus the content fingerprint
        when both sides have one (a regenerated corpus with an identical
        row count is refused, round-6 advice)."""
        desc = self._state["indexes"].get(name)
        if desc is None or desc.get("stale"):
            return False
        if fingerprint and desc.get("fingerprint") != fingerprint:
            # no recorded fingerprint counts as stale too: an index built
            # before fingerprinting cannot prove it covers THIS corpus
            return False
        if desc["kind"] == "minhash":
            from helixdb_spark.operators.dedup import MINHASH_PRIME

            # signatures/bands are a pure function of the hash family —
            # a store built under a different (or unrecorded) prime would
            # answer with stale band keys after the r12 family fix
            if desc.get("prime") != MINHASH_PRIME:
                return False
        return int(desc["n_rows"]) == corpus.count()

    def vacuum(self) -> None:
        """Drop trashed segments plus any seg dir no committed descriptor
        references (crashed reservations / staged-but-unflipped writes).
        Safe once no writer is mid-stage — descriptor liveness is the
        source of truth, same contract as the engine's vacuum."""
        self._fs.delete(f"{self.base}/trash")
        for name, desc in self._state["indexes"].items():
            live = set(self._segments(desc))
            for table in _KINDS[desc["kind"]].tables:
                root = self._table_root(name, table)
                for child in self._fs.listdir(root):
                    if not child.startswith("seg="):
                        continue
                    if int(child.split("=", 1)[1]) not in live:
                        self._fs.delete(f"{root}/{child}")

    # ------------------------------------------------------------- staging
    def _stage(
        self,
        df: DataFrame,
        name: str,
        table: str,
        gen: int,
        partition_by: str | None = None,
        count: bool = True,
    ) -> int | None:
        """Write one segment and return its row count (observed on the
        write job itself, so the descriptor records what the write landed).
        ``count=False`` skips the count observation for tables whose row
        count the descriptor does not record (the bands table — its
        sibling shingles count is the bookkept one). An unpartitioned
        stage is one job; a partitioned one is two under AQE, the
        ``repartition(partition_by)`` shuffle-map job plus the write."""
        path = self._seg_path(name, table, gen)
        if count:
            # the row count rides the write as an Observation metric (r12)
            # instead of a count-back read of the written files, which
            # would be one more job; micro-batch appends are
            # fixed-job-latency-bound. A zero-row staged batch still
            # observes 0 cleanly (the empty segment must stage so drift
            # monitoring can show the stalled append).
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        if partition_by:
            # cluster by the partition column before a partitionBy write:
            # without this every task writes one file per partition value
            # it touches (tasks × values tiny files per segment — measured
            # ~1.4k files for one sf0.1 IVF lists segment), and every later
            # probe/append/fold pays the listing + per-file open cost. One
            # delta-sized hash exchange (AQE-coalesced) yields ~one file
            # per partition value — the guide §6 partitioned-write shape.
            df = df.repartition(F.col(partition_by))
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        if not count:
            return None
        return int(obs.get["n"])

    def _stage_segment(
        self, name: str, kind: str, tables: dict, gen: int
    ) -> int:
        """Stage ``tables`` (all of the kind's tables, or an append's
        non-frozen ones) as segment ``gen`` in spec order, each under its
        spec partition column; returns the counted table's row count,
        observed on its write job."""
        spec = _KINDS[kind]
        n_rows = {
            t: self._stage(tables[t], name, t, gen, part_by, t == spec.counted)
            for t, part_by in spec.tables.items()
            if t in tables
        }
        return n_rows[spec.counted]

    def _write(
        self, name: str, kind: str, tables: dict, params: dict,
        fingerprint: str | None,
    ) -> dict:
        """Commit a fresh one-segment index: reserve a generation, stage
        every table of ``kind``, then flip the descriptor (``params`` is the
        kind's fitted, driver-sized state). The descriptor records each
        table's schema (``schemas``), which appends and folds carry
        forward, so ``_read_table`` never infers one."""
        gen = self._reserve_gen()
        n_rows = self._stage_segment(name, kind, tables, gen)
        desc = {
            "kind": kind, "gen": gen, "segments": [gen], **params,
            "n_rows": n_rows, "fingerprint": fingerprint,
            "schemas": {t: df._jdf.schema().toDDL() for t, df in tables.items()},
        }
        prior = {} if _KINDS[kind].list_counts else None
        self._record_list_counts(desc, name, gen, n_rows, prior)
        self._commit(name, desc)
        return desc

    def _append(
        self, name: str, kind: str, corpus: DataFrame,
        fingerprint: str | None, assume_new: bool, encode,
    ) -> dict:
        """Append the rows of ``corpus`` missing from the committed index as
        one new segment under the frozen state.

        Unless ``assume_new``, the corpus is first anti-joined on the id
        against the counted table and an empty delta returns the
        descriptor unchanged (no generation burned, no frozen table
        opened). The kind's frozen tables are read next (they feed the
        encode); ``encode(desc, fresh, frozen)`` returns the new segment's
        tables. ``assume_new`` callers promise disjoint batches, so the
        committed tables are never opened and the emptiness probe job is
        skipped; a violated promise stages an empty segment or duplicate
        rows, never corrupts committed ones.
        """
        spec = _KINDS[kind]
        desc = self._descriptor(name, kind)
        fresh = corpus
        if not assume_new:
            id_col = desc["id_col"]
            committed = self._read_table(name, desc, spec.counted)
            fresh = corpus.join(committed.select(id_col), id_col, "left_anti")
            if fresh.isEmpty():
                return desc
        frozen = {t: self._read_table(name, desc, t) for t in spec.frozen}
        tables = encode(desc, fresh, frozen)
        gen = self._reserve_gen()
        n_new = self._stage_segment(name, kind, tables, gen)
        new_desc = dict(desc)
        new_desc.update(
            {
                "gen": gen,
                "segments": self._segments(desc) + [gen],
                "n_rows": int(desc["n_rows"]) + n_new,
                "fingerprint": fingerprint or desc.get("fingerprint"),
            }
        )
        self._record_list_counts(
            new_desc, name, gen, n_new, desc.get("list_counts")
        )
        self._commit(name, new_desc)
        return new_desc

    @staticmethod
    def _codebooks_json(codebooks) -> list:
        # JSON round-trips doubles exactly (repr-based), so the reopened
        # codebook is bit-identical to the fitted one
        return [
            [[int(cid), [float(x) for x in cv]] for cid, cv in book]
            for book in codebooks
        ]

    @staticmethod
    def _codebooks(desc: dict) -> list:
        return [
            [(int(cid), [float(x) for x in cv]) for cid, cv in book]
            for book in desc["codebooks"]
        ]

    def _record_list_counts(
        self, desc: dict, name: str, gen: int, n_rows: int, prior
    ) -> None:
        """Set ``desc["list_counts"]`` to ``prior`` plus the per-list row
        counts of the freshly staged lists segment ``gen``, read from the
        segment's parquet footers: on the driver for a local segment dir
        (no job), else a count over that one segment dir, read through the
        recorded schema (two jobs, the count's shuffle-map job and its
        result; a count over the partition column opens no data pages).
        This buys every later drift check
        (``ivf_share_drift*``) its zero-scan metadata path. No counts are
        kept when ``prior`` is None (the index keeps none) or the segment
        has more than ``LIST_COUNT_META_CAP`` lists (keeps the descriptor
        driver-sized; drift then falls back to the scan path)."""
        desc.pop("list_counts", None)
        if prior is None:
            return
        path = self._seg_path(name, "lists", gen)
        # an empty staged segment has no readable parquet files; its
        # counts are exactly {}
        cnts = self._local_footer_counts(path) if n_rows else {}
        if cnts is None:
            rows = (
                self._reader(desc, "lists")
                .parquet(path)
                .groupBy("centroid_id")
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect()
            )
            cnts = {int(r["centroid_id"]): int(r["_n"]) for r in rows}
        if len(cnts) <= LIST_COUNT_META_CAP:
            desc["list_counts"] = {
                **prior, str(gen): {str(c): n for c, n in cnts.items()}
            }

    @staticmethod
    def _local_footer_counts(path: str) -> "dict[int, int] | None":
        """Zero-job readback for LOCAL segment dirs: walk the
        ``centroid_id=…`` partition dirs on the driver and sum each
        file's parquet-footer row count (pyarrow reads only the footer).
        Returns ``None`` — caller falls back to a Spark job — for
        non-local paths (object stores / HDFS) or anything unexpected in
        the layout."""
        p = path[7:] if path.startswith("file://") else path
        if "://" in p or not os.path.isdir(p):
            return None
        try:
            import pyarrow.parquet as pq

            out: dict[int, int] = {}
            for d in os.scandir(p):
                if not (d.is_dir() and d.name.startswith("centroid_id=")):
                    continue
                cid = int(d.name.split("=", 1)[1])
                n = 0
                for f in os.scandir(d.path):
                    if f.is_file() and f.name.endswith(".parquet"):
                        n += pq.read_metadata(f.path).num_rows
                if n:
                    out[cid] = n
            return out
        except (ImportError, ValueError, OSError):
            return None

    @staticmethod
    def _share_fp(n: int, t: int) -> int:
        """Driver-side twin of the Spark fixed-point share expression
        ``when(t > 0, round(lit(1e-9) + n/t * 1e9, 0).cast("long"))
        .otherwise(0)``. Spark's ``round`` on a double is HALF_UP over the
        value's shortest decimal representation (java
        ``BigDecimal.valueOf(d)`` = ``Double.toString``); Python's
        ``repr(float)`` is the same shortest-roundtrip decimal, so
        ``Decimal(repr(x))`` reproduces it bit-for-bit. ``float(n)`` first
        mirrors Spark's ``n.cast("double") / t`` (matters past 2^53)."""
        if t <= 0:
            return 0
        from decimal import ROUND_HALF_UP, Decimal

        x = 1e-9 + (float(n) / float(t)) * 1e9
        return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    @staticmethod
    def _round6(x: float) -> float:
        """Driver-side twin of Spark's ``round(col, 6) + 0.0`` (HALF_UP
        over shortest-decimal, then ``+ 0.0`` normalizes ``-0.0``)."""
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        ) + 0.0

    def _list_counts_meta(
        self, desc: dict
    ) -> "dict[int, dict[int, int]] | None":
        """Descriptor-recorded per-(segment, list) counts when they cover
        EVERY committed segment, else ``None`` (drift statistics then scan
        the lists table as before)."""
        lc = desc.get("list_counts")
        if lc is None:
            return None
        segs = self._segments(desc)
        if any(str(s) not in lc for s in segs):
            return None
        return {
            int(s): {int(c): int(n) for c, n in lc[str(s)].items()}
            for s in segs
        }

    # -------------------------------------------------------------------- PQ
    def write_pq(
        self,
        corpus: DataFrame,
        name: str = "pq",
        m: int = sim.PQ_M,
        k: int = sim.PQ_K,
        n_iter: int = sim.PQ_ITERS,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        prefit: "tuple[list, int] | None" = None,
        train_fraction: float = 1.0,
        fingerprint: str | None = None,
    ) -> dict:
        """Fit (or accept prefit) PQ codebooks, encode the corpus, and
        commit the codes segment + codebooks under a fresh generation. The
        encode is the one full-corpus pass; the codebooks (k*dim floats)
        ride the JSON descriptor."""
        codebooks, sub_d = prefit or pq_fit_codebooks(
            corpus, m, k, n_iter, id_col, vec_col,
            train_fraction=train_fraction,
        )
        codes = self._encode_pq(corpus, codebooks, sub_d, m, id_col, vec_col)
        return self._write(name, "pq", {"codes": codes}, {
            "m": m, "k": k, "n_iter": n_iter, "sub_d": sub_d,
            "id_col": id_col, "codebooks": self._codebooks_json(codebooks),
        }, fingerprint)

    @staticmethod
    def _encode_pq(corpus, codebooks, sub_d, m, id_col, vec_col) -> DataFrame:
        return spread(corpus).select(
            F.col(id_col),
            *[
                sim.assign_struct_sql(
                    f"slice({vec_col}, {j * sub_d + 1}, {sub_d})",
                    codebooks[j],
                )["cluster_id"].alias(f"code_{j}")
                for j in range(m)
            ],
        )

    def read_pq(self, name: str = "pq") -> tuple[list, int, DataFrame]:
        """(codebooks, sub_d, codes DataFrame) for a committed PQ index."""
        desc, codes = self._read(name, "pq")
        return self._codebooks(desc), int(desc["sub_d"]), codes

    def pq_adc_topk(
        self,
        queries: DataFrame,
        name: str = "pq",
        k_nn: int = 5,
        query_id_col: str = "query_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """ADC top-k over the PERSISTED code table: no raw corpus vectors
        are read at query time — the scan touches m small-int columns only.
        Shares similarity.pq_adc_from_codes with the in-session path, so
        results are bit-identical to a fresh fit."""
        desc, codes = self._read(name, "pq")
        return pq_adc_from_codes(
            codes,
            queries,
            self._codebooks(desc),
            int(desc["sub_d"]),
            k_nn=k_nn,
            m=int(desc["m"]),
            id_col=desc["id_col"],
            vec_col=vec_col,
            query_id_col=query_id_col,
        )

    def append_pq(
        self,
        corpus: DataFrame,
        name: str = "pq",
        vec_col: str = "embedding",
        fingerprint: str | None = None,
    ) -> dict:
        """Incremental PQ maintenance: encode ONLY the corpus rows whose
        ids are missing from the committed code table (anti-join on the
        id) into a fresh SEGMENT — codebooks stay frozen, existing code
        segments are untouched, so the write is O(delta) and the result is
        bit-identical to a full re-encode. This is how a 100 TB index
        absorbs a 1% ingest without re-reading (or re-writing) the other
        99% — the reference's per-level index rebuild at compaction
        (src/file/sstable.rs:94-143) expressed as segment append."""

        def encode(desc, fresh, _frozen):
            return {"codes": self._encode_pq(
                fresh, self._codebooks(desc), int(desc["sub_d"]),
                int(desc["m"]), desc["id_col"], vec_col,
            )}

        return self._append(
            name, "pq", spread(corpus), fingerprint, False, encode
        )

    # ------------------------------------------------------------------- LSH
    def write_lsh(
        self,
        corpus: DataFrame,
        name: str = "lsh",
        num_planes: int = sim.NUM_PLANES,
        dim: int = sim.DIM,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        fingerprint: str | None = None,
    ) -> dict:
        """Bucket the corpus with the deterministic hyperplane hash and
        persist it ``partitionBy(_bucket)``: a probe filters on its own
        bucket value, which Spark resolves as PARTITION PRUNING — only
        1/2^P of the files are ever opened."""
        bucketed = spread(corpus).withColumn(
            "_bucket", lsh_bucket(F.col(vec_col), num_planes, dim)
        )
        return self._write(name, "lsh", {"buckets": bucketed}, {
            "num_planes": num_planes, "dim": dim, "id_col": id_col,
            "vec_col": vec_col,
        }, fingerprint)

    def read_lsh(self, name: str = "lsh") -> tuple[dict, DataFrame]:
        return self._read(name, "lsh")

    def lsh_topk(
        self,
        queries: DataFrame,
        name: str = "lsh",
        k: int = 5,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """Bucket-probe top-k over the persisted index. The broadcast-join
        on ``_bucket`` against a partitionBy(_bucket) table turns into a
        dynamic partition filter — the persisted counterpart of
        similarity.lsh_topk, sharing its scoring core (bucketed_topk)."""
        desc, bucketed = self.read_lsh(name)
        return bucketed_topk(
            bucketed,
            queries,
            k,
            id_col=desc["id_col"],
            vec_col=desc["vec_col"],
            query_id_col=query_id_col,
            num_planes=int(desc["num_planes"]),
            dim=int(desc["dim"]),
        )

    def append_lsh(
        self,
        corpus: DataFrame,
        name: str = "lsh",
        fingerprint: str | None = None,
        assume_new: bool = False,
    ) -> dict:
        """Incremental LSH maintenance: the hyperplanes are frozen
        (md5-derived, parameter-only state), so an ingest delta is a pure
        hash-and-append — new rows bucketed into a fresh segment, existing
        bucket files untouched. Bit-identical to a full rebuild because the
        bucket of a row depends only on the row and the frozen planes.

        ``assume_new=True`` skips the committed-id anti-join for sources
        whose batches are disjoint by construction (see append_minhash) —
        append cost becomes O(batch) independent of chain length. The
        committed buckets table is then never opened: no anti-join scan
        and no emptiness-probe job."""

        def encode(desc, fresh, _frozen):
            return {"buckets": fresh.withColumn("_bucket", lsh_bucket(
                F.col(desc["vec_col"]), int(desc["num_planes"]),
                int(desc["dim"]),
            ))}

        return self._append(
            name, "lsh", spread(corpus), fingerprint, assume_new, encode
        )

    # --------------------------------------------------------------- MinHash
    def _minhash_tables(
        self, docs: DataFrame, id_col: str, text_col: str, n: int,
        num_hashes: int, bands: int,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(band table, shingle table, shingled cache) for a document set
        under the frozen MinHash state (coefficients are deterministic in
        num_hashes). Both tables are staged, so the shingled intermediate
        is persisted — the normalize+shingle+hash pass runs once instead of
        once per staged table — and the caller unpersists the returned
        cache once staging is done."""
        from helixdb_spark.operators import dedup as _dd

        rows = num_hashes // bands
        shingled = _dd.doc_shingles(docs, id_col, text_col, n).withColumn(
            "bhs", F.transform("shingles", lambda s: _dd._hex_long(s, 8))
        ).persist()
        coeffs = _dd.minhash_coeffs(num_hashes)
        prime = F.lit(_dd.MINHASH_PRIME).cast("long")

        def _affine_min(a, b):
            return F.array_min(
                F.transform("bhs", lambda x: (F.lit(a) * x + F.lit(b)) % prime)
            )

        sig = shingled.where(F.size("shingles") > 0).select(
            F.col(id_col),
            *[
                _affine_min(a, b).alias(f"m{i}")
                for i, (a, b) in enumerate(coeffs)
            ],
        )
        band_key_array = F.array(
            *[
                F.md5(
                    F.concat_ws(
                        ",",
                        F.lit(str(b)),
                        *[
                            F.col(f"m{b * rows + r}").cast("string")
                            for r in range(rows)
                        ],
                    )
                )
                for b in range(bands)
            ]
        )
        stacked = sig.select(
            F.col(id_col), F.explode(band_key_array).alias("band_key")
        )
        return stacked, shingled.select(id_col, "shingles"), shingled

    def write_minhash(
        self,
        docs: DataFrame,
        name: str = "minhash",
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        num_hashes: int = None,
        bands: int = None,
        fingerprint: str | None = None,
    ) -> dict:
        """Persist the MinHash-LSH dedup index: the banded signature table
        (id, band_key) and the shingle table (id, shingles) the
        verification join reads. At 100 TB the shingle+signature build is
        the dominant dedup cost — persisting both means a re-run of the
        pair scan (new threshold, new downstream consumer) touches neither
        raw text nor md5 again."""
        from helixdb_spark.operators import dedup as _dd

        num_hashes = _dd.NUM_MINHASHES if num_hashes is None else num_hashes
        bands = _dd.LSH_BANDS if bands is None else bands
        stacked, shingles, shingled = self._minhash_tables(
            docs, id_col, text_col, n, num_hashes, bands
        )
        try:
            return self._write(
                name, "minhash", {"bands": stacked, "shingles": shingles}, {
                    "n": n, "num_hashes": num_hashes, "bands": bands,
                    # hash-family version: a store whose signatures were
                    # built under a different prime (the r12 family fix)
                    # must re-index, not serve stale band keys — validate()
                    # checks this
                    "prime": _dd.MINHASH_PRIME,
                    "id_col": id_col, "text_col": text_col,
                }, fingerprint,
            )
        finally:  # staging is eager — safe to release
            shingled.unpersist()

    def read_minhash(self, name: str = "minhash") -> tuple[dict, DataFrame, DataFrame]:
        """(descriptor, band table, shingle table) for a committed index."""
        return self._read(name, "minhash")

    def minhash_pairs(
        self, name: str = "minhash", threshold: float = 0.4
    ) -> DataFrame:
        """Verified near-dup pairs from the PERSISTED band + shingle
        tables — shares dedup.minhash_verify_pairs with the in-session
        path, so results are bit-identical to a fresh build."""
        from helixdb_spark.operators.dedup import minhash_verify_pairs

        desc, stacked, shingled = self.read_minhash(name)
        return minhash_verify_pairs(
            stacked, shingled, desc["id_col"], threshold
        )

    def append_minhash(
        self,
        docs: DataFrame,
        name: str = "minhash",
        fingerprint: str | None = None,
        assume_new: bool = False,
    ) -> dict:
        """Incremental MinHash maintenance: coefficients and banding are
        frozen (deterministic in num_hashes), so new documents shingle and
        sign into a fresh band/shingle segment without touching the
        committed ones — a daily ingest re-shingles the delta, not the
        corpus. Bit-identical to a full rebuild by construction (a doc's
        signature depends only on its own text).

        ``assume_new=True`` skips the already-committed anti-join — for
        callers whose batches are disjoint from the committed set BY
        CONSTRUCTION (a streaming source with exactly-once micro-batches,
        a partitioned daily ingest): the committed chain's id column is
        then never re-scanned per append and the emptiness-probe job is
        skipped, so append cost is O(batch) regardless of chain length. A
        violated promise double-counts the re-sent documents' shingles (it
        never corrupts committed segments); leave False unless the source
        guarantees disjointness."""
        caches: list = []

        def encode(desc, fresh, _frozen):
            stacked, shingles, shingled = self._minhash_tables(
                fresh, desc["id_col"], desc.get("text_col", "text"),
                int(desc["n"]), int(desc["num_hashes"]), int(desc["bands"]),
            )
            caches.append(shingled)
            # materialize the shingle cache at full parallelism FIRST,
            # then write a SMALL delta as one file each: a streaming
            # micro-batch is delta-sized, and a chain of many-small-file
            # segments taxes every later pair scan's file listing — but a
            # large daily-ingest delta keeps its write parallelism (one
            # funneled task would serialize the whole delta) and pays the
            # extra files instead
            if shingled.count() <= SINGLE_FILE_APPEND_ROWS:
                stacked, shingles = stacked.coalesce(1), shingles.coalesce(1)
            return {"bands": stacked, "shingles": shingles}

        try:
            return self._append(
                name, "minhash", docs, fingerprint, assume_new, encode
            )
        finally:  # staging is eager — safe to release
            for c in caches:
                c.unpersist()

    # ------------------------------------------------------------------- IVF
    def write_ivf(
        self,
        corpus: DataFrame,
        name: str = "ivf",
        stride: int | str = sim.IVF_CENTROID_STRIDE,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        centroids: Optional[DataFrame] = None,
        fingerprint: str | None = None,
    ) -> dict:
        """Persist the IVF-flat index: the centroid table and the corpus
        with its list assignment, written ``partitionBy(centroid_id)`` so
        a probe reads exactly one inverted list's files (partition
        pruning — the on-disk analog of an in-memory inverted list).
        ``centroids`` lets a rebuild reuse a frozen centroid set (the
        prefit analog — required for append bit-identity checks).

        ``stride="sqrt"`` is the PRODUCTION fit sizing (r9 VERDICT #1):
        the centroid stride is derived in-plan from the corpus count so
        nlist ∝ √n — assignment cost O(n·√n) instead of the fixed-stride
        rule's O(n²/stride). The rule stays deterministic and
        SQL-replayable: stride = greatest(1, ceil(n / ceil(sqrt(n)))),
        centroids = rows with id % stride = 0 (a broadcast 1-row count,
        no driver job)."""
        if centroids is None:
            if stride == "sqrt":
                centroids = sim.sqrt_stride_centroids(corpus, id_col, vec_col)
            else:
                centroids = _stride_centroids(corpus, stride, id_col, vec_col)
        assigned = sim.assign_nearest_centroid(
            spread(corpus), centroids, vec_col, id_col
        )
        return self._write(
            name, "ivf", {"lists": assigned, "centroids": centroids},
            {"stride": stride, "id_col": id_col, "vec_col": vec_col},
            fingerprint,
        )

    def read_ivf(self, name: str = "ivf") -> tuple[dict, DataFrame, DataFrame]:
        return self._read(name, "ivf")

    def ivf_topk(
        self,
        queries: DataFrame,
        name: str = "ivf",
        k: int = 5,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """IVF probe over the persisted lists — shares
        similarity.ivf_probe_topk with the in-session path, so results are
        bit-identical to a fresh build; the centroid_id filter prunes all
        other lists' partitions at the scan."""
        desc, assigned, centroids = self.read_ivf(name)
        return sim.ivf_probe_topk(
            assigned,
            centroids,
            queries,
            k,
            id_col=desc["id_col"],
            vec_col=desc["vec_col"],
            query_id_col=query_id_col,
        )

    def ivf_multiprobe_topk(
        self,
        queries: DataFrame,
        name: str = "ivf",
        k: int = 5,
        n_probe: int = None,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """Multi-probe form of ``ivf_topk``: each query reads its n_probe
        nearest lists' partitions (still partition pruning — just a
        probes-per-query-row IN-set) — the recall/cost knob production IVF
        deployments tune. Shares similarity.ivf_multiprobe_topk."""
        desc, assigned, centroids = self.read_ivf(name)
        return sim.ivf_multiprobe_topk(
            assigned,
            centroids,
            queries,
            k,
            n_probe=sim.IVF_N_PROBE if n_probe is None else n_probe,
            id_col=desc["id_col"],
            vec_col=desc["vec_col"],
            query_id_col=query_id_col,
        )

    def append_ivf(
        self,
        corpus: DataFrame,
        name: str = "ivf",
        fingerprint: str | None = None,
        assume_new: bool = False,
    ) -> dict:
        """Incremental IVF maintenance: the centroid set is FROZEN (like PQ
        codebooks — re-clustering would invalidate every committed list),
        so new rows assign to their nearest existing centroid and land in a
        fresh lists segment. Bit-identical to a full rebuild over the same
        frozen centroids (write_ivf(centroids=...)).

        ``assume_new=True`` skips the committed-id anti-join for sources
        whose batches are disjoint by construction (see append_minhash) —
        append cost becomes O(batch) independent of chain length; the
        committed LISTS table is then never opened, so the anti-join scan
        and its emptiness-probe job are skipped (and, for a descriptor
        without recorded ``schemas``, the lists table's schema-inference
        job). Only the small centroids table, which the assignment needs,
        is read."""
        def encode(desc, fresh, frozen):
            return {"lists": sim.assign_nearest_centroid(
                fresh, frozen["centroids"], desc["vec_col"], desc["id_col"]
            )}

        return self._append(
            name, "ivf", spread(corpus), fingerprint, assume_new, encode
        )

    # --------------------------------------------------------------- IVFPQ
    def write_ivfpq(
        self,
        corpus: DataFrame,
        name: str = "ivfpq",
        stride: int = sim.IVF_CENTROID_STRIDE,
        m: int = sim.PQ_M,
        k: int = sim.PQ_K,
        n_iter: int = sim.PQ_ITERS,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        centroids: Optional[DataFrame] = None,
        prefit: "tuple[list, int] | None" = None,
        fingerprint: str | None = None,
    ) -> dict:
        """Persist an IVFADC index (Jégou et al. 2011 §IV — the FAISS
        ``IVFx,PQy`` layout): the coarse centroid table plus the inverted
        lists carrying RESIDUAL PQ codes, written
        ``partitionBy(centroid_id)`` so a probe reads exactly one list's
        files and scans only m small-int code columns inside it — the
        double pruning (list partition + no raw vectors) that makes this
        the 100 TB ANN layout. ``centroids``/``prefit`` freeze the
        quantizers for rebuild/append bit-identity checks."""
        if centroids is None:
            centroids = _stride_centroids(corpus, stride, id_col, vec_col)
        resid = sim.ivfpq_residuals_from(
            corpus, centroids, id_col, vec_col
        ).persist()  # fit rounds + the encode stage all re-read it
        try:
            codebooks, sub_d = prefit or pq_fit_codebooks(
                resid, m, k, n_iter, id_col, "_rv"
            )
            lists = sim.ivfpq_encode_codes(resid, codebooks, sub_d, m, id_col)
            return self._write(
                name, "ivfpq", {"lists": lists, "centroids": centroids}, {
                    "stride": stride, "m": m, "k": k, "n_iter": n_iter,
                    "sub_d": sub_d, "id_col": id_col, "vec_col": vec_col,
                    "codebooks": self._codebooks_json(codebooks),
                }, fingerprint,
            )
        finally:  # staging is eager — safe to release
            resid.unpersist()

    def read_ivfpq(
        self, name: str = "ivfpq"
    ) -> tuple[dict, list, int, DataFrame, DataFrame]:
        desc, lists, centroids = self._read(name, "ivfpq")
        return desc, self._codebooks(desc), int(desc["sub_d"]), lists, centroids

    def ivfpq_adc_topk(
        self,
        queries: DataFrame,
        name: str = "ivfpq",
        k_nn: int = 5,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """IVFADC probe over the persisted layout — shares
        similarity.ivfpq_adc_from_codes with the in-session path, so
        results are bit-identical to a fresh build; the routing join's
        centroid_id filter prunes all other lists' partitions."""
        desc, codebooks, sub_d, codes, centroids = self.read_ivfpq(name)
        return sim.ivfpq_adc_from_codes(
            codes,
            centroids,
            queries,
            codebooks,
            sub_d,
            k_nn=k_nn,
            m=int(desc["m"]),
            id_col=desc["id_col"],
            vec_col=desc["vec_col"],
            query_id_col=query_id_col,
        )

    def append_ivfpq(
        self,
        corpus: DataFrame,
        name: str = "ivfpq",
        fingerprint: str | None = None,
    ) -> dict:
        """Incremental IVFADC maintenance: BOTH quantizer levels are frozen
        (centroids like append_ivf, residual codebooks like append_pq), so
        an ingest delta is assign → residual-ize → encode into a fresh
        lists segment — O(delta), existing segments untouched, and
        bit-identical to a full rebuild under the same frozen state."""
        def encode(desc, fresh, frozen):
            id_col = desc["id_col"]
            resid = sim.ivfpq_residuals_from(
                fresh, frozen["centroids"], id_col, desc["vec_col"]
            )
            return {"lists": sim.ivfpq_encode_codes(
                resid, self._codebooks(desc), int(desc["sub_d"]),
                int(desc["m"]), id_col,
            )}

        return self._append(
            name, "ivfpq", spread(corpus), fingerprint, False, encode
        )

    # ------------------------------------------------------------ compaction
    def ivf_assignment_stats(self, name: str = "ivf") -> DataFrame:
        """Per-SEGMENT assignment-quality stats for an IVF chain:
        ``(segment_idx, n_rows, mean_assign_cosine)`` — the cheap in-loop
        drift PROXY. A frozen-centroid append is bit-exact but decays
        silently as the ingested distribution drifts from the fit corpus;
        the full recall audit (`ann_appended_drift_audit`) needs a brute-
        force truth tier, which a maintenance loop cannot afford per
        cycle. This statistic needs only the data the index already
        stores: one scan of the lists table (segments kept), a broadcast
        join to the centroids, and a per-segment mean of each row's
        cosine to its ASSIGNED centroid. A fresh segment whose mean sits
        well below the fit segment's is the re-fit signal.

        ``segment_idx`` is the position in the committed ``segments``
        list (0 = the original fit), not the raw generation number —
        stable across rebuilds. Means use the scaled-int64 exact-sum
        discipline so the number is partition-order independent."""
        from helixdb_spark.functions.vector import cosine_similarity

        desc = self._descriptor(name, "ivf")
        segs = self._segments(desc)
        lists = self._read_table(name, desc, "lists", keep_seg=True)
        centroids = self._read_table(name, desc, "centroids")
        idx = F.array(*[F.lit(int(s)) for s in segs])
        cs = F.round(
            F.lit(1e-9)
            + cosine_similarity(F.col(desc["vec_col"]), F.col("_cvec")) * 1e6,
            0,
        ).cast("long")
        per_seg = (
            lists.join(F.broadcast(centroids), "centroid_id")
            .select(
                (F.array_position(idx, F.col("seg")) - 1).cast("int").alias(
                    "segment_idx"
                ),
                cs.alias("_cs"),
            )
            .groupBy("segment_idx")
            .agg(F.count("*").alias("n_rows"), F.sum("_cs").alias("_s"))
        )
        return per_seg.select(
            "segment_idx",
            "n_rows",
            (
                F.round(
                    F.lit(1e-9) + F.col("_s") / (F.col("n_rows") * 1e6), 6
                )
                + F.lit(0.0)
            ).alias("mean_assign_cosine"),
        ).orderBy("segment_idx")

    def ivf_share_drift(self, name: str = "ivf") -> DataFrame:
        """Assignment-SHARE drift of an IVF chain: total-variation distance
        between the per-list assignment shares of the newest appended
        segment and the original fit segment —
        ``TV = 0.5 * sum over lists |p_fit - p_newest|``. This is the
        drift statistic the maintenance policy acts on
        (``HelixSpark.register_index(drift_threshold=...)``): distribution
        shift shows up as ingested mass landing in DIFFERENT lists than
        the fit corpus's, which degrades probe recall even when each row's
        own assignment cosine looks normal (near-isotropic embeddings
        barely move the cosine; their list routing moves a lot —
        ``ann_ivf_drift_stats`` vs this row). Needs only the per-list
        counts of two segments — served from the descriptor's
        ``list_counts`` metadata recorded at write time (r12: no scan at
        all), falling back to one map-side-combined scan of the lists
        table's (seg, centroid_id) pairs for over-cap indexes — no
        vectors, no truth tier either way.

        Returns ONE row ``(n_fit, n_newest, share_drift)``: the fit and
        newest rows of ``ivf_share_drift_by_segment``, so an empty newest
        segment reads 0.0 here too. 0.0 when the chain has no appended
        segment yet. Shares quantize to 1e-9 fixed-point before the |p-q|
        sum (exact-sum discipline: the TV is a sum of int64s,
        partition-order independent, ±0.5e-9 per list quantization
        error)."""
        desc = self._descriptor(name, "ivf")
        segs = self._segments(desc)
        schema = "n_fit long, n_newest long, share_drift double"
        if len(segs) <= 1:
            return self._local_df([(int(desc["n_rows"]), 0, 0.0)], schema)
        last = len(segs) - 1
        meta = self._list_counts_meta(desc)
        if meta is not None:
            series = self._drift_rows_meta(segs, meta)
            fit, newest = series[0], series[-1]
            rows = [(fit[1] or 0, *newest[1:])] if newest[0] == last else []
            return self._local_df(rows, schema)
        series = self._drift_rows_scan(name, desc)
        fit = series.where(F.col("segment_idx") == 0).select(
            F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_fit")
        )
        newest = series.where(F.col("segment_idx") == last).select(
            F.col("n_rows").alias("n_newest"), "share_drift"
        )
        return fit.crossJoin(newest)

    def ivf_share_drift_by_segment(self, name: str = "ivf") -> DataFrame:
        """``ivf_share_drift`` for EVERY segment of the chain — the drift
        TIME SERIES a monitoring dashboard plots when appends arrive as
        streaming micro-batches: one row per segment with its per-list
        assignment-share TV distance from the fit segment (segment 0 =
        the fit itself, drift 0.0 by definition). Same descriptor-metadata
        fast path / lists-table scan fallback and the same 1e-9
        fixed-point TV discipline as the scalar statistic; no vectors.

        Returns (segment_idx, n_rows, share_drift) ordered by segment."""
        desc = self._descriptor(name, "ivf")
        segs = self._segments(desc)
        schema = "segment_idx int, n_rows long, share_drift double"
        if len(segs) <= 1:
            return self._local_df([(0, int(desc["n_rows"]), 0.0)], schema)
        meta = self._list_counts_meta(desc)
        if meta is not None:
            return self._local_df(self._drift_rows_meta(segs, meta), schema)
        return self._drift_rows_scan(name, desc).orderBy("segment_idx")

    def _drift_rows_meta(self, segs: list, meta: dict) -> list:
        """Zero-JOB drift series (r12): the per-(segment, list) counts
        recorded at write time replace the lists-table scan, and the
        series is computed on the driver with the ``_share_fp``/``_round6``
        twins of ``_drift_rows_scan``'s Spark expressions (bit-identical;
        pinned by test_ivf_drift_meta_path_matches_scan_path). Each
        segment contributes the union of its lists and the fit's; a
        segment whose union with the fit is EMPTY has no per-list rows
        and (exactly like the scan path's groupBy) no drift row."""
        fitc = meta[segs[0]]
        tf = sum(fitc.values())
        out_rows = [(0, tf if fitc else None, 0.0)]
        for i in range(1, len(segs)):
            segc = meta[segs[i]]
            union = set(fitc) | set(segc)
            if not union:
                continue
            tn = sum(segc.values())
            sd = sum(
                abs(
                    self._share_fp(fitc.get(c, 0), tf)
                    - self._share_fp(segc.get(c, 0), tn)
                )
                for c in union
            )
            out_rows.append(
                (i, tn, 0.0 if tn == 0 else self._round6(1e-9 + sd / 2e9))
            )
        return out_rows

    def _drift_rows_scan(self, name: str, desc: dict) -> DataFrame:
        """The drift series from one map-side-combined scan of the lists
        table's (seg, centroid_id) pairs, unordered."""
        segs = self._segments(desc)
        lists = self._read_table(name, desc, "lists", keep_seg=True)
        idx = F.array(*[F.lit(int(s)) for s in segs])
        counts = (
            lists.groupBy("seg", "centroid_id")
            .agg(F.count("*").alias("_n"))
            .select(
                (F.array_position(idx, F.col("seg")) - 1)
                .cast("int")
                .alias("segment_idx"),
                "centroid_id",
                "_n",
            )
        )
        fit = counts.where(F.col("segment_idx") == 0).select(
            "centroid_id", F.col("_n").alias("_nf")
        )
        # full outer per segment: lists hit by only one side count
        # fully. Segment ids come from the DESCRIPTOR, not from
        # observed list rows — an empty append (zero rows) has no list
        # rows, and deriving the grid from rows would silently drop
        # exactly the segment where ingest stalled from the drift
        # series.
        others = counts.where(F.col("segment_idx") > 0)
        seg_ids = self._local_df(
            [(i,) for i in range(1, len(segs))], "segment_idx int"
        )
        grid = seg_ids.crossJoin(F.broadcast(fit)).select(
            "segment_idx", "centroid_id", "_nf"
        )
        j = grid.join(
            others.select(
                "segment_idx", "centroid_id", F.col("_n").alias("_nn")
            ),
            ["segment_idx", "centroid_id"],
            "full",
        ).select(
            "segment_idx",
            F.coalesce("_nf", F.lit(0)).alias("_nf"),
            F.coalesce("_nn", F.lit(0)).alias("_nn"),
        )
        fit_row = fit.agg(F.sum("_nf").alias("n_rows")).select(
            F.lit(0).cast("int").alias("segment_idx"),
            F.col("n_rows").cast("long"),
            F.lit(0.0).alias("share_drift"),
        )
        tot = j.groupBy("segment_idx").agg(
            F.sum("_nf").alias("_tf"), F.sum("_nn").alias("_tn")
        )
        share_fp = lambda n, t: F.when(  # noqa: E731 — local fixed-point
            t > 0,
            F.round(F.lit(1e-9) + n.cast("double") / t * 1e9, 0).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        per = j.join(F.broadcast(tot), "segment_idx").select(
            "segment_idx",
            "_tn",
            F.abs(
                share_fp(F.col("_nf"), F.col("_tf"))
                - share_fp(F.col("_nn"), F.col("_tn"))
            ).alias("_d"),
        )
        drifts = per.groupBy("segment_idx").agg(
            F.max("_tn").alias("n_rows"), F.sum("_d").alias("_sd")
        ).select(
            "segment_idx",
            "n_rows",
            # an empty append reports drift 0.0 (with n_rows 0) rather than
            # nulling out — the stalled segment must stay visible in the
            # monitoring series
            F.when(F.col("n_rows") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.lit(1e-9) + F.col("_sd") / 2e9, 6) + F.lit(0.0)
            )
            .alias("share_drift"),
        )
        return fit_row.unionByName(drifts)

    def compact_index(self, name: str) -> dict:
        """Fold a segment chain back into ONE segment — the small-file /
        long-chain axis of index maintenance (the engine's OPTIMIZE applied
        to index artifacts). Row content is unchanged (pure rewrite of the
        committed segments), so every query answers identically; what
        changes is the file count a scan schedules over. A no-op on
        single-segment indexes."""
        desc = self._state["indexes"].get(name)
        if desc is None:
            raise KeyError(f"no index named {name!r} at {self.base}")
        if len(self._segments(desc)) <= 1:
            return desc
        tables = {
            t: self._read_table(name, desc, t)
            for t in _KINDS[desc["kind"]].tables
        }
        gen = self._reserve_gen()
        self._stage_segment(name, desc["kind"], tables, gen)
        new_desc = dict(desc)
        new_desc.update({"gen": gen, "segments": [gen]})
        meta = self._list_counts_meta(desc)
        if meta is not None:
            # a fold is a pure rewrite: the merged segment's per-list
            # counts are the exact integer sums of the folded ones
            merged: Counter = Counter()
            for seg_counts in meta.values():
                merged.update(seg_counts)
            new_desc["list_counts"] = {
                str(gen): {str(c): n for c, n in merged.items()}
            }
        else:
            new_desc.pop("list_counts", None)
        self._commit(name, new_desc)
        return new_desc
