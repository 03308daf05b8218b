"""The index store's segment protocol: Spark jobs per write / append /
fold / drift call for every index kind, reads through the schemas a
descriptor records, the refusal of a descriptor that carries no
``segments`` list, and the drift statistic of a chain whose newest
segment is empty."""

from __future__ import annotations

import itertools
import json

import pytest
from pyspark.sql import functions as F

from helixdb_spark.index_store import _KINDS, AnnIndexStore
from helixdb_spark.sources import load_table

_GROUPS = itertools.count()


def _jobs_of(spark, fn):
    """(result, Spark jobs ``fn`` launched), counted by job group."""
    sc = spark.sparkContext
    group = f"index_protocol_{next(_GROUPS)}"
    sc.setJobGroup(group, "index-store job count")
    try:
        out = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(jobs)


# Spark jobs per call on the sf0.001 embeddings / documents. The chain is
# write (ids % 4 == 0) -> append (% 4 <= 1) -> append (% 4 <= 2), then the
# same append again (nothing new), then an ``assume_new`` append of the
# last quarter where the kind has one, then a fold. Each pinned append
# runs on a chain of at least two segments, so a per-segment listing job
# would show as a changed count.
JOBS = {
    #          write  append  nothing  assume_new  compact
    "pq": (3, 6, 2, None, 1),
    "lsh": (3, 7, 2, 3, 2),
    "ivf": (6, 8, 2, 4, 3),
    "minhash": (4, 10, 2, 6, 2),
    "ivfpq": (9, 9, 2, None, 3),
}


@pytest.mark.parametrize("kind", sorted(JOBS))
def test_index_store_jobs_per_call(spark, sf_dir, tmp_path, kind):
    id_col = "doc_id" if kind == "minhash" else "vec_id"
    corpus = load_table(
        spark, sf_dir, "documents" if kind == "minhash" else "embeddings"
    )
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    write = getattr(store, f"write_{kind}")
    append = getattr(store, f"append_{kind}")
    part = F.col(id_col) % 4
    n_total = corpus.count()
    n_upto = [corpus.where(part <= i).count() for i in range(3)]

    desc, w = _jobs_of(spark, lambda: write(corpus.where(part == 0), name=kind))
    assert desc["n_rows"] == n_upto[0]
    append(corpus.where(part <= 1), name=kind)
    desc, a = _jobs_of(spark, lambda: append(corpus.where(part <= 2), name=kind))
    assert (len(desc["segments"]), desc["n_rows"]) == (3, n_upto[2])
    same, a0 = _jobs_of(spark, lambda: append(corpus.where(part <= 2), name=kind))
    assert same == desc
    an = None
    if JOBS[kind][3] is not None:
        desc, an = _jobs_of(spark, lambda: append(
            corpus.where(part == 3), name=kind, assume_new=True))
        assert (len(desc["segments"]), desc["n_rows"]) == (4, n_total)
    if kind == "ivf":
        rows, d = _jobs_of(spark, lambda: store.ivf_share_drift("ivf").collect())
        assert len(rows) == 1 and d == 0
    folded, c = _jobs_of(spark, lambda: store.compact_index(kind))
    assert len(folded["segments"]) == 1
    assert folded["n_rows"] == desc["n_rows"]
    assert store.list_indexes()[kind]["segments"] == folded["segments"]
    assert (w, a, a0, an, c) == JOBS[kind]


def _sorted_rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("kind", sorted(JOBS))
def test_read_table_uses_recorded_schema(spark, sf_dir, tmp_path, kind):
    """After write -> append -> fold, every table opens through the schema
    its descriptor records, with no Spark job, and reads the same rows and
    column names as a schema-inferring read of the committed segments. A
    descriptor without ``schemas`` (written before they were recorded)
    still reads, by inference."""
    id_col = "doc_id" if kind == "minhash" else "vec_id"
    corpus = load_table(
        spark, sf_dir, "documents" if kind == "minhash" else "embeddings"
    )
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    getattr(store, f"write_{kind}")(corpus.where(F.col(id_col) % 4 == 0), name=kind)
    getattr(store, f"append_{kind}")(corpus.where(F.col(id_col) % 4 <= 1), name=kind)
    desc = store.compact_index(kind)
    assert sorted(desc["schemas"]) == sorted(_KINDS[kind].tables)
    legacy = {k: v for k, v in desc.items() if k != "schemas"}
    for table in _KINDS[kind].tables:
        df, jobs = _jobs_of(spark, lambda: store._read_table(kind, desc, table))
        assert jobs == 0
        inferred = spark.read.parquet(store._table_root(kind, table)).where(
            F.col("seg").isin(desc["segments"])
        ).drop("seg")
        old = store._read_table(kind, legacy, table)
        assert df.columns == inferred.columns == old.columns
        rows = _sorted_rows(df)
        assert rows and rows == _sorted_rows(inferred) == _sorted_rows(old)


def test_share_drift_first_runs_no_job(spark, tmp_path):
    """The drift row of a one-segment chain, of a chain on the descriptor
    metadata path, and of a chain whose newest segment is empty is
    computed on the driver, and ``first()`` over it launches no Spark
    job."""
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    rows = []
    for step in (
        lambda: store.write_ivf(_emb(spark, 0, 200), name="ivf", stride=50),
        lambda: store.append_ivf(_emb(spark, 200, 300), name="ivf", assume_new=True),
        lambda: store.append_ivf(_emb(spark, 0, 0), name="ivf", assume_new=True),
    ):
        step()
        row, jobs = _jobs_of(spark, lambda: store.ivf_share_drift("ivf").first())
        assert jobs == 0
        rows.append(tuple(row))
    assert rows[0] == (200, 0, 0.0)
    assert rows[1][:2] == (200, 100) and rows[1][2] > 0
    assert rows[2] == (200, 0, 0.0)


def test_list_counts_without_local_footers(spark, tmp_path, monkeypatch):
    """Where the driver cannot read a staged lists segment's footers (an
    object store), its per-list counts come from a count over that segment
    dir read through the recorded schema: the count's shuffle-map job and
    its result, no schema-inference job. They equal the driver-read
    counts."""
    def build(root):
        store = AnnIndexStore(spark, str(tmp_path / root))
        store.write_ivf(_emb(spark, 0, 200), name="ivf", stride=50)
        appended, jobs = _jobs_of(
            spark, lambda: store.append_ivf(_emb(spark, 200, 300), name="ivf",
                                            assume_new=True),
        )
        return appended["list_counts"], jobs

    local, local_jobs = build("local")
    monkeypatch.setattr(
        AnnIndexStore, "_local_footer_counts", staticmethod(lambda path: None)
    )
    remote, remote_jobs = build("remote")
    assert remote == local and len(local) == 2
    assert remote_jobs == local_jobs + 2


def test_segmentless_descriptor_is_refused(spark, tmp_path):
    """A descriptor without ``segments`` names no readable segment set:
    opening the store refuses it with a rebuild hint, instead of a
    KeyError later or rows read from some directory."""
    base = tmp_path / "idx"
    (base / "_meta").mkdir(parents=True)
    (base / "_meta" / "index_state.json").write_text(json.dumps({
        "gen_seq": 1,
        "indexes": {"lsh": {
            "kind": "lsh", "gen": 0, "num_planes": 4, "dim": 3,
            "id_col": "vec_id", "vec_col": "embedding", "n_rows": 1,
        }},
    }))
    with pytest.raises(ValueError, match="'lsh'.*rebuild"):
        AnnIndexStore(spark, str(base)).read_lsh("lsh")


def _emb(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7 + 1).cast("float"),
            (F.col("id") % 11 + 1).cast("float"),
            (F.col("id") % 13 + 1).cast("float"),
        ).alias("embedding"),
    )


def test_share_drift_of_empty_newest_segment_is_zero(spark, tmp_path):
    """An ``assume_new`` append of an empty batch commits an empty newest
    segment. Its share drift is 0.0 on both the metadata path and the
    lists-table scan path, as the per-segment series already reports."""
    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    store.write_ivf(_emb(spark, 0, 200), name="ivf", stride=50)
    desc = store.append_ivf(
        _emb(spark, 0, 0), name="ivf", assume_new=True
    )
    assert len(desc["segments"]) == 2 and desc["n_rows"] == 200
    meta = store.ivf_share_drift("ivf").collect()
    series = store.ivf_share_drift_by_segment("ivf").collect()
    hidden = dict(desc)
    del hidden["list_counts"]  # force the lists-table scan path
    store._state["indexes"]["ivf"] = hidden
    scan = store.ivf_share_drift("ivf").collect()
    for rows in (meta, scan):
        assert [r.asDict() for r in rows] == [
            {"n_fit": 200, "n_newest": 0, "share_drift": 0.0}
        ]
    assert [(r["segment_idx"], r["n_rows"], r["share_drift"]) for r in series] == [
        (0, 200, 0.0), (1, 0, 0.0)
    ]


def test_empty_delta_keeps_drift_registration_live(spark, tmp_path):
    """A ``delta_scan`` IVF registration with a low drift threshold stays
    live when a maintenance commit adds no corpus rows: the empty segment
    has no drift, so neither invalidation nor refit fires."""
    from helixdb_spark.engine import HelixOptions, HelixSpark

    store = AnnIndexStore(spark, str(tmp_path / "idx"))
    store.write_ivf(_emb(spark, 0, 200), name="ivf", stride=50)
    db = HelixSpark.open(
        spark, str(tmp_path / "db"),
        HelixOptions(rick_range=10, outdate_range=1 << 40, auto_maintain=False),
    )
    # the commit's scan range holds no vector: every refresh is empty
    db.register_index(
        store, "ivf", lambda view: _emb(spark, 0, 0),
        drift_threshold=0.1,
        delta_scan=True,
    )
    db.put([(5, b"k", b"v")])
    db.compact(5, 9)
    db.close()
    info = store.list_indexes()["ivf"]
    assert info["stale"] is None
    assert len(info["segments"]) == 2 and info["n_rows"] == 200


def test_store_memo_keeps_rows_sharing_a_store_apart(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Rows that keep different indexes in one store base each validate
    their own indexes: opening the store for the IVF row first must not
    let the PQ row skip building its index. The store base is looked up
    per call, so redirecting ``_store_base`` moves every row."""
    from helixdb_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "_STORE_MEMO", set())
    monkeypatch.setattr(pipeline, "_store_base", lambda _sf: str(tmp_path / "s"))
    assert pipeline.ann_ivf_persisted(spark, sf_dir).count() > 0
    assert pipeline.ann_pq_persisted(spark, sf_dir).count() > 0
    assert sorted(AnnIndexStore(spark, str(tmp_path / "s")).list_indexes()) == [
        "ivf", "ivfpq", "lsh", "pq"
    ]
