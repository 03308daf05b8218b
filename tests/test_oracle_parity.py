"""Run every declared query against its DuckDB oracle at sf0.001 — a local
rehearsal of the driver's CORRECTNESS gate (it runs the same comparison at
sf0.01)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_utils import compare, duckdb_conn

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


def test_every_query_has_callable():
    assert QUERIES, "no queries declared"
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_oracle_coverage():
    """Every oracle key must have a query; queries without oracles are the
    known rows-only set."""
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, con, name):
    df = QUERIES[name](spark, sf_dir)
    ok, msg = compare(df, con, ORACLES[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0


# one row per index-store build path: PQ, LSH / IVF / IVFADC / MinHash
# appends, and the maintenance loop's auto-fold
FRESH_STORE_ROWS = (
    "ann_pq_persisted",
    "ann_lsh_appended",
    "ann_ivf_appended",
    "ann_ivfpq_appended",
    "dedup_minhash_appended",
    "ann_pq_chain_autofold",
)


def test_fresh_store_rows_match_oracle(spark, sf_dir, con, tmp_path, monkeypatch):
    """The persisted stores under the shared store base outlive every run,
    so a fault in the index build path would show only on a fresh base:
    build every store from scratch under ``tmp_path`` and grade one row of
    each build path against its oracle."""
    from helixdb_spark.plans import pipeline

    monkeypatch.setattr(pipeline, "_STORE_MEMO", set())
    monkeypatch.setattr(pipeline, "_store_base", lambda _sf: str(tmp_path / "s"))
    for name in FRESH_STORE_ROWS:
        ok, msg = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
        assert ok, f"{name} on a fresh store: {msg}"
