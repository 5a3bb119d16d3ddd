"""Driver-contract harness: runs every ``queries()`` entry on Spark and
its ``oracle_sql()`` twin on DuckDB over the same parquet, then compares
row count, column names, and an order-insensitive value multiset —
mirroring the grading driver's CORRECTNESS check."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 vs 0.0 and trailing representation noise
        return f"{v + 0.0:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def _multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def sf_dir(sf01_dir):
    return sf01_dir


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = _duck(sf_dir)
    yield con
    con.close()


QUERIES = sorted(entrymod.queries().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_query_has_oracle():
    missing = set(entrymod.queries()) - set(entrymod.oracle_sql())
    # engine-only (non-SQL-expressible) entries are allowed, but must be
    # explicitly named here:
    allowed_weak = {k for k in missing
                    if k.startswith(("q90", "q91", "q92", "q93"))}
    assert missing == allowed_weak, f"queries missing oracles: {missing - allowed_weak}"


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, sf_dir)
    spark_cols = sorted(c.lower() for c in sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert len(spark_rows) >= 0  # weak rows-only check
        return
    res = duck.execute(sql)
    duck_cols = sorted(d[0].lower() for d in res.description)
    duck_rows = res.fetchall()

    assert spark_cols == duck_cols, f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}")
    sm = _multiset(spark_rows, [c.lower() for c in sdf.columns])
    dm = _multiset(duck_rows, [d[0].lower() for d in res.description])
    mismatches = [(a, b) for a, b in zip(sm, dm) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_reader_cache_keyed_on_application_id(monkeypatch):
    """A context object's ``id()`` can be reused after it stops; the
    reader-handle cache must key on the application id so a new
    application never gets a dead context's handles."""
    from types import SimpleNamespace

    monkeypatch.setattr(entrymod, "_T_CACHE", {})
    reads: list[str] = []

    def parquet(path):
        reads.append(path)
        return object()

    sc = SimpleNamespace(applicationId="app-1")
    fake = SimpleNamespace(sparkContext=sc,
                           read=SimpleNamespace(parquet=parquet))
    first = entrymod._t(fake, "/d", "documents")
    assert entrymod._t(fake, "/d", "documents") is first
    sc.applicationId = "app-2"  # same context object, same id()
    assert entrymod._t(fake, "/d", "documents") is not first
    assert len(reads) == 2
