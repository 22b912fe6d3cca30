"""Replicates the driver's correctness gate locally: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


QUERY_NAMES = sorted(E.oracle_sql().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    q = E.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(E.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    a = _canon_rows(scols, srows)
    b = _canon_rows(dcols, drows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_rows_only_queries_run(spark):
    qs = E.queries()
    rows_only = set(qs) - set(E.oracle_sql())
    assert rows_only, "expected some rows-only queries"
    for name in sorted(rows_only):
        n = qs[name](spark, SF_DIR).count()
        assert n >= 0


def test_entry_smoke(spark, monkeypatch):
    from dart_xbrl_crawler_spark.operators import politeness as P

    frontiers = []
    pop = P.pop_round

    def recording_pop(frontier, *args, **kwargs):
        frontiers.append(frontier)
        return pop(frontier, *args, **kwargs)

    monkeypatch.setattr(P, "pop_round", recording_pop)
    df = E.entry(spark)
    assert df.count() > 0
    assert "n_selected" in df.columns
    # every frontier row is a candidate of its host, though the pop
    # returns only the round's rows
    (frontier,) = frontiers
    n_candidates = sum(r["n_candidates"] for r in df.collect())
    assert n_candidates == frontier.count()
