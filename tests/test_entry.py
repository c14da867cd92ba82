"""Mimic the driver's correctness gate: every queries() entry vs its
DuckDB oracle at sf0.01 — row count, column names, and (order-insensitive)
values."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.01"
TABLES = ["events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(rows, cols):
    """Sort columns by name, normalize floats, return sorted row tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def fix(v):
        if isinstance(v, float):
            return round(v, 9) if not math.isnan(v) else "nan"
        return v

    return sorted((tuple(fix(r[i]) for i in order) for r in rows), key=repr)


_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(spark, duck, name):
    q = _QUERIES[name]
    sdf = q(spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(_ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    assert _norm(srows, scols) == _norm(drows, dcols), f"{name}: values differ"


def test_every_query_runs_and_entry_smoke(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    # queries without an oracle still must run and return rows
    for name in set(qs) - set(oracles):
        df = qs[name](spark, SF)
        assert df.count() >= 0, name
    out = entrymod.entry(spark)
    assert out.count() > 0


def test_board_contract():
    # The correctness board records only the first 50 queries() entries.
    assert len(entrymod.queries()) <= 50
    assert set(entrymod.oracle_sql()) == set(entrymod.queries())
