"""Local replica of the driver's correctness gate: run every queries() entry
through Spark AND the matching oracle_sql() through DuckDB at sf0.01 and
compare row count, column names, and order-insensitive values."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def _rowset(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    qfn = ALL_QUERIES[name]
    sdf = qfn(spark, SF_DIR)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.sql(ORACLES[name])
    d_cols = list(res.columns)
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (s_cols, d_cols)
    assert len(s_rows) == len(d_rows), f"{name}: {len(s_rows)} vs {len(d_rows)}"
    sv = _rowset(s_rows, s_cols)
    dv = _rowset(d_rows, d_cols)
    mism = [(a, b) for a, b in zip(sv, dv) if a != b][:5]
    assert sv == dv, f"{name}: first mismatches {mism}"


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_result_types(duck, name):
    """Every oracle column has a type Spark can return: no HUGEINT (DuckDB's
    ``sum`` over BIGINT) and no DECIMAL.  ``_canon`` stringifies values, so
    the value comparison above cannot see such a type drift."""
    res = duck.sql(ORACLES[name])
    wide = [
        (col, str(typ)) for col, typ in zip(res.columns, res.types)
        if str(typ).startswith(("HUGEINT", "DECIMAL"))
    ]
    assert not wide, f"{name}: cast to BIGINT or DOUBLE: {wide}"


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    sdf = ALL_QUERIES[name](spark, SF_DIR)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert "score" in out.columns
