"""Mini-driver: run each queries() entry against its oracle_sql() via
DuckDB, comparing row count, column names, and order-insensitive values —
the same gate the round driver applies at sf0.01.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")

TABLES = ["events", "documents", "embeddings"]

_QUERIES = entry_mod.queries()
_ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = tuple(_norm(r[i]) for i in order)
        out.append(vals)
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, ddb, name):
    q = _QUERIES[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = ddb.sql(_ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), (
        f"schema mismatch: spark={scols} oracle={ocols}"
    )
    assert len(srows) == len(orows), (
        f"row count mismatch: spark={len(srows)} oracle={len(orows)}"
    )
    sc = _canon(srows, scols)
    oc = _canon(orows, ocols)
    mismatches = [
        (a, b) for a, b in zip(sc, oc) if a != b
    ]
    assert not mismatches, f"value mismatch (first 5): {mismatches[:5]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None
