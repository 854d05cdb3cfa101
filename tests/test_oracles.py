"""Replicates the driver's correctness gate locally: run every
``queries()`` entry at sf0.001 and compare against its ``oracle_sql()``
via DuckDB — row count, column names, and order-insensitive values.
Rows-only queries are checked for execution + determinism-friendly
schemas.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from marker_spark.cacheutil import release_all

SF_DIR = os.environ.get("MARKER_TEST_SF", "/root/testdata/sf0.001")
TABLES = entrymod.SOURCES_TBL


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def _normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c] if not isinstance(r, tuple) else r[cols.index(c)]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "nan"
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())
ALL_KEYS = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, ddb, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [r.asDict() for r in sdf.collect()]

    res = ddb.execute(entrymod.oracle_sql()[name])
    ddb_cols = [d[0] for d in res.description]
    ddb_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(ddb_cols), f"{name}: column mismatch"
    a = _normalize(spark_rows, spark_cols)
    b = _normalize([dict(zip(ddb_cols, r)) for r in ddb_rows], ddb_cols)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    assert a == b, f"{name}: value mismatch\nspark={a[:3]}\nduckdb={b[:3]}"
    release_all()  # session-owner discipline between queries


@pytest.mark.parametrize("name", [k for k in ALL_KEYS if k not in ORACLE_KEYS])
def test_rows_only_query_runs(spark, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    rows = sdf.collect()
    # every rows-only query returns data on these fixtures; an empty
    # result is a regression (a vacuously-passing check otherwise)
    assert len(rows) > 0
    assert len(sdf.columns) > 0
    release_all()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"source", "n_inserted", "m", "k", "fill_ratio"}


def test_dedup_clusters_logstar_matches_dedup_clusters(spark):
    """`dedup_clusters_logstar` has no oracle of its own: its rows must
    equal those of the oracle-checked `dedup_clusters`."""
    Q = entrymod.queries()
    try:
        got = [tuple(r) for r in Q["dedup_clusters_logstar"](spark, SF_DIR).collect()]
        want = [tuple(r) for r in Q["dedup_clusters"](spark, SF_DIR).collect()]
    finally:
        release_all()
    assert got and got == want
