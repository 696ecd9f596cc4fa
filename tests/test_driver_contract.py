"""Replicates the driver's correctness gate locally: run every
__spark_entry__.queries() entry at sf0.01 and compare against its
oracle_sql() via DuckDB — row count, column names, and order-insensitive
values (normalized comparison on sorted rows)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Keep the float marker: the driver's value hash is
        # type-sensitive, so int64 3549 vs float64 3549.0 must FAIL
        # here too.
        return f"f:{v:.9g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def _normalize(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(_norm(r[c]) for c in cols)
        for _, r in df_pandas[cols].iterrows()
    ]
    return cols, sorted(rows)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, oracle_con, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    got = q(spark, SF_DIR).toPandas()
    want = oracle_con.execute(sql).df()
    gc, gr = _normalize(got)
    wc, wr = _normalize(want)
    assert gc == wc, f"{name}: column mismatch {gc} vs {wc}"
    assert len(gr) == len(wr), f"{name}: row count {len(gr)} vs {len(wr)}"
    mismatches = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"{gr[mismatches[0]]} vs {wr[mismatches[0]]}"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(2000).collect()
    assert len(rows) > 0
    assert "geometry_wkb_hex" in df.columns


def test_all_queries_have_query_fn():
    q = entrymod.queries()
    for name in entrymod.oracle_sql():
        assert name in q


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.01 tables")
def test_every_query_has_an_oracle():
    """oracle_sql() turns a lazy oracle function that raises into a
    query without an oracle, and without any error; every query has
    one, so a broken oracle function fails here instead."""
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())
