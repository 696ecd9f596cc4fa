"""Deterministic 10x scale-up of the driver's sf0.1 tables -> an
"sf1.0" directory for the correctness-at-scale spot sweep.

The driver ships sf{0.001,0.01,0.1} only; the r4 sf0.1 sweep caught
three real bugs the sf0.01 gate could not (density-dependent boundary
and tie cases), so r5 adds one more decade where the oracle cost
allows. Tables are scaled by replication with deterministic key
shifts — pure SQL over the shipped parquet, no RNG, no wall clock —
so the same command always produces byte-identical inputs and the
DuckDB oracles remain exactly replayable:

* fact tables (events, lineitem+orders, documents, embeddings) get 10
  replicas with primary/foreign keys shifted in lockstep per replica
  (joins stay consistent; key spaces stay disjoint);
* events timestamps shift +7 s per replica so the 10x table is not
  10 identical same-second spikes (resample/sessionize/asof see real
  extra density);
* documents get a per-replica suffix token (replica 0 byte-identical)
  so text statistics grow linearly instead of creating 50k exact
  clones;
* dimensions (customer/supplier/part/nation/region) copy unchanged —
  10x fan-in on the same dimension keys, the realistic shape.

Usage:
    python scripts/make_sf1.py [--out /tmp/sf1.0]
then
    python scripts/oracle_sweep.py --sf-dir /tmp/sf1.0 \
        --out BENCH/oracle_sweep_sf1_spot.json
"""

from __future__ import annotations

import argparse
from pathlib import Path

import duckdb

SRC = "/root/testdata/sf0.1"
COPIES = 10

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/sf1.0")
    args = ap.parse_args()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()

    def copy(sql: str, table: str) -> None:
        con.execute(
            f"COPY ({sql}) TO '{out}/{table}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{table}.parquet')"
        ).fetchone()[0]
        print(f"{table}: {n} rows")

    rng = f"range({COPIES}) t(k)"
    ev_shift = con.execute(
        f"SELECT max(event_id) + 1 FROM read_parquet('{SRC}/events.parquet')"
    ).fetchone()[0]
    copy(
        f"""
        SELECT event_id + k * {ev_shift} AS event_id,
               ts + k * INTERVAL 7 SECOND AS ts,
               user_id, event_type, value, props
        FROM read_parquet('{SRC}/events.parquet'), {rng}
        ORDER BY event_id
        """,
        "events",
    )
    ok_shift = con.execute(
        f"SELECT max(o_orderkey) + 1 FROM read_parquet('{SRC}/orders.parquet')"
    ).fetchone()[0]
    copy(
        f"""
        SELECT o_orderkey + k * {ok_shift} AS o_orderkey,
               o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM read_parquet('{SRC}/orders.parquet'), {rng}
        ORDER BY o_orderkey
        """,
        "orders",
    )
    copy(
        f"""
        SELECT l_orderkey + k * {ok_shift} AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag,
               l_linestatus, l_shipdate
        FROM read_parquet('{SRC}/lineitem.parquet'), {rng}
        ORDER BY l_orderkey, l_linenumber
        """,
        "lineitem",
    )
    doc_shift = con.execute(
        f"SELECT max(doc_id) + 1 FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchone()[0]
    copy(
        f"""
        SELECT doc_id + k * {doc_shift} AS doc_id,
               CASE WHEN k = 0 THEN text
                    ELSE text || ' r' || CAST(k AS VARCHAR) END AS text,
               lang, source,
               CASE WHEN k = 0 THEN n_chars
                    ELSE n_chars + 3 + CAST(k >= 10 AS INT) END AS n_chars,
        FROM read_parquet('{SRC}/documents.parquet'), {rng}
        ORDER BY doc_id
        """,
        "documents",
    )
    vec_shift = con.execute(
        f"SELECT max(vec_id) + 1 FROM read_parquet('{SRC}/embeddings.parquet')"
    ).fetchone()[0]
    copy(
        f"""
        SELECT vec_id + k * {vec_shift} AS vec_id, embedding, label
        FROM read_parquet('{SRC}/embeddings.parquet'), {rng}
        ORDER BY vec_id
        """,
        "embeddings",
    )
    for t in ("customer", "supplier", "part", "nation", "region"):
        copy(f"SELECT * FROM read_parquet('{SRC}/{t}.parquet')", t)
    print(f"done -> {out}")


if __name__ == "__main__":
    main()
