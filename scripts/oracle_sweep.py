"""Scale-up oracle sweep: re-run every __spark_entry__ oracle pair at an
arbitrary sf dir (default sf0.1 — 10x the driver's correctness gate).

The driver verifies correctness at sf0.01 only; bugs that need more data
to surface (hash collisions, overflow, sample-dependent literals, skew
paths taken only above a broadcast threshold) escape it. This sweep runs
the SAME comparison (row count, sorted column names, normalized sorted
row values — duplicated from tests/test_driver_contract.py so the sweep
is runnable without pytest) at a bigger sf and writes one JSON report.

Usage:
    python scripts/oracle_sweep.py [--sf-dir /root/testdata/sf0.1]
        [--out BENCH/oracle_sweep_sf01.json] [--only name1,name2]

Exit code 0 iff every checked query matches.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"f:{v:.9g}"
    if isinstance(v, int):
        return str(v)
    return str(v)


def _normalize(df_pandas):
    # Column-wise .map instead of per-row iterrows: byte-identical
    # _norm semantics to tests/test_driver_contract.py (None -> NULL,
    # NaN -> NaN, floats %.9g), but ~50x faster on the million-pair
    # results (iterrows materializes a Series per row).
    cols = sorted(df_pandas.columns)
    rows = (
        list(zip(*(df_pandas[c].map(_norm).tolist() for c in cols)))
        if cols and len(df_pandas)
        else []
    )
    return cols, sorted(rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="BENCH/oracle_sweep_sf01.json")
    ap.add_argument("--only", default="")
    ap.add_argument(
        "--skip", default="",
        help="comma-separated queries to leave out (e.g. oracles whose "
        "DuckDB replica is superlinear in corpus size and only feasible "
        "at the driver's sf0.01 — the skip list is recorded in the "
        "report so the gap is explicit, not silent)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    from dea_coastlines_spark.session import get_spark

    # The engine's own session factory, NOT a bespoke builder: an
    # earlier sweep hand-built a session without Arrow and spent 120 s
    # pickling a 1.9 M-row pair result through row-at-a-
    # time serialization (engine time: 6 s) — the artifact then read
    # as an engine regression. get_spark carries the tuned defaults
    # (Arrow transfer, AQE, skew join) that bench.py and pytest use,
    # so sweep timings measure the same engine.
    spark = get_spark(
        "oracle-sweep",
        cpus=32,
        shuffle_partitions=32,
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sorted(oracles)
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]
    skipped = sorted(set(args.skip.split(",")) - {""})
    if skipped:
        names = [n for n in names if n not in skipped]

    results = {}
    n_fail = 0
    for name in names:
        t0 = time.time()
        row = {"status": "ok"}
        try:
            got = queries[name](spark, args.sf_dir).toPandas()
            t1 = time.time()
            want = con.execute(oracles[name]).df()
            t2 = time.time()
            gc, gr = _normalize(got)
            wc, wr = _normalize(want)
            if gc != wc:
                row = {"status": "col_mismatch", "got": gc, "want": wc}
            elif len(gr) != len(wr):
                row = {
                    "status": "rowcount_mismatch",
                    "got": len(gr), "want": len(wr),
                }
            else:
                bad = [i for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
                if bad:
                    row = {
                        "status": "value_mismatch",
                        "n_bad": len(bad),
                        "first": [list(gr[bad[0]]), list(wr[bad[0]])],
                    }
                else:
                    row = {"status": "ok", "rows": len(gr)}
            row["spark_s"] = round(t1 - t0, 2)
            row["duckdb_s"] = round(t2 - t1, 2)
            # spark_s above is COLD + toPandas: it includes plan
            # compile, first-scan cache fill, Python-worker spin-up
            # and the Arrow collect of up-to-millions of result rows
            # (a 1.9 M-row pair query: 24.7 s cold+collect vs 6.2 s
            # warm noop-write at sf0.1) — per-session constants plus
            # harness transfer, not engine throughput. Keep it for
            # round-over-round comparability, and ALSO record the
            # bench-methodology figure: best-of-2 warm noop sink.
            # Its OWN try/except: a timing failure (e.g. OOM on a
            # heavy query) must annotate the row, not overwrite an
            # already-valid oracle verdict with status "error"
            # (ADVICE r5).
            try:
                best = float("inf")
                for _ in range(2):
                    tw = time.time()
                    queries[name](spark, args.sf_dir).write.mode(
                        "overwrite"
                    ).format("noop").save()
                    best = min(best, time.time() - tw)
                row["spark_noop_s"] = round(best, 2)
            except Exception:  # noqa: BLE001
                row["spark_noop_s"] = None
        except Exception as exc:  # noqa: BLE001 — record and continue
            row = {
                "status": "error",
                "err": f"{type(exc).__name__}: {exc}"[:500],
                "spark_s": round(time.time() - t0, 2),
            }
        if row["status"] != "ok":
            n_fail += 1
        results[name] = row
        flag = "OK " if row["status"] == "ok" else "FAIL"
        print(
            f"{flag} {name:28s} {row.get('spark_s', 0):7.2f}s spark "
            f"{row.get('duckdb_s', 0):7.2f}s duckdb {row['status']}",
            flush=True,
        )

    report = {
        "sf_dir": args.sf_dir,
        "checked": len(names),
        "failed": n_fail,
        "skipped": skipped,
        "results": results,
    }
    Path(args.out).write_text(json.dumps(report, indent=1))
    print(f"\n{len(names) - n_fail}/{len(names)} ok -> {args.out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
