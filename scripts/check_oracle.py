"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry in Spark AND its
``oracle_sql()`` through DuckDB on the same parquet tables, comparing:
row count, column names, and an order-insensitive multiset of row values
(columns sorted by name, floats kept exact — the engines are expected to be
bit-identical by construction).

Usage: PYTHONPATH=. python scripts/check_oracle.py [--sf DIR] [--only name]
"""

from __future__ import annotations

import argparse
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from translink.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float) and v != v:  # NaN
        return "NaN"
    return v


def rows_multiset(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    # Data-dependent oracle twins (the Fellegi–Sunter EM fit) must read
    # the SAME corpus this check runs on, not the driver's default sf0.01
    # — set before oracle_sql() builds its strings.
    import os
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = args.sf

    # One task slot per CPU of $SPARK_GRAFT_CPUS (get_spark's default
    # master; all cores without it), two shuffle partitions per slot, and
    # a heap that fits a 15 GB host unless TRANSLINK_DRIVER_MEM says
    # otherwise — the engine's 20g default is sized for a large server.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    os.environ.setdefault("TRANSLINK_DRIVER_MEM", "4g")
    spark = get_spark(master=None, shuffle_partitions=2 * cpus,
                      app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if args.only and args.only not in queries:
        # a typo'd --only must not skip every check and then print the
        # gate's ALL MATCH success line
        raise SystemExit(f"unknown query {args.only!r}; registered: "
                         + ", ".join(sorted(queries)))
    failures = []
    for name, fn in queries.items():
        if args.only and name != args.only:
            continue
        t0 = time.time()
        sdf = fn(spark, args.sf)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:>24}: ROWS_ONLY rows={len(srows)} spark={t_spark:.1f}s")
            continue
        t0 = time.time()
        res = con.sql(oracles[name])
        dcols = [c for c in res.columns]
        drows = res.fetchall()
        t_duck = time.time() - t0
        status = []
        if len(srows) != len(drows):
            status.append(f"ROWCOUNT {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(c.lower() for c in dcols) and sorted(
            c.lower() for c in scols
        ) != sorted(c.lower() for c in dcols):
            status.append(f"SCHEMA {scols} vs {dcols}")
        if not status:
            ms = rows_multiset(srows, scols)
            md = rows_multiset(drows, dcols)
            if ms != md:
                diff = (ms - md) + (md - ms)
                sample = list(diff.items())[:3]
                status.append(f"VALUES {sum(diff.values())} differing rows, e.g. {sample}")
        verdict = "MATCH" if not status else "MISMATCH: " + "; ".join(status)
        print(f"{name:>24}: {verdict} rows={len(srows)} spark={t_spark:.1f}s duck={t_duck:.1f}s")
        if status:
            failures.append(name)
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
