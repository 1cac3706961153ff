"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet dir, then compares row count, sorted
column names, and an order-insensitive value hash (rows rendered to
canonical strings, sorted, md5). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]

The session is a default-conf one (master and memory only), not
``build_session``: whoever calls ``queries()`` brings their own
session, so a row that leans on a ``build_session`` conf fails here.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rendered = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in rendered:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[*]")
        .appName("correctness-check")
        .config("spark.driver.memory", os.environ.get("BEATS_SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows={len(srows):7d}  (no oracle — rows-only)")
            continue
        try:
            # The driver canonicalizes HUGEINT/DECIMAL differently than
            # fetchall()'s Python ints (r1 lesson: 5 hash fails from bare
            # DuckDB sum()). Flag them here so they never reach the driver.
            wide = [
                (row[0], row[1])
                for row in con.execute(f"DESCRIBE ({oracles[name]})").fetchall()
                if row[1] in ("HUGEINT", "UHUGEINT")
                or row[1].startswith("DECIMAL")
            ]
            dres = con.execute(oracles[name])
            dcols = [d[0] for d in dres.description]
            drows = dres.fetchall()
        except Exception as e:
            print(f"{name:28s} ORACLE ERROR: {e}")
            failures += 1
            continue
        if wide:
            print(f"{name:28s} FAIL oracle has driver-unsafe types: {wide}")
            failures += 1
            continue
        ok_n = len(srows) == len(drows)
        ok_c = sorted(scols) == sorted(dcols)
        sh, dh = value_hash(srows, scols), value_hash(drows, dcols)
        ok_h = sh == dh
        status = "OK " if (ok_n and ok_c and ok_h) else "FAIL"
        print(
            f"{name:28s} {status} rows={len(srows)}/{len(drows)} "
            f"cols={'=' if ok_c else f'{sorted(scols)}!={sorted(dcols)}'} "
            f"hash={'=' if ok_h else f'{sh[:8]}!={dh[:8]}'}"
        )
        if not (ok_n and ok_c and ok_h):
            failures += 1
            if not ok_h and ok_n and ok_c:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("|".join(canon(r[i]) for i in order) for r in srows)
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                dset = sorted("|".join(canon(r[i]) for i in dorder) for r in drows)
                for a, b in zip(sset, dset):
                    if a != b:
                        print(f"   spark : {a[:160]}")
                        print(f"   duckdb: {b[:160]}")
                        break
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
