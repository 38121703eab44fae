"""Local replica of the driver's t2 correctness gate: run each
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row-count + column names + order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(val) -> str:
    import datetime
    import decimal
    import math

    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "NaN"
        return repr(round(val, 9))
    if isinstance(val, decimal.Decimal):
        return str(val.normalize())
    if isinstance(val, datetime.datetime):
        return val.isoformat()
    if isinstance(val, bool):
        return str(val).lower()
    if isinstance(val, list):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return str(val)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from swiftbeaver_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)

    def fresh_con():
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"{name:24s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only  n={len(srows)}  ({time.time()-t0:.1f}s)")
            if not srows:
                print(f"  !! zero rows")
                failures.append(name)
            continue
        try:
            con = fresh_con()
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = [tuple(r) for r in res.fetchall()]
            con.close()
        except Exception as e:
            print(f"{name:24s} DUCK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = value_hash(scols, srows), value_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show first differing row for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                aset = sorted("|".join(canon(r[i]) for i in order_s) for r in srows)
                bset = sorted("|".join(canon(r[i]) for i in order_o) for r in orows)
                for a, b in zip(aset, bset):
                    if a != b:
                        problems.append(f"  spark: {a[:220]}")
                        problems.append(f"  duck : {b[:220]}")
                        break
        status = "OK " if not problems else "FAIL"
        print(f"{name:24s} {status} n={len(srows)} ({time.time()-t0:.1f}s)")
        for p in problems:
            print(f"  {p}")
        if problems:
            failures.append(name)
    print()
    if failures:
        print(f"FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
