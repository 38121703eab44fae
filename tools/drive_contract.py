"""Drive __spark_entry__ the way the driver does: run every queries()
entry on Spark, run oracle_sql() in DuckDB, collect BOTH into pandas,
sort_values over all columns (the canon that crashed q29 in round 1),
and hash the stringified frames. Exit 0 = all green.

This is the STRICT replica of the external driver gate — use it, not
tools/check_oracle.py (laxer canon), to predict CORRECTNESS results.
Usage: python tools/drive_contract.py [sf_dir] [query_prefix ...]
(optional prefixes filter which queries run, e.g. `q06 q11`)"""
import hashlib
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

import __spark_entry__ as E

args = [a for a in sys.argv[1:]]
SF = args[0] if args and not args[0].startswith("q") else "/root/testdata/sf0.01"
ONLY = tuple(a for a in args if a.startswith("q"))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_builder = (
    SparkSession.builder.master("local[16]")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.enabled", "false")
    # a 50+-query sweep accumulates caches/broadcasts in one JVM; the
    # default 1g driver heap OOMs around query ~40 (seen in round 6)
    .config("spark.driver.memory", "6g")
)
if os.environ.get("SPARK_GRAFT_ROCKSDB", "0") == "1":
    # re-verify the streaming family under the RocksDB state store
    # (the 100 TB provider — see swiftbeaver_spark/session.py)
    _builder = _builder.config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
spark = _builder.getOrCreate()

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def canon(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)  # driver's crash site
    body = "\n".join("|".join(str(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.sha256(body.encode()).hexdigest()


# driver smoke: entry()
edf = E.entry(spark)
erows = edf.collect()
print(f"entry(): {len(erows)} rows, schema={[f.name for f in edf.schema.fields]}")

oracles = E.oracle_sql()
fails = []
for name, fn in E.queries().items():
    if ONLY and not name.startswith(ONLY):
        continue
    sdf = fn(spark, SF).toPandas()
    # queries persist() internally; drop leftovers so a long sweep
    # doesn't accumulate executor/driver heap across a 169-query sweep
    spark.catalog.clearCache()
    if name not in oracles:
        print(f"{name}: rows-only, {len(sdf)} rows")
        try:
            canon(sdf)
        except Exception as exc:  # the q29-style crash
            fails.append(name)
            print(f"  !! canon crash: {exc}")
        continue
    odf = con.execute(oracles[name]).df()
    sh, oh = canon(sdf), canon(odf)
    rows_ok = len(sdf) == len(odf)
    cols_ok = sorted(sdf.columns) == sorted(odf.columns)
    ok = rows_ok and cols_ok and sh == oh
    print(f"{name}: rows {len(sdf)}/{len(odf)} cols_ok={cols_ok} hash={'OK' if sh == oh else 'MISMATCH'}")
    if not ok:
        fails.append(name)
        a = set("|".join(str(v) for v in r) for r in sdf[sorted(sdf.columns)].itertuples(index=False))
        b = set("|".join(str(v) for v in r) for r in odf[sorted(odf.columns)].itertuples(index=False))
        for line in list(a - b)[:3]:
            print("   spark-only:", line[:160])
        for line in list(b - a)[:3]:
            print("   duck-only: ", line[:160])

print("FAILS:", fails if fails else "none — all green")
sys.exit(1 if fails else 0)
