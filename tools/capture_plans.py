"""Capture .explain("formatted") output for named queries() entries.

Usage: python tools/capture_plans.py OUT_DIR SUFFIX [sf_dir] query ...

Writes OUT_DIR/<query>_<SUFFIX>.txt for each query name (exact match on
the queries() key). Plans are BUILT, not executed (same caveat as
plan_audit.py: bounded training collects inside a callable do run).

Eager queries (ones that persist() + count() while building, e.g.
q157) plan their final stages under AQE from runtime statistics, so
their captured plan can vary run to run on one tree: q157's
bitext_mine_ivf join picks BuildLeft or BuildRight for `best ⋈ sum_x`
and its codegen ids move between captures. Check plan identity on such
a query with AQE off on both sides (get_spark turns it on; set
spark.sql.adaptive.enabled=false on the session before capturing), or
mask build side and codegen ids before diffing.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftbeaver_spark.session import get_spark

import __spark_entry__ as E


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", rest
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
