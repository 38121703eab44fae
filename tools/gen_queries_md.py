"""Regenerate QUERIES.md from __spark_entry__.py (queries() order,
docstring summaries, hash vs rows-only gate, driver window split)."""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import __spark_entry__ as E

qs = E.queries()
oracles = E.oracle_sql()

lines = [
    "# Query catalog — `__spark_entry__.py`",
    "",
    "All queries run via `queries()[name](spark, sf_dir)`; every entry",
    "has a DuckDB oracle in `oracle_sql()` (rows+schema+value-hash gate)",
    "unless marked *rows-only* (iterative ops). The first 50 entries form",
    "the external driver's correctness window; the rest are checked by",
    "`tools/drive_contract.py` (strict driver-canon replica) at",
    "sf0.001/0.01/0.1.",
    "",
    "| # | query | gate | summary |",
    "|---|---|---|---|",
]
for i, (name, fn) in enumerate(qs.items(), 1):
    doc = (fn.__doc__ or "").strip()
    doc = re.sub(r"\s+", " ", doc)
    if len(doc) > 180:
        doc = doc[:180] + "…"
    gate = "hash" if name in oracles else "rows-only"
    win = "window" if i <= 50 else "tail"
    lines.append(f"| {i} | `{name}` | {gate}/{win} | {doc} |")

with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
    f.write("\n".join(lines) + "\n")
print(f"wrote {len(qs)} entries")
