"""Correctness gates, run outside the timed region.

Carve passes are checked against the generator's manifest: every
planted file must come back with its exact offset, size and sha256,
and `browser_history` must hold exactly the planted visits. Query
passes are checked against each query's DuckDB oracle with the value
hash of `tools/check_oracle.py`.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb

from perfbench.gen import Manifest, Planted, Visit
from tools.check_oracle import value_hash

_EPOCH = dt.datetime(1970, 1, 1)


def missing_carves(manifest: Manifest, carved: list[tuple[int, int, str]]) -> list[Planted]:
    """Planted files with no carved row of the same (offset, size, sha256)."""
    got = set(carved)
    return [p for p in manifest.planted if (p.offset, p.size, p.sha256) not in got]


def visits_match(manifest: Manifest, history: list[tuple]) -> bool:
    """`history` rows are (browser, url, title, visit_time, visit_source)
    with visit_time a naive-UTC datetime; compared as a multiset."""

    def key(v: Visit) -> tuple:
        return (v.browser, v.url, v.title, v.visit_time_us, v.visit_source)

    def micros(t: dt.datetime) -> int:
        return (t - _EPOCH) // dt.timedelta(microseconds=1)

    got = sorted((b, u, t, micros(ts), s) for b, u, t, ts, s in history)
    return got == sorted(key(v) for v in manifest.visits)


def check_carve_output(manifest: Manifest, out_dir: str) -> tuple[int, int]:
    """(attempted, failed) for one analyst run's parquet output: one
    check per planted file plus one for the browser history table."""
    con = duckdb.connect()
    try:
        carved = con.execute(
            "SELECT global_start, size, sha256 FROM read_parquet(?)",
            [os.path.join(out_dir, "carved_files", "*.parquet")],
        ).fetchall()
        history = con.execute(
            "SELECT browser, url, title, visit_time, visit_source FROM read_parquet(?)",
            [os.path.join(out_dir, "browser_history", "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    failed = len(missing_carves(manifest, carved))
    failed += 0 if visits_match(manifest, history) else 1
    return len(manifest.planted) + 1, failed


def oracle_problem(cols: list[str], rows: list[tuple], sql: str, con) -> str | None:
    """None when the Spark result matches the oracle's row count, column
    names and order-insensitive value hash; otherwise what differs."""
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = [tuple(r) for r in res.fetchall()]
    if len(rows) != len(orows):
        return f"rows {len(rows)} != {len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != {sorted(ocols)}"
    if value_hash(cols, rows) != value_hash(ocols, orows):
        return "value hash differs"
    return None


def oracle_connection(tables_dir: str, tables: tuple[str, ...]):
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
