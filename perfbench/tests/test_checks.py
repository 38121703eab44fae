import datetime as dt
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.checks import check_carve_output, missing_carves, oracle_problem, visits_match
from perfbench.gen import Manifest, Planted, Visit

PLANTED = [Planted("jpeg", 4096, 700, "aa"), Planted("png", 8192, 177, "bb")]
VISITS = [Visit("chrome", "https://a.example/", "A", 1_600_000_000_000_001, "typed")]
MANIFEST = Manifest(1 << 20, PLANTED, VISITS)
VISIT_TIME = dt.datetime(2020, 9, 13, 12, 26, 40, 1)


def test_missing_carves_needs_exact_offset_size_and_hash():
    carved = [(4096, 700, "aa"), (8192, 178, "bb"), (123, 4, "cc")]
    assert missing_carves(MANIFEST, carved) == [PLANTED[1]]
    assert missing_carves(MANIFEST, carved + [(8192, 177, "bb")]) == []


def test_visits_match_compares_times_to_the_microsecond():
    row = ("chrome", "https://a.example/", "A", VISIT_TIME, "typed")
    assert visits_match(MANIFEST, [row])
    assert not visits_match(MANIFEST, [row, row])
    late = row[:3] + (VISIT_TIME + dt.timedelta(microseconds=1),) + row[4:]
    assert not visits_match(MANIFEST, [late])


def _write(path, table):
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_check_carve_output_reads_the_parquet_tables(tmp_path):
    _write(tmp_path / "carved_files", pa.table(
        {"global_start": [4096, 8192], "size": [700, 177], "sha256": ["aa", "bx"]}))
    _write(tmp_path / "browser_history", pa.table({
        "browser": ["chrome"], "url": ["https://a.example/"], "title": ["A"],
        "visit_time": pa.array([VISIT_TIME], pa.timestamp("us")), "visit_source": ["typed"]}))
    assert check_carve_output(MANIFEST, str(tmp_path)) == (3, 1)


def test_oracle_problem_reports_rows_columns_and_values():
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)"
    assert oracle_problem(["v", "k"], [("y", 2), ("x", 1)], sql, con) is None
    assert oracle_problem(["k", "v"], [(1, "x")], sql, con).startswith("rows")
    assert oracle_problem(["k", "w"], [(1, "x"), (2, "y")], sql, con).startswith("columns")
    assert oracle_problem(["k", "v"], [(1, "x"), (2, "z")], sql, con) == "value hash differs"
