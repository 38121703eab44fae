"""Browser-artifact extraction from carved SQLite databases.

Reference parity: src/parsers/sqlite_db.rs — schema introspection with
column-candidate fallbacks, the three relational extractions:

- Chrome history:  visits JOIN urls ON visits.url = urls.id  (:179-183)
- Firefox history: moz_historyvisits JOIN moz_places ON place_id = id (:252-255)
- Chrome downloads: downloads LEFT JOIN downloads_url_chains
  ON d.id = uc.id AND uc.chain_index = 0, url = COALESCE(...) (:462-505)

Spark design: the per-file extraction runs sqlite3 inside an Arrow
mapInPandas (one small carved DB per row — the joins over a single
70 kB file belong in sqlite, exactly as the reference runs them). One
pass per DB reads the blob once, runs all three extractions and the
optional page scan, and emits one kind-tagged frame that the engine
persists; the three tables are projections of it. Everything
cross-file and everything scalar (timestamp conversion, transition/
visit-type label decode, state stringification) happens in Catalyst
expressions so the hot path stays JVM-side and the output unions
across thousands of carved DBs are plain DataFrames.
"""

from __future__ import annotations

import os
import sqlite3
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark import schemas
from swiftbeaver_spark.parsers.sqlite_pages import merge_page_records, scan_pages
from swiftbeaver_spark.parsers.timeconv import (
    unix_micros_to_timestamp,
    webkit_micros_to_timestamp,
)

# One kind-tagged frame carries every record one carved DB yields: the
# three relational extractions plus, with page recovery on, the
# page-scan records. Each kind fills its own columns, in its
# extractor's tuple order; the rest are null.
_PARSED = (
    "kind string, browser string, url string, title string, raw_time bigint,"
    " raw_kind bigint, host string, name string, value string, path string,"
    " raw_expires bigint, raw_last_access bigint, raw_creation bigint,"
    " is_secure boolean, is_http_only boolean, target_path string,"
    " raw_start bigint, raw_end bigint, total_bytes bigint, raw_state bigint,"
    " visit_time timestamp, scan_order bigint, source_file string"
)
_PARSED_COLUMNS = [c.split()[0] for c in _PARSED.split(",")]
_KIND_COLUMNS = {
    "history": "browser url title raw_time raw_kind source_file",
    "cookies": "browser host name value path raw_expires raw_last_access"
    " raw_creation is_secure is_http_only source_file",
    "downloads": "browser url target_path raw_start raw_end total_bytes raw_state source_file",
    "page": "url title visit_time scan_order source_file",
}
_KIND_SLOTS = {k: [_PARSED_COLUMNS.index(c) for c in v.split()] for k, v in _KIND_COLUMNS.items()}
# columns the output tables declare non-null, per kind
_KIND_REQUIRED = {
    "history": ("browser", "url", "source_file"),
    "cookies": ("browser", "host", "name", "source_file"),
    "downloads": ("browser", "source_file"),
    "page": ("url", "source_file"),
}


def _table_columns(conn: sqlite3.Connection, table: str) -> set[str]:
    try:
        return {row[1].lower() for row in conn.execute(f"PRAGMA table_info({table})")}
    except sqlite3.Error:
        return set()


def _has_table(conn: sqlite3.Connection, name: str) -> bool:
    row = conn.execute(
        "SELECT name FROM sqlite_master WHERE type='table' AND name=?", (name,)
    ).fetchone()
    return row is not None


def _pick_col(columns: set[str], candidates: list[str]) -> str | None:
    for c in candidates:
        if c.lower() in columns:
            return c
    return None


def _select_col(columns: set[str], candidates: list[str], fallback: str = "NULL") -> str:
    return _pick_col(columns, candidates) or fallback


def _extract_history(conn: sqlite3.Connection, source: str) -> list[tuple]:
    rows: list[tuple] = []
    if _has_table(conn, "urls") and _has_table(conn, "visits"):
        try:
            for url, title, t, tr in conn.execute(
                "SELECT u.url, u.title, v.visit_time, v.transition "
                "FROM visits v JOIN urls u ON v.url = u.id"
            ):
                rows.append(("chrome", url, title, t, tr, source))
        except sqlite3.Error:
            pass
    if _has_table(conn, "moz_places") and _has_table(conn, "moz_historyvisits"):
        try:
            for url, title, t, vt in conn.execute(
                "SELECT p.url, p.title, v.visit_date, v.visit_type "
                "FROM moz_historyvisits v JOIN moz_places p ON v.place_id = p.id"
            ):
                rows.append(("firefox", url, title, t, vt, source))
        except sqlite3.Error:
            pass
    return rows


def _extract_cookies(conn: sqlite3.Connection, source: str) -> list[tuple]:
    rows: list[tuple] = []
    if _has_table(conn, "cookies"):
        cols = _table_columns(conn, "cookies")
        if {"host_key", "name"} <= cols:
            q = (
                f"SELECT host_key, name, {_select_col(cols, ['value'])}, "
                f"{_select_col(cols, ['path'])}, {_select_col(cols, ['expires_utc'])}, "
                f"{_select_col(cols, ['last_access_utc'])}, {_select_col(cols, ['creation_utc'])}, "
                f"{_select_col(cols, ['is_secure', 'secure'])}, "
                f"{_select_col(cols, ['is_httponly', 'httponly'])} FROM cookies"
            )
            try:
                for h, n, v, p, exp, la, cr, sec, ho in conn.execute(q):
                    rows.append(
                        (
                            "chrome", h, n, v, p, exp, la, cr,
                            None if sec is None else bool(sec),
                            None if ho is None else bool(ho),
                            source,
                        )
                    )
            except sqlite3.Error:
                pass
    if _has_table(conn, "moz_cookies"):
        try:
            for h, n, v, p, exp, la, cr, sec, ho in conn.execute(
                "SELECT host, name, value, path, expiry, lastAccessed, creationTime, "
                "isSecure, isHttpOnly FROM moz_cookies"
            ):
                # firefox expiry is seconds; scale to µs here so one Spark
                # expression handles both browsers (reference :412-413)
                rows.append(
                    (
                        "firefox", h, n, v, p,
                        None if exp is None else exp * 1_000_000,
                        la, cr,
                        None if sec is None else bool(sec),
                        None if ho is None else bool(ho),
                        source,
                    )
                )
        except sqlite3.Error:
            pass
    return rows


def _extract_downloads(conn: sqlite3.Connection, source: str) -> list[tuple]:
    rows: list[tuple] = []
    if _has_table(conn, "downloads"):
        cols = _table_columns(conn, "downloads")
        target = _pick_col(cols, ["target_path", "current_path"])
        if target is not None:
            url_candidates = []
            join = ""
            if _has_table(conn, "downloads_url_chains"):
                chain_cols = _table_columns(conn, "downloads_url_chains")
                if {"id", "url", "chain_index"} <= chain_cols:
                    join = (
                        " LEFT JOIN downloads_url_chains uc"
                        " ON d.id = uc.id AND uc.chain_index = 0"
                    )
                    url_candidates.append("uc.url")
            for cand in ["tab_url", "url", "referrer", "site_url", "origin_url"]:
                if cand in cols:
                    url_candidates.append(f"d.{cand}")
            url_expr = (
                "NULL"
                if not url_candidates
                else url_candidates[0]
                if len(url_candidates) == 1
                else f"COALESCE({', '.join(url_candidates)})"
            )
            start = _select_col(cols, ["start_time", "startTime"])
            end = _select_col(cols, ["end_time", "endTime"])
            total = _select_col(cols, ["total_bytes", "totalBytes"])
            state = _select_col(cols, ["state"])
            q = (
                f"SELECT d.{target}, {url_expr}, "
                f"{'d.' + start if start != 'NULL' else 'NULL'}, "
                f"{'d.' + end if end != 'NULL' else 'NULL'}, "
                f"{'d.' + total if total != 'NULL' else 'NULL'}, "
                f"{'d.' + state if state != 'NULL' else 'NULL'} FROM downloads d{join}"
            )
            try:
                for tp, u, s, e, tb, st in conn.execute(q):
                    rows.append(("chrome", u, tp, s, e, tb, st, source))
            except sqlite3.Error:
                pass
    if _has_table(conn, "moz_downloads"):
        cols = _table_columns(conn, "moz_downloads")
        if {"source", "target"} <= cols:
            q = (
                f"SELECT source, target, {_select_col(cols, ['startTime'])}, "
                f"{_select_col(cols, ['endTime'])}, {_select_col(cols, ['totalBytes'])}, "
                f"{_select_col(cols, ['state'])} FROM moz_downloads"
            )
            try:
                for u, tp, s, e, tb, st in conn.execute(q):
                    rows.append(("firefox", u, tp, s, e, tb, st, source))
            except sqlite3.Error:
                pass
    return rows


_EXTRACTORS = (
    ("history", _extract_history),
    ("cookies", _extract_cookies),
    ("downloads", _extract_downloads),
)


def _tagged(kind: str, rows: list[tuple]) -> Iterator[list]:
    """Per-kind tuples -> full-width _PARSED rows."""
    slots = _KIND_SLOTS[kind]
    for row in rows:
        out = [None] * len(_PARSED_COLUMNS)
        out[0] = kind
        for i, v in zip(slots, row):
            out[i] = v
        yield out


def parse_db(blob: bytes, source: str, page_recovery: bool) -> list[list]:
    """Every record one carved DB image yields, as _PARSED rows: one
    temp file and one connection serve the three extractions, and the
    page scan reads the same blob."""
    rows: list[list] = []
    fd, tmp = tempfile.mkstemp(suffix=".sqlite")
    try:
        with os.fdopen(fd, "wb") as out:
            out.write(blob)
        conn = sqlite3.connect(f"file:{tmp}?mode=ro&immutable=1", uri=True)
        try:
            for kind, extract in _EXTRACTORS:
                try:
                    rows.extend(_tagged(kind, extract(conn, source)))
                except sqlite3.Error:
                    pass
        finally:
            conn.close()
    except sqlite3.Error:
        pass
    finally:
        os.unlink(tmp)
    if page_recovery:
        rows.extend(_tagged("page", scan_pages(blob, source)))
    return rows


def _parse_worker(evidence_path: str, page_recovery: bool):
    """mapInPandas worker: rows (global_start, size, path) -> _PARSED."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from swiftbeaver_spark.source import open_evidence

        reader = open_evidence(evidence_path)
        try:
            for pdf in batches:
                rows: list[list] = []
                for gstart, size, rel in zip(pdf["global_start"], pdf["size"], pdf["path"]):
                    blob = reader.read_at(int(gstart), int(size))
                    rows.extend(parse_db(blob, str(rel), page_recovery))
                # object dtype: a column mixing None with ints would
                # otherwise coerce to float64 and round webkit µs
                # (~1.3e16, above 2**53)
                out = pd.DataFrame(rows, columns=_PARSED_COLUMNS, dtype=object)
                out["visit_time"] = pd.to_datetime(out["visit_time"])
                yield out
        finally:
            reader.close()

    return work


def parse_carved_dbs(
    carved_sqlite: DataFrame, evidence_path: str, page_recovery: bool
) -> DataFrame:
    """carved_files (file_type='sqlite') -> the kind-tagged parse frame:
    one read and one parse per carved DB (browser_tables projects it)."""
    src = carved_sqlite.select("global_start", "size", "path")
    return src.mapInPandas(_parse_worker(evidence_path, page_recovery), _PARSED)


_CHROME_TRANSITIONS = [
    "link", "typed", "auto_bookmark", "auto_subframe", "manual_subframe",
    "generated", "auto_toplevel", "form_submit", "reload", "keyword",
    "keyword_generated",
]
_FIREFOX_VISITS = {
    1: "link", 2: "typed", 3: "bookmark", 4: "embed", 5: "redirect_permanent",
    6: "redirect_temporary", 7: "download", 8: "framed_link",
}


def chrome_transition_expr(col: F.Column) -> F.Column:
    """transition & 0xFF -> label (reference sqlite_db.rs:624-639)."""
    masked = col.bitwiseAND(F.lit(255))
    expr = F.lit("other")
    for code, label in reversed(list(enumerate(_CHROME_TRANSITIONS))):
        expr = F.when(masked == code, label).otherwise(expr)
    return expr


def firefox_visit_expr(col: F.Column) -> F.Column:
    """visit_type -> label (reference sqlite_db.rs:641-653)."""
    expr = F.lit("other")
    for code, label in _FIREFOX_VISITS.items():
        expr = F.when(col == code, label).otherwise(expr)
    return expr


def _browser_time(browser: F.Column, raw: F.Column) -> F.Column:
    return F.when(browser == "chrome", webkit_micros_to_timestamp(raw)).otherwise(
        unix_micros_to_timestamp(raw)
    )


def browser_tables(parsed: DataFrame, page_recovery: bool) -> dict[str, DataFrame]:
    """parse_carved_dbs' frame -> {browser_history, browser_cookies,
    browser_downloads} with final schemas."""

    def kind(name: str) -> DataFrame:
        # coalesce types the kind's required columns non-null, as the
        # output schemas declare (a malformed DB's NULL there reads "")
        return parsed.where(F.col("kind") == name).withColumns(
            {c: F.coalesce(F.col(c), F.lit("")) for c in _KIND_REQUIRED[name]}
        )

    history = kind("history").select(
        "browser",
        F.lit("Default").alias("profile"),
        "url",
        "title",
        _browser_time(F.col("browser"), F.col("raw_time")).alias("visit_time"),
        F.when(
            F.col("browser") == "chrome", chrome_transition_expr(F.col("raw_kind"))
        )
        .otherwise(firefox_visit_expr(F.col("raw_kind")))
        .alias("visit_source"),
        "source_file",
    )
    if page_recovery:
        # recovery augments history for DBs whose intact parse found
        # nothing (reference gates per-DB on 0 rows,
        # src/pipeline/workers.rs:300-368): anti-join on source_file
        recovered = merge_page_records(kind("page"))
        parsed_sources = history.select("source_file").distinct()
        history = history.unionByName(
            recovered.join(parsed_sources, "source_file", "left_anti").select(
                *[f.name for f in schemas.BROWSER_HISTORY.fields]
            )
        )

    cookies = kind("cookies").select(
        "host",
        "name",
        "value",
        "path",
        F.when(
            F.col("browser") == "chrome",
            webkit_micros_to_timestamp(F.col("raw_expires")),
        )
        .otherwise(unix_micros_to_timestamp(F.col("raw_expires")))
        .alias("expires_utc"),
        _browser_time(F.col("browser"), F.col("raw_last_access")).alias("last_access_utc"),
        _browser_time(F.col("browser"), F.col("raw_creation")).alias("creation_utc"),
        "is_secure",
        "is_http_only",
        "browser",
        F.lit("Default").alias("profile"),
        "source_file",
    )

    downloads = kind("downloads").select(
        "url",
        "target_path",
        _browser_time(F.col("browser"), F.col("raw_start")).alias("start_time"),
        _browser_time(F.col("browser"), F.col("raw_end")).alias("end_time"),
        "total_bytes",
        F.col("raw_state").cast("string").alias("state"),
        "browser",
        F.lit("Default").alias("profile"),
        "source_file",
    )

    return {
        "browser_history": history,
        "browser_cookies": cookies,
        "browser_downloads": downloads,
    }
