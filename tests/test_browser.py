"""Browser SQLite extraction tests — real DBs built with sqlite3 and
embedded in evidence (reference src/parsers/sqlite_db.rs:655-925 builds
its fixtures the same way with rusqlite)."""

from __future__ import annotations

import dataclasses
import os
import sqlite3

import pytest

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine
from swiftbeaver_spark.parsers.sqlite_pages import scan_pages

WEBKIT_TS = 13_303_449_600_000_000  # 2022-07-28 in webkit µs
UNIX_TS_US = 1_628_553_600_000_000  # 2021-08-10


def build_chrome_db(path: str) -> None:
    conn = sqlite3.connect(path)
    conn.executescript(
        """
        CREATE TABLE urls(id INTEGER PRIMARY KEY, url TEXT, title TEXT,
                          last_visit_time INTEGER);
        CREATE TABLE visits(id INTEGER PRIMARY KEY, url INTEGER,
                            visit_time INTEGER, transition INTEGER);
        CREATE TABLE cookies(host_key TEXT, name TEXT, value TEXT, path TEXT,
                             expires_utc INTEGER, last_access_utc INTEGER,
                             creation_utc INTEGER, is_secure INTEGER,
                             is_httponly INTEGER);
        CREATE TABLE downloads(id INTEGER PRIMARY KEY, target_path TEXT,
                               tab_url TEXT, start_time INTEGER,
                               end_time INTEGER, total_bytes INTEGER,
                               state INTEGER);
        CREATE TABLE downloads_url_chains(id INTEGER, chain_index INTEGER,
                                          url TEXT);
        """
    )
    conn.execute(
        "INSERT INTO urls VALUES (1, 'https://example.com/', 'Example', ?)",
        (WEBKIT_TS,),
    )
    conn.execute("INSERT INTO visits VALUES (1, 1, ?, 1)", (WEBKIT_TS,))
    conn.execute("INSERT INTO visits VALUES (2, 1, ?, 0)", (WEBKIT_TS + 60_000_000,))
    conn.execute(
        "INSERT INTO cookies VALUES ('example.com', 'sid', 'abc', '/', ?, ?, ?, 1, 0)",
        (WEBKIT_TS, WEBKIT_TS, WEBKIT_TS),
    )
    conn.execute(
        "INSERT INTO downloads VALUES (7, '/tmp/file.bin', 'https://tab.example.com', ?, ?, 1024, 1)",
        (WEBKIT_TS, WEBKIT_TS + 1_000_000),
    )
    conn.execute(
        "INSERT INTO downloads_url_chains VALUES (7, 0, 'https://chain.example.com/file.bin')"
    )
    conn.commit()
    conn.close()


def build_firefox_db(path: str) -> None:
    conn = sqlite3.connect(path)
    conn.executescript(
        """
        CREATE TABLE moz_places(id INTEGER PRIMARY KEY, url TEXT, title TEXT,
                                last_visit_date INTEGER);
        CREATE TABLE moz_historyvisits(id INTEGER PRIMARY KEY,
                                       place_id INTEGER, visit_date INTEGER,
                                       visit_type INTEGER);
        CREATE TABLE moz_cookies(host TEXT, name TEXT, value TEXT, path TEXT,
                                 expiry INTEGER, lastAccessed INTEGER,
                                 creationTime INTEGER, isSecure INTEGER,
                                 isHttpOnly INTEGER);
        """
    )
    conn.execute(
        "INSERT INTO moz_places VALUES (1, 'https://mozilla.org/', 'Mozilla', ?)",
        (UNIX_TS_US,),
    )
    conn.execute("INSERT INTO moz_historyvisits VALUES (1, 1, ?, 2)", (UNIX_TS_US,))
    conn.execute(
        "INSERT INTO moz_cookies VALUES ('mozilla.org', 'tok', 'xyz', '/', ?, ?, ?, 0, 1)",
        (UNIX_TS_US // 1_000_000, UNIX_TS_US, UNIX_TS_US),
    )
    conn.commit()
    conn.close()


SQLITE_CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    chunk_size=64 * 1024,
    overlap=4096,
    file_types=tuple(ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "sqlite"),
)


def plant_dbs(tmp, dbs: list[str]) -> str:
    """Evidence file holding each DB at a 4096-aligned offset."""
    evidence = bytearray(b"\x00" * 4096)
    for p in dbs:
        blob = open(p, "rb").read()
        evidence.extend(blob)
        evidence.extend(b"\x00" * (4096 - len(blob) % 4096))
    path = str(tmp / "evidence.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(evidence))
    return path


@pytest.fixture(scope="module")
def browser_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("browser")
    chrome, firefox = str(tmp / "History"), str(tmp / "places.sqlite")
    build_chrome_db(chrome)
    build_firefox_db(firefox)
    run = Engine(spark, SQLITE_CFG).run(evidence_path=plant_dbs(tmp, [chrome, firefox]))
    yield run
    run.unpersist()


def test_chrome_history_join(browser_run):
    rows = [r for r in browser_run["browser_history"].collect() if r.browser == "chrome"]
    assert len(rows) == 2  # two visits joined to one url
    assert {r.url for r in rows} == {"https://example.com/"}
    assert {r.visit_source for r in rows} == {"typed", "link"}
    typed = next(r for r in rows if r.visit_source == "typed")
    assert typed.title == "Example"
    assert typed.visit_time is not None and typed.visit_time.year == 2022
    assert typed.profile == "Default"


def test_firefox_history_join(browser_run):
    rows = [r for r in browser_run["browser_history"].collect() if r.browser == "firefox"]
    assert len(rows) == 1
    assert rows[0].url == "https://mozilla.org/"
    assert rows[0].visit_source == "typed"
    assert rows[0].visit_time.year == 2021


def test_cookies_both_browsers(browser_run):
    rows = browser_run["browser_cookies"].collect()
    chrome = next(r for r in rows if r.browser == "chrome")
    assert (chrome.host, chrome.name, chrome.value) == ("example.com", "sid", "abc")
    assert chrome.is_secure is True and chrome.is_http_only is False
    assert chrome.expires_utc.year == 2022
    firefox = next(r for r in rows if r.browser == "firefox")
    assert (firefox.host, firefox.name) == ("mozilla.org", "tok")
    assert firefox.is_http_only is True
    assert firefox.expires_utc.year == 2021  # seconds -> timestamp


def test_chrome_downloads_coalesce(browser_run):
    rows = [r for r in browser_run["browser_downloads"].collect() if r.browser == "chrome"]
    assert len(rows) == 1
    # chain url wins the COALESCE over tab_url
    assert rows[0].url == "https://chain.example.com/file.bin"
    assert rows[0].target_path == "/tmp/file.bin"
    assert rows[0].total_bytes == 1024
    assert rows[0].state == "1"


def test_page_recovery_scan(tmp_path):
    """Page scraper finds URL rows without using the sqlite library,
    including an overflow-page TEXT (reference sqlite_pages.rs:420-443)."""
    p = str(tmp_path / "pages.sqlite")
    conn = sqlite3.connect(p)
    conn.execute("PRAGMA page_size=512")
    conn.execute("CREATE TABLE t(url TEXT, title TEXT, ts INTEGER)")
    long_url = "https://recovered.example.com/" + "a" * 1200  # spans overflow
    conn.execute("INSERT INTO t VALUES (?, 'Long One', ?)", (long_url, WEBKIT_TS))
    conn.execute(
        "INSERT INTO t VALUES ('https://recovered.example.com/b', 'small', ?)",
        (UNIX_TS_US,),
    )
    conn.commit()
    conn.close()
    rows = scan_pages(open(p, "rb").read(), "pages.sqlite")
    urls = {r[0] for r in rows}
    assert urls == {long_url, "https://recovered.example.com/b"}
    by_url = {r[0]: r for r in rows}
    assert by_url[long_url][1] == "Long One"
    assert by_url[long_url][2].year == 2022
    assert by_url["https://recovered.example.com/b"][1] == "small"
    assert by_url["https://recovered.example.com/b"][2].year == 2021


def test_timestamps_exact_through_parse_frame(spark, tmp_path):
    """Webkit µs (~1.3e16) sit above 2**53: a parse frame that let a
    None-bearing int column coerce to float64 would round an odd µs.
    A Chrome visit and cookie at WEBKIT_TS + 1 and a Firefox visit at
    an odd µs come back bit-exact, raw and converted."""
    from datetime import datetime, timedelta

    chrome, firefox = str(tmp_path / "History"), str(tmp_path / "places.sqlite")
    conn = sqlite3.connect(chrome)
    conn.executescript(
        """
        CREATE TABLE urls(id INTEGER PRIMARY KEY, url TEXT, title TEXT);
        CREATE TABLE visits(id INTEGER PRIMARY KEY, url INTEGER,
                            visit_time INTEGER, transition INTEGER);
        CREATE TABLE cookies(host_key TEXT, name TEXT, value TEXT, path TEXT,
                             expires_utc INTEGER, last_access_utc INTEGER,
                             creation_utc INTEGER);
        """
    )
    conn.execute("INSERT INTO urls VALUES (1, 'https://odd.example.com/', NULL)")
    conn.execute("INSERT INTO visits VALUES (1, 1, ?, 1)", (WEBKIT_TS + 1,))
    conn.execute(
        "INSERT INTO cookies VALUES ('odd.example.com', 'c', NULL, '/', ?, ?, ?)",
        (WEBKIT_TS + 1, WEBKIT_TS + 3, WEBKIT_TS + 5),
    )
    conn.commit()
    conn.close()
    ff_us = UNIX_TS_US + 7
    conn = sqlite3.connect(firefox)
    conn.executescript(
        """
        CREATE TABLE moz_places(id INTEGER PRIMARY KEY, url TEXT, title TEXT);
        CREATE TABLE moz_historyvisits(id INTEGER PRIMARY KEY,
                                       place_id INTEGER, visit_date INTEGER,
                                       visit_type INTEGER);
        """
    )
    conn.execute("INSERT INTO moz_places VALUES (1, 'https://odd.mozilla.org/', 'T')")
    conn.execute("INSERT INTO moz_historyvisits VALUES (1, 1, ?, 1)", (ff_us,))
    conn.commit()
    conn.close()

    run = Engine(spark, SQLITE_CFG).run(evidence_path=plant_dbs(tmp_path, [chrome, firefox]))
    try:
        webkit = datetime(1601, 1, 1)
        history = {r.browser: r.visit_time for r in run["browser_history"].collect()}
        assert history == {
            "chrome": webkit + timedelta(microseconds=WEBKIT_TS + 1),
            "firefox": datetime(1970, 1, 1) + timedelta(microseconds=ff_us),
        }
        (cookie,) = run["browser_cookies"].collect()
        assert (cookie.expires_utc, cookie.last_access_utc, cookie.creation_utc) == tuple(
            webkit + timedelta(microseconds=WEBKIT_TS + d) for d in (1, 3, 5)
        )
        parsed = run.persisted[-1]
        raw = {
            (r.kind, r.browser): (r.raw_time, r.raw_expires, r.raw_last_access, r.raw_creation)
            for r in parsed.collect()
        }
        assert raw == {
            ("history", "chrome"): (WEBKIT_TS + 1, None, None, None),
            ("history", "firefox"): (ff_us, None, None, None),
            ("cookies", "chrome"): (None, WEBKIT_TS + 1, WEBKIT_TS + 3, WEBKIT_TS + 5),
        }
    finally:
        run.unpersist()
