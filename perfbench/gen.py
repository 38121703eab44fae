"""Seeded input generators: evidence images with a planted-file
manifest, and the catalog tables the batch and streaming queries read.

Everything here is a pure function of its seed: the same seed gives a
byte-identical image and identical parquet rows, so a run can be
reproduced and checked exactly.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import sqlite3
import struct
import tempfile
import zlib
from dataclasses import dataclass

import numpy as np

MIB = 1 << 20
WEBKIT_EPOCH_US = 11_644_473_600 * 1_000_000
# carver type ids the analyst run enables: every planted kind has an
# exact end (EOI / IEND / %%EOF / EOCD / BMP size / sqlite page count)
CARVE_TYPES = ("jpeg", "png", "pdf", "zip", "bmp", "sqlite")


@dataclass(frozen=True)
class Planted:
    kind: str
    offset: int
    size: int
    sha256: str


@dataclass(frozen=True)
class Visit:
    browser: str
    url: str
    title: str
    visit_time_us: int  # unix µs, naive UTC
    visit_source: str


@dataclass
class Manifest:
    size: int
    planted: list[Planted]
    visits: list[Visit]


# --- browser history databases ----------------------------------------------

_CHROME_SOURCES = {0: "link", 1: "typed"}  # transition & 0xFF -> label
_FIREFOX_SOURCES = {1: "link", 2: "typed"}  # visit_type -> label


def _visits(rng: np.random.Generator, browser: str, n: int) -> list[tuple[Visit, int]]:
    """(expected row, raw transition code) pairs with distinct urls."""
    sources = _CHROME_SOURCES if browser == "chrome" else _FIREFOX_SOURCES
    base_us = 1_600_000_000_000_000 + int(rng.integers(0, 10**14))
    out = []
    for i in range(n):
        code = int(rng.choice(list(sources)))
        host = f"h{int(rng.integers(0, 10**6))}.example.{browser[:2]}"
        out.append(
            (
                Visit(
                    browser=browser,
                    url=f"https://{host}/p{i}",
                    title=f"{browser} page {i}",
                    visit_time_us=base_us + i * 60_000_000,
                    visit_source=sources[code],
                ),
                code,
            )
        )
    return out


def _db_bytes(build) -> bytes:
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "db.sqlite")
        conn = sqlite3.connect(path)
        build(conn)
        conn.commit()
        conn.close()
        with open(path, "rb") as fh:
            return fh.read()


def chrome_history_db(rows: list[tuple[Visit, int]]) -> bytes:
    """Chrome `History` layout (urls + visits), one visit per url."""

    def build(conn):
        conn.executescript(
            "CREATE TABLE urls(id INTEGER PRIMARY KEY, url TEXT, title TEXT,"
            " last_visit_time INTEGER);"
            "CREATE TABLE visits(id INTEGER PRIMARY KEY, url INTEGER,"
            " visit_time INTEGER, transition INTEGER);"
        )
        for i, (v, code) in enumerate(rows, start=1):
            webkit = v.visit_time_us + WEBKIT_EPOCH_US
            conn.execute("INSERT INTO urls VALUES (?, ?, ?, ?)", (i, v.url, v.title, webkit))
            conn.execute("INSERT INTO visits VALUES (?, ?, ?, ?)", (i, i, webkit, code))

    return _db_bytes(build)


def firefox_history_db(rows: list[tuple[Visit, int]]) -> bytes:
    """Firefox `places.sqlite` layout (moz_places + moz_historyvisits)."""

    def build(conn):
        conn.executescript(
            "CREATE TABLE moz_places(id INTEGER PRIMARY KEY, url TEXT, title TEXT,"
            " last_visit_date INTEGER);"
            "CREATE TABLE moz_historyvisits(id INTEGER PRIMARY KEY, place_id INTEGER,"
            " visit_date INTEGER, visit_type INTEGER);"
        )
        for i, (v, code) in enumerate(rows, start=1):
            conn.execute(
                "INSERT INTO moz_places VALUES (?, ?, ?, ?)",
                (i, v.url, v.title, v.visit_time_us),
            )
            conn.execute(
                "INSERT INTO moz_historyvisits VALUES (?, ?, ?, ?)",
                (i, i, v.visit_time_us, code),
            )

    return _db_bytes(build)


# --- evidence images --------------------------------------------------------
#
# Minimal files whose end the carvers find exactly. Payloads are filler
# bytes that cannot form an end marker, so the carved size is the
# planted size whatever fill surrounds the file.


def mk_jpeg(rng: np.random.Generator) -> bytes:
    """SOI/APP0 + filler + EOI, above the jpeg carver's 500-byte minimum."""
    return b"\xff\xd8\xff\xe0" + b"\x11" * int(rng.integers(600, 4000)) + b"\xff\xd9"


def _png_chunk(kind: bytes, data: bytes) -> bytes:
    return struct.pack(">I", len(data)) + kind + data + struct.pack(">I", zlib.crc32(kind + data))


def mk_png(rng: np.random.Generator) -> bytes:
    idat = b"\x22" * int(rng.integers(60, 600))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", b"\x00" * 13)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def mk_pdf(rng: np.random.Generator) -> bytes:
    body = b"x" * int(rng.integers(60, 600))
    return b"%PDF-1.4\n1 0 obj\n<<>>\nendobj\n" + body + b"\ntrailer\n%%EOF\n"


def mk_zip(rng: np.random.Generator) -> bytes:
    """One stored member, its central directory and the EOCD record."""
    name = f"doc{int(rng.integers(0, 10**6))}.txt".encode()
    data = b"sample-data" * int(rng.integers(1, 40))
    crc = zlib.crc32(data)
    local = b"PK\x03\x04" + struct.pack(
        "<HHHHHIIIHH", 20, 0, 0, 0, 0, crc, len(data), len(data), len(name), 0
    ) + name + data
    central = b"PK\x01\x02" + struct.pack(
        "<HHHHHHIIIHHHHHII", 20, 20, 0, 0, 0, 0, crc, len(data), len(data), len(name),
        0, 0, 0, 0, 0, 0,
    ) + name
    eocd = b"PK\x05\x06" + struct.pack("<HHHHIIH", 0, 0, 1, 1, len(central), len(local), 0)
    return local + central + eocd


def mk_bmp(rng: np.random.Generator) -> bytes:
    """24-bit BMP with random pixels, above the bmp carver's 200-byte minimum."""
    w, h = (int(x) for x in rng.integers(8, 40, 2))
    pixels = rng.bytes(((w * 24 + 31) // 32) * 4 * h)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    return b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54) + dib + pixels


_LOREM = (
    b"Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
    b"eiusmod tempor incididunt ut labore et dolore magna aliqua. "
)


def _text_stripe(rng: np.random.Generator) -> bytes:
    """1 MiB of prose with one URL/email/phone line per ~40 lorem lines."""
    parts = []
    n = 0
    while n < MIB:
        host = int(rng.integers(0, 10**6))
        line = (
            _LOREM * 40
            + f"Contact u{host}@mail{host % 97}.example.com or visit "
            f"https://site{host}.example.org/doc/{host % 1000} "
            f"call +1-415-555-{host % 10000:04d} for details. ".encode()
        )
        parts.append(line)
        n += len(line)
    return b"".join(parts)[:MIB]


def make_image(path: str, seed: int, size_mib: int) -> Manifest:
    """Write a raw evidence image and return what was planted in it:
    1 MiB stripes cycling zero / random / text fill, one planted file
    per stripe at a random 4 KiB-aligned offset (a Chrome and a Firefox
    history database first, then jpeg, png, pdf, zip and bmp in turn)."""
    rng = np.random.default_rng(seed)
    chrome = _visits(rng, "chrome", 24)
    firefox = _visits(rng, "firefox", 16)
    dbs = [chrome_history_db(chrome), firefox_history_db(firefox)]
    small = [("jpeg", mk_jpeg), ("png", mk_png), ("pdf", mk_pdf), ("zip", mk_zip), ("bmp", mk_bmp)]
    text = _text_stripe(rng)
    planted: list[Planted] = []
    with open(path, "wb") as fh:
        for i in range(size_mib):
            if i % 3 == 0:
                stripe = bytearray(MIB)
            elif i % 3 == 1:
                stripe = bytearray(rng.bytes(MIB))
            else:
                stripe = bytearray(text)
            if i < len(dbs):
                name, blob = "sqlite", dbs[i]
            else:
                name, make = small[(i - len(dbs)) % len(small)]
                blob = make(rng)
            off = 4096 * int(rng.integers(1, (MIB - len(blob)) // 4096))
            stripe[off : off + len(blob)] = blob
            planted.append(Planted(name, i * MIB + off, len(blob), hashlib.sha256(blob).hexdigest()))
            fh.write(stripe)
    return Manifest(size_mib * MIB, planted, [v for v, _ in chrome + firefox])


# --- catalog tables ---------------------------------------------------------

_VOCAB = (
    "key agg row scan slow fast table value part hash a the line sort window "
    "merge batch spark order data column join small customer query big stream "
    "group filter vector"
).split()
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "los", "las", "que", "de", "y", "es", "en", "por"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
}
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NEAR_DUP_PROBES = 25
TABLES = ("region","nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")


def _days(rng, start: dt.datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def table_columns(seed: int, scale: float = 0.01) -> dict[str, dict[str, object]]:
    """Column arrays for each table, shaped like the driver's star
    schema: 1 500 customers, 15 000 orders, 60 000 lineitems, 10 000
    events, 500 documents and 500 embeddings at scale 0.01."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(50_000 * scale)
    cols: dict[str, dict[str, object]] = {}
    cols["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    cols["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    cols["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust)),
    }
    cols["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord)),
    }
    cols["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2498, n_li),
    }
    gaps = rng.integers(1_000_000, 520_000_000, n_ev)  # µs between events
    cols["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64(dt.datetime(2024, 1, 1), "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": list(rng.choice(_EVENT_TYPES, n_ev)),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    langs = list(rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.45, 0.15, 0.15, 0.13, 0.12]))
    texts = []
    for i, lang in enumerate(langs):
        # q26/q27 copy docs 0-24 with a one-token edit and expect every
        # copy back as a near-dup. A SimHash bit flips under that edit
        # when the bit's vote sum is near zero, which is likely for a
        # short text: those docs are long enough that the edit stays
        # well inside the 8-bit radius.
        n_words = int(rng.integers(150, 300) if i < NEAR_DUP_PROBES else rng.integers(12, 90))
        words = list(rng.choice(_VOCAB, n_words))
        if lang in _STOPWORDS:
            words += list(rng.choice(_STOPWORDS[lang], int(rng.integers(0, 6))))
            rng.shuffle(words)
        texts.append(" ".join(words))
    cols["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vecs = rng.normal(0.0, 0.1, (n_doc, 64)).astype(np.float32)
    cols["embeddings"] = {
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": [list(map(float, v)) for v in vecs],
        "label": rng.integers(0, 10, n_doc).astype(np.int32),
    }
    return cols


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> None:
    """Write every table as `<out_dir>/<name>.parquet`."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    float_list = pa.list_(pa.float32())
    for name, columns in table_columns(seed, scale).items():
        arrays = {
            k: pa.array(v, type=float_list) if k == "embedding" else pa.array(v)
            for k, v in columns.items()
        }
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
