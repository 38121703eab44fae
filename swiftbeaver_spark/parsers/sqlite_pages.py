"""SQLite page-level recovery: scrape URL-bearing records straight off
table-leaf pages, including overflow chains.

Reference parity: src/parsers/sqlite_pages.rs — varint cells, serial-type
record decode, overflow-page reassembly, URL extraction via the string
pipeline's regex, title heuristic, plausible-time filter; dedupe by URL
keeping first non-null title/visit_time.

Spark design: the byte-level decode runs inside the browser parser's
one pass per carved DB (parsers/browser.py parse_db, on the blob that
pass already read); the dedupe-merge is the reference's HashMap
entry/and_modify expressed as a groupBy with min_by over the scan
order (deterministic where the reference's HashMap iteration was not).
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftbeaver_spark.parsers.timeconv import (
    python_unix_micro_to_datetime,
    python_webkit_to_datetime,
)
from swiftbeaver_spark.strings_scan import URL_RE, normalize_url

_MAX_TEXT_LEN = 4096

def _read_varint(data: bytes, pos: int) -> tuple[int, int] | None:
    """SQLite big-endian varint (reference sqlite_pages.rs:364-379)."""
    value = 0
    for i in range(8):
        if pos + i >= len(data):
            return None
        b = data[pos + i]
        value = (value << 7) | (b & 0x7F)
        if not (b & 0x80):
            return value, i + 1
    if pos + 8 >= len(data):
        return None
    value = (value << 8) | data[pos + 8]
    return value, 9


def _local_payload_len(payload_len: int, usable: int) -> int:
    if usable <= 32:
        return min(payload_len, max(0, usable - 4))
    max_local = usable - 35
    min_local = (usable - 12) * 32 // 255 - 23
    if payload_len <= max_local:
        return payload_len
    if usable <= 4:
        return min(payload_len, usable)
    local = min_local + (payload_len - min_local) % (usable - 4)
    return min_local if local > max_local else local


def _decode_int(raw: bytes) -> int | None:
    if not raw:
        return None
    value = int.from_bytes(raw, "big", signed=True)
    return value if -(2**63) <= value < 2**63 else None


def _parse_record(payload: bytes) -> tuple[list[str], list[int]]:
    """Serial-type record decode (reference sqlite_pages.rs:191-280)."""
    texts: list[str] = []
    ints: list[int] = []
    vi = _read_varint(payload, 0)
    if vi is None:
        return texts, ints
    header_size, header_len = vi
    if header_size < header_len or header_size > len(payload):
        return texts, ints
    serials = []
    pos = header_len
    while pos < header_size:
        vi = _read_varint(payload, pos)
        if vi is None:
            return texts, ints
        serial, used = vi
        serials.append(serial)
        pos += used
    data_pos = header_size
    int_sizes = {1: 1, 2: 2, 3: 3, 4: 4, 5: 6, 6: 8, 7: 8}
    for serial in serials:
        if data_pos > len(payload):
            break
        if serial in int_sizes:
            length, is_text = int_sizes[serial], False
        elif serial in (0, 8, 9, 10, 11):
            length, is_text = 0, False
        elif serial >= 12 and serial % 2 == 0:
            length, is_text = (serial - 12) // 2, False
        elif serial >= 13:
            length, is_text = (serial - 13) // 2, True
        else:
            length, is_text = 0, False
        end = data_pos + length
        if end > len(payload):
            break
        if serial in (1, 2, 3, 4, 5, 6) and length > 0:
            v = _decode_int(payload[data_pos:end])
            if v is not None:
                ints.append(v)
        elif serial == 8:
            ints.append(0)
        elif serial == 9:
            ints.append(1)
        if is_text and 0 < length <= _MAX_TEXT_LEN:
            text = payload[data_pos:end].decode("utf-8", "replace")
            if text.strip():
                texts.append(text)
        data_pos = end
    return texts, ints


def _choose_title(texts: list[str], urls: list[str]) -> str | None:
    """Longest non-URL-ish text <=512 chars (reference :283-303)."""
    best = None
    for text in texts:
        if text in urls:
            continue
        low = text.lower()
        if "http://" in low or "https://" in low or "www." in low:
            continue
        if len(text) > 512:
            continue
        if best is None or len(text) > len(best):
            best = text
    return best


_MIN_PLAUSIBLE = datetime(1990, 1, 1)


def _plausible(dt: datetime | None, now: datetime) -> bool:
    return dt is not None and _MIN_PLAUSIBLE <= dt <= now + timedelta(days=2)


def _visit_time(ints: list[int], now: datetime) -> datetime | None:
    """webkit first, then unix-µs, first plausible wins (reference :306-320)."""
    for v in ints:
        dt = python_webkit_to_datetime(v)
        if _plausible(dt, now):
            return dt
        dt = python_unix_micro_to_datetime(v)
        if _plausible(dt, now):
            return dt
    return None


def scan_pages(blob: bytes, source_file: str) -> list[tuple]:
    """All URL-bearing table-leaf records in one carved DB image."""
    if len(blob) < 100 or blob[:16] != b"SQLite format 3\x00":
        return []
    page_size = int.from_bytes(blob[16:18], "big")
    if page_size == 1:
        page_size = 65536
    if page_size < 512:
        return []
    usable = page_size - blob[20]
    now = datetime.utcnow()
    page_count = (len(blob) + page_size - 1) // page_size
    out: list[tuple] = []
    order = 0
    for page_index in range(page_count):
        off = page_index * page_size
        header_offset = 100 if page_index == 0 else 0
        page = blob[off : off + page_size]
        if len(page) < header_offset + 8 or page[header_offset] != 0x0D:
            continue
        cell_count = int.from_bytes(page[header_offset + 3 : header_offset + 5], "big")
        for ci in range(cell_count):
            p = header_offset + 8 + ci * 2
            if p + 2 > len(page):
                break
            cell_off = int.from_bytes(page[p : p + 2], "big")
            if cell_off >= len(page):
                continue
            vi = _read_varint(page, cell_off)
            if vi is None:
                continue
            payload_len, len_sz = vi
            vi = _read_varint(page, cell_off + len_sz)
            if vi is None:
                continue
            _, rowid_sz = vi
            payload_start = cell_off + len_sz + rowid_sz
            local = _local_payload_len(payload_len, usable)
            if payload_start + local > len(page):
                continue
            payload = bytearray(page[payload_start : payload_start + local])
            if payload_len > local:  # overflow chain (reference :150-182)
                optr = payload_start + local
                if optr + 4 > len(page):
                    continue
                nxt = int.from_bytes(page[optr : optr + 4], "big")
                remaining = payload_len - local
                per_page = max(0, usable - 4)
                while nxt > 0 and remaining > 0:
                    o = (nxt - 1) * page_size
                    opage = blob[o : o + page_size]
                    if len(opage) < page_size:
                        break
                    nxt = int.from_bytes(opage[0:4], "big")
                    take = min(remaining, per_page)
                    payload.extend(opage[4 : 4 + take])
                    remaining -= take
            texts, ints = _parse_record(bytes(payload))
            if not texts:
                continue
            urls = []
            for text in texts:
                for m in URL_RE.finditer(text):
                    v = normalize_url(m.group(0))
                    if v is not None:
                        urls.append(v)
            if not urls:
                continue
            title = _choose_title(texts, urls)
            vt = _visit_time(ints, now)
            for url in urls:
                out.append((url, title, vt, order, source_file))
                order += 1
    return out


def merge_page_records(raw: DataFrame) -> DataFrame:
    """scan_pages records (url, title, visit_time, scan_order,
    source_file) -> browser_history rows (browser='sqlite_page').

    Dedup-by-url with first-non-null merge = groupBy + min_by over scan
    order (reference HashMap entry/and_modify, sqlite_pages.rs:100-127).
    """
    merged = raw.groupBy("source_file", "url").agg(
        F.min_by("title", F.when(F.col("title").isNotNull(), F.col("scan_order"))).alias("title"),
        F.min_by(
            "visit_time", F.when(F.col("visit_time").isNotNull(), F.col("scan_order"))
        ).alias("visit_time"),
    )
    return merged.select(
        F.lit("sqlite_page").alias("browser"),
        F.lit("unknown").alias("profile"),
        "url",
        "title",
        "visit_time",
        F.lit("page_scan").alias("visit_source"),
        "source_file",
    )
