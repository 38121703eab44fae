"""Signature-scan oracle: the naive per-pattern find the JVM
Aho-Corasick kernel (sb_scan_bytes, and the hit leg of sb_scan_all) is
differential-tested against.

Reference parity: src/scanner/cpu.rs:40-69 (per-pattern memchr scan,
all overlapping matches, several patterns may match at one offset).
"""

from __future__ import annotations

from swiftbeaver_spark.scanner import MAX_HITS_PER_CHUNK


def find_all(data: bytes, pattern: bytes, cap: int = MAX_HITS_PER_CHUNK) -> list[int]:
    """All (overlapping) occurrence offsets of `pattern` in `data`."""
    hits: list[int] = []
    pos = data.find(pattern)
    while pos != -1 and len(hits) < cap:
        hits.append(pos)
        pos = data.find(pattern, pos + 1)
    return hits


def blob_hits(blob: bytes, patterns) -> set[tuple[int, str, str]]:
    """(local_offset, pattern_id, file_type_id) of every pattern match."""
    return {(o, pid, ftid) for pat, pid, ftid in patterns for o in find_all(blob, pat)}


def chunk_hits(chunks, patterns) -> set[tuple[int, int, str, str]]:
    """(chunk_id, local_offset, pattern_id, file_type_id) over collected
    chunk rows (chunk_id, data) — scanner.scan_chunks' raw hits."""
    return {
        (int(cid), o, pid, ftid)
        for cid, data in chunks
        for o, pid, ftid in blob_hits(bytes(data), patterns)
    }


def normalized_hits(chunks, patterns) -> set[tuple[int, str, str]]:
    """(global_offset, pattern_id, file_type_id) over collected chunk rows
    (start, valid_length, data), overlap-tail hits dropped —
    scanner.scan_and_normalize's rows."""
    return {
        (int(start) + o, pid, ftid)
        for start, vlen, data in chunks
        for o, pid, ftid in blob_hits(bytes(data), patterns)
        if o < int(vlen)
    }
