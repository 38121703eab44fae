"""String-span oracle: the Python ascii/utf-8/utf-16 span scanners and
hint flags that the JVM Strs kernel (the span leg of sb_scan_all and
sb_scan_all_bytes) is differential-tested against.

Reference parity: src/strings/cpu.rs:42-216 (span scans, hint flags).
"""

from __future__ import annotations

import re

_ASCII_RE_TMPL = rb"[\t\x20-\x7E]{%d,}"


def flags(content: bytes) -> tuple[bool, bool, bool]:
    low = content.lower()
    url_like = b"http" in low or b"www." in low
    email_like = b"@" in content
    phone_like = sum(1 for b in content if 0x30 <= b <= 0x39) >= 10
    return url_like, email_like, phone_like


def scan_ascii(data: bytes, min_len: int, max_len: int) -> list[tuple[int, bytes]]:
    """Printable runs [\\t\\x20-\\x7E], split at max_len
    (reference src/strings/cpu.rs:42-80)."""
    out = []
    for m in re.finditer(_ASCII_RE_TMPL % 1, data):
        s, e = m.start(), m.end()
        pos = s
        while pos < e:
            piece = data[pos : min(pos + max_len, e)]
            if len(piece) >= min_len:
                out.append((pos, piece))
            pos += max_len
    return out


_UTF8_MB = rb"(?:[\xC2-\xDF][\x80-\xBF]|[\xE0-\xEF][\x80-\xBF]{2}|[\xF0-\xF4][\x80-\xBF]{3})"
_UTF8_RUN = re.compile(rb"(?:[\t\x20-\x7E]|%s)+" % _UTF8_MB)
_HAS_MB = re.compile(_UTF8_MB)


def scan_utf8(data: bytes, min_len: int, max_len: int) -> list[tuple[int, bytes]]:
    """Validated UTF-8 printable runs containing >=1 multibyte char;
    min/max are char counts (reference src/strings/cpu.rs:82-141)."""
    out = []
    for m in _UTF8_RUN.finditer(data):
        raw = m.group(0)
        if not _HAS_MB.search(raw):
            continue
        try:
            text = raw.decode("utf-8")
        except UnicodeDecodeError:
            continue
        if not all(c == "\t" or c.isprintable() for c in text):
            continue
        # split at max_len chars
        pos_chars = 0
        byte_pos = m.start()
        while pos_chars < len(text):
            piece = text[pos_chars : pos_chars + max_len]
            piece_bytes = piece.encode("utf-8")
            if len(piece) >= min_len and _HAS_MB.search(piece_bytes):
                out.append((byte_pos, piece_bytes))
            byte_pos += len(piece_bytes)
            pos_chars += max_len
    return out


_UTF16LE_RUN = re.compile(rb"(?:[\t\x20-\x7E]\x00)+")
_UTF16BE_RUN = re.compile(rb"(?:\x00[\t\x20-\x7E])+")


def scan_utf16(
    data: bytes, min_len: int, max_len: int, little_endian: bool
) -> list[tuple[int, bytes]]:
    """Byte-pair runs at both alignments; span bytes = 2x chars
    (reference src/strings/cpu.rs:143-216).

    One regex pass replaces the earlier per-byte Python state machine
    (round-7 10x measurement: q35 ran ~1.5 MB/s with the loop — the
    whole strings family's bottleneck). Equivalence to the two-
    alignment state machine is structural: within ONE endianness two
    runs can never overlap across alignments (an LE pair ends in 0x00
    and 0x00 is not printable, so no byte can simultaneously end one
    pair and start the next; mirror argument for BE), hence maximal
    regex matches over the whole blob are exactly the union of the
    even- and odd-alignment maximal runs. Long runs split into
    consecutive max_len-char segments, each emitted iff >= min_len —
    the same segmentation the loop produced (pytest + the q35 oracle
    pin it)."""
    out = []
    pat = _UTF16LE_RUN if little_endian else _UTF16BE_RUN
    step = 2 * max_len
    for m in pat.finditer(data):
        s, e = m.start(), m.end()
        pos = s
        while pos < e:
            piece = data[pos : min(pos + step, e)]
            if len(piece) // 2 >= min_len:
                out.append((pos, piece))
            pos += step
    return out


def decode_span(raw: bytes, encoding: str) -> str:
    if encoding == "utf-16le":
        return raw[0::2].decode("utf-8", "replace")
    if encoding == "utf-16be":
        return raw[1::2].decode("utf-8", "replace")
    return raw.decode("utf-8", "replace")


def blob_spans(
    blob: bytes, start: int, vlen: int, min_len: int, max_len: int, utf16: bool
) -> list[tuple]:
    """All STRING_SPANS rows for one chunk blob (overlap-deduped at
    `vlen`) — the reference rows the JVM kernels are differential-tested
    against."""
    found: list[tuple[int, bytes, str]] = []
    for pos, raw in scan_ascii(blob, min_len, max_len):
        found.append((pos, raw, "ascii"))
    for pos, raw in scan_utf8(blob, min_len, max_len):
        found.append((pos, raw, "utf-8"))
    if utf16:
        for pos, raw in scan_utf16(blob, min_len, max_len, True):
            found.append((pos, raw, "utf-16le"))
        for pos, raw in scan_utf16(blob, min_len, max_len, False):
            found.append((pos, raw, "utf-16be"))
    rows = []
    for pos, raw, enc in found:
        if pos >= vlen:  # overlap dedup, same rule as hits
            continue
        rows.append(span_row(start + pos, raw, enc))
    return rows


def span_row(global_start: int, raw: bytes, enc: str) -> tuple:
    """One STRING_SPANS row: decode + hint flags."""
    if enc.startswith("utf-16"):
        flag_src = raw[0::2] if enc == "utf-16le" else raw[1::2]
    else:
        flag_src = raw
    url_like, email_like, phone_like = flags(flag_src)
    return (
        global_start,
        len(raw),
        decode_span(raw, enc),
        enc,
        url_like,
        email_like,
        phone_like,
    )

