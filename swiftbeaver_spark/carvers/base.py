"""Shared carve machinery: evidence readers, outcome record, scan helpers.

Reference parity: CarveStream / write_range / output_path semantics
(src/carve/mod.rs:141-351). Handlers compute a logical [start, end)
range plus flags; hashing and min-size rejection happen once in
`finalize` (mirrors the reference's write-then-check-min-size flow,
including "global_end = start + size - 1" and eof-truncation).
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass, field

IO_BUF = 64 * 1024  # reference DEFAULT_IO_BUFFER_SIZE, src/constants.rs:7


class Reader:
    """Read-only linear byte space (reference trait EvidenceSource,
    src/evidence.rs:28-31)."""

    def length(self) -> int:  # pragma: no cover - interface
        raise NotImplementedError

    def read_at(self, offset: int, length: int) -> bytes:  # pragma: no cover
        raise NotImplementedError

    def read_exact(self, offset: int, length: int) -> bytes | None:
        buf = self.read_at(offset, length)
        return buf if len(buf) == length else None

    def close(self) -> None:  # default: nothing held
        pass


class FileReader(Reader):
    """Positioned reads over an evidence file (raw/dd image)."""

    def __init__(self, path: str):
        self._path = path
        self._fh = open(path, "rb")
        self._len = os.path.getsize(path)

    def length(self) -> int:
        return self._len

    def read_at(self, offset: int, length: int) -> bytes:
        if offset >= self._len or length <= 0:
            return b""
        self._fh.seek(offset)
        return self._fh.read(length)

    def close(self) -> None:
        self._fh.close()


@dataclass
class CarveOutcome:
    """What a handler decided about one hit."""

    end: int  # exclusive global end offset (may exceed evidence len)
    validated: bool = False
    truncated: bool = False
    errors: list[str] = field(default_factory=list)
    file_type: str | None = None  # reclassified kind (zip/ole) or None
    extension: str | None = None
    start_override: int | None = None  # handlers that back up (tar, mobi)


@dataclass
class CarvedRecord:
    file_type: str
    path: str
    extension: str
    global_start: int
    global_end: int
    size: int
    md5: str | None
    sha256: str | None
    validated: bool
    truncated: bool
    errors: list[str]
    pattern_id: str | None


_SAFE_PATH = re.compile(r"[^A-Za-z0-9._-]")


def output_rel_path(file_type: str, extension: str, offset: int) -> str:
    """Deterministic relative output path `{type}/{type}_{offset:012X}.{ext}`
    (reference src/carve/mod.rs:151, sanitization :166-190)."""
    ftype = _SAFE_PATH.sub("_", file_type) or "unknown"
    ext = _SAFE_PATH.sub("_", extension) or "bin"
    return f"{ftype}/{ftype}_{offset:012X}.{ext}"


def scan_forward(
    reader: Reader,
    start: int,
    pattern: bytes,
    max_end: int,
    search_after: int | None = None,
) -> int | None:
    """First absolute offset >= max(start, search_after) where `pattern`
    occurs, scanning [start, max_end). Buffered with cross-buffer carry
    (reference find_pattern loops in pdf/gzip/eml/bzip2/xz handlers).
    """
    if not pattern:
        return None
    floor = start if search_after is None else search_after
    overlap = len(pattern) - 1
    offset = start
    prev_tail = b""
    while offset < max_end:
        buf = reader.read_at(offset, min(IO_BUF, max_end - offset))
        if not buf:
            return None
        hay = prev_tail + buf
        base = offset - len(prev_tail)
        from_idx = 0
        while True:
            pos = hay.find(pattern, from_idx)
            if pos == -1:
                break
            absolute = base + pos
            if absolute >= floor:
                return absolute
            from_idx = pos + 1
        offset += len(buf)
        prev_tail = hay[-overlap:] if overlap else b""
    return None


def finalize(
    reader: Reader,
    start: int,
    outcome: CarveOutcome,
    default_type: str,
    default_ext: str,
    min_size: int,
    pattern_id: str | None,
    output_dir: str | None = None,
) -> CarvedRecord | None:
    """Stream [start, end) through md5+sha256, apply min-size rejection,
    clamp at evidence EOF (-> truncated), optionally write carved bytes."""
    evidence_len = reader.length()
    end = outcome.end
    truncated = outcome.truncated
    errors = list(outcome.errors)
    if end > evidence_len:
        end = evidence_len
        if not truncated:
            truncated = True
            errors.append("eof before declared end")
    size = max(0, end - start)
    if size < min_size:
        return None

    file_type = outcome.file_type or default_type
    extension = outcome.extension or default_ext
    rel_path = output_rel_path(file_type, extension, start)

    md5 = hashlib.md5()
    sha256 = hashlib.sha256()
    sink = None
    if output_dir is not None:
        full = os.path.join(output_dir, rel_path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        sink = open(full, "wb")
    try:
        pos = start
        while pos < end:
            buf = reader.read_at(pos, min(IO_BUF, end - pos))
            if not buf:
                break
            md5.update(buf)
            sha256.update(buf)
            if sink is not None:
                sink.write(buf)
            pos += len(buf)
    finally:
        if sink is not None:
            sink.close()

    written = pos - start
    if written < size:
        size = written
        if not truncated:
            truncated = True
            errors.append("eof during carve copy")
    if size < min_size:
        return None

    global_end = start if size == 0 else start + size - 1
    return CarvedRecord(
        file_type=file_type,
        path=rel_path,
        extension=extension,
        global_start=start,
        global_end=global_end,
        size=size,
        md5=md5.hexdigest(),
        sha256=sha256.hexdigest(),
        validated=outcome.validated,
        truncated=truncated,
        errors=errors,
        pattern_id=pattern_id,
    )
