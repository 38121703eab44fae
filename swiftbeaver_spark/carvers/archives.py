"""Archive-format carve handlers: zip (+office/epub classification),
gzip, bzip2, xz, tar, rar4/5, 7z.

Parity: reference src/carve/{zip,gzip,bzip2,xz,tar,rar,sevenz}.rs.
"""

from __future__ import annotations

import struct
import zlib

from swiftbeaver_spark.carvers.base import (
    CarveOutcome,
    Reader,
    scan_forward,
)

_ZIP_LOCAL = b"PK\x03\x04"
_ZIP_CD = b"PK\x01\x02"
_ZIP_EOCD = b"PK\x05\x06"


def collect_zip_eocds(
    reader: Reader, lo: int, hi: int
) -> list[tuple[int, tuple[int, int, int] | None]]:
    """All EOCD magic positions in [lo, hi) with their parsed geometry
    (None when the record doesn't parse), ascending — ONE buffered pass
    over the range. carve_zip accepts this as `eocd_candidates` so
    co-located hits share a single sweep instead of each re-scanning up
    to max_size forward (N_hits x window read amplification on
    zip-dense evidence — every docx/xlsx is a zip, so a 100 TB office
    corpus would otherwise re-read petabytes). A 4-byte match always
    includes at least one byte past the 3-byte carry, so the carry
    cannot produce duplicates."""
    from swiftbeaver_spark.carvers.base import IO_BUF

    out: list[tuple[int, tuple[int, int, int] | None]] = []
    overlap = len(_ZIP_EOCD) - 1
    offset = lo
    prev_tail = b""
    while offset < hi:
        buf = reader.read_at(offset, min(IO_BUF, hi - offset))
        if not buf:
            break
        hay = prev_tail + buf
        base = offset - len(prev_tail)
        idx = hay.find(_ZIP_EOCD)
        while idx != -1:
            pos = base + idx
            if pos >= lo:
                out.append((pos, _read_eocd(reader, pos)))
            idx = hay.find(_ZIP_EOCD, idx + 1)
        prev_tail = hay[-overlap:]
        offset += len(buf)
    return out


def _read_eocd(reader: Reader, pos: int) -> tuple[int, int, int] | None:
    buf = reader.read_exact(pos, 22)
    if buf is None or buf[:4] != _ZIP_EOCD:
        return None
    cd_size = struct.unpack_from("<I", buf, 12)[0]
    cd_offset = struct.unpack_from("<I", buf, 16)[0]
    comment_len = struct.unpack_from("<H", buf, 20)[0]
    return cd_offset, cd_size, comment_len


def _classify_zip(reader: Reader, start: int, cd_offset: int, cd_size: int) -> tuple[str, str] | None:
    """Central-directory based kind detection (reference zip.rs:489-597):
    word/ -> docx, xl/ -> xlsx, ppt/ -> pptx; stored `mimetype` entry ->
    odt/ods/odp/epub."""
    if cd_size == 0 or cd_size > 16 * 1024 * 1024:
        return None
    buf = reader.read_exact(start + cd_offset, cd_size)
    if buf is None:
        return None
    mimetype_entry = None
    idx = 0
    while idx + 46 <= len(buf):
        if buf[idx : idx + 4] != _ZIP_CD:
            break
        method = struct.unpack_from("<H", buf, idx + 10)[0]
        comp_size = struct.unpack_from("<I", buf, idx + 20)[0]
        name_len = struct.unpack_from("<H", buf, idx + 28)[0]
        extra_len = struct.unpack_from("<H", buf, idx + 30)[0]
        comment_len = struct.unpack_from("<H", buf, idx + 32)[0]
        local_off = struct.unpack_from("<I", buf, idx + 42)[0]
        name_end = idx + 46 + name_len
        if name_end > len(buf):
            break
        name = buf[idx + 46 : name_end]
        if name.startswith(b"word/"):
            return ("docx", "docx")
        if name.startswith(b"xl/"):
            return ("xlsx", "xlsx")
        if name.startswith(b"ppt/"):
            return ("pptx", "pptx")
        if name == b"mimetype":
            mimetype_entry = (local_off, comp_size, method)
        idx = name_end + extra_len + comment_len
    if mimetype_entry is None:
        return None
    local_off, comp_size, method = mimetype_entry
    if method != 0 or comp_size > 1024:
        return None
    header = reader.read_exact(start + local_off, 30)
    if header is None or header[:4] != _ZIP_LOCAL:
        return None
    name_len = struct.unpack_from("<H", header, 26)[0]
    extra_len = struct.unpack_from("<H", header, 28)[0]
    mime = reader.read_exact(start + local_off + 30 + name_len + extra_len, comp_size)
    if mime is None:
        return None
    mime = mime.strip()
    kinds = {
        b"application/vnd.oasis.opendocument.text": ("odt", "odt"),
        b"application/vnd.oasis.opendocument.spreadsheet": ("ods", "ods"),
        b"application/vnd.oasis.opendocument.presentation": ("odp", "odp"),
        b"application/epub+zip": ("epub", "epub"),
    }
    return kinds.get(mime)


def carve_zip(
    reader: Reader,
    offset: int,
    max_size: int,
    require_eocd: bool = True,
    zip_allowed_kinds: tuple[str, ...] | None = None,
    eocd_candidates: list[tuple[int, tuple[int, int, int] | None]] | None = None,
    **_,
) -> CarveOutcome | None:
    """EOCD-anchored zip carve (reference src/carve/zip.rs:100-444).

    require_eocd: scan the full max_size window keeping the LAST EOCD whose
    `start + cd_offset + cd_size == eocd_offset` holds; else stop at the
    first EOCD found (best-effort, unvalidated geometry).

    eocd_candidates: precollected (pos, parsed) magic index covering at
    least [offset, offset+max_size) — see collect_zip_eocds; the carve
    filters to its own window and applies identical selection rules, so
    results are bit-identical to the scanning path (pytest-pinned)
    while co-located hits share one sweep.
    """
    head = reader.read_exact(offset, 4)
    if head != _ZIP_LOCAL:
        return None
    max_end = offset + max_size if max_size > 0 else reader.length()
    truncated = False
    errors: list[str] = []
    window_cands = None
    if eocd_candidates is not None:
        # scan_forward parity: a match must lie fully inside [offset, max_end)
        window_cands = [
            (p, g) for p, g in eocd_candidates
            if offset <= p <= max_end - len(_ZIP_EOCD)
        ]

    if require_eocd:
        last_valid = None
        if window_cands is not None:
            for pos, parsed in window_cands:
                if parsed is not None:
                    cd_offset, cd_size, comment_len = parsed
                    if offset + cd_offset + cd_size == pos:
                        last_valid = (pos, cd_offset, cd_size, comment_len)
        else:
            search = offset
            while True:
                pos = scan_forward(reader, search, _ZIP_EOCD, max_end)
                if pos is None:
                    break
                parsed = _read_eocd(reader, pos)
                if parsed is not None:
                    cd_offset, cd_size, comment_len = parsed
                    if offset + cd_offset + cd_size == pos:
                        last_valid = (pos, cd_offset, cd_size, comment_len)
                search = pos + 1
        if last_valid is None:
            return None
        pos, cd_offset, cd_size, comment_len = last_valid
        end = pos + 22 + comment_len
        validated = True
    else:
        if window_cands is not None:
            pos = window_cands[0][0] if window_cands else None
        else:
            pos = scan_forward(reader, offset, _ZIP_EOCD, max_end)
        if pos is None:
            end = max_end
            truncated = True
            errors.append(
                "max_size reached before EOCD" if max_end < reader.length() else "eof before EOCD"
            )
            validated = False
            cd_offset = cd_size = None
        else:
            parsed = _read_eocd(reader, pos)
            if parsed is not None:
                cd_offset, cd_size, comment_len = parsed
                end = pos + 22 + comment_len
            else:
                cd_offset = cd_size = None
                end = pos + 22
            validated = True
    if max_size > 0 and end > offset + max_size:
        end = offset + max_size
        truncated = True
        errors.append("max_size reached after EOCD")

    out = CarveOutcome(end=end, validated=validated, truncated=truncated, errors=errors)
    if validated and cd_offset is not None:
        kind = _classify_zip(reader, offset, cd_offset, cd_size)
        if kind is not None:
            out.file_type, out.extension = kind
    final_type = out.file_type or "zip"
    if zip_allowed_kinds is not None and final_type not in zip_allowed_kinds:
        return None
    return out


_GZIP_MAGIC = b"\x1f\x8b\x08"


def carve_gzip(reader: Reader, offset: int, max_size: int, **_) -> CarveOutcome | None:
    """Header parse + best-effort scan for next gzip magic or EOF
    (reference src/carve/gzip.rs:47-170)."""
    head = reader.read_exact(offset, 10)
    if head is None or head[:3] != _GZIP_MAGIC:
        return None
    flg = head[3]
    pos = offset + 10
    if flg & 0x04:  # FEXTRA
        raw = reader.read_exact(pos, 2)
        if raw is None:
            return None
        pos += 2 + struct.unpack("<H", raw)[0]
    for bit in (0x08, 0x10):  # FNAME, FCOMMENT: zero-terminated
        if flg & bit:
            # reference bounds the cstring scan at 1 MiB past the field
            # ("gzip string too long", gzip.rs:207-217) — without the
            # bound a NUL-free region turns one hit into a full-evidence
            # scan
            limit = min(reader.length(), pos + (1 << 20))
            z = scan_forward(reader, pos, b"\x00", limit)
            if z is None:
                return None
            pos = z + 1
    if flg & 0x02:  # FHCRC
        pos += 2
    header_len = pos - offset

    max_end = offset + max_size if max_size > 0 else reader.length()
    nxt = scan_forward(
        reader, offset + header_len, _GZIP_MAGIC, max_end, search_after=offset + 1
    )
    if nxt is not None:
        return CarveOutcome(end=nxt, validated=True)
    if max_end >= reader.length():
        return CarveOutcome(end=reader.length(), validated=True)
    return CarveOutcome(
        end=max_end, validated=False, truncated=True, errors=["max_size reached before gzip end"]
    )


_BZIP2_END = bytes.fromhex("177245385090")


def carve_bzip2(reader: Reader, offset: int, max_size: int, **_) -> CarveOutcome | None:
    """Scan for the byte-aligned end marker (reference src/carve/bzip2.rs)."""
    head = reader.read_exact(offset, 4)
    if head is None or head[:3] != b"BZh" or not (0x31 <= head[3] <= 0x39):
        return None
    max_end = offset + max_size if max_size > 0 else reader.length()
    pos = scan_forward(reader, offset, _BZIP2_END, max_end)
    if pos is not None:
        return CarveOutcome(end=pos + len(_BZIP2_END), validated=True)
    if max_end >= reader.length():
        return CarveOutcome(
            end=reader.length(), validated=False, truncated=True, errors=["eof before bzip2 end"]
        )
    return CarveOutcome(
        end=max_end, validated=False, truncated=True, errors=["max_size reached before bzip2 end"]
    )


_XZ_MAGIC = bytes.fromhex("FD377A585A00")
_XZ_FOOTER = b"YZ"


def carve_xz(reader: Reader, offset: int, max_size: int, **_) -> CarveOutcome | None:
    """Footer scan with CRC32 validation of the stream footer
    (reference src/carve/xz.rs)."""
    head = reader.read_exact(offset, 12)
    if head is None or head[:6] != _XZ_MAGIC:
        return None
    header_crc = struct.unpack_from("<I", head, 8)[0]
    if header_crc != zlib.crc32(head[6:8]):
        return None
    max_end = offset + max_size if max_size > 0 else reader.length()
    search = offset + 12
    while True:
        pos = scan_forward(reader, search, _XZ_FOOTER, max_end)
        if pos is None:
            break
        footer_end = pos + 2
        footer_start = footer_end - 12
        if footer_end >= offset + 12 and footer_start > offset:
            footer = reader.read_exact(footer_start, 12)
            if footer is not None and footer[10:12] == _XZ_FOOTER:
                crc = struct.unpack_from("<I", footer, 0)[0]
                if crc == zlib.crc32(footer[4:10]):
                    return CarveOutcome(end=footer_end, validated=True)
        search = pos + 1
    if max_end >= reader.length():
        return CarveOutcome(
            end=reader.length(), validated=False, truncated=True, errors=["eof before xz end"]
        )
    return CarveOutcome(
        end=max_end, validated=False, truncated=True, errors=["max_size reached before xz end"]
    )


_TAR_BLOCK = 512
_TAR_USTAR_OFFSET = 257


def _tar_checksum_ok(block: bytes) -> bool:
    raw = block[148:156]
    stored = 0
    seen_digit = False
    for b in raw:
        if b in (0, 0x20):
            if seen_digit:
                break
            continue
        if not (0x30 <= b <= 0x37):
            return False
        stored = stored * 8 + (b - 0x30)
        seen_digit = True
    computed = sum(block[:148]) + 8 * 0x20 + sum(block[156:])
    return computed == stored


def _parse_octal(field: bytes) -> int | None:
    value = 0
    seen = False
    for b in field:
        if b in (0, 0x20, 0x0A):
            if seen:
                break
            continue
        if not (0x30 <= b <= 0x37):
            return None
        value = value * 8 + (b - 0x30)
        seen = True
    return value


def carve_tar(
    reader: Reader, offset: int, max_size: int, pattern_id: str = "tar_ustar", **_
) -> CarveOutcome | None:
    """512-byte block walk from the ustar hit (signature is at offset 257
    inside the first header; carve start backs up accordingly).
    Reference: src/carve/tar.rs."""
    if pattern_id == "tar_ustar":
        if offset < _TAR_USTAR_OFFSET:
            return None
        start = offset - _TAR_USTAR_OFFSET
    else:
        start = offset
    pos = start
    zero_blocks = 0
    first = True
    limit = start + max_size if max_size > 0 else None
    truncated = False
    errors: list[str] = []
    while True:
        if limit is not None and pos - start >= max_size:
            truncated = True
            errors.append("max_size reached before tar end")
            break
        block = reader.read_exact(pos, _TAR_BLOCK)
        if block is None:
            truncated = True
            errors.append("eof before tar end")
            pos = reader.length()
            break
        if all(b == 0 for b in block):
            pos += _TAR_BLOCK
            zero_blocks += 1
            if zero_blocks >= 2:
                break
            continue
        zero_blocks = 0
        if first:
            if block[_TAR_USTAR_OFFSET : _TAR_USTAR_OFFSET + 5] != b"ustar":
                return None
            first = False
        if not _tar_checksum_ok(block):
            return None
        size = _parse_octal(block[124:136])
        if size is None:
            return None
        pos += _TAR_BLOCK + ((size + _TAR_BLOCK - 1) // _TAR_BLOCK) * _TAR_BLOCK
    if pos == start:
        return None
    return CarveOutcome(
        end=pos,
        validated=not truncated,
        truncated=truncated,
        errors=errors,
        start_override=start,
    )


_RAR4_MAGIC = bytes.fromhex("526172211A0700")
_RAR5_MAGIC = bytes.fromhex("526172211A070100")


def _read_varint(reader: Reader, pos: int) -> tuple[int, int] | None:
    value = 0
    shift = 0
    for i in range(10):
        b = reader.read_exact(pos + i, 1)
        if b is None:
            return None
        value |= (b[0] & 0x7F) << shift
        if not (b[0] & 0x80):
            return value, i + 1
        shift += 7
    return None


def _varint_from(buf: bytes, idx: int) -> tuple[int, int] | None:
    value = 0
    shift = 0
    for i in range(10):
        if idx + i >= len(buf):
            return None
        b = buf[idx + i]
        value |= (b & 0x7F) << shift
        if not (b & 0x80):
            return value, idx + i + 1
        shift += 7
    return None


def carve_rar(reader: Reader, offset: int, max_size: int, **_) -> CarveOutcome | None:
    """RAR4 block walk to HEAD_END (0x7B) / RAR5 varint blocks to
    end-of-archive (type 5). Reference: src/carve/rar.rs:119-301."""
    sig = reader.read_exact(offset, 8)
    if sig is None:
        return None
    if sig == _RAR5_MAGIC:
        return _carve_rar5(reader, offset, max_size)
    if sig[:7] == _RAR4_MAGIC:
        return _carve_rar4(reader, offset, max_size)
    return None


def _carve_rar4(reader: Reader, offset: int, max_size: int) -> CarveOutcome | None:
    pos = offset + 7
    truncated = False
    errors: list[str] = []
    while True:
        if max_size > 0 and pos - offset >= max_size:
            truncated = True
            errors.append("max_size reached before RAR end")
            break
        header = reader.read_exact(pos, 7)
        if header is None:
            truncated = True
            errors.append("eof before RAR end")
            break
        head_type = header[2]
        flags = struct.unpack_from("<H", header, 3)[0]
        head_size = struct.unpack_from("<H", header, 5)[0]
        if head_size < 7:
            return None
        if max_size > 0 and (pos - offset) + head_size > max_size:
            truncated = True
            errors.append("max_size reached before RAR end")
            break
        if head_type == 0x7B:  # HEAD_END
            pos += head_size
            break
        if head_type == 0x74:  # HEAD_FILE
            raw = reader.read_exact(pos + 7, 4)
            if raw is None:
                truncated = True
                errors.append("eof while reading RAR file header")
                break
            pack_size = struct.unpack("<I", raw)[0]
            if flags & 0x0100:
                if head_size < 7 + 25 + 4:
                    return None
                high = reader.read_exact(pos + 7 + 25, 4)
                if high is None:
                    truncated = True
                    errors.append("eof while reading RAR high pack size")
                    break
                pack_size |= struct.unpack("<I", high)[0] << 32
            pos += head_size + pack_size
        else:
            pos += head_size
    return CarveOutcome(end=pos, validated=not truncated, truncated=truncated, errors=errors)


def _carve_rar5(reader: Reader, offset: int, max_size: int) -> CarveOutcome | None:
    pos = offset + 8
    truncated = False
    errors: list[str] = []
    while True:
        if max_size > 0 and pos - offset >= max_size:
            truncated = True
            errors.append("max_size reached before RAR end")
            break
        crc = reader.read_exact(pos, 4)
        if crc is None:
            truncated = True
            errors.append("eof before RAR end")
            break
        vi = _read_varint(reader, pos + 4)
        if vi is None:
            truncated = True
            errors.append("eof while reading RAR header size")
            break
        header_size, size_len = vi
        if header_size == 0 or header_size > 1024 * 1024:
            return None
        header_buf = reader.read_exact(pos + 4 + size_len, header_size)
        if header_buf is None:
            truncated = True
            errors.append("eof while reading RAR header")
            break
        v = _varint_from(header_buf, 0)
        if v is None:
            return None
        header_type, idx = v
        v = _varint_from(header_buf, idx)
        if v is None:
            return None
        flags, idx = v
        if flags & 0x01:
            v = _varint_from(header_buf, idx)
            if v is None:
                return None
            _, idx = v
        data_size = 0
        if flags & 0x02:
            v = _varint_from(header_buf, idx)
            if v is not None:
                data_size, idx = v
        block_total = 4 + size_len + header_size + data_size
        if max_size > 0 and (pos - offset) + block_total > max_size:
            truncated = True
            errors.append("max_size reached before RAR end")
            break
        pos += block_total
        if header_type == 5:  # end of archive
            break
    return CarveOutcome(end=pos, validated=not truncated, truncated=truncated, errors=errors)


_SEVENZ_MAGIC = bytes.fromhex("377ABCAF271C")


def carve_sevenz(reader: Reader, offset: int, max_size: int, **_) -> CarveOutcome | None:
    """Fixed header math: 32 + next_header_offset + next_header_size
    (reference src/carve/sevenz.rs:39-110)."""
    header = reader.read_exact(offset, 32)
    if header is None or header[:6] != _SEVENZ_MAGIC:
        return None
    nh_offset = struct.unpack_from("<Q", header, 12)[0]
    nh_size = struct.unpack_from("<Q", header, 20)[0]
    total = 32 + nh_offset + nh_size
    if total < 32:
        return None
    out = CarveOutcome(end=offset + total, validated=True)
    if max_size > 0 and total > max_size:
        out.end = offset + max_size
        out.truncated = True
        out.errors.append("max_size reached before 7z end")
    return out
