"""Pure-Python EWF/E01 (Expert Witness Format, EnCase) reader + writer.

Reference parity: the native engine reads E01 through libewf FFI
(src/evidence.rs:165-400). This module implements the same container
from the publicly documented format (the EWF specification published
with the libewf project): 13-byte segment header, a chain of 76-byte
section descriptors (type, next-offset, size, Adler-32), a `volume`
section carrying chunk geometry, `sectors` sections holding per-chunk
data (zlib-compressed or raw+Adler-32), and `table` sections mapping
chunk index -> file offset (MSB flags compression). No external
dependency — usable on any ingest host.

Scope: read AND write single- and multi-segment E01 (E01/E02/...
chains via `chunks_per_segment`; segment extensions roll E99 -> EAA ->
EZZ -> FAA like libewf). Checksums are verified on read; corrupt
descriptors raise EwfFormatError.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass

from swiftbeaver_spark.carvers.base import Reader

SIGNATURE = b"EVF\x09\x0d\x0a\xff\x00"
_DESC = struct.Struct("<16sQQ40sI")  # type, next_offset, size, pad, adler32
_VOLUME_LEN = 1052  # EnCase volume section body (incl. trailing checksum)


class EwfFormatError(ValueError):
    pass


@dataclass(frozen=True)
class _ChunkRef:
    path: str
    offset: int
    compressed: bool


def _next_ext(ext3: str) -> str:
    """libewf segment-extension progression (uppercase canonical form):
    E01 -> ... -> E99 -> EAA -> ... -> EZZ -> FAA -> ... -> ZZZ."""
    first, rest = ext3[0], ext3[1:]
    if rest.isdigit():
        n = int(rest)
        return f"{first}{n + 1:02d}" if n < 99 else f"{first}AA"
    a, b = rest
    if b != "Z":
        return f"{first}{a}{chr(ord(b) + 1)}"
    if a != "Z":
        return f"{first}{chr(ord(a) + 1)}A"
    return f"{chr(ord(first) + 1)}AA"


def _segment_paths(path: str) -> list[str]:
    """E01 -> [E01, E02, ..., E99, EAA, ...] as far as files exist
    (libewf glob, including the post-E99 letter rollover)."""
    base, ext = os.path.splitext(path)
    if len(ext) != 4 or ext[1].upper() != "E":
        return [path]
    lower = ext[1].islower()
    canon = ext[1:].upper()
    out = []
    while True:
        cand = f"{base}.{canon.lower() if lower else canon}"
        if not os.path.exists(cand):
            break
        out.append(cand)
        canon = _next_ext(canon)
    return out or [path]


def _read_descriptor(fh, offset: int) -> tuple[str, int, int]:
    fh.seek(offset)
    raw = fh.read(_DESC.size)
    if len(raw) < _DESC.size:
        raise EwfFormatError(f"truncated section descriptor at {offset}")
    typ, next_off, size, _pad, adler = _DESC.unpack(raw)
    if zlib.adler32(raw[:72]) != adler:
        raise EwfFormatError(f"section descriptor checksum mismatch at {offset}")
    return typ.rstrip(b"\x00").decode("ascii", "replace"), next_off, size


class EwfReader(Reader):
    """Positioned reads over an E01 image's decompressed media."""

    def __init__(self, path: str):
        self.paths = _segment_paths(path)
        self.chunk_size = 0
        self.media_size = 0
        self._chunks: list[_ChunkRef] = []
        self._cache: dict[int, bytes] = {}
        self._handles: dict[str, object] = {}  # one open fh per segment
        n_chunks = sectors = bps = 0
        for seg_no, seg in enumerate(self.paths, start=1):
            with open(seg, "rb") as fh:
                head = fh.read(13)
                if head[:8] != SIGNATURE:
                    raise EwfFormatError(f"{seg}: not an EWF file")
                (seg_field,) = struct.unpack_from("<H", head, 9)
                if seg_field != seg_no:
                    raise EwfFormatError(
                        f"{seg}: segment number {seg_field}, expected {seg_no}"
                    )
                off = 13
                while True:
                    typ, next_off, size = _read_descriptor(fh, off)
                    if typ in ("volume", "disk") and not self._chunks:
                        fh.seek(off + _DESC.size)
                        body = fh.read(_VOLUME_LEN)
                        n_chunks = struct.unpack_from("<I", body, 4)[0]
                        spc = struct.unpack_from("<I", body, 8)[0]
                        bps = struct.unpack_from("<I", body, 12)[0]
                        sectors = struct.unpack_from("<Q", body, 16)[0]
                        self.chunk_size = spc * bps
                    elif typ == "table":
                        self._chunks.extend(self._parse_table(fh, off, seg))
                    if typ in ("next", "done") or next_off in (0, off):
                        break
                    off = next_off
        if not self.chunk_size:
            raise EwfFormatError("no volume section found")
        self.media_size = sectors * bps
        if len(self._chunks) < n_chunks:
            raise EwfFormatError(
                f"table entries {len(self._chunks)} < chunk count {n_chunks}"
            )

    def _parse_table(self, fh, sec_off: int, seg: str) -> list[_ChunkRef]:
        fh.seek(sec_off + _DESC.size)
        header = fh.read(24)
        n_entries, _pad, base, _pad2, adler = struct.unpack("<IIQII", header)
        if zlib.adler32(header[:20]) != adler:
            raise EwfFormatError(f"{seg}: table header checksum mismatch")
        raw = fh.read(4 * n_entries + 4)
        entries = struct.unpack(f"<{n_entries}I", raw[: 4 * n_entries])
        (echeck,) = struct.unpack_from("<I", raw, 4 * n_entries)
        if zlib.adler32(raw[: 4 * n_entries]) != echeck:
            raise EwfFormatError(f"{seg}: table entries checksum mismatch")
        return [
            _ChunkRef(seg, base + (e & 0x7FFFFFFF), bool(e & 0x80000000))
            for e in entries
        ]

    # -- media access --------------------------------------------------------

    def _handle(self, path: str):
        fh = self._handles.get(path)
        if fh is None:
            fh = self._handles[path] = open(path, "rb")
        return fh

    def _chunk(self, idx: int) -> bytes:
        cached = self._cache.get(idx)
        if cached is not None:
            return cached
        ref = self._chunks[idx]
        fh = self._handle(ref.path)
        fh.seek(ref.offset)
        if ref.compressed:
            # zlib streams self-terminate; bound the read generously
            raw = fh.read(self.chunk_size + 4096)
            data = zlib.decompressobj().decompress(raw)
        else:
            raw = fh.read(self.chunk_size + 4)
            data, check = raw[: self.chunk_size], raw[self.chunk_size :]
            if len(check) == 4 and zlib.adler32(data) != struct.unpack("<I", check)[0]:
                # real acquisitions may store the FINAL chunk short
                # (media not a multiple of chunk size, no padding);
                # retry the short interpretation before rejecting
                tail = self.media_size - idx * self.chunk_size
                if 0 < tail < self.chunk_size:
                    short, scheck = raw[:tail], raw[tail : tail + 4]
                    if len(scheck) == 4 and zlib.adler32(short) == struct.unpack(
                        "<I", scheck
                    )[0]:
                        data = short
                    else:
                        raise EwfFormatError(f"chunk {idx}: data checksum mismatch")
                else:
                    raise EwfFormatError(f"chunk {idx}: data checksum mismatch")
        # final chunk may carry padding beyond media end; trim at read_at
        if len(self._cache) > 8:
            self._cache.clear()
        self._cache[idx] = data
        return data

    def read_at(self, offset: int, length: int) -> bytes:
        if offset < 0 or length <= 0 or offset >= self.media_size:
            return b""
        length = min(length, self.media_size - offset)
        out = bytearray()
        idx = offset // self.chunk_size
        pos = offset
        end = offset + length
        while pos < end and idx < len(self._chunks):
            data = self._chunk(idx)
            lo = pos - idx * self.chunk_size
            out += data[lo : lo + (end - pos)]
            pos = (idx + 1) * self.chunk_size
            idx += 1
        return bytes(out)

    def length(self) -> int:
        return self.media_size

    def close(self) -> None:
        self._cache.clear()
        for fh in self._handles.values():
            try:
                fh.close()
            except OSError:
                pass
        self._handles.clear()

# -- writer (single-segment fixture/ingest tool) ----------------------------


def _section(typ: bytes, next_off: int, size: int) -> bytes:
    head = _DESC.pack(typ.ljust(16, b"\x00"), next_off, size, b"\x00" * 40, 0)[:72]
    return head + struct.pack("<I", zlib.adler32(head))


def write_ewf(
    out_path: str,
    data: bytes,
    sectors_per_chunk: int = 64,
    bytes_per_sector: int = 512,
    compresslevel: int = 1,
    chunks_per_segment: int | None = None,
    pad_final: bool = True,
) -> None:
    """Write `data` as an E01 image (public EWF layout). Chunks that
    don't shrink under zlib are stored raw with an appended Adler-32,
    exactly as the spec's uncompressed-chunk form. With
    `chunks_per_segment` the image splits into an E01/E02/... chain:
    the first segment carries the volume section, non-final segments
    terminate with a `next` section, the last with `done`. With
    pad_final=False the tail chunk is stored short (whole sectors only,
    no zero padding) — the form many real acquisitions use."""
    chunk_size = sectors_per_chunk * bytes_per_sector
    n_sectors = -(-len(data) // bytes_per_sector)
    # media is whole sectors; pad the tail chunk with zeros
    padded = data + b"\x00" * (n_sectors * bytes_per_sector - len(data))
    chunks = [padded[i : i + chunk_size] for i in range(0, len(padded), chunk_size)]
    if chunks and len(chunks[-1]) < chunk_size and pad_final:
        chunks[-1] = chunks[-1] + b"\x00" * (chunk_size - len(chunks[-1]))

    per_seg = chunks_per_segment or max(len(chunks), 1)
    groups = [chunks[i : i + per_seg] for i in range(0, len(chunks), per_seg)] or [[]]
    base, ext = os.path.splitext(out_path)
    lower = len(ext) == 4 and ext[1].islower()
    canon = ext[1:].upper() if len(ext) == 4 else "E01"

    for seg_no, group in enumerate(groups, start=1):
        out = bytearray()
        out += SIGNATURE + b"\x01" + struct.pack("<H", seg_no) + b"\x00\x00"

        if seg_no == 1:
            body = bytearray(_VOLUME_LEN)
            body[0] = 0x01  # fixed disk
            struct.pack_into("<I", body, 4, len(chunks))
            struct.pack_into("<I", body, 8, sectors_per_chunk)
            struct.pack_into("<I", body, 12, bytes_per_sector)
            struct.pack_into("<Q", body, 16, n_sectors)
            struct.pack_into("<I", body, _VOLUME_LEN - 4, zlib.adler32(bytes(body[:-4])))
            vol_off = len(out)
            vol_size = _DESC.size + _VOLUME_LEN
            out += _section(b"volume", vol_off + vol_size, vol_size)
            out += body

        # sectors section: compress per chunk, fall back to raw+adler
        payloads: list[bytes] = []
        flags: list[bool] = []
        for c in group:
            z = zlib.compress(c, compresslevel)
            if len(z) < len(c):
                payloads.append(z)
                flags.append(True)
            else:
                payloads.append(c + struct.pack("<I", zlib.adler32(c)))
                flags.append(False)
        sec_off = len(out)
        sec_size = _DESC.size + sum(len(p) for p in payloads)
        out += _section(b"sectors", sec_off + sec_size, sec_size)
        offsets = []
        for p, f in zip(payloads, flags):
            offsets.append(len(out) | (0x80000000 if f else 0))
            out += p

        # table + table2 (redundant copy, per spec)
        for typ in (b"table", b"table2"):
            t_off = len(out)
            t_size = _DESC.size + 24 + 4 * len(offsets) + 4
            out += _section(typ, t_off + t_size, t_size)
            head = struct.pack("<IIQI", len(offsets), 0, 0, 0)
            out += head + struct.pack("<I", zlib.adler32(head))
            entries = struct.pack(f"<{len(offsets)}I", *offsets)
            out += entries + struct.pack("<I", zlib.adler32(entries))

        final = seg_no == len(groups)
        end_off = len(out)
        out += _section(b"done" if final else b"next", end_off, _DESC.size)
        seg_path = (
            out_path if seg_no == 1 else f"{base}.{canon.lower() if lower else canon}"
        )
        with open(seg_path, "wb") as fh:
            fh.write(bytes(out))
        canon = _next_ext(canon)
