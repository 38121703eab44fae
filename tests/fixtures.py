"""Synthetic minimal-file fixtures (modeled on the reference's
tests/integration_basic.rs sample builders, FIXTURES.md §6)."""

from __future__ import annotations

import struct
import zlib


def insert_bytes(buf: bytearray, offset: int, data: bytes) -> None:
    buf[offset : offset + len(data)] = data


def mk_jpeg(payload: int = 600) -> bytes:
    return b"\xff\xd8\xff\xe0" + b"\x11" * payload + b"\xff\xd9"


def mk_png() -> bytes:
    def chunk(t: bytes, d: bytes) -> bytes:
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", zlib.crc32(t + d))

    return (
        b"\x89PNG\r\n\x1a\x0a"
        + chunk(b"IHDR", b"\x00" * 13)
        + chunk(b"IDAT", b"\x22" * 120)
        + chunk(b"IEND", b"")
    )


def mk_gif() -> bytes:
    ext = b"\x21\xfe\x05hello\x00"
    img = b"\x2c" + b"\x00" * 8 + b"\x00" + b"\x02" + bytes([3]) + b"\x4c\x01\x00" + b"\x00"
    return b"GIF89a" + struct.pack("<HH", 2, 2) + b"\x00\x00\x00" + ext + img + b"\x3b"


def mk_sqlite(page_size: int = 512, page_count: int = 2) -> bytes:
    h = bytearray(b"SQLite format 3\x00" + b"\x00" * 84)
    struct.pack_into(">H", h, 16, page_size if page_size != 65536 else 1)
    struct.pack_into(">I", h, 28, page_count)
    return bytes(h) + b"\x33" * (page_size * page_count - 100)


def mk_pdf() -> bytes:
    return b"%PDF-1.4\n1 0 obj\n<<>>\nendobj\n" + b"x" * 60 + b"\ntrailer\n%%EOF\n"


def mk_bmp() -> bytes:
    dib = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 0, 0, 0, 0)
    fsize = 14 + 40 + 4
    return b"BM" + struct.pack("<I", fsize) + b"\x00" * 4 + struct.pack("<I", 54) + dib + b"\xaa" * 4


def mk_webp() -> bytes:
    payload = b"VP8 " + b"\x44" * 24
    return b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" + payload


def mk_wav() -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + 32) + b"WAVE" + b"fmt " + b"\x55" * 28


def mk_7z() -> bytes:
    h = bytearray(b"\x37\x7a\xbc\xaf\x27\x1c\x00\x04" + b"\x00" * 24)
    struct.pack_into("<Q", h, 12, 16)
    struct.pack_into("<Q", h, 20, 8)
    return bytes(h) + b"\x66" * 16 + b"\x77" * 8


def mk_zip(kind: str = "zip") -> bytes:
    names = {
        "zip": b"readme.txt",
        "docx": b"word/document.xml",
        "xlsx": b"xl/workbook.xml",
        "pptx": b"ppt/slides.xml",
    }
    name = names[kind]
    data = b"sample-data"
    local = (
        b"PK\x03\x04"
        + struct.pack(
            "<HHHHHIIIHH", 20, 0, 0, 0, 0, zlib.crc32(data), len(data), len(data), len(name), 0
        )
        + name
        + data
    )
    cd = (
        b"PK\x01\x02"
        + struct.pack(
            "<HHHHHHIIIHHHHHII",
            20, 20, 0, 0, 0, 0, zlib.crc32(data), len(data), len(data), len(name),
            0, 0, 0, 0, 0, 0,
        )
        + name
    )
    eocd = b"PK\x05\x06" + struct.pack("<HHHHIIH", 0, 0, 1, 1, len(cd), len(local), 0)
    return local + cd + eocd


def mk_epub() -> bytes:
    mime = b"application/epub+zip"
    name = b"mimetype"
    local = (
        b"PK\x03\x04"
        + struct.pack(
            "<HHHHHIIIHH", 20, 0, 0, 0, 0, zlib.crc32(mime), len(mime), len(mime), len(name), 0
        )
        + name
        + mime
    )
    cd = (
        b"PK\x01\x02"
        + struct.pack(
            "<HHHHHHIIIHHHHHII",
            20, 20, 0, 0, 0, 0, zlib.crc32(mime), len(mime), len(mime), len(name),
            0, 0, 0, 0, 0, 0,
        )
        + name
    )
    eocd = b"PK\x05\x06" + struct.pack("<HHHHIIH", 0, 0, 1, 1, len(cd), len(local), 0)
    return local + cd + eocd


def mk_gzip(body: int = 48) -> bytes:
    return b"\x1f\x8b\x08\x00" + b"\x00" * 6 + b"\x99" * body


def mk_tar() -> bytes:
    hdr = bytearray(512)
    hdr[0:8] = b"file.txt"
    hdr[124:136] = b"00000001000\x00"  # 512 bytes of data
    hdr[257:262] = b"ustar"
    hdr[148:156] = b" " * 8
    chk = sum(hdr)
    hdr[148:156] = (f"{chk:06o}\x00 ").encode()
    return bytes(hdr) + b"T" * 512 + b"\x00" * 1024


def mk_mp4() -> bytes:
    ftyp = struct.pack(">I", 20) + b"ftyp" + b"isom" + b"\x00" * 8
    mdat = struct.pack(">I", 64) + b"mdat" + b"\x4d" * 56
    moov = struct.pack(">I", 16) + b"moov" + b"\x6d" * 8
    return ftyp + mdat + moov


def mk_mov() -> bytes:
    ftyp = struct.pack(">I", 20) + b"ftyp" + b"qt  " + b"\x00" * 8
    moov = struct.pack(">I", 16) + b"moov" + b"\x6d" * 8
    return ftyp + moov


def mk_rar4() -> bytes:
    sig = bytes.fromhex("526172211A0700")
    main = struct.pack("<HBHH", 0, 0x73, 0, 13) + b"\x00" * 6
    end_block = struct.pack("<HBHH", 0, 0x7B, 0, 7)
    return sig + main + end_block


def mk_mp3(frames: int = 4) -> bytes:
    # MPEG1 Layer III, 128 kbps, 44100 Hz -> 417-byte frames
    frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 413
    return frame * frames


def mk_ogg() -> bytes:
    def page(header_type: int, data: bytes) -> bytes:
        return (
            b"OggS"
            + bytes([0, header_type])
            + b"\x00" * 20
            + bytes([1, len(data)])
            + data
        )

    return page(0x02, b"v" * 30) + page(0x00, b"w" * 20) + page(0x04, b"x" * 10)


def mk_elf() -> bytes:
    h = bytearray(64)
    h[0:4] = b"\x7fELF"
    h[4], h[5] = 2, 1
    struct.pack_into("<Q", h, 40, 64)
    struct.pack_into("<H", h, 58, 64)
    struct.pack_into("<H", h, 60, 3)
    return bytes(h) + b"\x5e" * (64 + 192 - 64)


def mk_rtf() -> bytes:
    return b"{\\rtf1 hello {\\b bold} \\{escaped\\} \\bin3 xyz done}"


def mk_eml() -> bytes:
    return (
        b"From: alice@example.com\r\nTo: bob@example.com\r\n"
        b"Subject: test message\r\nDate: Mon, 1 Jan 2024 00:00:00 +0000\r\n"
        b"\r\nHello Bob,\r\nthis is the body.\r\n"
    )


def mk_xz() -> bytes:
    hdr = bytes.fromhex("FD377A585A00") + b"\x00\x01"
    hdr += struct.pack("<I", zlib.crc32(hdr[6:8]))
    body = b"\xee" * 24
    bw, fl = struct.pack("<I", 1), b"\x00\x01"
    footer = struct.pack("<I", zlib.crc32(bw + fl)) + bw + fl + b"YZ"
    return hdr + body + footer


def mk_bzip2() -> bytes:
    return b"BZh9\x31\x41\x59\x26\x53\x59" + b"\xdd" * 40 + bytes.fromhex("177245385090")


def mk_ico() -> bytes:
    img = struct.pack("<I", 40) + struct.pack("<i", 16) + b"\x00" * 40
    hdr = struct.pack("<HHH", 0, 1, 1)
    entry = bytes([16, 16, 0, 0]) + struct.pack("<HH", 1, 24) + struct.pack("<II", len(img), 22)
    return hdr + entry + img


def mk_tiff() -> bytes:
    # II header, one IFD with strip offset/bytecount
    entries = b""
    # tag 273 (strip offsets): LONG, 1 value = 42 (header+ifd+4 pad)
    entries += struct.pack("<HHII", 273, 4, 1, 42)
    # tag 279 (strip byte counts): LONG, 1 value = 64
    entries += struct.pack("<HHII", 279, 4, 1, 64)
    ifd = struct.pack("<H", 2) + entries + struct.pack("<I", 0)
    header = b"II\x2a\x00" + struct.pack("<I", 8)
    return header + ifd + b"\x00" * 4 + b"\x88" * 64


def mk_fb2() -> bytes:
    return (
        b'<?xml version="1.0"?>\n<FictionBook>\n<body>text '
        + b"y" * 40
        + b"</body>\n</FictionBook>"
    )


def mk_wmv() -> bytes:
    header_guid = bytes.fromhex("3026B2758E66CF11A6D900AA0062CE6C")
    fp_guid = bytes.fromhex("A1DCAB8C47A9CF118EE400C00C205365")
    total = 30 + 24 + 24 + 40  # header obj + file-prop obj + data
    fp_obj = fp_guid + struct.pack("<Q", 48) + b"\x00" * 16 + struct.pack("<Q", total)
    header = header_guid + struct.pack("<QIBB", 30 + len(fp_obj), 1, 1, 2)
    return header + fp_obj + b"\x9a" * (total - 30 - len(fp_obj))


def mk_webm() -> bytes:
    # EBML header with DocType "webm"
    doctype = b"\x42\x82" + bytes([0x80 | 4]) + b"webm"
    ebml = b"\x1a\x45\xdf\xa3" + bytes([0x80 | len(doctype)]) + doctype
    seg_payload = b"\x5b" * 32
    segment = b"\x18\x53\x80\x67" + bytes([0x80 | len(seg_payload)]) + seg_payload
    return ebml + segment


def mk_mobi() -> bytes:
    header = bytearray(78)
    header[0:8] = b"testbook"
    header[60:68] = b"BOOKMOBI"
    struct.pack_into(">H", header, 76, 2)
    rec0_off = 78 + 2 * 8
    rec1_off = rec0_off + 64
    records = struct.pack(">II", rec0_off, 0) + struct.pack(">II", rec1_off, 1)
    return bytes(header) + records + b"\x0b" * 64 + b"\x0c" * 64


def mk_lrf() -> bytes:
    h = bytearray(12)
    h[0:4] = b"LRF\x00"
    struct.pack_into("<I", h, 8, 96)
    return bytes(h) + b"\x77" * 84


# expected carve sizes for each fixture (None = to-EOF semantics)
ALL_FIXTURES: dict[str, tuple[bytes, str, str, int]] = {
    # name: (blob, file_type_id, pattern_id, hit offset within blob)
    "jpeg": (mk_jpeg(), "jpeg", "jpeg_soi", 0),
    "png": (mk_png(), "png", "png_sig", 0),
    "gif": (mk_gif(), "gif", "gif89a", 0),
    "sqlite": (mk_sqlite(), "sqlite", "sqlite_header", 0),
    "pdf": (mk_pdf(), "pdf", "pdf_header", 0),
    "bmp": (mk_bmp(), "bmp", "bmp_header", 0),
    "webp": (mk_webp(), "webp", "webp_header", 0),
    "wav": (mk_wav(), "wav", "wav_riff", 0),
    "7z": (mk_7z(), "7z", "7z_header", 0),
    "zip": (mk_zip("docx"), "zip", "zip_header", 0),
    "tar": (mk_tar(), "tar", "tar_ustar", 257),
    "mp4": (mk_mp4(), "mp4", "mp4_ftyp_14", 0),
    "rar": (mk_rar4(), "rar", "rar4_header", 0),
    "mp3": (mk_mp3(), "mp3", "mp3_sync_fb", 0),
    "ogg": (mk_ogg(), "ogg", "ogg_sync", 0),
    "elf": (mk_elf(), "elf", "elf_magic", 0),
    "rtf": (mk_rtf(), "rtf", "rtf_header", 0),
    "xz": (mk_xz(), "xz", "xz_header", 0),
    "bzip2": (mk_bzip2(), "bzip2", "bzip2_header", 0),
    "ico": (mk_ico(), "ico", "ico_header", 0),
    "tiff": (mk_tiff(), "tiff", "tiff_le_header", 0),
    "fb2": (mk_fb2(), "fb2", "fb2_xml", 0),
    "wmv": (mk_wmv(), "wmv", "wmv_asf", 0),
    "webm": (mk_webm(), "webm", "webm_ebml", 0),
    "mobi": (mk_mobi(), "mobi", "mobi_pdb", 60),
    "lrf": (mk_lrf(), "lrf", "lrf_header", 0),
}


def scan_all_hits(spark, path: str, length: int, ac_spec: str) -> list[int]:
    """Packed (offset << 16 | pattern) hits of ONE sb_scan_all call over
    [0, length) of `path` — the signature scan alone (overlap 0, empty
    strings/entropy spec lines), raw or EWF evidence alike."""
    [row] = spark.sql(
        f"SELECT sb_scan_all('{path}', 0L, {length}L, '0\\n{ac_spec}\\n\\n').hits AS h"
    ).collect()
    return sorted(int(h) for h in row["h"])


def ungated_hits(spark, path: str, cfg):
    """Hits of the chunk-table scan (scanner.scan_and_normalize). It has
    no scan-time gates: the carver alone rejects loose-signature false
    hits there."""
    from swiftbeaver_spark.chunking import chunks_from_file
    from swiftbeaver_spark.scanner import scan_and_normalize

    chunks = chunks_from_file(spark, path, cfg.chunk_size, cfg.overlap)
    return scan_and_normalize(chunks, cfg)


def assert_gates_sound(spark, path: str, cfg) -> None:
    """The one-pass scan's gated hits are a subset of the ungated
    chunk-table hits, and both hit sets carve to identical rows."""
    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    gated = scan_all_from_evidence(spark, path, cfg)["hits"]
    ungated = ungated_hits(spark, path, cfg)

    def offsets(df):
        return {(r.global_offset, r.pattern_id) for r in df.collect()}

    assert offsets(gated) < offsets(ungated)  # the gates dropped some
    sel = ["file_type", "global_start", "global_end", "size", "sha256", "errors"]

    def carves(hits):
        return sorted(
            map(tuple, carve_hits_with_evidence(hits, path, cfg).select(*sel).collect())
        )

    assert carves(gated) == carves(ungated) != []
