"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with Arrow-batched decode/feature plumbing.

The container has no image/audio CODEC libraries, so decode is real
exactly where the format needs none: BMP pixels are raw rows
(bmp_pixels) and PNG is structure + DEFLATE, both fully decodable with
the standard library (png_pixels: zlib inflate + all five scanline
filters). Genuinely codec-requiring formats (JPEG entropy coding,
video/audio codecs) get an 'unsupported' row (resize_images) or the
deterministic fake (`fake_decode_meta`), so the Spark-side plumbing —
schema, partitioning, mapInPandas batch shape, feature columns — is
real and tested end-to-end; a codec kernel plugs into those branches
on a cluster with codecs installed.

DIMENSIONS, however, are real where the format allows: BMP/PNG/GIF/
JPEG headers declare width/height in plain structure (the same header
logic the carvers walk, carvers/images.py:28,75,129), so
`header_image_dims` parses them codec-free and `extract_media_meta`
prefers them — the fake fills in only for codec-requiring formats.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("modality", StringType(), False),
        # nullable: a NULL-payload row keeps NULL size/digest instead
        # of fabricating the shared empty-bytes values
        StructField("byte_size", LongType(), True),
        StructField("sha256", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("feature", ArrayType(DoubleType()), True),
    ]
)


def _payload_bytes(payload) -> bytes:
    """NULL-total payload coercion for the mapInPandas operators: a
    NULL binary cell becomes b'' (which every parser maps to its
    unsupported/None row) instead of bytes(None) raising TypeError and
    failing the whole task."""
    return bytes(payload) if payload is not None else b""


def header_image_dims(payload: bytes) -> tuple[int, int] | None:
    """Codec-free (width, height) from the declared header of BMP, PNG,
    GIF, or baseline/progressive JPEG; None for anything else (or a
    malformed/truncated header). Pure struct parsing of public formats —
    the metadata twin of the carvers' structure walks
    (carvers/images.py: carve_bmp:129, carve_png:28, carve_gif:75)."""
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\x0a" and payload[12:16] == b"IHDR":
            w, h = struct.unpack_from(">II", payload, 16)
            return (w, h) if w > 0 and h > 0 else None
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack_from("<HH", payload, 6)
            return (w, h) if w > 0 and h > 0 else None
        if payload[:2] == b"BM" and len(payload) >= 26:
            # require a valid DIB header size (the carver's gate,
            # carvers/images.py:_VALID_DIB_SIZES) so arbitrary bytes
            # starting "BM" never parse as dims
            dib = struct.unpack_from("<I", payload, 14)[0]
            if dib == 12:  # BITMAPCOREHEADER: unsigned 16-bit dims
                w, h = struct.unpack_from("<HH", payload, 18)
            elif dib in (40, 52, 56, 108, 124):
                # BITMAPINFOHEADER+: signed 32-bit, height sign = row order
                w, h = struct.unpack_from("<ii", payload, 18)
                h = abs(h)
            else:
                return None
            return (w, h) if w > 0 and h > 0 else None
        if payload[:2] == b"\xff\xd8":
            # walk marker segments to a SOFn frame header (dims live
            # there); C4/C8/CC are not frame headers
            pos = 2
            while pos + 4 <= len(payload):
                if payload[pos] != 0xFF:
                    return None
                marker = payload[pos + 1]
                if marker == 0xFF:  # fill byte
                    pos += 1
                    continue
                if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
                    pos += 2
                    continue
                seglen = struct.unpack_from(">H", payload, pos + 2)[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack_from(">HH", payload, pos + 5)
                    return (w, h) if w > 0 and h > 0 else None
                if marker == 0xDA:  # entropy-coded data follows; no SOF seen
                    return None
                pos += 2 + seglen
    except struct.error:
        return None
    return None


def header_media_duration_ms(payload: bytes) -> int | None:
    """Codec-free duration from declared headers: WAV (fmt byte rate +
    data chunk size), MP4/MOV (mvhd timescale + duration), MP3 (Layer
    III frame walk — sample-accurate, VBR-correct), Ogg Vorbis
    (last-page granule position over the id header's sample rate), and
    FLAC (STREAMINFO total_samples over sample_rate — llm/flac.py can
    also fully DECODE these, the only audio format here with a real
    entropy-decode path).
    None for other formats or malformed headers — like
    `header_image_dims`, pure struct parsing of public container
    layouts (the carvers walk the same structures: carvers/media.py
    wav/mp4/mp3/ogg handlers)."""
    try:
        if payload[:4] == b"fLaC":
            from swiftbeaver_spark.llm.flac import parse_streaminfo

            si = parse_streaminfo(payload)
            if si is not None and si["sample_rate"] and si["total_samples"]:
                return si["total_samples"] * 1000 // si["sample_rate"]
            return None
        if payload[:4] == b"OggS":
            meta = vorbis_stream_meta(payload)
            return meta[3] if meta is not None else None
        mp3 = _mp3_duration_ms(payload)
        if mp3 is not None:
            return mp3
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            pos, byte_rate, data_size = 12, None, None
            while pos + 8 <= len(payload):
                cid = payload[pos : pos + 4]
                (csize,) = struct.unpack_from("<I", payload, pos + 4)
                if cid == b"fmt " and csize >= 16:
                    (byte_rate,) = struct.unpack_from("<I", payload, pos + 16)
                elif cid == b"data":
                    data_size = csize
                if byte_rate and data_size is not None:
                    return data_size * 1000 // byte_rate if byte_rate else None
                pos += 8 + csize + (csize & 1)  # chunks are word-aligned
            return None
        if len(payload) >= 12 and payload[4:8] in (b"ftyp", b"moov", b"mdat"):
            # walk top-level boxes to moov, then moov children to mvhd
            def walk(lo: int, hi: int, name: bytes) -> tuple[int, int] | None:
                pos = lo
                while pos + 8 <= hi:
                    (size,) = struct.unpack_from(">I", payload, pos)
                    btype = payload[pos + 4 : pos + 8]
                    if size == 1:  # 64-bit largesize
                        (size,) = struct.unpack_from(">Q", payload, pos + 8)
                        body = pos + 16
                    elif size == 0:  # to end of file
                        size = hi - pos
                        body = pos + 8
                    else:
                        body = pos + 8
                    if size < 8 or pos + size > hi:
                        return None
                    if btype == name:
                        return body, pos + size
                    pos += size
                return None

            moov = walk(0, len(payload), b"moov")
            if moov is None:
                return None
            mvhd = walk(moov[0], moov[1], b"mvhd")
            if mvhd is None:
                return None
            body = mvhd[0]
            version = payload[body]
            if version == 1:
                timescale, duration = struct.unpack_from(">IQ", payload, body + 20)
            else:
                timescale, duration = struct.unpack_from(">II", payload, body + 12)
            return duration * 1000 // timescale if timescale else None
    # IndexError too: a truncated/empty mvhd body (size==8 box ending at
    # end-of-payload) makes `payload[body]` an out-of-range read that
    # would otherwise escape and fail the whole mapInPandas task on one
    # malformed payload
    except (struct.error, IndexError):
        return None
    return None


def bmp_pixels(payload: bytes):
    """Parse an uncompressed 24/32-bit BMP to a top-down (h, w, 3)
    BGR uint8 array; None when the payload isn't one this understands.
    Shared by resize_images (through image_pixels) and bmp_patch_means."""
    import numpy as np

    try:
        if payload[:2] != b"BM" or len(payload) < 54:
            return None
        (data_off,) = struct.unpack_from("<I", payload, 10)
        dib = struct.unpack_from("<I", payload, 14)[0]
        if dib not in (40, 52, 56, 108, 124):
            return None
        w, h = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        (compression,) = struct.unpack_from("<I", payload, 30)
        if compression != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
            return None
        top_down = h < 0
        h = abs(h)
        bypp = bpp // 8
        stride = (w * bypp + 3) & ~3
        need = data_off + stride * h
        if need > len(payload):
            return None
        rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
        px = rows.reshape(h, stride)[:, : w * bypp].reshape(h, w, bypp)[:, :, :3]
        if not top_down:
            px = px[::-1]  # bottom-up storage -> top-down logical order
        return px
    except (struct.error, ValueError):
        return None


def _resample_to_bmp(px, target_w: int, target_h: int) -> bytes:
    """Nearest-neighbor resample of a top-down (h, w, 3) BGR array to
    a well-formed 24-bit BMP — one vectorized gather, no per-pixel
    Python. Shared by the BMP and PNG resize paths."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(target_h) * h) // target_h
    xs = (np.arange(target_w) * w) // target_w
    out = px[ys][:, xs]  # nearest-neighbor gather
    out_stride = (target_w * 3 + 3) & ~3
    body = np.zeros((target_h, out_stride), dtype=np.uint8)
    body[:, : target_w * 3] = out[::-1].reshape(target_h, target_w * 3)
    dib_hdr = struct.pack(
        "<IiiHHIIiiII", 40, target_w, target_h, 1, 24, 0,
        out_stride * target_h, 0, 0, 0, 0,
    )
    fsize = 14 + 40 + out_stride * target_h
    return (
        b"BM" + struct.pack("<I", fsize) + b"\x00" * 4 + struct.pack("<I", 54)
        + dib_hdr + body.tobytes()
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("payload", BinaryType(), True),
        StructField("status", StringType(), False),
    ]
)


def resize_images(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Batch image resize over the media table: REAL pixels for
    uncompressed BMP (raw rows) AND 8-bit RGB/RGBA PNG (stdlib zlib
    inflate + scanline unfilter, png_pixels); 'unsupported' rows
    (null payload, header dims when declared) for codec-requiring
    formats — plug a Pillow kernel into the unsupported branch on a
    codec-enabled cluster; the Spark plumbing (Arrow batches, binary
    out, schema) does not change. Output is always a 24-bit BMP.

    Scale: payloads never leave executors; one Arrow pass, output
    bytes proportional to target dims (a 4K->224x224 thumbnail pass
    SHRINKS the data ~340x, so write amplification is negative)."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                blob = _payload_bytes(payload)
                px = image_pixels(blob)
                resized = (
                    _resample_to_bmp(px, target_w, target_h)
                    if px is not None
                    else None
                )
                if resized is not None:
                    rows.append((int(mid), target_w, target_h, resized, "resized"))
                else:
                    dims = header_image_dims(blob)
                    w, h = dims if dims else (None, None)
                    rows.append((int(mid), w, h, None, "unsupported"))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "payload", "status"]
            )

    return media.select("media_id", "payload").mapInPandas(work, RESIZED_SCHEMA)


def mp4_sample_index(payload: bytes) -> list[tuple[int, int, int, int]] | None:
    """Codec-free MP4/MOV frame index from the declared sample tables:
    walks moov > trak > mdia > {mdhd, minf > stbl > {stts, stsz, stsc,
    stco/co64}} (version-0 boxes; first trak with a sample-size table)
    and returns [(sample_idx, t_ms, offset, size), ...] — the byte
    span of each ENCODED sample inside the payload plus its decode
    timestamp. This is the real plumbing a frame-sampling pipeline
    needs before any decoder runs: shipping every k-th encoded frame
    to a downstream GPU decoder without parsing video bitstreams.
    None when the boxes are absent/malformed."""
    try:
        def children(lo: int, hi: int):
            pos = lo
            while pos + 8 <= hi:
                (size,) = struct.unpack_from(">I", payload, pos)
                btype = payload[pos + 4 : pos + 8]
                if size == 1:
                    (size,) = struct.unpack_from(">Q", payload, pos + 8)
                    body = pos + 16
                elif size == 0:
                    size = hi - pos
                    body = pos + 8
                else:
                    body = pos + 8
                if size < 8 or pos + size > hi:
                    return
                yield btype, body, pos + size
                pos += size

        def find(lo: int, hi: int, name: bytes) -> tuple[int, int] | None:
            for btype, body, end in children(lo, hi):
                if btype == name:
                    return body, end
            return None

        moov = find(0, len(payload), b"moov")
        if moov is None:
            return None
        for btype, tbody, tend in children(*moov):
            if btype != b"trak":
                continue
            mdia = find(tbody, tend, b"mdia")
            if mdia is None:
                continue
            mdhd = find(*mdia, b"mdhd")
            minf = find(*mdia, b"minf")
            if mdhd is None or minf is None:
                continue
            stbl_parent = find(*minf, b"stbl")
            if stbl_parent is None:
                continue
            boxes = {b: (lo, hi) for b, lo, hi in children(*stbl_parent)}
            if b"stsz" not in boxes or b"stts" not in boxes:
                continue
            co = boxes.get(b"stco") or boxes.get(b"co64")
            if co is None or b"stsc" not in boxes:
                continue
            version = payload[mdhd[0]]
            timescale = struct.unpack_from(
                ">I", payload, mdhd[0] + (20 if version == 1 else 12)
            )[0]
            if not timescale:
                return None
            # Allocation guard: corrupted count fields (forged 2^32
            # entries) must fail cleanly, not OOM the executor — no
            # genuine table can have more entries than payload bytes.
            cap = len(payload)
            # stsz: uniform size or per-sample table
            slo = boxes[b"stsz"][0]
            uniform, count = struct.unpack_from(">II", payload, slo + 4)
            if count > cap:
                return None
            sizes = (
                [uniform] * count
                if uniform
                else list(struct.unpack_from(f">{count}I", payload, slo + 12))
            )
            # stts: (sample_count, delta) runs -> per-sample timestamps
            tlo = boxes[b"stts"][0]
            (nruns,) = struct.unpack_from(">I", payload, tlo + 4)
            if nruns > cap:
                return None
            deltas: list[int] = []
            for i in range(nruns):
                sc, dt = struct.unpack_from(">II", payload, tlo + 8 + 8 * i)
                if sc > cap:
                    return None
                deltas.extend([dt] * min(sc, count - len(deltas)))
                if len(deltas) >= count:
                    break
            # stco/co64: chunk offsets
            clo = co[0]
            (nchunks,) = struct.unpack_from(">I", payload, clo + 4)
            if nchunks > cap:
                return None
            wide = b"co64" in boxes and boxes.get(b"co64") == co
            fmt, sz = (">Q", 8) if wide else (">I", 4)
            chunk_offs = [
                struct.unpack_from(fmt, payload, clo + 8 + sz * i)[0]
                for i in range(nchunks)
            ]
            # stsc: (first_chunk, samples_per_chunk, _) runs
            sclo = boxes[b"stsc"][0]
            (nsc,) = struct.unpack_from(">I", payload, sclo + 4)
            if nsc > cap:
                return None
            runs = [
                struct.unpack_from(">III", payload, sclo + 8 + 12 * i)[:2]
                for i in range(nsc)
            ]
            # expand chunk -> samples_per_chunk
            spc = []
            for i, (first, per) in enumerate(runs):
                last = runs[i + 1][0] - 1 if i + 1 < len(runs) else nchunks
                spc.extend([per] * (last - first + 1))
            out = []
            si, t = 0, 0
            for ci, coff in enumerate(chunk_offs):
                off = coff
                for _ in range(spc[ci] if ci < len(spc) else 0):
                    if si >= count:
                        break
                    dt = deltas[si] if si < len(deltas) else 0
                    out.append((si, t * 1000 // timescale, off, sizes[si]))
                    off += sizes[si]
                    t += dt
                    si += 1
            return out if out else None
        return None
    except (struct.error, IndexError):
        return None


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("t_ms", LongType(), False),
        StructField("frame_bytes", BinaryType(), True),
        StructField("status", StringType(), False),
    ]
)


def sample_video_frames(
    media: DataFrame, stride: int = 1, max_frames: int | None = None
) -> DataFrame:
    """Every `stride`-th encoded video sample per MP4/MOV payload, as
    (media_id, frame_idx, t_ms, frame_bytes) rows — frame byte spans
    come from the REAL sample tables (mp4_sample_index), sliced out of
    the payload codec-free; a downstream decoder (GPU NVDEC pool,
    PyAV) consumes frame_bytes without container parsing. Payloads
    with no parseable sample table emit one 'unsupported' row so
    upstream joins don't silently drop media.

    Scale: explode factor is n_frames/stride per video; frame rows
    shuffle-partition by media_id naturally, and truncating with
    max_frames bounds the blowup from pathological inputs."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                blob = _payload_bytes(payload)
                idx = mp4_sample_index(blob)
                if not idx:
                    rows.append((int(mid), -1, -1, None, "unsupported"))
                    continue
                picked = idx[::stride]
                if max_frames is not None:
                    picked = picked[:max_frames]
                for si, t_ms, off, size in picked:
                    frame = blob[off : off + size] if off + size <= len(blob) else None
                    rows.append(
                        (int(mid), int(si), int(t_ms), frame,
                         "ok" if frame is not None else "truncated")
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "t_ms", "frame_bytes", "status"],
            )

    return media.select("media_id", "payload").mapInPandas(work, FRAME_SCHEMA)


AUDIO_WINDOW_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("window_idx", IntegerType(), False),
        StructField("t_ms", LongType(), False),
        StructField("pcm", BinaryType(), True),
        StructField("status", StringType(), False),
    ]
)


def sample_audio_windows(
    media: DataFrame, window_ms: int = 1000, stride_ms: int | None = None
) -> DataFrame:
    """Fixed-length PCM windows from WAV payloads — REAL audio frame
    slicing (PCM is codec-free): the fmt chunk's byte rate + block
    align map milliseconds to aligned byte spans of the data chunk.
    Non-WAV payloads emit one 'unsupported' row (plug a torchaudio
    kernel there on a codec-enabled cluster)."""
    stride_ms = stride_ms or window_ms

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                blob = _payload_bytes(payload)
                parsed = _wav_data_span(blob)
                if parsed is None:
                    rows.append((int(mid), -1, -1, None, "unsupported"))
                    continue
                byte_rate, block_align, lo, size = parsed
                hi = min(lo + size, len(blob))
                win_b = max((byte_rate * window_ms // 1000) // block_align, 1) * block_align
                step_b = max((byte_rate * stride_ms // 1000) // block_align, 1) * block_align
                wi, off = 0, lo
                while off < hi:
                    chunk = blob[off : min(off + win_b, hi)]
                    rows.append(
                        (int(mid), wi, (off - lo) * 1000 // byte_rate, chunk, "ok")
                    )
                    wi += 1
                    off += step_b
            yield pd.DataFrame(
                rows, columns=["media_id", "window_idx", "t_ms", "pcm", "status"]
            )

    return media.select("media_id", "payload").mapInPandas(work, AUDIO_WINDOW_SCHEMA)


def _wav_data_span(payload: bytes) -> tuple[int, int, int, int] | None:
    """(byte_rate, block_align, data_offset, data_size) from a RIFF/WAVE
    header, or None."""
    try:
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            return None
        pos, byte_rate, block_align = 12, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            (csize,) = struct.unpack_from("<I", payload, pos + 4)
            if cid == b"fmt " and csize >= 16:
                (byte_rate,) = struct.unpack_from("<I", payload, pos + 8 + 8)
                (block_align,) = struct.unpack_from("<H", payload, pos + 8 + 12)
            elif cid == b"data" and byte_rate and block_align:
                return byte_rate, block_align, pos + 8, csize
            pos += 8 + csize + (csize & 1)
        return None
    except struct.error:
        return None


def fake_decode_meta(modality: str, payload: bytes) -> tuple[int | None, int | None, int | None]:
    """Deterministic stand-in decode: dimensions/duration derived from a
    content hash so tests are stable and the pipeline shape is real."""
    h = struct.unpack(">I", hashlib.sha256(payload).digest()[:4])[0]
    if modality == "image":
        return 64 + h % 1920, 64 + (h >> 8) % 1080, None
    if modality == "audio":
        return None, None, 1000 + h % 600_000
    if modality == "video":
        return 320 + h % 1600, 240 + (h >> 8) % 840, 1000 + (h >> 16) % 3_600_000
    return None, None, None


def fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic unit-norm feature vector from the payload digest —
    the stand-in for a real embedding model."""
    digest = hashlib.sha256(payload).digest()
    vals = [struct.unpack(">h", digest[2 * i : 2 * i + 2])[0] / 32768.0 for i in range(dim)]
    n = sum(v * v for v in vals) ** 0.5 or 1.0
    return [v / n for v in vals]


def extract_media_meta(media: DataFrame, feature_dim: int = 8) -> DataFrame:
    """media rows -> typed metadata + feature vector via one Arrow pass.

    At 100 TB the payloads never leave the executors: mapInPandas sees
    Arrow record batches; repartition upstream by byte_size buckets to
    balance skew from large videos."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, modality, payload in zip(pdf["media_id"], pdf["modality"], pdf["payload"]):
                if payload is None:
                    # a NULL payload row must stay visibly empty — not
                    # fabricate a shared empty-bytes digest/feature that
                    # a downstream dedup would cluster on
                    rows.append(
                        (int(mid), str(modality), None, None, None, None, None, None)
                    )
                    continue
                blob = _payload_bytes(payload)
                w, h, dur = fake_decode_meta(str(modality), blob)
                if str(modality) == "image":
                    # real header dims when the format declares them
                    # (BMP/PNG/GIF/JPEG); the fake stays only for
                    # codec-requiring payloads
                    real = header_image_dims(blob)
                    if real is not None:
                        w, h = real
                elif str(modality) in ("audio", "video"):
                    # real duration for WAV / MP4-MOV declared headers
                    real_d = header_media_duration_ms(blob)
                    if real_d is not None:
                        dur = real_d
                rows.append(
                    (
                        int(mid),
                        str(modality),
                        len(blob),
                        hashlib.sha256(blob).hexdigest(),
                        w,
                        h,
                        dur,
                        fake_feature(blob, feature_dim),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "modality", "byte_size", "sha256",
                    "width", "height", "duration_ms", "feature",
                ],
            )

    return media.mapInPandas(work, MEDIA_META_SCHEMA)


PATCH_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("patch_row", IntegerType(), True),
        StructField("patch_col", IntegerType(), True),
        StructField("mean_b", IntegerType(), True),
        StructField("mean_g", IntegerType(), True),
        StructField("mean_r", IntegerType(), True),
        StructField("status", StringType(), False),
    ]
)


def bmp_patch_means(media: DataFrame, patch: int) -> DataFrame:
    """ViT-style patch grid over real pixels: split each uncompressed
    BMP into (h/patch) x (w/patch) non-overlapping patches and emit
    each patch's integer channel means (floor) — the deterministic
    stand-in for the patch-embedding projection every vision
    transformer pipeline starts with (the downstream learned linear
    layer consumes exactly these patch tensors). Codec formats and
    non-divisible dimensions report status='unsupported' with one row.

    Scale: same contract as resize_images — one Arrow pass, payloads
    never leave executors, output rows = patches per image; the means
    are one vectorized reshape+sum per image (no per-pixel Python)."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = image_pixels(_payload_bytes(payload))
                if px is None or px.shape[0] % patch or px.shape[1] % patch:
                    rows.append((int(mid), None, None, None, None, None, "unsupported"))
                    continue
                h, w = px.shape[0], px.shape[1]
                hp, wp = h // patch, w // patch
                sums = (
                    px.astype("int64")
                    .reshape(hp, patch, wp, patch, 3)
                    .sum(axis=(1, 3))
                )
                means = sums // (patch * patch)
                for py in range(hp):
                    for qx in range(wp):
                        b, g, r = (int(v) for v in means[py, qx])
                        rows.append((int(mid), py, qx, b, g, r, "ok"))
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in PATCH_SCHEMA],
            )

    return media.select("media_id", "payload").mapInPandas(work, PATCH_SCHEMA)


def png_pixels(payload: bytes):
    """REAL PNG decode for 8-bit RGB/RGBA non-interlaced images —
    stdlib zlib inflate + full scanline unfiltering (all five filter
    types: None/Sub/Up/Average/Paeth), no imaging library. Returns a
    top-down (h, w, 3) BGR uint8 array (bmp_pixels' convention, so the
    resize/patch kernels are format-agnostic); None when the payload
    isn't a PNG this understands. This removes PNG from the
    codec-stub's scope the way BMP left it: the format is pure
    structure + DEFLATE, both in the standard library."""
    import zlib

    import numpy as np

    try:
        if payload[:8] != b"\x89PNG\r\n\x1a\x0a":
            return None
        pos, w, h, bpp, idat = 8, None, None, None, []
        while pos + 8 <= len(payload):
            (clen,) = struct.unpack_from(">I", payload, pos)
            ctype = payload[pos + 4 : pos + 8]
            body = payload[pos + 8 : pos + 8 + clen]
            if len(body) < clen:
                return None
            if ctype == b"IHDR":
                w, h, depth, color, _, _, interlace = struct.unpack(
                    ">IIBBBBB", body
                )
                if depth != 8 or color not in (2, 6) or interlace != 0:
                    return None
                bpp = 3 if color == 2 else 4
            elif ctype == b"IDAT":
                idat.append(body)
            elif ctype == b"IEND":
                break
            pos += 12 + clen  # len + type + body + crc
        if not w or not h or bpp is None or not idat:
            return None
        raw = zlib.decompress(b"".join(idat))
        stride = 1 + w * bpp
        if len(raw) < stride * h:
            return None
        rows = np.frombuffer(raw, dtype=np.uint8, count=stride * h).reshape(
            h, stride
        )
        out = np.zeros((h, w * bpp), dtype=np.uint8)
        prev = np.zeros(w * bpp, dtype=np.int32)
        for y in range(h):
            f = int(rows[y, 0])
            cur = rows[y, 1:].astype(np.int32)
            if f == 0:
                rec = cur
            elif f == 2:  # Up
                rec = (cur + prev) & 0xFF
            elif f in (1, 3, 4):  # Sub / Average / Paeth: sequential in x
                rec = np.zeros(w * bpp, dtype=np.int32)
                for i in range(w * bpp):
                    a = rec[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    if f == 1:
                        rec[i] = (cur[i] + a) & 0xFF
                    elif f == 3:
                        rec[i] = (cur[i] + (a + b) // 2) & 0xFF
                    else:
                        c = prev[i - bpp] if i >= bpp else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                        rec[i] = (cur[i] + pred) & 0xFF
            else:
                return None
            out[y] = rec.astype(np.uint8)
            prev = rec
        px = out.reshape(h, w, bpp)[:, :, :3]
        return px[:, :, ::-1].copy()  # RGB -> BGR (bmp_pixels convention)
    except (struct.error, ValueError, zlib.error):
        return None


def image_pixels(payload: bytes):
    """Format-dispatched real pixel decode: BMP (raw rows), PNG
    (inflate + unfilter), GIF (LZW), TIFF (uncompressed strips) or
    baseline grayscale JPEG (Huffman entropy decode + IDCT); None for
    the remaining codec-requiring formats (color/progressive JPEG and
    friends)."""
    px = bmp_pixels(payload)
    if px is not None:
        return px
    px = png_pixels(payload)
    if px is not None:
        return px
    px = gif_pixels(payload)
    if px is not None:
        return px
    px = tiff_pixels(payload)
    if px is not None:
        return px
    return jpeg_pixels(payload)


AUDIO_ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("window_idx", IntegerType(), False),
        StructField("t_ms", LongType(), False),
        StructField("n_samples", IntegerType(), True),
        StructField("energy", LongType(), True),
        StructField("peak", IntegerType(), True),
        StructField("status", StringType(), False),
    ]
)


def audio_window_energy(
    media: DataFrame, window_ms: int = 1000, stride_ms: int | None = None
) -> DataFrame:
    """Per-window PCM ENERGY features — the real signal math on top of
    sample_audio_windows' slicing (the voice-activity / silence-trim
    primitive an audio curation pipeline filters on): for each window,
    integer sum of squared sample amplitudes and the peak amplitude.
    8-bit PCM (block_align 1) decodes as unsigned-biased (s - 128);
    16-bit mono (block_align 2) as signed little-endian. ALL-INTEGER —
    energies are exact on any engine, no floats anywhere.

    Same scale contract as the other media kernels: one Arrow pass,
    payloads stay executor-side, output rows = windows."""
    stride_ms = stride_ms or window_ms

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                blob = _payload_bytes(payload)
                parsed = _wav_data_span(blob)
                if parsed is None:
                    rows.append((int(mid), -1, -1, None, None, None, "unsupported"))
                    continue
                byte_rate, block_align, lo, size = parsed
                if block_align not in (1, 2):
                    rows.append((int(mid), -1, -1, None, None, None, "unsupported"))
                    continue
                hi = min(lo + size, len(blob))
                win_b = max((byte_rate * window_ms // 1000) // block_align, 1) * block_align
                step_b = max((byte_rate * stride_ms // 1000) // block_align, 1) * block_align
                wi, off = 0, lo
                while off < hi:
                    chunk = blob[off : min(off + win_b, hi)]
                    if block_align == 1:
                        s = np.frombuffer(chunk, dtype=np.uint8).astype(np.int64) - 128
                    else:
                        usable = len(chunk) - (len(chunk) % 2)
                        s = np.frombuffer(chunk[:usable], dtype="<i2").astype(np.int64)
                    energy = int((s * s).sum())
                    peak = int(np.abs(s).max()) if s.size else 0
                    rows.append(
                        (
                            int(mid),
                            wi,
                            (off - lo) * 1000 // byte_rate,
                            int(s.size),
                            energy,
                            peak,
                            "ok",
                        )
                    )
                    wi += 1
                    off += step_b
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in AUDIO_ENERGY_SCHEMA],
            )

    return media.select("media_id", "payload").mapInPandas(work, AUDIO_ENERGY_SCHEMA)


def gif_pixels(payload: bytes):
    """REAL GIF decode — full LZW (variable code width, clear/EOI,
    dictionary growth) over the sub-block stream, global/local color
    tables, non-interlaced frames; the third lossless format decoded
    from pure structure + a public algorithm (BMP raw rows, PNG
    DEFLATE, GIF LZW). Returns the FIRST frame as a top-down
    (h, w, 3) BGR uint8 array; None for payloads this doesn't
    understand (interlaced frames included — report, don't guess)."""
    import numpy as np

    try:
        if payload[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
        pos = 13
        gct = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            gct = payload[pos : pos + 3 * n]
            pos += 3 * n
        while pos < len(payload):
            b0 = payload[pos]
            if b0 == 0x3B:  # trailer
                return None
            if b0 == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(payload) and payload[pos] != 0:
                    pos += 1 + payload[pos]
                pos += 1
                continue
            if b0 != 0x2C:
                return None
            _x, _y, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            ct = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                ct = payload[pos : pos + 3 * n]
                pos += 3 * n
            if iflags & 0x40 or ct is None or w == 0 or h == 0:
                return None  # interlaced unsupported; no color table
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            # LZW decode (LSB-first bit stream)
            clear, eoi = 1 << min_code, (1 << min_code) + 1
            code_size = min_code + 1
            dict_init = {i: (i,) for i in range(clear)}
            table = dict(dict_init)
            nxt = eoi + 1
            out: list[int] = []
            acc = nbits = 0
            prev = None
            done = False  # EOI must end the WHOLE stream, not just
            for byte in data:  # the current byte's bit loop — padding
                if done:  # bytes after EOI are not codes.
                    break
                acc |= byte << nbits
                nbits += 8
                while nbits >= code_size:
                    code = acc & ((1 << code_size) - 1)
                    acc >>= code_size
                    nbits -= code_size
                    if code == clear:
                        table = dict(dict_init)
                        nxt = eoi + 1
                        code_size = min_code + 1
                        prev = None
                        continue
                    if code == eoi:
                        done = True
                        break
                    if prev is None:
                        if code not in table:
                            return None
                        out.extend(table[code])
                        prev = code
                        continue
                    if code in table:
                        entry = table[code]
                    elif code == nxt:
                        entry = table[prev] + (table[prev][0],)
                    else:
                        return None
                    out.extend(entry)
                    table[nxt] = table[prev] + (entry[0],)
                    nxt += 1
                    if nxt == (1 << code_size) and code_size < 12:
                        code_size += 1
                    prev = code
            if len(out) < w * h:
                return None
            idx = np.array(out[: w * h], dtype=np.int32).reshape(h, w)
            pal = np.frombuffer(ct, dtype=np.uint8).reshape(-1, 3)
            if idx.max() >= pal.shape[0]:
                return None
            px = pal[idx]  # RGB
            return px[:, :, ::-1].copy()  # -> BGR
    except (struct.error, ValueError, IndexError):
        return None
    return None


def tiff_pixels(payload: bytes):
    """REAL TIFF decode for uncompressed 8-bit RGB/grayscale strips —
    the fourth raster format decoded from pure structure (BMP raw
    rows, PNG DEFLATE, GIF LZW, TIFF strips). Walks the IFD (both
    byte orders), requires Compression=1, concatenates strips, and
    returns a top-down (h, w, 3) BGR uint8 array; None otherwise."""
    import numpy as np

    try:
        if payload[:4] == b"II*\x00":
            e = "<"
        elif payload[:4] == b"MM\x00*":
            e = ">"
        else:
            return None
        (ifd_off,) = struct.unpack_from(e + "I", payload, 4)
        (n_tags,) = struct.unpack_from(e + "H", payload, ifd_off)
        tags: dict[int, list[int]] = {}
        for t in range(n_tags):
            base = ifd_off + 2 + 12 * t
            tag, typ, cnt = struct.unpack_from(e + "HHI", payload, base)
            size = {1: 1, 3: 2, 4: 4}.get(typ)
            if size is None:
                continue
            total = size * cnt
            off = base + 8 if total <= 4 else struct.unpack_from(e + "I", payload, base + 8)[0]
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            tags[tag] = list(
                struct.unpack_from(e + fmt * cnt, payload, off)
            )
        w = tags.get(256, [0])[0]
        h = tags.get(257, [0])[0]
        comp = tags.get(259, [1])[0]
        spp = tags.get(277, [1])[0]
        bits = tags.get(258, [8])
        offs = tags.get(273)
        cnts = tags.get(279)
        if not w or not h or comp != 1 or offs is None or cnts is None:
            return None
        if spp not in (1, 3) or any(b != 8 for b in bits[:spp]):
            return None
        data = b"".join(payload[o : o + c] for o, c in zip(offs, cnts))
        need = w * h * spp
        if len(data) < need:
            return None
        px = np.frombuffer(data, dtype=np.uint8, count=need).reshape(h, w, spp)
        if spp == 1:
            px = np.repeat(px, 3, axis=2)
        return px[:, :, ::-1].copy()  # RGB -> BGR
    except (struct.error, ValueError, IndexError):
        return None


# --- baseline JPEG (ITU-T T.81): real entropy decode, no imaging lib --------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.3 typical luminance tables (public spec constants)
_STD_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_STD_DC_LUMA_VALS = list(range(12))
_STD_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_STD_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _huff_canonical(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol per the T.81 canonical assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (length, code): the encoder-side view of the same
    canonical assignment."""
    return {sym: (ln, code) for (ln, code), sym in _huff_canonical(bits, vals).items()}


def _idct_matrix():
    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / np.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return a


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; raises ValueError at a marker or end of data."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("marker in entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map a t-bit magnitude to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def jpeg_pixels(payload: bytes):
    """REAL baseline JPEG decode (ITU-T T.81, no imaging library):
    marker walk (DQT/SOF0/DHT/SOS), canonical Huffman entropy decode
    with 0xFF00 unstuffing, DC prediction + EXTEND, AC run-length
    (EOB/ZRL), dequantize + dezigzag, float 8x8 IDCT, +128 level
    shift. Scope: 8-bit SINGLE-COMPONENT (grayscale) sequential
    frames without subsampling or restart markers — the general
    DC+AC decode path; color/progressive/DRI return None and remain
    in the documented codec-stub boundary. Returns (h, w, 3) BGR
    (gray replicated), top-down — the image_pixels convention."""
    import numpy as np

    try:
        if payload[:2] != b"\xff\xd8":
            return None
        qt: dict[int, list[int]] = {}
        huff_dc: dict[int, dict] = {}
        huff_ac: dict[int, dict] = {}
        w = h = 0
        comp_q = comp_dc = comp_ac = 0
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            # T.81 B.1.1.2: any number of 0xFF fill bytes may precede
            # a marker code — skip them rather than misreading 0xFF
            # as the marker byte
            while payload[pos + 1] == 0xFF:
                pos += 1
                if pos + 4 > len(payload):
                    return None
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI before SOS
                return None
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                # TEM / RSTn: standalone markers carry no length segment
                pos += 2
                continue
            (seg_len,) = struct.unpack_from(">H", payload, pos + 2)
            body = payload[pos + 4 : pos + 2 + seg_len]
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 15
                    if pq != 0:
                        return None  # 16-bit tables: not baseline-8
                    qt[tq] = list(body[i + 1 : i + 65])
                    i += 65
            elif marker == 0xC0:  # SOF0 baseline
                prec = body[0]
                h, w = struct.unpack_from(">HH", body, 1)
                ncomp = body[5]
                if prec != 8 or ncomp != 1 or body[7] != 0x11:
                    return None  # color / subsampled: codec stub
                comp_q = body[8]
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # progressive / arithmetic / lossless
            elif marker == 0xC4:  # DHT
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 15
                    bits = list(body[i + 1 : i + 17])
                    nv = sum(bits)
                    vals = list(body[i + 17 : i + 17 + nv])
                    (huff_dc if tc == 0 else huff_ac)[th] = _huff_canonical(
                        bits, vals
                    )
                    i += 17 + nv
            elif marker == 0xDD:  # DRI: restart intervals unsupported
                return None
            elif marker == 0xDA:  # SOS
                if body[0] != 1:
                    return None
                comp_dc, comp_ac = body[2] >> 4, body[2] & 15
                pos = pos + 2 + seg_len
                break
            pos = pos + 2 + seg_len
        else:
            return None
        if not w or not h or comp_q not in qt:
            return None
        dc_tab = huff_dc.get(comp_dc)
        ac_tab = huff_ac.get(comp_ac)
        if dc_tab is None or ac_tab is None:
            return None
        q = np.array(qt[comp_q], dtype=np.float64)
        bx, by = (w + 7) // 8, (h + 7) // 8
        out = np.zeros((by * 8, bx * 8), dtype=np.float64)
        rd = _BitReader(payload, pos)
        A = _idct_matrix()
        pred = 0
        for blk in range(by * bx):
            coefs = np.zeros(64, dtype=np.float64)
            t = rd.huff(dc_tab)
            pred += _extend(rd.bits(t), t)
            coefs[0] = pred
            k = 1
            while k < 64:
                rs = rd.huff(ac_tab)
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                if k > 63:
                    return None
                coefs[k] = _extend(rd.bits(rs & 15), rs & 15)
                k += 1
            S = np.zeros(64, dtype=np.float64)
            S[_ZIGZAG] = coefs * q
            S = S.reshape(8, 8)
            s = A.T @ S @ A
            y0, x0 = (blk // bx) * 8, (blk % bx) * 8
            out[y0 : y0 + 8, x0 : x0 + 8] = s
        gray = np.clip(np.round(out[:h, :w] + 128.0), 0, 255).astype(np.uint8)
        return np.repeat(gray[:, :, None], 3, axis=2)  # gray -> BGR
    except (struct.error, ValueError, IndexError):
        return None


def encode_jpeg_gray(pixels, quant: int = 1) -> bytes:
    """Minimal REAL baseline JPEG encoder for 8-bit grayscale: forward
    float DCT per 8x8 block (edge-replicated padding), flat
    quantization table (`quant` in every cell), Annex K luminance
    Huffman tables, DC prediction + AC run-length, 0xFF byte
    stuffing. Flat blocks produce DC-only streams whose decode is
    EXACT (the IDCT of a lone DC coefficient is a constant block), so
    a flat-block image round-trips bit-for-bit — the property q167's
    oracle predicts closed-form. General images round-trip within
    coefficient-rounding error (pytest-bounded)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.float64)
    h, w = px.shape
    bx, by = (w + 7) // 8, (h + 7) // 8
    padded = np.empty((by * 8, bx * 8), dtype=np.float64)
    padded[:h, :w] = px
    padded[h:, :w] = px[h - 1 :, :]  # replicate bottom edge
    padded[:, w:] = padded[:, w - 1 : w]  # replicate right edge
    A = _idct_matrix()
    dc_codes = _huff_codes(_STD_DC_LUMA_BITS, _STD_DC_LUMA_VALS)
    ac_codes = _huff_codes(_STD_AC_LUMA_BITS, _STD_AC_LUMA_VALS)

    out_bits: list[tuple[int, int]] = []  # (length, code)

    def emit(length: int, code: int) -> None:
        out_bits.append((length, code))

    # DC/AC amplitude emission is inlined below: the category Huffman
    # code must be emitted BEFORE the amplitude bits, so a combined
    # helper would have to return-then-emit in two phases — not worth it
    pred = 0
    for blk in range(by * bx):
        y0, x0 = (blk // bx) * 8, (blk % bx) * 8
        block = padded[y0 : y0 + 8, x0 : x0 + 8] - 128.0
        S = A @ block @ A.T  # forward DCT (A orthonormal)
        zz = S.reshape(-1)[_ZIGZAG]
        coefs = np.round(zz / float(quant)).astype(np.int64)
        diff = int(coefs[0]) - pred
        pred = int(coefs[0])
        t = abs(diff).bit_length()
        ln, code = dc_codes[t]
        emit(ln, code)
        if t:
            emit(t, diff if diff >= 0 else diff + (1 << t) - 1)
        run = 0
        last_nz = max((k for k in range(1, 64) if coefs[k]), default=0)
        for k in range(1, last_nz + 1):
            v = int(coefs[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_codes[0xF0]
                emit(ln, code)
                run -= 16
            t = abs(v).bit_length()
            ln, code = ac_codes[(run << 4) | t]
            emit(ln, code)
            emit(t, v if v >= 0 else v + (1 << t) - 1)
            run = 0
        if last_nz < 63:
            ln, code = ac_codes[0x00]  # EOB
            emit(ln, code)
    # bit-pack MSB-first, 1-pad the tail, 0xFF-stuff
    acc = n = 0
    data = bytearray()
    for ln, code in out_bits:
        acc = (acc << ln) | (code & ((1 << ln) - 1))
        n += ln
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            data.append(b)
            if b == 0xFF:
                data.append(0x00)
    if n:
        b = ((acc << (8 - n)) | ((1 << (8 - n)) - 1)) & 0xFF
        data.append(b)
        if b == 0xFF:
            data.append(0x00)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = seg(0xDB, bytes([0x00]) + bytes([quant] * 64))
    sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]))
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(_STD_DC_LUMA_BITS) + bytes(_STD_DC_LUMA_VALS)
        + bytes([0x10]) + bytes(_STD_AC_LUMA_BITS) + bytes(_STD_AC_LUMA_VALS),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return (
        b"\xff\xd8" + dqt + sof + dht + sos + bytes(data) + b"\xff\xd9"
    )


GRID_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("grid_hex", StringType(), True),
        StructField("status", StringType(), False),
    ]
)


def decode_grid_hex(media: DataFrame) -> DataFrame:
    """Decode every payload with the format-dispatched image_pixels
    and emit the full pixel grid as row-major BGR hex — the
    cross-format consistency probe: the same logical image through
    different containers must produce byte-identical grids."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                px = image_pixels(_payload_bytes(payload))
                if px is None:
                    rows.append((int(mid), None, None, None, "unsupported"))
                else:
                    rows.append(
                        (
                            int(mid),
                            int(px.shape[1]),
                            int(px.shape[0]),
                            px.tobytes().hex(),
                            "ok",
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in GRID_SCHEMA])

    return media.select("media_id", "payload").mapInPandas(work, GRID_SCHEMA)


# ---------------------------------------------------------------------------
# MP3 frame walk + Ogg/Vorbis header metadata (round 6): the last two
# audio containers whose STRUCTURE is codec-free. Entropy decode of
# THESE payloads (MDCT/Huffman for MP3, Vorbis residue coding) is the
# only thing that still needs a codec library — their spec-appendix
# data tables (ISO 11172-3 Huffman tables, Vorbis setup conventions)
# cannot be reproduced verifiably in this container, so only their
# structure is decoded, nothing else. Audio
# entropy decode ITSELF is real where the spec carries no external
# tables: llm/flac.py decodes FLAC's Rice/Golomb layer completely
# (fixed+LPC predictors, partitions, escapes, stereo decorrelation),
# validated by lossless round-trip against its own encoder.

MP3_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("byte_off", LongType(), True),
        StructField("byte_size", IntegerType(), True),
        StructField("bitrate_kbps", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("t_ms", LongType(), True),
        StructField("status", StringType(), False),
    ]
)

# MPEG audio header tables (ISO/IEC 11172-3 / 13818-3). Index layout
# matches the header bit fields; Layer III only — the LLM-corpus MP3
# regime (the carver at carvers/media.py:145 walks the same frames for
# boundary detection; this operator surfaces the per-frame metadata).
_MP3_BITRATES_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
_MP3_BITRATES_V2_L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def mp3_frame_header(header: bytes) -> tuple[int, int, int, int] | None:
    """(frame_size, bitrate_kbps, sample_rate, samples_per_frame) from a
    4-byte MPEG Layer III frame header, or None when the sync/word is
    not a valid L3 header. Samples per frame: 1152 for MPEG1, 576 for
    MPEG2/2.5 (halved granule)."""
    if len(header) < 4 or header[0] != 0xFF or (header[1] & 0xE0) != 0xE0:
        return None
    version = (header[1] >> 3) & 0x03  # 3=MPEG1 2=MPEG2 0=MPEG2.5
    layer = (header[1] >> 1) & 0x03  # 1 = Layer III
    bitrate_idx = (header[2] >> 4) & 0x0F
    rate_idx = (header[2] >> 2) & 0x03
    padding = (header[2] >> 1) & 0x01
    if version == 1 or layer != 1 or bitrate_idx in (0, 15) or rate_idx == 3:
        return None
    sample_rate = _MP3_RATES[version][rate_idx]
    bitrate = (_MP3_BITRATES_V1_L3 if version == 3 else _MP3_BITRATES_V2_L3)[bitrate_idx]
    if bitrate == 0:
        return None
    slot = 144 if version == 3 else 72
    size = slot * bitrate * 1000 // sample_rate + padding
    samples = 1152 if version == 3 else 576
    return size, bitrate, sample_rate, samples


def mp3_frame_spans(media: DataFrame, max_frames: int = 100_000) -> DataFrame:
    """Per-frame spans from MP3 payloads: skip an optional ID3v2 tag
    (v2.4 footer honored), then walk Layer III frame headers emitting
    (byte_off, byte_size, bitrate_kbps, sample_rate, t_ms) per frame —
    t_ms is the cumulative sample-accurate timeline (per-rate sample
    sums, see `_mp3_walk`), so VBR and even mixed-sample-rate streams
    get correct timestamps without any decode. Payloads
    with no valid first frame emit one 'unsupported' row; a walk that
    dies mid-stream keeps its frames and flags the last row's status as
    'truncated' is NOT done — instead the frames simply stop (the
    carver's boundary semantics, carvers/media.py:167).

    Scale: one Arrow pass, payloads never leave executors; frame rows
    are tiny (8 scalar columns) so even hour-long streams stay bounded
    (~1.4M samples/s / 1152 ≈ 38 rows/s of audio)."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _, frames, _ = _mp3_walk(_payload_bytes(payload), max_frames)
                for fi, (pos, size, kbps, rate, t_ms) in enumerate(frames):
                    rows.append((int(mid), fi, pos, size, kbps, rate, t_ms, "ok"))
                if not frames:
                    rows.append((int(mid), -1, None, None, None, None, None, "unsupported"))
            yield pd.DataFrame(rows, columns=[f.name for f in MP3_FRAME_SCHEMA])

    return media.select("media_id", "payload").mapInPandas(work, MP3_FRAME_SCHEMA)


def _mp3_walk(
    payload: bytes, max_frames: int = 100_000
) -> tuple[bool, list[tuple[int, int, int, int, int]], dict[int, int]]:
    """The one shared MP3 stream walk (mp3_frame_spans and
    _mp3_duration_ms both ride it, so they can never disagree on what
    parses as an MP3): optional ID3v2 skip — honoring the v2.4 footer
    flag (0x10: a 10-byte footer after the body that the syncsafe size
    excludes) — then Layer III frames until broken sync, a truncated
    declared frame, or max_frames. Returns (started_with_id3,
    [(byte_off, byte_size, bitrate_kbps, sample_rate, t_ms)],
    samples_by_rate). Timestamps accumulate PER SAMPLE RATE
    (sum of samples_r*1000//rate_r), so mixed-rate concatenations get
    correct timelines, and constant-rate streams reduce to the exact
    samples_cum*1000//rate closed form."""
    pos, id3 = 0, False
    if payload[:3] == b"ID3" and len(payload) >= 10:
        tag = (
            ((payload[6] & 0x7F) << 21)
            | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7)
            | (payload[9] & 0x7F)
        )
        pos = 10 + tag + (10 if payload[5] & 0x10 else 0)
        id3 = True
    frames: list[tuple[int, int, int, int, int]] = []
    samples_by_rate: dict[int, int] = {}
    while len(frames) < max_frames and pos + 4 <= len(payload):
        h = mp3_frame_header(payload[pos : pos + 4])
        if h is None:
            break
        size, kbps, rate, samples = h
        if pos + size > len(payload):
            break  # declared frame runs past payload: stop at boundary
        t_ms = sum(s * 1000 // r for r, s in samples_by_rate.items())
        frames.append((pos, size, kbps, rate, t_ms))
        samples_by_rate[rate] = samples_by_rate.get(rate, 0) + samples
        pos += size
    return id3, frames, samples_by_rate


VORBIS_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("bitrate_nominal", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_pages", IntegerType(), True),
        StructField("status", StringType(), False),
    ]
)


def vorbis_stream_meta(payload: bytes) -> tuple[int, int, int, int, int] | None:
    """(channels, sample_rate, bitrate_nominal, duration_ms, n_pages)
    from an Ogg Vorbis stream — fully codec-free: the identification
    header (packet '\\x01vorbis') sits in the BOS page's first packet,
    and total duration is the LAST page's granule position (absolute
    PCM sample count, per the Ogg spec) over the id header's sample
    rate. Page CRCs are not verified (the carver's convention,
    carvers/media.py::carve_ogg — structure walk, not integrity check).
    Returns None when the payload is not an Ogg-Vorbis BOS stream."""
    try:
        if payload[:4] != b"OggS" or len(payload) < 58 or not payload[5] & 0x02:
            return None
        nseg = payload[26]
        body0 = 27 + nseg
        first_len = sum(payload[27 : 27 + nseg])
        pkt = payload[body0 : body0 + first_len]
        if len(pkt) < 30 or pkt[:7] != b"\x01vorbis":
            return None
        (channels,) = struct.unpack_from("<B", pkt, 11)
        (sample_rate,) = struct.unpack_from("<I", pkt, 12)
        (bitrate_nominal,) = struct.unpack_from("<i", pkt, 20)
        if channels == 0 or sample_rate == 0:
            return None
        # walk pages to the last one (EOS-flagged or end of payload)
        pos, granule, pages = 0, 0, 0
        while pos + 27 <= len(payload) and payload[pos : pos + 4] == b"OggS":
            (gp,) = struct.unpack_from("<q", payload, pos + 6)
            nseg = payload[pos + 26]
            lacing = payload[pos + 27 : pos + 27 + nseg]
            if len(lacing) < nseg:
                break
            body = sum(lacing)
            end = pos + 27 + nseg + body
            if end > len(payload):
                break  # truncated final page: keep previous granule
            if gp >= 0:  # -1 marks a page with no completed packet
                granule = gp
            pages += 1
            if payload[pos + 5] & 0x04:  # EOS
                break
            pos = end
        duration_ms = granule * 1000 // sample_rate
        return channels, sample_rate, bitrate_nominal, duration_ms, pages
    except (struct.error, IndexError):
        return None


def vorbis_meta(media: DataFrame) -> DataFrame:
    """Typed Ogg-Vorbis metadata rows via one Arrow pass (schema
    VORBIS_META_SCHEMA); non-Vorbis payloads emit 'unsupported'."""

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                meta = vorbis_stream_meta(_payload_bytes(payload))
                if meta is None:
                    rows.append((int(mid), None, None, None, None, None, "unsupported"))
                else:
                    rows.append((int(mid), *meta, "ok"))
            yield pd.DataFrame(rows, columns=[f.name for f in VORBIS_META_SCHEMA])

    return media.select("media_id", "payload").mapInPandas(work, VORBIS_META_SCHEMA)


def _mp3_duration_ms(payload: bytes) -> int | None:
    """Sample-accurate MP3 duration via the shared `_mp3_walk`, or None
    when the payload is not an MP3. Gate mirrors the carver
    (carvers/media.py:167): an ID3v2 start validates with >=1 frame; a
    bare frame-sync start needs >=3 consecutive valid frames so
    arbitrary 0xFF-leading bytes never parse as audio. Mixed-rate
    streams sum per-rate sample counts."""
    id3, frames, samples_by_rate = _mp3_walk(payload)
    if len(frames) < (1 if id3 else 3):
        return None
    return sum(s * 1000 // r for r, s in samples_by_rate.items())
