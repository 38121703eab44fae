"""Scan-time mp3 bare-sync gate (round 13): the carver's 3-consecutive-
valid-frames rule (carve_mp3, reference src/carve/mp3.rs:189-330),
hoisted into the one-pass evidence scan (ScanGates.java). Contract:

- evidence-path hits DROP exactly the bare-sync hits the carver would
  reject (invalid header chain, TAG marker, EOF inside the walk);
- ID3v2-headed hits are never gated;
- carved rows are byte-identical with the gate on (evidence-path hits)
  and off (manually supplied ungated hits) — the gate only removes
  hits that carve to None;
- the ungated chunk-table scan of a host without the JVM kernel
  carves the same rows; raw and E01 evidence gate hit-for-hit alike.
"""

from __future__ import annotations

import dataclasses
import random

import pytest

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.fused_scan import scan_all_from_evidence

from tests.fixtures import assert_gates_sound

MP3_CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    file_types=tuple(ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "mp3"),
    chunk_size=64 * 1024,
    overlap=4096,
)

FRAME = b"\xff\xfb\x90\x00" + b"\x01" * (417 - 4)  # V1 L3 128k 44100 -> 417 B


def _evidence() -> tuple[bytes, set[int], set[int]]:
    """(buffer, expected kept offsets, planted-but-droppable offsets)."""
    buf = bytearray(200_000)
    kept: set[int] = set()
    dropped: set[int] = set()

    # real stream, 5 frames: the first 3 frame starts each see >= 3
    # consecutive valid headers; the last two do not (zeros follow)
    base = 1_000
    buf[base : base + 5 * 417] = FRAME * 5
    kept |= {base, base + 417, base + 2 * 417}
    dropped |= {base + 3 * 417, base + 4 * 417}

    # bare sync, second header garbage
    buf[50_000 : 50_000 + 417] = FRAME
    buf[50_000 + 417 : 50_000 + 421] = b"\x00\x00\x00\x00"
    dropped.add(50_000)

    # sync bytes with an invalid first header (bitrate index 15)
    buf[60_000 : 60_000 + 4] = b"\xff\xfb\xff\xff"
    dropped.add(60_000)

    # one valid frame then an ID3v1 TAG: stream over before 3 frames
    buf[70_000 : 70_000 + 417] = FRAME
    buf[70_000 + 417 : 70_000 + 420] = b"TAG"
    dropped.add(70_000)

    # ID3v2 header: never gated (the carver validates by the tag)
    id3 = b"ID3\x03\x00\x00\x00\x00\x00\x0a"
    buf[80_000 : 80_000 + len(id3)] = id3
    kept.add(80_000)

    # valid first frame, second header read cut short by evidence EOF
    tail = len(buf) - 420
    buf[tail : tail + 417] = FRAME
    dropped.add(tail)

    return bytes(buf), kept, dropped


def _scan_offsets(spark, path: str) -> dict[str, set[int]]:
    rows = scan_all_from_evidence(spark, path, MP3_CFG)["hits"].collect()
    out: dict[str, set[int]] = {}
    for r in rows:
        out.setdefault(r.pattern_id, set()).add(r.global_offset)
    return out


def test_gate_drops_false_syncs_keeps_real(spark, tmp_path):
    buf, kept, dropped = _evidence()
    path = str(tmp_path / "mp3.raw")
    with open(path, "wb") as fh:
        fh.write(buf)
    by_pat = _scan_offsets(spark, path)
    got = set().union(*by_pat.values())
    assert kept <= got
    assert not (dropped & got), sorted(dropped & got)
    assert 80_000 in by_pat.get("mp3_id3v2", set())


def test_gate_python_fallback_identical(spark, tmp_path):
    """The JRE-only path scans without gates; its carves must equal the
    gated scan's."""
    buf, _, _ = _evidence()
    path = str(tmp_path / "mp3.raw")
    with open(path, "wb") as fh:
        fh.write(buf)
    assert_gates_sound(spark, path, MP3_CFG)


def test_gate_fuzzed_jvm_equals_python(spark, tmp_path):
    """Random bytes are dense in FF Ex false syncs with arbitrary
    header fields — fuzzes the frame-size table parity between
    ScanGates.java and carvers/media._mp3_frame_size: every hit the
    gate drops must carve to nothing in the Python carver."""
    rng = random.Random(13)
    buf = bytearray(rng.randbytes(256 * 1024))
    # a couple of real streams so the keep side is exercised too
    for base in (10_000, 150_001):
        buf[base : base + 4 * 417] = FRAME * 4
    path = str(tmp_path / "fuzz.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(buf))
    assert any(_scan_offsets(spark, path).values())
    assert_gates_sound(spark, path, MP3_CFG)


def test_gate_e01_equals_raw(spark, tmp_path):
    """EwfImage.readAt backs the gate's lookahead on E01 — hits must
    match the raw image byte for byte (also exercises the r13 static
    (image, chunk) LRU)."""
    from swiftbeaver_spark.ewf import write_ewf

    buf, kept, dropped = _evidence()
    raw = str(tmp_path / "mp3.raw")
    with open(raw, "wb") as fh:
        fh.write(buf)
    e01 = str(tmp_path / "mp3.E01")
    write_ewf(e01, buf)
    assert _scan_offsets(spark, e01) == _scan_offsets(spark, raw)


def test_carved_rows_identical_gate_on_off(spark, tmp_path):
    """The gate must only remove hits that carve to None: carving the
    gated evidence-path hits equals carving the full ungated hit set."""
    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.scanner import compile_patterns, find_all

    buf, _, _ = _evidence()
    path = str(tmp_path / "mp3.raw")
    with open(path, "wb") as fh:
        fh.write(buf)

    # ungated reference hit set: every raw pattern occurrence
    rows = []
    for pat, pid, ftid in compile_patterns(MP3_CFG):
        for off in find_all(buf, pat):
            rows.append((off, ftid, pid))
    ungated = spark.createDataFrame(
        rows, "global_offset long, file_type_id string, pattern_id string"
    )
    gated = scan_all_from_evidence(spark, path, MP3_CFG)["hits"]
    assert gated.count() < len(rows)  # the gate actually dropped some

    sel = ["global_start", "global_end", "size", "sha256", "file_type", "errors"]
    got = sorted(
        map(tuple, carve_hits_with_evidence(gated, path, MP3_CFG).select(*sel).collect())
    )
    want = sorted(
        map(tuple, carve_hits_with_evidence(ungated, path, MP3_CFG).select(*sel).collect())
    )
    assert got == want != []
