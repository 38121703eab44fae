"""Pure-Python carver unit tests over synthetic fixtures (no Spark).

Mirrors the reference's per-carver golden tests: offset, size, sha256
must match the embedded sample (tests/common/mod.rs verify_carved_files).
"""

from __future__ import annotations

import dataclasses
import hashlib

import pytest

from swiftbeaver_spark.carvers import build_registry, carve_hit
from swiftbeaver_spark.config import DEFAULT_CONFIG

from tests.fixtures import (
    ALL_FIXTURES,
    BytesReader,
    mk_epub,
    mk_gzip,
    mk_jpeg,
    mk_mov,
    mk_sqlite,
    mk_zip,
)

TEST_CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    file_types=tuple(
        dataclasses.replace(ft, min_size=5) for ft in DEFAULT_CONFIG.file_types
    ),
)
REGISTRY = build_registry(TEST_CFG)
PAD = 128


@pytest.mark.parametrize("name", sorted(ALL_FIXTURES))
def test_carve_exact(name):
    blob, ftid, patid, hit_rel = ALL_FIXTURES[name]
    evidence = b"\x00" * PAD + blob + b"\xcc" * 256
    rec = carve_hit(BytesReader(evidence), PAD + hit_rel, ftid, patid, REGISTRY, TEST_CFG)
    assert rec is not None, f"{name}: no carve"
    assert rec.global_start == PAD
    assert rec.size == len(blob), f"{name}: size {rec.size} != {len(blob)}"
    assert rec.sha256 == hashlib.sha256(blob).hexdigest()
    assert rec.md5 == hashlib.md5(blob).hexdigest()
    assert rec.global_end == PAD + len(blob) - 1
    assert rec.validated or name == "mp4"  # mp4 fixture absorbs garbage check


def test_zip_classification_docx():
    blob = mk_zip("docx")
    rec = carve_hit(
        BytesReader(b"\x00" * 64 + blob), 64, "zip", "zip_header", REGISTRY, TEST_CFG
    )
    assert rec.file_type == "docx"
    assert rec.extension == "docx"


def test_zip_classification_epub():
    blob = mk_epub()
    rec = carve_hit(
        BytesReader(b"\x00" * 64 + blob), 64, "zip", "zip_header", REGISTRY, TEST_CFG
    )
    assert rec.file_type == "epub"


def test_zip_allowed_kinds_filter():
    cfg = dataclasses.replace(TEST_CFG, zip_allowed_kinds=("docx",))
    registry = build_registry(cfg)
    plain = mk_zip("zip")
    rec = carve_hit(BytesReader(plain), 0, "zip", "zip_header", registry, cfg)
    assert rec is None  # plain zip excluded
    docx = mk_zip("docx")
    rec = carve_hit(BytesReader(docx), 0, "zip", "zip_header", registry, cfg)
    assert rec is not None and rec.file_type == "docx"


def test_mov_requires_qt_brand():
    mov = mk_mov()
    rec = carve_hit(BytesReader(mov), 0, "mov", "mov_ftyp_qt", REGISTRY, TEST_CFG)
    assert rec is not None and rec.validated
    # mp4 handler rejects qt brand in default quicktime_mode=mov
    rec = carve_hit(BytesReader(mov), 0, "mp4", "mp4_ftyp_14", REGISTRY, TEST_CFG)
    assert rec is None


def test_quicktime_mode_mp4_accepts_qt():
    cfg = dataclasses.replace(TEST_CFG, quicktime_mode="mp4")
    registry = build_registry(cfg)
    rec = carve_hit(BytesReader(mk_mov()), 0, "mp4", "mp4_ftyp_14", registry, cfg)
    assert rec is not None


def test_gzip_ends_at_next_magic():
    g1, g2 = mk_gzip(40), mk_gzip(24)
    evidence = g1 + g2
    rec = carve_hit(BytesReader(evidence), 0, "gzip", "gzip_header", REGISTRY, TEST_CFG)
    assert rec.size == len(g1)
    rec2 = carve_hit(BytesReader(evidence), len(g1), "gzip", "gzip_header", REGISTRY, TEST_CFG)
    assert rec2.size == len(g2)


def test_jpeg_truncated_at_eof():
    blob = mk_jpeg()[:-2]  # drop EOI
    rec = carve_hit(BytesReader(b"\x00" * 16 + blob), 16, "jpeg", "jpeg_soi", REGISTRY, TEST_CFG)
    assert rec is not None
    assert rec.truncated and not rec.validated
    assert rec.size == len(blob)


def test_min_size_rejection():
    default_registry = build_registry(DEFAULT_CONFIG)
    rec = carve_hit(
        BytesReader(mk_jpeg(10)), 0, "jpeg", "jpeg_soi", default_registry, DEFAULT_CONFIG
    )  # default jpeg min_size=500
    assert rec is None


def test_sqlite_invalid_page_size_rejected():
    blob = bytearray(mk_sqlite())
    blob[16:18] = (777).to_bytes(2, "big")  # not a power of two
    rec = carve_hit(BytesReader(bytes(blob)), 0, "sqlite", "sqlite_header", REGISTRY, TEST_CFG)
    assert rec is None


def test_output_paths_deterministic():
    blob = mk_jpeg()
    rec = carve_hit(
        BytesReader(b"\x00" * 4096 + blob), 4096, "jpeg", "jpeg_soi", REGISTRY, TEST_CFG
    )
    assert rec.path == "jpeg/jpeg_000000001000.jpg"
