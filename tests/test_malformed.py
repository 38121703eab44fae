"""Malformed-input robustness (reference tests/malformed_inputs.rs):
corrupted headers must carve-or-skip without crashing, with at most
truncated/validated=false semantics."""

from __future__ import annotations

import dataclasses
import struct

import pytest

from swiftbeaver_spark.carvers import build_registry, carve_hit
from swiftbeaver_spark.carvers.base import BytesReader
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.scanner import MAX_HITS_PER_CHUNK, compile_patterns

from tests.fixtures import ALL_FIXTURES
from tests.oracles.scan import find_all

TEST_CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    file_types=tuple(
        dataclasses.replace(ft, min_size=5) for ft in DEFAULT_CONFIG.file_types
    ),
)
REGISTRY = build_registry(TEST_CFG)


def _run(blob: bytes, ftid: str, patid: str, offset: int = 0):
    return carve_hit(BytesReader(blob), offset, ftid, patid, REGISTRY, TEST_CFG)


@pytest.mark.parametrize("name", sorted(ALL_FIXTURES))
def test_truncated_fixture_no_crash(name):
    """Every fixture cut to 60% must either skip or produce a flagged row."""
    blob, ftid, patid, hit_rel = ALL_FIXTURES[name]
    cut = blob[: max(hit_rel + 4, int(len(blob) * 0.6))]
    rec = _run(cut, ftid, patid, hit_rel)
    if rec is not None:
        assert rec.size <= len(cut)
        assert rec.truncated or rec.validated


@pytest.mark.parametrize("name", sorted(ALL_FIXTURES))
def test_corrupt_interior_no_crash(name):
    """Flip bytes after the signature; carve-or-skip, never raise."""
    blob, ftid, patid, hit_rel = ALL_FIXTURES[name]
    mutated = bytearray(blob)
    start = hit_rel + 12
    for i in range(start, min(start + 16, len(mutated))):
        mutated[i] ^= 0xA5
    rec = _run(bytes(mutated) + b"\x00" * 64, ftid, patid, hit_rel)
    if rec is not None:
        assert rec.global_start == hit_rel


def test_wrong_signature_skips():
    rec = _run(b"NOTAJPEG" + b"\x00" * 600, "png", "png_sig")
    assert rec is None
    rec = _run(b"\x00" * 600, "sqlite", "sqlite_header")
    assert rec is None


def test_empty_evidence():
    for name, (blob, ftid, patid, hit_rel) in ALL_FIXTURES.items():
        assert _run(b"", ftid, patid) is None


def test_zip_declared_geometry_mismatch_rejected():
    """EOCD whose cd_offset/cd_size don't reconcile with the start is not
    a valid archive end (reference zip.rs find_eocd validation)."""
    from tests.fixtures import mk_zip

    blob = bytearray(mk_zip("zip"))
    # corrupt cd_offset field in the EOCD (last 22 bytes, offset 16)
    eocd_at = len(blob) - 22
    struct.pack_into("<I", blob, eocd_at + 16, 9999)
    rec = _run(bytes(blob), "zip", "zip_header")
    assert rec is None  # require_eocd finds no geometrically-valid EOCD


def test_scan_budget_cap(spark):
    """Pathological hit density respects the per-chunk cap (reference
    gpu_max_hits_per_chunk) in the JVM kernel: sb_scan_bytes stops at
    exactly `cap` hits, the first `cap` of the uncapped scan."""
    from pyspark.sql import functions as F

    from swiftbeaver_spark.jvm import ensure_kernel, spec_for

    ensure_kernel(spark)
    blob = bytes.fromhex("FFD8FF") * 50  # dense overlapping jpeg sigs
    pats = compile_patterns(TEST_CFG)
    df = spark.createDataFrame([(bytearray(blob),)], "data binary")

    def scan(cap: int) -> list[int]:
        spec = F.lit(spec_for(pats, cap))
        [row] = df.select(F.call_udf("sb_scan_bytes", F.col("data"), spec).alias("h")).collect()
        return list(row["h"])

    uncapped = scan(MAX_HITS_PER_CHUNK)
    capped = scan(10)
    assert len(capped) == 10 and capped == uncapped[:10]
    jpeg = [h for h in uncapped if pats[h & 0xFFFF][1] == "jpeg_soi"]
    assert len(jpeg) == 50


def test_random_noise_no_false_positives_survive_validation(tmp_path):
    """1 MiB of seeded noise: every carve that emerges must be internally
    consistent (size>0, hashes present, flags coherent)."""
    import random

    blob = random.Random(99).randbytes(1 << 20)
    pats = compile_patterns(TEST_CFG)
    hits = [(off, pid, ftid) for pat, pid, ftid in pats for off in find_all(blob, pat)]
    for off, pid, ftid in hits[:200]:
        rec = carve_hit(BytesReader(blob), off, ftid, pid, REGISTRY, TEST_CFG)
        if rec is not None:
            assert rec.size > 0
            assert rec.md5 and rec.sha256
            assert rec.global_end == rec.global_start + rec.size - 1


# --- multimodal codec-free parsers must never raise ---------------------------


def test_mp4_sample_index_survives_truncation_and_noise():
    """Every prefix truncation of a valid MP4 and arbitrary byte noise
    must return None or a valid index — never raise (one raise inside
    mapInPandas fails the whole task)."""
    from tests.test_llm import _mk_mp4_with_samples

    from swiftbeaver_spark.llm.multimodal import mp4_sample_index

    blob = _mk_mp4_with_samples([b"AA", b"BBB", b"CCCC"])
    for cut in range(0, len(blob)):
        out = mp4_sample_index(blob[:cut])
        assert out is None or isinstance(out, list)
    import hashlib

    for seed in range(50):
        noise = hashlib.sha256(f"n{seed}".encode()).digest() * 8
        assert mp4_sample_index(noise) is None
        # corrupt one byte of a valid file
        pos = seed * 2 % len(blob)
        mutated = blob[:pos] + bytes([blob[pos] ^ 0xFF]) + blob[pos + 1 :]
        out = mp4_sample_index(mutated)
        assert out is None or isinstance(out, list)


def test_resize_bmp_and_wav_span_survive_malformed():
    from tests.test_llm import _mk_bmp24

    from swiftbeaver_spark.llm.multimodal import _wav_data_span, resize_bmp

    bmp = _mk_bmp24(4, 2, [[(i, j, 0) for i in range(4)] for j in range(2)])
    for cut in range(0, len(bmp)):
        out = resize_bmp(bmp[:cut], 2, 2)
        assert out is None or isinstance(out, bytes)
    import hashlib
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 4, 8, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 44) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 20) + bytes(range(20))
    )
    for cut in range(0, len(wav)):
        out = _wav_data_span(wav[:cut])
        assert out is None or isinstance(out, tuple)
    for seed in range(50):
        noise = hashlib.sha256(f"m{seed}".encode()).digest() * 4
        assert resize_bmp(noise, 2, 2) is None
        assert _wav_data_span(noise) is None
