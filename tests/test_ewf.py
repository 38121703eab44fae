"""Pure-Python EWF/E01 container: write -> read roundtrips, checksum
enforcement, positioned reads, and E01 -> raw -> identical carve
results (reference src/evidence.rs:165-400 reads E01 via libewf; this
path needs no native deps)."""

from __future__ import annotations

import random
import zlib

import pytest

from swiftbeaver_spark.ewf import EwfFormatError, EwfReader, write_ewf

from tests.fixtures import convert_ewf_to_raw


def mixed_data(n: int = 300_000) -> bytes:
    """Zeros (compressible) + random (incompressible) so both chunk
    storage forms — zlib and raw+Adler32 — are exercised."""
    rng = random.Random(42)
    return b"\x00" * (n // 3) + rng.randbytes(n // 3) + b"\xab" * (n - 2 * (n // 3))


def test_roundtrip_mixed_chunks(tmp_path):
    data = mixed_data()
    p = str(tmp_path / "img.E01")
    write_ewf(p, data)
    r = EwfReader(p)
    assert r.media_size >= len(data)
    assert r.read_at(0, len(data)) == data
    # sector padding beyond the original data is zeros
    tail = r.read_at(len(data), r.media_size - len(data))
    assert tail == b"\x00" * len(tail)


def test_read_at_windows(tmp_path):
    data = mixed_data(150_000)
    p = str(tmp_path / "img.E01")
    write_ewf(p, data, sectors_per_chunk=8)  # small chunks -> many boundaries
    r = EwfReader(p)
    padded = data + b"\x00" * (r.media_size - len(data))
    rng = random.Random(7)
    for _ in range(50):
        off = rng.randrange(0, len(data))
        ln = rng.randrange(1, 20_000)
        assert r.read_at(off, ln) == padded[off : off + ln]
    # out-of-range reads
    assert r.read_at(r.media_size, 10) == b""
    assert r.read_at(-5, 10) == b""


def test_media_not_sector_multiple(tmp_path):
    data = b"x" * 1000  # not a multiple of 512
    p = str(tmp_path / "img.E01")
    write_ewf(p, data)
    r = EwfReader(p)
    assert r.media_size == 1024  # rounded up to whole sectors
    assert r.read_at(0, 1000) == data


def test_bad_signature_rejected(tmp_path):
    p = str(tmp_path / "img.E01")
    write_ewf(p, b"hello world" * 100)
    raw = bytearray(open(p, "rb").read())
    raw[0] ^= 0xFF
    open(p, "wb").write(bytes(raw))
    with pytest.raises(EwfFormatError, match="not an EWF"):
        EwfReader(p)


def test_corrupt_descriptor_checksum_rejected(tmp_path):
    p = str(tmp_path / "img.E01")
    write_ewf(p, b"hello world" * 100)
    raw = bytearray(open(p, "rb").read())
    raw[13 + 2] ^= 0x01  # flip a byte inside the first section's type field
    open(p, "wb").write(bytes(raw))
    with pytest.raises(EwfFormatError, match="checksum"):
        EwfReader(p)


def test_corrupt_chunk_checksum_rejected(tmp_path):
    rng = random.Random(1)
    data = rng.randbytes(64 * 512)  # incompressible -> stored raw+adler
    p = str(tmp_path / "img.E01")
    write_ewf(p, data)
    raw = bytearray(open(p, "rb").read())
    # flip one byte of chunk data (search for a known slice)
    pos = bytes(raw).find(data[1000:1016])
    assert pos > 0
    raw[pos] ^= 0x01
    open(p, "wb").write(bytes(raw))
    r = EwfReader(p)
    with pytest.raises(EwfFormatError, match="chunk"):
        r.read_at(0, 100)


def test_convert_and_carve_identical(spark, tmp_path):
    """E01 ingest -> raw -> full engine run recovers the same files as
    carving the original raw image (the verdict's done-bar)."""
    import dataclasses

    from swiftbeaver_spark.engine import Engine

    from tests.test_pipeline import TEST_CFG, build_golden

    evidence, manifest = build_golden()
    raw_path = str(tmp_path / "orig.raw")
    with open(raw_path, "wb") as fh:
        fh.write(evidence)
    e01_path = str(tmp_path / "img.E01")
    write_ewf(e01_path, evidence)
    conv_path = str(tmp_path / "converted.raw")
    convert_ewf_to_raw(e01_path, conv_path)

    converted = open(conv_path, "rb").read()
    assert converted[: len(evidence)] == evidence

    cfg = dataclasses.replace(
        TEST_CFG,
        file_types=tuple(
            ft for ft in TEST_CFG.file_types if ft.type_id in ("jpeg", "png", "gif")
        ),
    )
    engine = Engine(spark, cfg)
    carve = lambda path: {
        (r.global_start, r.size, r.sha256)
        for r in engine.run(evidence_path=path)["carved_files"].collect()
    }
    assert carve(conv_path) == carve(raw_path) != set()


def test_e01_native_distributed_source(spark, tmp_path):
    """Engine.run straight on the .E01 — every task positioned-reads
    decompressed media through source.open_evidence, no conversion.
    Both the one-pass run and the chunk-table run oracle must match raw."""
    import dataclasses

    from swiftbeaver_spark.engine import Engine

    from tests.oracles.chunk_run import chunk_run
    from tests.test_pipeline import TEST_CFG, build_golden

    evidence, _ = build_golden()
    raw_path = str(tmp_path / "orig.raw")
    with open(raw_path, "wb") as fh:
        fh.write(evidence)
    e01_path = str(tmp_path / "img.E01")
    write_ewf(e01_path, evidence)

    cfg = dataclasses.replace(
        TEST_CFG,
        file_types=tuple(
            ft for ft in TEST_CFG.file_types if ft.type_id in ("jpeg", "png", "gif")
        ),
    )
    one_pass = Engine(spark, cfg).run
    for name, run in (
        ("one-pass", lambda path: one_pass(evidence_path=path)),
        ("chunk table", lambda path: chunk_run(spark, path, cfg)),
    ):
        carved = []
        for path in (e01_path, raw_path):
            res = run(path)
            carved.append(
                {(r.global_start, r.size, r.sha256) for r in res["carved_files"].collect()}
            )
            res.unpersist()
        got, want = carved
        assert got == want != set(), name


def test_multi_segment_roundtrip(tmp_path):
    """E01/E02/E03 chain: volume in segment 1, `next` links, `done`
    terminator — both the reader's segment glob and cross-segment chunk
    indexing must reassemble the exact media."""
    data = mixed_data(400_000)
    p = str(tmp_path / "img.E01")
    write_ewf(p, data, chunks_per_segment=5)
    import os

    assert os.path.exists(str(tmp_path / "img.E02"))
    assert os.path.exists(str(tmp_path / "img.E03"))
    r = EwfReader(p)
    assert len(r.paths) >= 3
    assert r.read_at(0, len(data)) == data


def test_multi_segment_jvm_scan_matches(spark, tmp_path):
    """The Java EWF reader must handle segment chains identically:
    sb_scan_all over an E01+E02 image == scan of the raw bytes."""
    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.jvm import ensure_kernel, spec_for
    from swiftbeaver_spark.scanner import MAX_HITS_PER_CHUNK, compile_patterns
    from tests.fixtures import scan_all_hits

    assert ensure_kernel(spark)
    data = bytearray(mixed_data(300_000))
    sig = bytes.fromhex("FFD8FF")
    cs = 64 * 512
    # plant signatures inside segment 1, straddling the segment boundary
    # (chunk 4 end -> chunk 5 start lives in E02), and inside E02
    data[1000:1003] = sig
    data[5 * cs - 2 : 5 * cs + 1] = sig
    data[7 * cs + 17 : 7 * cs + 20] = sig
    data = bytes(data)
    raw = str(tmp_path / "img.raw")
    with open(raw, "wb") as fh:
        fh.write(data)
    e01 = str(tmp_path / "img.E01")
    write_ewf(e01, data, chunks_per_segment=5)

    patterns = compile_patterns(DEFAULT_CONFIG)
    spec = spec_for(patterns, MAX_HITS_PER_CHUNK)

    def hits(path):
        return scan_all_hits(spark, path, len(data), spec)

    assert hits(e01) == hits(raw) != []
    offs = {h >> 16 for h in hits(e01)}
    assert {1000, 5 * cs - 2, 7 * cs + 17} <= offs


def test_segment_extension_rollover():
    """libewf naming: E01..E99 -> EAA..EZZ -> FAA.."""
    from swiftbeaver_spark.ewf import _next_ext

    assert _next_ext("E01") == "E02"
    assert _next_ext("E99") == "EAA"
    assert _next_ext("EAA") == "EAB"
    assert _next_ext("EAZ") == "EBA"
    assert _next_ext("EZZ") == "FAA"
    # walk the whole chain E01 -> FAA without repeats
    seen, cur = set(), "E01"
    for _ in range(99 + 26 * 26 + 1):
        assert cur not in seen
        seen.add(cur)
        cur = _next_ext(cur)
    assert cur == "FAB"


def test_short_final_chunk_roundtrip(spark, tmp_path):
    """Acquisitions often store the tail chunk short (whole sectors, no
    padding). Both readers must reassemble the exact media — raw+Adler
    short form included — and the JVM scan must match the raw image."""
    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.jvm import ensure_kernel, spec_for
    from swiftbeaver_spark.scanner import MAX_HITS_PER_CHUNK, compile_patterns
    from tests.fixtures import scan_all_hits

    # 5.5 chunks of media; tail random (raw storage) to hit the
    # raw+short+Adler path, plus a compressible variant
    cs = 64 * 512
    rng = random.Random(9)
    for variant, tail in (("raw", rng.randbytes(cs // 2)), ("zlib", b"\xab" * (cs // 2))):
        data = rng.randbytes(5 * cs) + tail
        p = str(tmp_path / f"short_{variant}.E01")
        write_ewf(p, data, pad_final=False)
        r = EwfReader(p)
        assert r.media_size == len(data)
        assert r.read_at(0, len(data)) == data
        r.close()

        assert ensure_kernel(spark)
        sig = bytes.fromhex("FFD8FF")
        planted = bytearray(data)
        planted[len(data) - 100 : len(data) - 97] = sig
        p2 = str(tmp_path / f"short2_{variant}.E01")
        write_ewf(p2, bytes(planted), pad_final=False)
        spec = spec_for(compile_patterns(DEFAULT_CONFIG), MAX_HITS_PER_CHUNK)
        hits = scan_all_hits(spark, p2, len(planted), spec)
        assert (len(data) - 100) in {h >> 16 for h in hits}
