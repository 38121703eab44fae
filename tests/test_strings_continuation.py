"""Granule-boundary parity for the one-pass strings scan.

The one-pass evidence scan plans at a sub-chunk granule for
parallelism, but row semantics must stay pinned to cfg.chunk_size
geometry (the chunk-table path / reference build_chunks anchor runs and
max_len piece grids at chunk starts). These tests drive
scan_all_from_evidence at a granule far smaller than chunk_size over
content engineered to straddle every kind of boundary, and require
bit-identical rows to a parent-geometry chunk-table scan — the exact
divergence ADVICE r9 (high) flagged: tail re-emission and piece-grid
re-anchoring at sub-chunk boundaries.
"""

from __future__ import annotations

import dataclasses
import random

import pytest

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.fused_scan import scan_all_from_evidence

from tests.oracles.strings import blob_spans

CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    chunk_size=4096,
    overlap=256,
    enable_string_scan=True,
    string_scan_utf16=True,
    string_min_len=4,
    string_max_len=16,
)
GRANULE = 512


@pytest.fixture(params=["jvm", "python"])
def oracle(request, spark):
    """The parent-geometry chunk-table scan every parity test compares
    against: the JVM bytes kernel, and the Python oracle."""
    if request.param == "python":
        return reference_rows
    return lambda data, cfg: chunk_table_rows(spark, data, cfg)


def reference_rows(data: bytes, cfg) -> list[tuple]:
    """Parent-geometry scan with the Python oracle: the pinned
    semantics."""
    rows: list[tuple] = []
    for c in range(0, len(data), cfg.chunk_size):
        blob = data[c : c + cfg.chunk_size + cfg.overlap]
        vlen = min(cfg.chunk_size, len(data) - c)
        rows.extend(
            blob_spans(
                blob, c, vlen, cfg.string_min_len, cfg.string_max_len,
                cfg.string_scan_utf16,
            )
        )
    return sorted(rows)


def chunk_table_rows(spark, data: bytes, cfg) -> list[tuple]:
    """The chunk-table scan's span rows (fused_scan.scan_all_from_chunks
    over cfg.chunk_size chunk rows)."""
    from tests.oracles.chunk_run import chunks_from_bytes
    from swiftbeaver_spark.fused_scan import scan_all_from_chunks

    chunks = chunks_from_bytes(spark, data, cfg.chunk_size, cfg.overlap)
    df = scan_all_from_chunks(chunks, cfg)["string_spans"]
    return sorted(tuple(r) for r in df.collect())


def fused_rows(spark, tmp_path, data: bytes, cfg, granule=GRANULE) -> list[tuple]:
    p = tmp_path / "evidence.bin"
    p.write_bytes(data)
    df = scan_all_from_evidence(spark, str(p), cfg, granule=granule)["string_spans"]
    return sorted(tuple(r) for r in df.collect())


def place(buf: bytearray, off: int, payload: bytes) -> None:
    buf[off : off + len(payload)] = payload


def test_ascii_run_straddles_granule(spark, tmp_path, oracle):
    data = bytearray(2 * 4096)  # two parent chunks, all NUL
    # 70-byte printable run straddling the 512 granule boundary: pieces
    # must stay anchored at 481 (grid 481, 497, 513, ...), and the
    # 512-start tail fragment the old code emitted must NOT appear
    place(data, 481, b"A" * 70)
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    assert got == oracle(bytes(data), CFG)
    starts = [r[0] for r in got if r[3] == "ascii"]
    assert 481 in starts and 513 in starts and 512 not in starts


def test_long_ascii_run_spans_many_subchunks(spark, tmp_path, oracle):
    data = bytearray(2 * 4096)
    place(data, 100, b"x" * 1500)  # crosses granule boundaries 512 and 1024
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    ref = oracle(bytes(data), CFG)
    assert got == ref
    # piece grid anchored at 100 with step max_len=16
    ascii_starts = sorted(r[0] for r in got if r[3] == "ascii")
    assert ascii_starts == list(range(100, 100 + 1500 - 16 + 1, 16)) + [
        100 + (1500 // 16) * 16
    ][: 1 if 1500 % 16 >= CFG.string_min_len else 0]


def test_run_crossing_parent_boundary_reanchors(spark, tmp_path, oracle):
    data = bytearray(2 * 4096)
    # run crossing the PARENT boundary at 4096: both paths re-anchor the
    # grid at 4096 (the parent blob truncation/re-anchor IS the pinned
    # semantics) — fused must reproduce the duplicate coverage exactly
    place(data, 4096 - 40, b"B" * 100)
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    assert got == oracle(bytes(data), CFG)


def test_utf8_run_straddles_granule(spark, tmp_path, oracle):
    data = bytearray(2 * 4096)
    text = ("héllo wörld " * 12).encode("utf-8")  # MB chars both sides
    place(data, 500, text)
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    assert got == oracle(bytes(data), CFG)
    assert any(r[3] == "utf-8" for r in got)


def test_utf8_global_check_kills_across_boundary(spark, tmp_path, oracle):
    """A non-printable (soft hyphen, Cf) AFTER the granule boundary must
    kill utf-8 pieces BEFORE it — whole-run semantics across sub-chunks."""
    data = bytearray(2 * 4096)
    run = ("é" * 200).encode("utf-8") + b"\xc2\xad" + ("é" * 20).encode("utf-8")
    place(data, 400, run)  # run covers [400, 400+440+2): crosses 512
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    ref = oracle(bytes(data), CFG)
    assert got == ref
    assert not any(r[3] == "utf-8" for r in got)  # the whole run is dead


def test_utf16_runs_straddle_granule(spark, tmp_path, oracle):
    data = bytearray(2 * 4096)
    payload = "UTF SIXTEEN DATA EXAMPLE ROW".encode("utf-16-le") * 12
    place(data, 490, payload)  # crosses 512 and 1024
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    assert got == oracle(bytes(data), CFG)
    assert any(r[3] == "utf-16le" for r in got)


def test_zero_fill_and_exact_boundary_runs(spark, tmp_path, oracle):
    data = bytearray(3 * 4096)
    place(data, 512 - 32, b"C" * 32)  # ends exactly at a granule boundary
    place(data, 1024, b"D" * 48)  # starts exactly at a granule boundary
    place(data, 2048 - 8, b"E" * 16)  # 8 bytes each side
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    assert got == oracle(bytes(data), CFG)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_differential_fuzz(spark, tmp_path, seed, oracle):
    """Random mixture of every content class vs the parent-geometry
    reference — granule chosen NOT to divide chunk_size so the ragged
    last sub-chunk path is exercised too."""
    rng = random.Random(seed)
    data = bytearray()
    total = 3 * 4096 + 1000
    words = ["alpha", "Beta9", "héllo", "wörldé", "日本語テスト", "x" * 40]
    while len(data) < total:
        kind = rng.randrange(6)
        if kind == 0:
            data += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 40)))
        elif kind == 1:
            data += bytes(rng.randrange(1, 30))
        elif kind == 2:
            data += " ".join(rng.choices(words, k=rng.randrange(1, 30))).encode()
        elif kind == 3:
            data += rng.choice(words).encode("utf-16-le") * rng.randrange(1, 8)
        elif kind == 4:
            data += rng.choice(words).encode("utf-16-be") * rng.randrange(1, 8)
        else:
            data += b"\xc2\xad" if rng.random() < 0.5 else b"\xed\xa0\x80"
    data = bytes(data[:total])
    cfg = dataclasses.replace(CFG, string_min_len=3, string_max_len=7)
    granule = 509  # prime: ragged tiling, boundaries land everywhere
    assert fused_rows(spark, tmp_path, data, cfg, granule=granule) == oracle(
        data, cfg
    )


def test_degenerate_granule_equals_chunk(spark, tmp_path, oracle):
    """granule >= chunk_size reduces to exactly the parent-geometry scan."""
    data = bytes(random.Random(7).randrange(256) for _ in range(6000))
    assert fused_rows(
        spark, tmp_path, data, CFG, granule=1 << 20
    ) == oracle(data, CFG)


@pytest.mark.parametrize("seed", [11, 12])
def test_bytes_kernel_differential_fuzz(spark, tmp_path, seed):
    """Chunk-table path: the span leg of sb_scan_all_bytes vs the Python
    blob_spans oracle, bit-identical rows on random mixed content."""
    rng = random.Random(seed)
    data = bytearray()
    words = ["mixed", "Ascii", "ünïcødé", "桜とコード", "tab\there"]
    while len(data) < 3 * 4096:
        k = rng.randrange(5)
        if k == 0:
            data += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 50)))
        elif k == 1:
            data += b"\x00" * rng.randrange(1, 20)
        elif k == 2:
            data += " ".join(rng.choices(words, k=rng.randrange(1, 20))).encode()
        elif k == 3:
            data += rng.choice(words)[:4].encode("utf-16-le") * rng.randrange(1, 6)
        else:
            data += b"\xe0\x80\x80\xf4\x90\x80\x80"  # overlong + >10FFFF
    data = bytes(data[: 3 * 4096])
    cfg = dataclasses.replace(CFG, string_min_len=3, string_max_len=9)
    assert chunk_table_rows(spark, data, cfg) == reference_rows(data, cfg)


def test_utf8_unit_straddles_window_end(spark, tmp_path, oracle):
    """A multibyte char STRADDLING the sub-chunk read-window end (w1 =
    own_end + margin) leaves a dangling lead the structural scan
    excludes; the run-global printability check must still see the
    full run — here a soft hyphen at 780 kills pieces owned by the
    first sub-chunk, which a window-truncated run check would wrongly
    emit. (Found by reasoning about the extension trigger; the fuzz
    missed it because straddles at exactly own_end+margin are rare.)"""
    data = bytearray(2 * 4096)
    # CFG margin = max(overlap=256, 4*max_len=64) = 256; sub-chunk 0's
    # window is [0, 512+256=768). 'a' at 490 then é-pairs from 491:
    # leads at odd offsets, so one é straddles 767/768.
    run = b"a" + "é".encode() * 144  # [490, 779): crosses 768
    run += b"\xc2\xad" + "é".encode() * 4  # soft hyphen at 779 kills ALL
    place(data, 490, run)
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    ref = oracle(bytes(data), CFG)
    assert got == ref
    assert not any(r[3] == "utf-8" for r in got)


def test_utf8_unit_straddles_window_end_run_survives(spark, tmp_path, oracle):
    """Same straddle geometry but the run stays printable — pieces
    owned by every sub-chunk must keep the TRUE (extended) run grid."""
    data = bytearray(2 * 4096)
    run = b"a" + "é".encode() * 200  # [490, 891): crosses 768 mid-unit
    place(data, 490, run)
    got = fused_rows(spark, tmp_path, bytes(data), CFG)
    assert got == oracle(bytes(data), CFG)
    assert any(r[3] == "utf-8" for r in got)


def test_e01_container_matches_raw(spark, tmp_path, oracle):
    """The one-pass scan over an EWF/E01 container must emit exactly
    the raw-image rows — EwfImage.readAt serves the backward-barrier
    and forward-extension reads through chunk decompression."""
    from swiftbeaver_spark.ewf import write_ewf

    data = bytearray(2 * 4096)
    place(data, 481, b"straddle the granule boundary " * 4)
    place(data, 900, ("é" * 200).encode())  # utf-8 run over several cuts
    place(data, 1500, "UTF16 DATA".encode("utf-16-le") * 10)
    raw = bytes(data)
    e01 = tmp_path / "ev.E01"
    write_ewf(str(e01), raw, sectors_per_chunk=2)  # 1 KiB chunks: many
    df = scan_all_from_evidence(spark, str(e01), CFG, granule=GRANULE)["string_spans"]
    got = sorted(tuple(r) for r in df.collect())
    assert got == oracle(raw, CFG)


# --- 1 MiB extension-step boundary (ADVICE r10 low) ------------------------
#
# The forward UTF-8 run extension reads in 1 MiB doubling blocks; a block
# boundary that cuts a multibyte unit in half leaves a dangling lead the
# structural re-match excludes, and truncating there makes the run-global
# printability check cover only a prefix. The small-geometry fuzz above
# cannot reach the 1 MiB step — these run a >1.3 MiB newline-free run.


def test_1mib_step_cut_printability_is_run_global(spark, tmp_path, oracle):
    """End to end: a soft hyphen (Cf, non-printable) PAST the 1 MiB
    extension cut must kill every utf-8 piece of the run — the
    truncating code emitted the pre-cut prefix's pieces, which the
    parent-geometry and JVM kernels reject."""
    big_cfg = dataclasses.replace(CFG, chunk_size=4 << 20)
    data = bytearray(4 << 20)
    run = ("€" * 460_000).encode("utf-8")  # 1.38 MiB > tail + 1 MiB cut
    run += b"\xc2\xad" + ("€" * 16).encode("utf-8")
    place(data, 1, b"\n".join([b"", run, b""]))  # barriers both ends
    got = fused_rows(spark, tmp_path, bytes(data), big_cfg, granule=256 << 10)
    ref = oracle(bytes(data), big_cfg)
    assert got == ref
    assert not any(r[3] == "utf-8" for r in got)


def test_1mib_step_cut_run_survives(spark, tmp_path, oracle):
    """Same 1 MiB-cut geometry, fully printable run: the reassembled
    extension must reproduce the parent-geometry piece grid exactly."""
    big_cfg = dataclasses.replace(CFG, chunk_size=4 << 20)
    data = bytearray(4 << 20)
    run = ("€" * 460_000).encode("utf-8")
    place(data, 1, b"\n".join([b"", run, b""]))
    got = fused_rows(spark, tmp_path, bytes(data), big_cfg, granule=256 << 10)
    ref = oracle(bytes(data), big_cfg)
    assert got == ref
    assert any(r[3] == "utf-8" for r in got)
