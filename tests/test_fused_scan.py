"""One-pass multi-scan differentials (fused_scan.py).

scan_all_from_evidence must produce BYTE-IDENTICAL results to the
three chunk-table scans over cfg.chunk_size chunks — signature hits
(scanner.scan_and_normalize), string spans (strings_scan.
scan_string_spans) and entropy regions (entropy.entropy_regions) — on
raw and EWF/E01 evidence, across content engineered to cross every
sub-chunk boundary class (runs, patterns and high-entropy regions
straddling granule edges).
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from swiftbeaver_spark.chunking import chunks_from_file
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.entropy import entropy_regions
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from swiftbeaver_spark.jvm import ensure_kernel
from swiftbeaver_spark.scanner import scan_and_normalize
from swiftbeaver_spark.strings_scan import scan_string_spans

from tests.fixtures import mk_jpeg, mk_png, mk_sqlite


@pytest.fixture(autouse=True)
def require_kernel(spark):
    assert ensure_kernel(spark), "JVM kernel must register in the test env"


CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    file_types=tuple(
        dataclasses.replace(ft, min_size=5)
        for ft in DEFAULT_CONFIG.file_types
        if ft.type_id in ("jpeg", "png", "sqlite")
    ),
    enable_string_scan=True,
    enable_entropy_detection=True,
    chunk_size=4 << 20,
    overlap=4096,
    entropy_window_size=4096,
    entropy_threshold=7.5,
    string_scan_utf16=True,
)
GRANULE = 512 << 10  # 8 sub-chunks per parent; window-aligned


def build_image(seed: int, size: int) -> bytes:
    """Mixed textures with planted files and boundary-straddling
    content: ASCII/UTF-8 runs and per-window byte permutations
    (entropy exactly 8.0) placed across granule and parent edges."""
    rng = np.random.default_rng(seed)
    buf = bytearray(size)
    # text stripes with artefact-bearing lines
    text = (
        b"lorem ipsum dolor sit amet https://example.com/x "
        b"mail bob@example.org call +1-555-01" + b"23 " + "héllo wörld ".encode()
    ) * 40
    for off in range(0, size, 1 << 20):
        buf[off : off + len(text)] = text[: max(0, min(len(text), size - off))]
    # high-entropy spans straddling sub-chunk boundaries
    perm = b"".join(bytes(rng.permutation(256).astype(np.uint8)) for _ in range(64))
    for off in (GRANULE - 8192, 3 * GRANULE - 100, (4 << 20) - 8192):
        if off + len(perm) < size:
            buf[off : off + len(perm)] = perm
    # planted files, including one straddling a granule edge
    for blob, off in (
        (mk_jpeg(), 70_000),
        (mk_png(), GRANULE - 10),
        (mk_sqlite(), 2 * GRANULE + 12345),
        (mk_jpeg(), (4 << 20) + 777),
    ):
        if off + len(blob) < size:
            buf[off : off + len(blob)] = blob
    return bytes(buf)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _cmp(spark, path, cfg=CFG):
    """Fused scan vs the chunk-table scans over the same evidence."""
    t = scan_all_from_evidence(spark, path, cfg, granule=GRANULE)
    chunks = chunks_from_file(spark, path, cfg.chunk_size, cfg.overlap).cache()
    t["raw"].persist()
    try:
        fused_hits = _rows(t["hits"])
        assert fused_hits == _rows(scan_and_normalize(chunks, cfg)) and fused_hits
        fused_spans = _rows(t["string_spans"])
        assert fused_spans == _rows(scan_string_spans(chunks, cfg)) and fused_spans
        fr = _rows(t["entropy_regions"])
        assert fr == _rows(entropy_regions(chunks, cfg)) and fr
    finally:
        t["raw"].unpersist()
        chunks.unpersist()


@pytest.mark.parametrize("seed", [1, 2])
def test_fused_equals_standalone_raw(spark, tmp_path, seed):
    data = build_image(seed, 9 << 20)  # ragged tail past 2 parents
    p = tmp_path / "ev.raw"
    p.write_bytes(data)
    _cmp(spark, str(p))


def test_fused_equals_standalone_e01(spark, tmp_path):
    from swiftbeaver_spark.ewf import write_ewf

    data = build_image(3, 6 << 20)
    p = str(tmp_path / "ev.E01")
    write_ewf(p, data, sectors_per_chunk=8)
    _cmp(spark, p)


def test_misaligned_entropy_window_tiles_aligned(spark, tmp_path):
    """A window size dividing neither the granule nor chunk_size: the
    sub-chunks tile at window multiples, so every table still equals
    the chunk-table scans (windows restart at each parent start)."""
    from swiftbeaver_spark.fused_scan import subchunk_plan

    cfg = dataclasses.replace(CFG, entropy_window_size=3000)
    plan = subchunk_plan(spark, 9 << 20, cfg.chunk_size, GRANULE, 3000)
    starts = [r.start % cfg.chunk_size for r in plan.collect()]
    assert all(s % 3000 == 0 for s in starts) and len(set(starts)) == 8
    p = tmp_path / "ev.raw"
    p.write_bytes(build_image(4, 9 << 20))
    _cmp(spark, str(p), cfg)


def test_partition_count_scales_with_corpus_bytes(spark, tmp_path):
    """r14: the one-pass scan's partition count must grow with corpus
    bytes (ONE_PASS_PARTITION_BYTES of evidence per partition), not
    stay pinned at defaultParallelism — a fixed split makes each
    partition's persisted cache block corpus-proportional, the term
    that OOMed 20 GiB at a heap 10 GiB survived (BENCH_SCALE_r14).
    Plan-level check over a SPARSE file: no bytes are read."""
    import math
    import os

    from swiftbeaver_spark.fused_scan import ONE_PASS_PARTITION_BYTES

    size = 5 * 1024 * 1024 * 1024  # 5 GiB sparse
    path = str(tmp_path / "sparse.raw")
    with open(path, "wb") as fh:
        fh.truncate(size)

    scans = scan_all_from_evidence(spark, path, CFG)
    want = max(
        spark.sparkContext.defaultParallelism,
        math.ceil(size / ONE_PASS_PARTITION_BYTES),
    )
    assert scans["raw"].rdd.getNumPartitions() == want
    assert want == 40  # 5 GiB / 128 MiB > the local[32] floor
    os.unlink(path)
