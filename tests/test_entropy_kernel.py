"""JVM entropy-window kernel parity (round 11, VERDICT r10 task 1).

The JVM kernel (java/src/sbspark/Ent.java) replaces the numpy bincount
fold on both the chunk-table and fused-evidence paths. Parity must be
BIT-EXACT: the per-count contribution table is exported from numpy in
the spec string, and the JVM per-window sum replicates numpy's pairwise
summation tree — these tests pin exact float equality across kernels on
adversarial content (uniform-random, constant runs, text-like skew,
threshold-straddling mixtures), window sizes, chunk geometries, and
both evidence containers (raw + EWF/E01).
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pytest

from swiftbeaver_spark.chunking import chunks_from_bytes
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.entropy import entropy_regions, entropy_windows
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from swiftbeaver_spark.jvm import ensure_kernel


@pytest.fixture(autouse=True)
def require_kernel(spark):
    """These tests exist to pin the JVM kernel — a silent Python
    fallback would mask a regression (same stance as test_jvm_kernel)."""
    assert ensure_kernel(spark), "JVM kernel must register in the test env"


def _cfg(window_size: int, threshold: float):
    return dataclasses.replace(
        DEFAULT_CONFIG,
        enable_entropy_detection=True,
        entropy_window_size=window_size,
        entropy_threshold=threshold,
    )


def mixed_blob(seed: int, size: int) -> bytes:
    """Adversarial mixture: uniform random (high entropy), constant
    fill (zero entropy — exercises the -0.0 table entry), ASCII text
    (skewed mid-entropy), two-symbol alternation (exactly 1 bit), and
    ramp bytes — so windows land on, above, below, and exactly AT
    dyadic thresholds."""
    rng = np.random.default_rng(seed)
    parts = []
    text = (b"the quick brown fox jumps over the lazy dog. " * 64)[:2048]
    while sum(len(p) for p in parts) < size:
        kind = rng.integers(0, 5)
        n = int(rng.integers(64, 4096))
        if kind == 0:
            parts.append(bytes(rng.integers(0, 256, n, dtype=np.uint8)))
        elif kind == 1:
            parts.append(bytes([int(rng.integers(0, 256))]) * n)
        elif kind == 2:
            parts.append(text[:n])
        elif kind == 3:
            parts.append(bytes([0xAA, 0x55]) * (n // 2))
        else:
            parts.append(bytes(np.arange(n, dtype=np.uint32).astype(np.uint8)))
    return b"".join(parts)[:size]


def _rows(df) -> list[tuple]:
    return sorted((r.win_start, r.win_end, r.entropy) for r in df.collect())


def _py(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_NO_VEC_KERNEL", "1")


@pytest.mark.parametrize("window_size", [64, 256, 1000, 4096])
def test_chunk_table_bit_exact(spark, monkeypatch, window_size):
    cfg = _cfg(window_size, 0.0)  # threshold 0: EVERY window compared
    data = mixed_blob(window_size, 1 << 19)
    chunks = chunks_from_bytes(spark, data, 1 << 17, 4096)
    jvm = _rows(entropy_windows(chunks, cfg))
    _py(monkeypatch)
    py = _rows(entropy_windows(chunks, cfg))
    # threshold 0 emits EVERY full window: 4 chunks x floor(vlen/ws)
    assert len(jvm) == (1 << 17) // window_size * 4
    assert jvm == py  # exact: win offsets AND float64 entropy bits


@pytest.mark.parametrize("seed", range(5))
def test_chunk_table_fuzz(spark, monkeypatch, seed):
    cfg = _cfg(256, 0.0)
    data = mixed_blob(100 + seed, 1 << 18)
    chunks = chunks_from_bytes(spark, data, 1 << 16, 256)
    jvm = _rows(entropy_windows(chunks, cfg))
    _py(monkeypatch)
    assert jvm == _rows(entropy_windows(chunks, cfg))


def test_threshold_filter_identical(spark, monkeypatch):
    """Thresholding decisions (>=) must agree — including windows whose
    entropy is EXACTLY the threshold (dyadic: 16 equi-frequent symbols
    -> exactly 4.0 bits, filterable at threshold=4.0)."""
    window = bytes(bytearray(range(16)) * 16)  # 256 B, entropy exactly 4.0
    data = window * 8 + b"\x00" * 2048 + window * 8
    cfg = _cfg(256, 4.0)
    chunks = chunks_from_bytes(spark, data, 1 << 16, 0)
    jvm = _rows(entropy_windows(chunks, cfg))
    assert jvm and all(r[2] == 4.0 for r in jvm)
    _py(monkeypatch)
    assert jvm == _rows(entropy_windows(chunks, cfg))


def _evidence_islands(spark, path: str, data: bytes, cfg, monkeypatch):
    """Islands from the one-pass evidence scan (JVM) and from the
    chunk-table scan under both kernels (JVM, then numpy)."""
    fused = _rows(scan_all_from_evidence(spark, path, cfg)["entropy_windows"])
    chunks = chunks_from_bytes(spark, data, cfg.chunk_size, cfg.overlap)
    jvm = _rows(entropy_windows(chunks, cfg, merged=True))
    _py(monkeypatch)
    return fused, jvm, _rows(entropy_windows(chunks, cfg, merged=True))


def test_evidence_raw_bit_exact(spark, monkeypatch, tmp_path):
    # mid threshold: islands split on the mixture's low-entropy parts,
    # so many island maxima are compared bit for bit
    cfg = _cfg(256, 4.5)
    data = mixed_blob(9, 1 << 19)
    p = tmp_path / "evidence.bin"
    p.write_bytes(data)
    fused, jvm, py = _evidence_islands(spark, str(p), data, cfg, monkeypatch)
    assert fused == jvm == py
    assert len(fused) > 10


def test_evidence_ewf_bit_exact(spark, monkeypatch, tmp_path):
    from swiftbeaver_spark.ewf import write_ewf

    cfg = _cfg(256, 4.5)
    data = mixed_blob(11, 1 << 18)
    p = str(tmp_path / "evidence.E01")
    write_ewf(p, data)
    fused, jvm, py = _evidence_islands(spark, p, data, cfg, monkeypatch)
    assert fused == jvm == py
    assert len(fused) > 10


def test_trailing_partial_window_dropped(spark, monkeypatch):
    """vlen not a window multiple: the trailing partial window is
    dropped identically (reference src/entropy.rs:30-38 scans only
    full windows)."""
    cfg = _cfg(256, 0.0)
    data = mixed_blob(13, (1 << 16) + 100)  # 100 trailing bytes
    chunks = chunks_from_bytes(spark, data, 1 << 16, 0)
    jvm = _rows(entropy_windows(chunks, cfg))
    assert jvm[-1][1] < len(data) - 1
    _py(monkeypatch)
    assert jvm == _rows(entropy_windows(chunks, cfg))


@pytest.mark.parametrize("seed", range(3))
def test_islands_bit_exact_and_equal_regions(spark, monkeypatch, seed):
    """merged=True (island pre-merge inside the kernel — the reference's
    per-chunk merge, src/entropy.rs:26-73): JVM and Python islands must
    be bit-identical, and regions THROUGH the distributed merge must
    equal the unmerged path's regions (associativity)."""
    from swiftbeaver_spark.entropy import merge_regions

    cfg = _cfg(256, 2.0)  # low threshold: text + random qualify -> long islands
    data = mixed_blob(200 + seed, 1 << 18)
    chunks = chunks_from_bytes(spark, data, 1 << 16, 256)
    jvm = _rows(entropy_windows(chunks, cfg, merged=True))
    jvm_regions = sorted(
        tuple(r)
        for r in merge_regions(
            entropy_windows(chunks, cfg, merged=True), 256
        ).collect()
    )
    unmerged_regions = sorted(
        tuple(r)
        for r in merge_regions(entropy_windows(chunks, cfg), 256).collect()
    )
    _py(monkeypatch)
    assert jvm == _rows(entropy_windows(chunks, cfg, merged=True))
    assert jvm_regions == unmerged_regions
    assert jvm_regions  # non-vacuous


def test_island_spanning_merge_buckets_not_split(spark, monkeypatch):
    """The regression the span-boundary split prevents: one contiguous
    qualifying region crossing a level-1 merge-bucket boundary
    (window_size * _LEVEL_SPAN = 1 MiB at 256-B windows), scanned in
    SMALL chunks so chunk boundaries fall mid-bucket. A start-bucketed
    island ending deep inside the next bucket would strand its
    continuation in an interior (never-escalated) row and split the
    true region; both kernels must emit ONE region."""
    from swiftbeaver_spark.entropy import entropy_regions as regions

    cfg = _cfg(256, 7.5)
    rng = np.random.default_rng(31)
    # per-window permutations (entropy exactly 8.0) from 512 KiB to
    # 1.5 MiB: crosses the 1 MiB level-1 boundary; zeros elsewhere
    perm = b"".join(
        bytes(rng.permutation(256).astype(np.uint8)) for _ in range(4096)
    )  # 1 MiB of qualifying windows
    data = b"\x00" * (512 << 10) + perm + b"\x00" * (512 << 10)
    chunks = chunks_from_bytes(spark, data, 128 << 10, 0)  # mid-bucket edges
    jvm = sorted(tuple(r) for r in regions(chunks, cfg).collect())
    assert jvm == [(512 << 10, (512 << 10) + (1 << 20) - 1, 8.0, 256)]
    _py(monkeypatch)
    assert jvm == sorted(tuple(r) for r in regions(chunks, cfg).collect())


def test_regions_identical_through_merge(spark, monkeypatch):
    """entropy_regions end to end: the Catalyst gaps-and-islands merge
    downstream of the JVM kernel yields exactly the Python path's
    regions (max-entropy per region is float-sensitive — exactness of
    the window stage carries through)."""
    cfg = _cfg(256, 7.5)
    rng = np.random.default_rng(17)
    # per-window byte permutations: entropy exactly 8.0 per 256-B window
    # (uniform SAMPLING only reaches ~7.2 at this window size)
    rand = b"".join(bytes(rng.permutation(256).astype(np.uint8)) for _ in range(16))
    data = b"\x00" * 1024 + rand + b"\x00" * 2048 + rand + b"\x00" * 512
    chunks = chunks_from_bytes(spark, data, 2048, 256)
    jvm = sorted(tuple(r) for r in entropy_regions(chunks, cfg).collect())
    assert jvm  # the random spans qualify
    _py(monkeypatch)
    py = sorted(tuple(r) for r in entropy_regions(chunks, cfg).collect())
    assert jvm == py


# --- pure-Python hypothesis differential (no Spark): island pre-merge
# vs the per-window form + a naive in-chunk merge with span splits ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:

    def _naive_islands(rows, window_size, span_bytes):
        """Reference: merge adjacent per-window rows, splitting whenever
        the next window's start crosses a span-bucket boundary."""
        out = []
        for s, e, ent in rows:
            if (
                out
                and s == out[-1][1] + 1
                and s // span_bytes == out[-1][0] // span_bytes
            ):
                out[-1][1] = e
                out[-1][2] = max(out[-1][2], ent)
            else:
                out.append([s, e, ent])
        return [tuple(r) for r in out]

    @settings(max_examples=300, deadline=None)
    @given(
        window_size=st.sampled_from([1, 3, 64, 256, 4096]),
        start_mult=st.integers(min_value=0, max_value=10_000),
        start_shift=st.integers(min_value=0, max_value=5),  # misaligned grids
        ents=st.lists(
            st.sampled_from([0.0, 1.0, 3.5, 4.0, 7.99, 8.0]), min_size=0, max_size=600
        ),
        threshold=st.sampled_from([0.5, 4.0, 7.5]),
    )
    def test_hypothesis_island_premerge_differential(
        window_size, start_mult, start_shift, ents, threshold
    ):
        """_qualifying_rows(merged=True) must equal merging its own
        per-window rows with splits at _LEVEL_SPAN bucket boundaries —
        for aligned AND misaligned window grids, any threshold, and
        max-entropy ties. This is the geometric invariant the
        distributed merge's escalation slack relies on; the JVM Emitter
        implements the same grid (pinned bit-exact by the Spark tests
        above)."""
        from swiftbeaver_spark.entropy import _LEVEL_SPAN, _qualifying_rows

        e = np.asarray(ents, dtype=np.float64)
        start = start_mult * window_size + start_shift
        unmerged = _qualifying_rows(start, e, window_size, threshold, False)
        merged = _qualifying_rows(start, e, window_size, threshold, True)
        span_bytes = window_size * _LEVEL_SPAN
        assert merged == _naive_islands(unmerged, window_size, span_bytes)
        # every island pokes at most one window past a span boundary
        for s, end, _ in merged:
            assert (end - (window_size - 1)) // span_bytes == s // span_bytes
