"""Sweep-bound carve handlers and the evidence carve's sweep branch.

bzip2 (end marker) and gzip (next-member magic) carve per hit through
scan_forward: these tests pin the handlers' cut, truncation and window
rules. zip is the only family carve_hits_with_evidence sweeps through
a shared per-bucket index (_SWEEP_FAMILIES); the end-to-end test pins
that branch against the per-hit path on a planted image that also
carries bzip2/gzip hits, which must pass through unchanged.
"""

from __future__ import annotations

import bz2
import gzip as gzip_mod

from swiftbeaver_spark.carvers.archives import _BZIP2_END, carve_bzip2, carve_gzip

from tests.fixtures import BytesReader


def _bzip2(data: bytes, offset: int, max_size: int):
    return carve_bzip2(BytesReader(data), offset, max_size)


def _gzip(data: bytes, offset: int, max_size: int):
    return carve_gzip(BytesReader(data), offset, max_size)


def test_bzip2_aligned_end_marker_identical():
    # the handler cuts on the BYTE-ALIGNED end magic (reference
    # src/carve/bzip2.rs — real streams are bit-packed, so the aligned
    # marker is a best-effort cut); plant one explicitly
    data = b"\x00" * 40 + b"BZh9" + b"\x11" * 300 + _BZIP2_END + b"\xcc" * 200
    out = _bzip2(data, 40, 4096)
    assert out is not None and out.validated
    assert out.end == 40 + 4 + 300 + len(_BZIP2_END)


def test_bzip2_no_end_marker_truncates_identically():
    data = b"\x00" * 16 + b"BZh9" + b"\x11" * 500
    out = _bzip2(data, 16, 128)
    assert out is not None and out.truncated


def test_bzip2_marker_past_window_excluded():
    data = b"BZh9" + b"\x00" * 100 + _BZIP2_END + b"\x00" * 50
    # window ends mid-marker: the marker is excluded
    out = _bzip2(data, 0, 104 + 3)
    assert out is not None and out.truncated
    # window covering the marker: the carve cuts there
    out2 = _bzip2(data, 0, 104 + len(_BZIP2_END))
    assert out2 is not None and out2.validated


def test_gzip_next_member_identical():
    g1 = gzip_mod.compress(b"first member " * 30)
    g2 = gzip_mod.compress(b"second member")
    data = b"\x00" * 8 + g1 + g2 + b"\x00" * 64
    out = _gzip(data, 8, len(data))
    assert out is not None and out.validated
    assert out.end == 8 + len(g1)  # cut at the next member's magic


def test_gzip_no_next_magic_runs_to_eof_identically():
    g1 = gzip_mod.compress(b"only member")
    data = b"\x00" * 4 + g1 + b"\x00" * 32
    out = _gzip(data, 4, len(data))
    assert out is not None and out.validated and out.end == len(data)


def test_evidence_path_sweep_branch_parity(spark, tmp_path):
    """End-to-end: the bucketed sweep branch (zip, the only swept
    family; bzip2/gzip hits carve per hit alongside it) equals the
    per-hit path on a planted image, including under one-row Arrow
    batches (maximal bucket splitting across batches)."""
    import dataclasses

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.config import DEFAULT_CONFIG
    from swiftbeaver_spark.fused_scan import scan_all_from_evidence

    from tests.fixtures import mk_zip

    buf = bytearray(1 << 20)
    plants = [
        (1000, bz2.compress(b"alpha " * 200)),
        (9000, gzip_mod.compress(b"beta " * 300)),
        (12000, gzip_mod.compress(b"gamma")),  # next-member magic for 9000
        (200_000, mk_zip()),
        (400_000, bz2.compress(b"delta " * 50)),
    ]
    for off, blob in plants:
        buf[off : off + len(blob)] = blob
    p = tmp_path / "sweep.raw"
    p.write_bytes(bytes(buf))

    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        file_types=tuple(
            dataclasses.replace(ft, min_size=5)
            for ft in DEFAULT_CONFIG.file_types
            if ft.type_id in ("bzip2", "gzip", "zip")
        ),
    )
    hits = scan_all_from_evidence(spark, str(p), cfg)["hits"]
    swept_rows = carve_hits_with_evidence(hits, str(p), cfg).collect()
    swept = sorted(map(tuple, swept_rows))
    assert len(swept) >= 4

    # per-hit reference: force every family off the sweep branch by
    # marking one member unbounded... instead, call the handlers per
    # hit through a per-hit-only config clone where the sweep families
    # are unmatched. Simpler and exact: re-run with Arrow batches of 1
    # (stresses the cross-batch bucket cache) and compare.
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "1")
        split = sorted(
            map(tuple, carve_hits_with_evidence(hits, str(p), cfg).collect())
        )
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    assert split == swept

    # true per-hit reference via unbounded max_size on one member of
    # each family (routes the family to the per-hit branch); every
    # window fits, so each carve's extent, hashes and validation are
    # identical row for row
    key = ("file_type", "global_start", "global_end", "size", "md5", "sha256", "validated")
    cfg_unbounded = dataclasses.replace(
        cfg,
        file_types=tuple(
            dataclasses.replace(ft, max_size=0) for ft in cfg.file_types
        ),
    )
    perhit = sorted(
        map(
            tuple,
            carve_hits_with_evidence(
                scan_all_from_evidence(spark, str(p), cfg_unbounded)["hits"],
                str(p),
                cfg_unbounded,
            )
            .select(*key)
            .collect(),
        )
    )
    assert perhit == sorted(tuple(r[k] for k in key) for r in swept_rows)
