"""Chunk-join carve operator mechanics: plan laziness (no driver-side
action while building the plan), window caps, and the explicit
`over_cap` error when the reassembly window — not evidence EOF — is what
cut a carve short (reference parity: the native engine positioned-reads
the full file, src/pipeline/workers.rs:208-297, so it has no cap at all;
our cap bounds executor memory and must therefore be honest)."""

from __future__ import annotations

import dataclasses
import struct

import pytest
from pyspark.sql import DataFrame

from swiftbeaver_spark.carve_op import carve_hits_with_chunks
from swiftbeaver_spark.config import DEFAULT_CONFIG

from tests.oracles.chunk_run import CHUNKS, chunks_from_bytes

CFG = dataclasses.replace(DEFAULT_CONFIG, chunk_size=4096, overlap=512)


def big_bmp() -> bytes:
    """Valid BMP declaring 12,342 bytes (64x64x24bpp) — larger than the
    4 KiB test window cap, smaller than a 32 KiB one."""
    width = height = 64
    row = ((width * 24 + 31) // 32) * 4
    file_size = 54 + row * height
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, row * height, 0, 0, 0, 0)
    return (
        b"BM" + struct.pack("<I", file_size) + b"\x00" * 4 + struct.pack("<I", 54)
        + dib + b"\xa5" * (row * height)
    )


def _hits(spark, offset: int):
    return spark.createDataFrame(
        [(offset, "bmp", "bmp_header")],
        "global_offset long, file_type_id string, pattern_id string",
    )


def _evidence() -> bytes:
    bmp = big_bmp()
    return bmp + b"\x00" * (32768 - len(bmp))


def test_plan_is_lazy_no_driver_action(spark, monkeypatch):
    """Building the carve plan must not trigger a Spark job (round-1
    version ran chunks.agg(...).collect() mid-plan — a full extra pass
    over the chunk table per call)."""
    chunks = chunks_from_bytes(spark, _evidence(), CFG.chunk_size, CFG.overlap)
    hits = _hits(spark, 0)

    def boom(self, *a, **k):  # pragma: no cover - must not run
        raise AssertionError("driver-side action during plan construction")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    out = carve_hits_with_chunks(hits, chunks, CFG, evidence_len=32768)
    assert isinstance(out, DataFrame)


def test_over_cap_is_explicit(spark):
    """A carve the window cap cuts short (while evidence continues) must
    say `over_cap`, not pretend the evidence ended."""
    chunks = chunks_from_bytes(spark, _evidence(), CFG.chunk_size, CFG.overlap)
    rec = carve_hits_with_chunks(
        chunks=chunks,
        hits=_hits(spark, 0),
        cfg=CFG,
        window_cap=4096,
        evidence_len=32768,
    ).collect()
    assert len(rec) == 1
    assert rec[0].truncated
    assert "over_cap" in rec[0].errors


def test_per_type_cap_override_carves_fully(spark):
    """A window_cap past the file's size carves it whole: full size,
    not truncated, no over_cap."""
    chunks = chunks_from_bytes(spark, _evidence(), CFG.chunk_size, CFG.overlap)
    rec = carve_hits_with_chunks(
        chunks=chunks,
        hits=_hits(spark, 0),
        cfg=CFG,
        window_cap=32768,
        evidence_len=32768,
    ).collect()
    assert len(rec) == 1
    assert rec[0].size == len(big_bmp())
    assert not rec[0].truncated
    assert "over_cap" not in rec[0].errors


def test_no_evidence_len_falls_back_to_window_extent(spark):
    """Without evidence_len the window extent is EOF: still truncated,
    but no over_cap claim (can't distinguish cap from evidence end)."""
    chunks = chunks_from_bytes(spark, _evidence(), CFG.chunk_size, CFG.overlap)
    rec = carve_hits_with_chunks(
        chunks=chunks,
        hits=_hits(spark, 0),
        cfg=CFG,
        window_cap=4096,
    ).collect()
    assert len(rec) == 1
    assert rec[0].truncated
    assert "over_cap" not in rec[0].errors


def test_chunk_join_rejects_multi_gib_window(spark):
    """A cap whose effective window passes the Arrow single-row bound
    must be rejected loudly — one hit's reassembled window is a
    single row, and a >=2 GiB row breaks Arrow record batches (round-7
    review finding); such types belong on positioned reads."""
    chunks = chunks_from_bytes(spark, _evidence(), CFG.chunk_size, CFG.overlap)
    with pytest.raises(ValueError, match="single-row"):
        carve_hits_with_chunks(
            _hits(spark, 0),
            chunks,
            CFG,
            window_cap=4 << 30,
            evidence_len=32768,
        )


def test_over_cap_type_carves_fully_on_positioned_path(spark, tmp_path):
    """VERDICT r8 task 5: a type whose needed window exceeds the chunk
    path's cap surfaces `over_cap` there (never silent truncation), and
    the SAME hit carves fully via positioned reads — the documented
    rule in carve_hits_with_chunks's docstring."""
    from swiftbeaver_spark.carve_op import carve_hits_with_evidence

    evidence = _evidence()
    path = tmp_path / "evidence.raw"
    path.write_bytes(evidence)

    chunked = carve_hits_with_chunks(
        chunks=chunks_from_bytes(spark, evidence, CFG.chunk_size, CFG.overlap),
        hits=_hits(spark, 0),
        cfg=CFG,
        window_cap=4096,
        evidence_len=len(evidence),
    ).collect()
    assert len(chunked) == 1
    assert chunked[0].truncated
    assert "over_cap" in chunked[0].errors

    positioned = carve_hits_with_evidence(_hits(spark, 0), str(path), CFG).collect()
    assert len(positioned) == 1
    assert not positioned[0].truncated
    assert positioned[0].size == len(big_bmp())
    assert "over_cap" not in positioned[0].errors


def test_scattered_chunk_table_matches_contiguous_and_positioned(spark, tmp_path):
    """A chunk table whose parquet rows are hash-scattered (no
    contiguous runs — the pre-round-8 materialize layout) must carve
    exactly like the contiguous table and like positioned reads: each
    bucket is reassembled in chunk start order, whatever the row
    order."""
    bmp = big_bmp()
    evidence = bytearray()
    offsets = []
    for k in range(6):
        offsets.append(len(evidence))
        evidence += bmp
        evidence += b"\x00" * ((-len(evidence)) % 4096)  # align
        evidence += b"\x00" * 4096  # spacer block
    evidence = bytes(evidence)
    chunks = chunks_from_bytes(spark, evidence, CFG.chunk_size, CFG.overlap)
    pq = str(tmp_path / "scattered.parquet")
    chunks.repartition(7, "chunk_id").write.parquet(pq)
    from swiftbeaver_spark.carve_op import carve_hits_with_evidence

    scattered = spark.read.schema(CHUNKS).parquet(pq)
    hits = spark.createDataFrame(
        [(off, "bmp", "bmp_header") for off in offsets],
        "global_offset long, file_type_id string, pattern_id string",
    )
    sel = ("global_start", "size", "sha256", "truncated")
    want = sorted(
        map(
            tuple,
            carve_hits_with_chunks(
                hits, chunks, CFG, window_cap=32768, evidence_len=len(evidence)
            ).select(*sel).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            carve_hits_with_chunks(
                hits, scattered, CFG, window_cap=32768, evidence_len=len(evidence)
            ).select(*sel).collect(),
        )
    )
    assert len(want) == 6
    assert got == want
    ev_path = tmp_path / "ev.raw"
    ev_path.write_bytes(evidence)
    got_positioned = sorted(
        map(
            tuple,
            carve_hits_with_evidence(hits, str(ev_path), CFG).select(*sel).collect(),
        )
    )
    assert got_positioned == want


def test_windows_across_file_boundaries_match_single_file(spark, tmp_path):
    """Hits whose carve window crosses a parquet-file (and scan
    partition) boundary must carve exactly as from the single-file
    table: a hit's bucket gathers its whole window whichever files the
    chunks live in."""
    bmp = big_bmp()  # 12,342 bytes ~ spans 4 chunks of 4096
    evidence = bytearray()
    offsets = []
    for k in range(8):
        offsets.append(len(evidence))
        evidence += bmp
        pad = (-len(evidence)) % 4096
        evidence += b"\x00" * pad
    evidence = bytes(evidence)
    chunks = chunks_from_bytes(spark, evidence, CFG.chunk_size, CFG.overlap)
    pq = str(tmp_path / "multi.parquet")
    # contiguous ranges, MANY small files: every bmp spans a boundary
    chunks.repartitionByRange(12, "chunk_id").write.parquet(pq)
    multi = spark.read.schema(CHUNKS).parquet(pq)
    hits = spark.createDataFrame(
        [(off, "bmp", "bmp_header") for off in offsets],
        "global_offset long, file_type_id string, pattern_id string",
    )
    sel = ("global_start", "size", "sha256", "truncated", "validated")
    want = sorted(
        map(
            tuple,
            carve_hits_with_chunks(
                hits, chunks, CFG, window_cap=32768, evidence_len=len(evidence)
            ).select(*sel).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            carve_hits_with_chunks(
                hits, multi, CFG, window_cap=32768, evidence_len=len(evidence)
            ).select(*sel).collect(),
        )
    )
    assert len(want) == 8
    assert all(not r[3] for r in want)  # nothing truncated
    assert got == want


def test_backward_anchored_tar_at_run_start_matches_positioned(spark, tmp_path):
    """A tar's ustar hit sits 257 bytes into its header; when the hit
    lands exactly at the start of a parquet run, the carve start backs
    up into the previous file's chunks — the bucket must hold those
    backup bytes, matching positioned reads exactly."""
    from tests.fixtures import mk_tar

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence

    tar = mk_tar()  # 2048 bytes, ustar at +257
    chunk = 1024
    # place the tar so its HIT (start+257) is exactly at a chunk/run
    # boundary: tar start = 4*chunk - 257
    tar_at = 4 * chunk - 257
    evidence = bytearray(b"\x00" * tar_at)
    evidence += tar
    evidence += b"\x00" * (12 * chunk - len(evidence))
    evidence = bytes(evidence)
    cfg = dataclasses.replace(DEFAULT_CONFIG, chunk_size=chunk, overlap=0)
    chunks = chunks_from_bytes(spark, evidence, chunk, 0)
    pq = str(tmp_path / "runs.parquet")
    # 3 contiguous files; run 2 starts at chunk 4 == the hit offset
    chunks.repartitionByRange(3, "chunk_id").write.parquet(pq)
    multi = spark.read.schema(CHUNKS).parquet(pq)
    hits = spark.createDataFrame(
        [(tar_at + 257, "tar", "tar_ustar")],
        "global_offset long, file_type_id string, pattern_id string",
    )
    sel = ("global_start", "size", "sha256", "truncated")
    ev_path = tmp_path / "ev.raw"
    ev_path.write_bytes(evidence)
    want = sorted(
        map(tuple, carve_hits_with_evidence(hits, str(ev_path), cfg).select(*sel).collect())
    )
    got = sorted(
        map(
            tuple,
            carve_hits_with_chunks(
                hits, multi, cfg, window_cap=8 * chunk, evidence_len=len(evidence)
            ).select(*sel).collect(),
        )
    )
    assert len(want) == 1
    assert want[0][0] == tar_at  # carve start backed up 257 bytes
    assert got == want


def test_random_layouts_match_positioned(spark, tmp_path):
    """Differential totality: random evidence mixing forward-truncating
    (bmp) and backward-anchored (tar) types, random chunk/overlap
    geometry, random parquet layouts (contiguous ranges, hash-scattered,
    many small files) — the chunk strategy must match positioned reads
    on every (start, size, sha256, truncated) tuple, for every layout.
    Deterministic seeds; exercises windows crossing file and bucket
    boundaries and header backup across run starts."""
    import random

    from tests.fixtures import mk_tar

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence

    tar = mk_tar()
    bmp = big_bmp()
    sel = ("global_start", "size", "sha256", "truncated")
    for seed, chunk, overlap in ((1, 1024, 0), (2, 2048, 256), (3, 4096, 512)):
        rng = random.Random(seed)
        evidence = bytearray()
        hits = []
        for _ in range(12):
            evidence += b"\x00" * rng.randrange(1, 3000)
            pad = (-len(evidence)) % 512
            evidence += b"\x00" * pad
            if rng.random() < 0.5:
                hits.append((len(evidence) + 257, "tar", "tar_ustar"))
                evidence += tar
            else:
                hits.append((len(evidence), "bmp", "bmp_header"))
                evidence += bmp
        evidence += b"\x00" * ((-len(evidence)) % chunk)
        evidence = bytes(evidence)
        cfg = dataclasses.replace(DEFAULT_CONFIG, chunk_size=chunk, overlap=overlap)
        hits_df = spark.createDataFrame(
            hits, "global_offset long, file_type_id string, pattern_id string"
        )
        ev_path = tmp_path / f"ev{seed}.raw"
        ev_path.write_bytes(evidence)
        want = sorted(
            map(
                tuple,
                carve_hits_with_evidence(hits_df, str(ev_path), cfg)
                .select(*sel)
                .collect(),
            )
        )
        assert len(want) == 12
        chunks = chunks_from_bytes(spark, evidence, chunk, overlap)
        layouts = {
            "ranges": chunks.repartitionByRange(rng.randrange(2, 9), "chunk_id"),
            "scattered": chunks.repartition(5, "chunk_id"),
            "single": chunks.coalesce(1),
        }
        for name, df in layouts.items():
            pq = str(tmp_path / f"l{seed}_{name}.parquet")
            df.write.mode("overwrite").parquet(pq)
            got = sorted(
                map(
                    tuple,
                    carve_hits_with_chunks(
                        hits_df,
                        spark.read.schema(CHUNKS).parquet(pq),
                        cfg,
                        window_cap=len(bmp) + 4 * chunk,
                        evidence_len=len(evidence),
                    )
                    .select(*sel)
                    .collect(),
                )
            )
            assert got == want, f"seed={seed} layout={name}"
