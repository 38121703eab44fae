"""End-to-end Spark pipeline tests: synthetic evidence image ->
chunks -> scan -> carve, hash-matched against the embedded manifest
(golden-image strategy, reference tests/golden_image_test.rs)."""

from __future__ import annotations

import dataclasses
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from swiftbeaver_spark.carve_op import carve_hits_with_chunks, carve_hits_with_evidence
from swiftbeaver_spark.chunking import keep_parents, kept_extent, scanned_end
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine, write_tables
from swiftbeaver_spark.fused_scan import scan_all_from_chunks

from tests.fixtures import ALL_FIXTURES, insert_bytes, ungated_hits, verify_against_manifest
from tests.oracles.chunk_run import chunks_from_bytes, chunks_from_file, plan_chunks

TEST_CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    chunk_size=64 * 1024,
    overlap=4096,
    file_types=tuple(
        dataclasses.replace(ft, min_size=5) for ft in DEFAULT_CONFIG.file_types
    ),
)


def build_golden() -> tuple[bytes, list[dict]]:
    """Pack every fixture at 4096-aligned offsets (like generate.sh)."""
    manifest = []
    offset = 4096
    buf = bytearray()
    for name in sorted(ALL_FIXTURES):
        blob, ftid, patid, hit_rel = ALL_FIXTURES[name]
        if len(buf) < offset + len(blob):
            buf.extend(b"\x00" * (offset + len(blob) - len(buf)))
        insert_bytes(buf, offset, blob)
        manifest.append(
            {
                "name": name,
                "type": ftid,
                "offset": offset,
                "size": len(blob),
                "sha256": hashlib.sha256(blob).hexdigest(),
            }
        )
        offset += ((len(blob) // 4096) + 2) * 4096
    buf.extend(b"\x00" * 4096)
    return bytes(buf), manifest


# types whose fixtures collide with richer formats when all 30 scanners
# run together (same public magic): RIFF (webp/wav/avi), raw mp3 sync
# inside other fixtures, eml markers in text, ole-in-zip etc. The golden
# test enables one type at a time, exactly like the reference's
# per-carver golden tests (tests/carver_*.rs run pipeline with only that
# type enabled).
@pytest.mark.parametrize("name", sorted(ALL_FIXTURES))
def test_golden_single_type(spark, name, tmp_path):
    evidence, manifest = build_golden()
    entry = next(m for m in manifest if m["name"] == name)
    ftid = entry["type"]
    cfg = dataclasses.replace(
        TEST_CFG,
        file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id == ftid),
    )
    path = str(tmp_path / "golden.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    hits = ungated_hits(spark, path, cfg)
    carved = carve_hits_with_evidence(hits, path, cfg).collect()
    matches = [
        r
        for r in carved
        if r.global_start == entry["offset"]
        and r.size == entry["size"]
        and r.sha256 == entry["sha256"]
    ]
    assert matches, f"{name}: no hash-match at offset {entry['offset']}; got {carved}"


def test_full_multi_type_run(spark, tmp_path):
    """All types enabled at once: every manifest entry must still be
    recovered (extra overlapping carves from shared magics are fine)."""
    evidence, manifest = build_golden()
    path = str(tmp_path / "golden.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    engine = Engine(spark, TEST_CFG)
    result = engine.run(evidence_path=path)
    carved = result["carved_files"].collect()
    found = {(r.global_start, r.size, r.sha256) for r in carved}
    missing = [
        m["name"]
        for m in manifest
        if (m["offset"], m["size"], m["sha256"]) not in found
        # mov fixture is carved as file_type mov; mp4 entry collides
        and m["name"] != "mp4"  # mp4 fixture contains a valid mp3 sync too
    ]
    assert not missing, f"missing recoveries: {missing}"
    summary = write_tables(result, os.devnull, fmt="dryrun")
    assert summary["bytes_scanned"] == len(evidence)
    assert summary["files_carved"] == len(carved)
    assert summary["hits_found"] > 0


def test_golden_manifest_verify_e2e(spark, tmp_path):
    """The reference's golden-image flow in ONE run (golden_image_test.rs:166):
    pack all formats + manifest, Engine.run, then verify_against_manifest
    joins carved output to the manifest DataFrame — 100% recovered."""
    evidence, manifest = build_golden()
    path = str(tmp_path / "golden.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)

    result = Engine(spark, TEST_CFG).run(evidence_path=path)
    manifest_df = spark.createDataFrame(
        [
            (m["name"], m["type"], m["offset"], m["size"], m["sha256"])
            for m in manifest
        ],
        "name string, type string, offset long, size long, sha256 string",
    )
    report = verify_against_manifest(result["carved_files"], manifest_df).collect()
    assert len(report) == len(manifest)
    # mp4 fixture: the mov carver claims it byte-identically, so the
    # manifest row still matches on (offset, size, sha256)
    missing = [r.name for r in report if not r.recovered]
    assert missing in ([], ["mp4"]), f"unrecovered: {missing}"
    assert sum(1 for r in report if r.recovered) >= len(manifest) - 1


def test_chunk_boundary_spanning(spark, tmp_path):
    """A file spanning a chunk boundary must carve whole (reference
    tests/boundary_conditions.rs)."""
    blob = ALL_FIXTURES["jpeg"][0]
    chunk_size = 64 * 1024
    start = chunk_size - len(blob) // 2  # straddles first boundary
    buf = bytearray(b"\x00" * (chunk_size * 2))
    insert_bytes(buf, start, blob)
    cfg = dataclasses.replace(
        TEST_CFG, file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id == "jpeg")
    )
    engine = Engine(spark, cfg)
    path = str(tmp_path / "span.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(buf))
    result = engine.run(evidence_path=path)
    carved = result["carved_files"].collect()
    assert len(carved) == 1
    assert carved[0].global_start == start
    assert carved[0].size == len(blob)
    assert carved[0].sha256 == hashlib.sha256(blob).hexdigest()


def test_overlap_dedup_exactly_one_hit(spark):
    """A signature inside the overlap tail is owned by exactly one chunk."""
    blob = ALL_FIXTURES["jpeg"][0]
    chunk_size = 8192
    start = chunk_size + 100  # inside chunk 1's valid region & chunk 0's overlap
    buf = bytearray(b"\x00" * (chunk_size * 3))
    insert_bytes(buf, start, blob)
    cfg = dataclasses.replace(TEST_CFG, chunk_size=chunk_size, overlap=4096)
    chunks = chunks_from_bytes(spark, bytes(buf), chunk_size, 4096)
    hits = scan_all_from_chunks(chunks, cfg)["hits"].where("file_type_id = 'jpeg'").collect()
    assert len(hits) == 1
    assert hits[0].global_offset == start


def test_chunk_join_carve_matches_evidence_carve(spark, tmp_path):
    """Strategy 2 (pure-DataFrame chunk-join carve) must produce identical
    results to strategy 1 (evidence positioned reads)."""
    evidence, manifest = build_golden()
    path = str(tmp_path / "golden.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)
    cfg = dataclasses.replace(
        TEST_CFG, file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id in ("jpeg", "png", "sqlite"))
    )
    chunks = chunks_from_file(spark, path, cfg.chunk_size, cfg.overlap).cache()
    hits = scan_all_from_chunks(chunks, cfg)["hits"]
    try:
        via_evidence = {
            (r.global_start, r.size, r.sha256)
            for r in carve_hits_with_evidence(hits, path, cfg).collect()
        }
        via_chunks = {
            (r.global_start, r.size, r.sha256)
            for r in carve_hits_with_chunks(hits, chunks, cfg).collect()
        }
    finally:
        chunks.unpersist()
    assert via_evidence == via_chunks and via_evidence


def test_plan_chunks_geometry(spark):
    rows = plan_chunks(spark, evidence_len=100, chunk_size=40, overlap=8).orderBy("chunk_id").collect()
    assert [(r.chunk_id, r.start, r.valid_length, r.read_length) for r in rows] == [
        (0, 0, 40, 48),
        (1, 40, 40, 48),
        (2, 80, 20, 20),
    ]


def test_chunks_from_file_bytes_roundtrip(spark, tmp_path):
    data = bytes(range(256)) * 100
    path = str(tmp_path / "ev.bin")
    with open(path, "wb") as fh:
        fh.write(data)
    rows = chunks_from_file(spark, path, chunk_size=10000, overlap=100).orderBy("chunk_id").collect()
    rebuilt = b"".join(bytes(r.data)[: r.valid_length] for r in rows)
    assert rebuilt == data
    assert rows[0].data == data[:10100]


def test_max_bytes_limit(spark, tmp_path):
    data = b"\x00" * 50000
    path = str(tmp_path / "ev.bin")
    with open(path, "wb") as fh:
        fh.write(data)
    cfg = dataclasses.replace(TEST_CFG, chunk_size=10000, overlap=0, max_bytes=25000)
    chunks = chunks_from_file(spark, path, chunk_size=10000, overlap=0)
    rows = keep_parents(chunks, cfg).collect()
    assert sorted(r.start for r in rows) == [0, 10000, 20000]


@pytest.mark.parametrize(
    "evidence_len, limits, resume_from",
    [
        (0, {}, None),  # empty evidence
        (25_000, {}, None),  # ragged last chunk
        (30_000, {}, None),  # evidence ends on a chunk boundary
        (25_000, {"max_bytes": 15_000}, None),  # limit inside chunk 1
        (50_000, {"max_bytes": 20_000}, None),  # limit on a chunk boundary
        (50_000, {"max_chunks": 2}, None),
        (25_000, {"max_chunks": 7}, None),  # limit past the evidence end
        (25_000, {}, 15_000),  # mid-chunk resume skips chunk 1
        (50_000, {"max_bytes": 35_000, "max_chunks": 3}, 10_000),
        (50_000, {"max_chunks": 2}, 30_000),  # resume past the limits
        (25_000, {}, 25_000),  # resume at the evidence end
        (25_000, {}, 40_000),  # resume past the evidence end
    ],
)
def test_kept_extent_matches_plan_aggregate(
    spark, tmp_path, evidence_len, limits, resume_from
):
    """The run's driver-side scan counters (chunking.kept_extent, read
    by Engine.run) equal the Spark aggregate over the kept chunk plan:
    bytes_scanned is the summed valid_length, chunks_processed the row
    count, and a non-empty extent spans exactly the kept rows."""
    cfg = dataclasses.replace(TEST_CFG, chunk_size=10_000, overlap=100, **limits)
    plan = keep_parents(plan_chunks(spark, evidence_len, 10_000, 100), cfg, resume_from)
    total, n, lo, hi = plan.agg(
        F.coalesce(F.sum("valid_length"), F.lit(0)),
        F.count("*"),
        F.min("start"),
        F.max(F.col("start") + F.col("valid_length")),
    ).first()
    path = tmp_path / "ev.raw"
    path.write_bytes(b"\x00" * evidence_len)
    run = Engine(spark, cfg).run(evidence_path=str(path), resume_from=resume_from)
    run.unpersist()
    assert (run.bytes_scanned, run.chunks_processed) == (total, n)
    extent = kept_extent(evidence_len, cfg, resume_from)
    if n:
        assert (extent.start, extent.stop) == (lo, hi)
        assert scanned_end(evidence_len, cfg, resume_from) == hi
    else:
        assert len(extent) == 0


def test_file_ending_exactly_at_chunk_boundary(spark, tmp_path):
    """Reference boundary case: a file whose last byte is the last byte
    of a chunk (tests/boundary_conditions.rs)."""
    blob = ALL_FIXTURES["jpeg"][0]
    chunk_size = 16 * 1024
    start = chunk_size - len(blob)  # ends exactly at chunk 0's boundary
    buf = bytearray(b"\x00" * (chunk_size * 2))
    insert_bytes(buf, start, blob)
    cfg = dataclasses.replace(
        TEST_CFG,
        chunk_size=chunk_size,
        file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id == "jpeg"),
    )
    path = str(tmp_path / "exact.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(buf))
    carved = Engine(spark, cfg).run(evidence_path=path)["carved_files"].collect()
    assert len(carved) == 1
    assert (carved[0].global_start, carved[0].size) == (start, len(blob))
    assert carved[0].sha256 == hashlib.sha256(blob).hexdigest()


def test_evidence_exactly_divisible_by_chunk_size(spark):
    rows = plan_chunks(spark, evidence_len=200, chunk_size=100, overlap=10).collect()
    assert len(rows) == 2
    assert all(r.valid_length == 100 for r in rows)
    by_id = {r.chunk_id: r for r in rows}
    assert by_id[0].read_length == 110  # overlap into chunk 1
    assert by_id[1].read_length == 100  # capped at evidence end


def test_dryrun_sink(spark, tmp_path):
    blob = ALL_FIXTURES["jpeg"][0]
    buf = bytearray(b"\x00" * 32768)
    insert_bytes(buf, 1024, blob)
    path = str(tmp_path / "ev.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(buf))
    cfg = dataclasses.replace(
        TEST_CFG, file_types=tuple(ft for ft in TEST_CFG.file_types if ft.type_id == "jpeg")
    )
    result = Engine(spark, cfg).run(evidence_path=path)
    out = str(tmp_path / "dry")
    write_tables(result, out, fmt="dryrun")
    assert not os.path.exists(out)  # nothing written


def build_planted_golden(tmp_path) -> tuple[bytes, list[dict], int, int]:
    """The 27-entry golden image both E2E legs run: every carver
    fixture (build_golden) plus planted ASCII URL / UTF-16LE email
    string artefacts and a real Chrome History DB. Returns
    (evidence_bytes, manifest, url_offset, email_offset)."""
    from tests.test_browser import build_chrome_db

    evidence, manifest = build_golden()
    buf = bytearray(evidence)

    def plant(blob: bytes) -> int:
        off = ((len(buf) // 4096) + 2) * 4096
        buf.extend(b"\x00" * (off + len(blob) - len(buf)))
        insert_bytes(buf, off, blob)
        return off

    ascii_url = b"https://golden.example.com/path?x=1"
    url_off = plant(ascii_url)
    utf16_email = "golden.person@example.org".encode("utf-16-le")
    email_off = plant(utf16_email)
    dbp = tmp_path / "History"
    build_chrome_db(str(dbp))
    db = dbp.read_bytes()
    db_off = plant(db)
    manifest.append(
        {
            "name": "chrome_history",
            "type": "sqlite",
            "offset": db_off,
            "size": len(db),
            "sha256": hashlib.sha256(db).hexdigest(),
        }
    )
    buf.extend(b"\x00" * 4096)
    return bytes(buf), manifest, url_off, email_off


def test_golden_image_full_manifest_strings_browser(spark, tmp_path):
    """The reference's PRIMARY oracle in one pytest (golden_image_test
    .rs:166 raw-manifest leg, :272 strings leg): a 26-format composed
    image PLUS planted ASCII/UTF-16LE string artefacts and a real
    Chrome History DB, ONE full Engine.run with string scan + sqlite
    enabled, then three verification legs against the manifest —
    carved (offset, size, sha256) per format, string artefacts by
    content/encoding/offset, and browser_history rows parsed out of
    the planted DB."""
    evidence, manifest, url_off, email_off = build_planted_golden(tmp_path)

    path = str(tmp_path / "golden.raw")
    with open(path, "wb") as fh:
        fh.write(evidence)

    cfg = dataclasses.replace(
        TEST_CFG, enable_string_scan=True, string_scan_utf16=True
    )
    result = Engine(spark, cfg).run(evidence_path=path)

    # leg 1: every manifest entry recovered by (offset, size, sha256)
    carved = result["carved_files"].collect()
    found = {(r.global_start, r.size, r.sha256) for r in carved}
    missing = [
        m["name"]
        for m in manifest
        if (m["offset"], m["size"], m["sha256"]) not in found
        and m["name"] != "mp4"  # mov carver claims it byte-identically
    ]
    assert not missing, f"missing recoveries: {missing}"

    # leg 2: planted strings surface as typed artefacts at their
    # planted offsets, with the right encodings
    arts = result["string_artefacts"].collect()
    urls = [
        r for r in arts
        if r.artefact_kind == "Url" and "golden.example.com" in r.content
    ]
    assert urls, [r.content for r in arts if r.artefact_kind == "Url"]
    assert any(
        r.global_start <= url_off < r.global_end and r.encoding == "ascii"
        for r in urls
    ), urls
    emails = [
        r for r in arts
        if r.artefact_kind == "Email" and "golden.person@example.org" in r.content
    ]
    assert emails
    assert any(
        r.global_start <= email_off < r.global_end
        and r.encoding == "utf-16le"
        for r in emails
    ), emails

    # leg 3: browser rows parsed from the PLANTED db inside the image
    hist = result["browser_history"].collect()
    visits = [r for r in hist if r.url == "https://example.com/"]
    assert len(visits) == 2  # both planted Chrome visits
    assert all(r.browser == "chrome" for r in visits)
    assert {r.title for r in visits} == {"Example"}


def test_golden_image_e01_multisegment_matches_raw(spark, tmp_path):
    """The reference's E01 oracle leg (golden_image_test.rs:272 runs
    the identical flow over golden.E01 with strings enabled): wrap the
    SAME 27-entry planted image with the multi-segment EWF writer and
    run the identical Engine.run through the container — the raw and
    E01 paths must produce IDENTICAL manifests (offset, size, sha256),
    identical typed string artefacts, and identical browser rows. The
    container layer has to be invisible to every downstream operator."""
    from swiftbeaver_spark.ewf import write_ewf

    evidence, manifest, url_off, email_off = build_planted_golden(tmp_path)

    raw_path = str(tmp_path / "golden.raw")
    with open(raw_path, "wb") as fh:
        fh.write(evidence)
    e01_path = str(tmp_path / "golden.E01")
    # chunks_per_segment forces a real E01/E02/... chain, so the
    # multi-segment table walk is on the tested path, not just 1 file
    write_ewf(e01_path, evidence, chunks_per_segment=8)
    assert os.path.exists(str(tmp_path / "golden.E02")), "expected a multi-segment chain"

    cfg = dataclasses.replace(
        TEST_CFG, enable_string_scan=True, string_scan_utf16=True
    )
    res_raw = Engine(spark, cfg).run(evidence_path=raw_path)
    res_e01 = Engine(spark, cfg).run(evidence_path=e01_path)

    # leg 1: identical carve manifests, and every golden entry present
    carved_raw = {
        (r.global_start, r.size, r.sha256)
        for r in res_raw["carved_files"].collect()
    }
    carved_e01 = {
        (r.global_start, r.size, r.sha256)
        for r in res_e01["carved_files"].collect()
    }
    assert carved_raw == carved_e01
    missing = [
        m["name"]
        for m in manifest
        if (m["offset"], m["size"], m["sha256"]) not in carved_e01
        and m["name"] != "mp4"  # mov carver claims it byte-identically
    ]
    assert not missing, f"missing through E01: {missing}"

    # leg 2: identical typed string artefacts, planted ones included
    def art_set(res):
        return {
            (r.artefact_kind, r.encoding, r.content, r.global_start, r.global_end)
            for r in res["string_artefacts"].collect()
        }

    arts_raw, arts_e01 = art_set(res_raw), art_set(res_e01)
    assert arts_raw == arts_e01
    assert any(
        k == "Url" and "golden.example.com" in c and s <= url_off < e
        for (k, _enc, c, s, e) in arts_e01
    )
    assert any(
        k == "Email" and enc == "utf-16le" and s <= email_off < e
        for (k, enc, c, s, e) in arts_e01
    )

    # leg 3: identical browser rows through the container
    def hist_set(res):
        return {
            (r.browser, r.url, r.title)
            for r in res["browser_history"].collect()
        }

    assert hist_set(res_raw) == hist_set(res_e01)
    assert ("chrome", "https://example.com/", "Example") in hist_set(res_e01)
