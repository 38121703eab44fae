"""Engine.run's evidence scan path.

Engine.run(evidence_path=...) always runs the one-pass multi-scan; it
must produce IDENTICAL tables to the chunk-table strategy
(chunk_join=True) on raw and E01 evidence — with scan limits, with
string scan on and off, and with entropy windows that divide neither
the sub-chunk granule nor chunk_size. This file pins the ENGINE wiring
(table graph, limits, persist lifetime, path selection); the scan
kernels themselves are differential-pinned in tests/test_fused_scan.py.
"""

from __future__ import annotations

import dataclasses
import os

import pytest

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine, write_tables
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from swiftbeaver_spark.jvm import ensure_kernel

from tests.fixtures import mk_jpeg, mk_png
from tests.test_browser import build_chrome_db
from tests.test_fused_scan import CFG as FUSED_CFG
from tests.test_fused_scan import GRANULE, build_image


@pytest.fixture(autouse=True)
def require_kernel(spark):
    assert ensure_kernel(spark), "JVM kernel must register in the test env"


# engine geometry: SUBCHUNK_GRANULE (16 MiB) >= chunk_size, so the
# sub-chunk tiling degenerates to one sub-chunk per parent
CFG = dataclasses.replace(FUSED_CFG, chunk_size=2 << 20)

TABLES = (
    "hits",
    "string_spans",
    "string_artefacts",
    "entropy_regions",
    "carved_files",
    "chunks",
    "run_summary",
)


def _tables(result):
    out = {}
    for name in TABLES:
        if name not in result.tables:
            continue
        df = result[name]
        if name == "chunks":  # plan rows vs byte rows: compare geometry
            df = df.select("chunk_id", "start", "valid_length")
        out[name] = sorted(map(tuple, df.collect()))
    return out


def _evidence(tmp_path, kind: str, seed: int, size: int) -> str:
    data = build_image(seed, size)
    if kind == "e01":
        from swiftbeaver_spark.ewf import write_ewf

        p = str(tmp_path / "ev.E01")
        write_ewf(p, data, sectors_per_chunk=8)
        return p
    p = tmp_path / "ev.raw"
    p.write_bytes(data)
    return str(p)


def _assert_same_run(spark, path, cfg=CFG):
    """run(evidence_path) goes one-pass and equals run(chunk_join=True)."""
    eng = Engine(spark, cfg)
    one = eng.run(evidence_path=path)
    assert one.persisted, "one-pass must persist the raw metadata frame"
    try:
        got = _tables(one)
    finally:
        one.unpersist()
    base = _tables(eng.run(evidence_path=path, chunk_join=True))
    assert got == base
    assert got["hits"] and got["carved_files"]
    return got


def test_one_pass_matches_default_raw(spark, tmp_path):
    got = _assert_same_run(spark, _evidence(tmp_path, "raw", 11, 7 << 20))
    assert got["entropy_regions"] and got["string_spans"]


def test_one_pass_matches_default_e01(spark, tmp_path):
    got = _assert_same_run(spark, _evidence(tmp_path, "e01", 12, 5 << 20))
    assert got["entropy_regions"] and got["string_spans"]


def test_one_pass_matches_default_with_limits(spark, tmp_path):
    p = _evidence(tmp_path, "raw", 13, 7 << 20)
    for strings in (True, False):
        cfg = dataclasses.replace(
            CFG, max_bytes=3 << 20, max_chunks=3, enable_string_scan=strings
        )
        _assert_same_run(spark, p, cfg)


@pytest.mark.parametrize("kind", ["raw", "e01"])
def test_string_scan_off_runs_one_pass(spark, tmp_path, kind):
    """The CLI default (no --enable-string-scan) takes the one-pass
    scan too: the UDF skips the span kernel, the run has no string
    tables, and hits/carves/entropy equal the chunk-table run."""
    cfg = dataclasses.replace(CFG, enable_string_scan=False)
    got = _assert_same_run(spark, _evidence(tmp_path, kind, 16, 5 << 20), cfg)
    assert "string_spans" not in got and "string_artefacts" not in got
    assert got["entropy_regions"]


@pytest.mark.parametrize("kind", ["raw", "e01"])
def test_misaligned_entropy_window_runs_one_pass(spark, tmp_path, kind):
    """entropy_window_size=3000 divides neither the granule nor
    chunk_size; the sub-chunk tiling aligns to it on its own."""
    cfg = dataclasses.replace(CFG, entropy_window_size=3000)
    got = _assert_same_run(spark, _evidence(tmp_path, kind, 17, 5 << 20), cfg)
    assert got["entropy_regions"]


def test_auto_selects_one_pass_when_ready(spark, tmp_path):
    """Every evidence run without chunk_join goes one-pass — raw and
    E01, string scan off, any entropy window."""
    raw = _evidence(tmp_path, "raw", 14, 2 << 20)
    e01 = _evidence(tmp_path, "e01", 14, 2 << 20)
    for path, cfg in (
        (raw, CFG),
        (e01, CFG),
        (raw, dataclasses.replace(CFG, enable_string_scan=False)),
        (raw, dataclasses.replace(CFG, entropy_window_size=3000)),
    ):
        res = Engine(spark, cfg).run(evidence_path=path)
        assert res.persisted
        res.unpersist()


def test_detection_off_omits_entropy_tables(spark, tmp_path):
    """ADVICE r11: with enable_entropy_detection False the fused scan
    must not return entropy tables (the UDF skips the Ent kernel)."""
    p = tmp_path / "ev.raw"
    p.write_bytes(build_image(15, 3 << 20))
    cfg = dataclasses.replace(
        CFG, enable_entropy_detection=False, entropy_window_size=3000
    )
    t = scan_all_from_evidence(spark, str(p), cfg, granule=GRANULE)
    assert "entropy_windows" not in t and "entropy_regions" not in t
    t["raw"].persist()
    try:
        assert t["hits"].count() > 0
        assert t["string_spans"].count() > 0
    finally:
        t["raw"].unpersist()


def test_zip_bucket_cache_batch_split_parity(spark, tmp_path):
    """ADVICE r11: carve_zips' per-bucket EOCD index now caches across
    Arrow batches; forcing one-row batches (maximal bucket splitting)
    must yield byte-identical carves to the default batch size."""
    import io
    import zipfile

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence

    def mk_zip(tag: bytes) -> bytes:
        bio = io.BytesIO()
        with zipfile.ZipFile(bio, "w") as z:
            z.writestr("a.txt", tag * 40)
        return bio.getvalue()

    buf = bytearray(2 << 20)
    for i, off in enumerate((100, 5_000, 9_000, 300_000, 1_500_000)):
        blob = mk_zip(bytes([65 + i]))
        buf[off : off + len(blob)] = blob
    p = tmp_path / "zips.raw"
    p.write_bytes(bytes(buf))
    cfg = dataclasses.replace(
        CFG,
        file_types=tuple(
            ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "zip"
        ),
    )
    hits = scan_all_from_evidence(spark, str(p), cfg)["hits"]
    base = sorted(map(tuple, carve_hits_with_evidence(hits, str(p), cfg).collect()))
    assert len(base) == 5
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
    assert split == base


def test_one_pass_jpeg_png_carve_content(spark, tmp_path):
    """The one-pass carves recover the planted files byte-for-byte
    (sha256 parity with the fixtures), not just row-count parity."""
    import hashlib

    jpeg, png = mk_jpeg(), mk_png()
    buf = bytearray(2 << 20)
    buf[1000 : 1000 + len(jpeg)] = jpeg
    buf[500_000 : 500_000 + len(png)] = png
    p = tmp_path / "ev.raw"
    p.write_bytes(bytes(buf))
    eng = Engine(spark, CFG)
    res = eng.run(evidence_path=str(p))
    try:
        rows = {
            r["file_type"]: r
            for r in res["carved_files"].collect()
        }
    finally:
        res.unpersist()
    assert rows["jpeg"]["sha256"] == hashlib.sha256(jpeg).hexdigest()
    assert rows["png"]["sha256"] == hashlib.sha256(png).hexdigest()


def _mtimes(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


@pytest.mark.parametrize("kind", ["raw", "e01"])
def test_analyst_run_carves_once(spark, tmp_path, kind):
    """An analyst run (run + write_tables) carves each hit once: after
    the write, driving the browser tables and carved_files again reads
    the persisted carve and parse frames, so no carved-bytes file under
    cfg.output_dir is rewritten (a re-carve reopens each with "wb").
    The returned summary is the row write_tables wrote."""
    db = tmp_path / "History"
    build_chrome_db(str(db))
    jpeg, blob = mk_jpeg(), db.read_bytes()
    buf = bytearray(1 << 20)
    buf[4096 : 4096 + len(jpeg)] = jpeg
    buf[65536 : 65536 + len(blob)] = blob
    if kind == "e01":
        from swiftbeaver_spark.ewf import write_ewf

        p = str(tmp_path / "ev.E01")
        write_ewf(p, bytes(buf), sectors_per_chunk=8)
    else:
        p = str(tmp_path / "ev.raw")
        (tmp_path / "ev.raw").write_bytes(bytes(buf))
    carved_dir, out = str(tmp_path / "carved"), str(tmp_path / "out")
    cfg = dataclasses.replace(
        CFG, output_dir=carved_dir, enable_sqlite_page_recovery=True
    )
    res = Engine(spark, cfg).run(evidence_path=p)
    try:
        summary = write_tables(res, out)
        written = _mtimes(carved_dir)
        assert len(written) == 2  # the jpeg and the sqlite DB
        for name in ("browser_history", "browser_cookies", "browser_downloads",
                     "carved_files"):
            assert res[name].collect()
        assert _mtimes(carved_dir) == written
        assert summary["files_carved"] == 2
        assert summary["hits_found"] >= 2
        row = spark.read.parquet(f"{out}/run_summary").drop("run_id").collect()
        assert [r.asDict() for r in row] == [summary]
    finally:
        res.unpersist()
