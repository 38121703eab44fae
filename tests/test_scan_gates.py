"""bmp / ico scan-time gates (round 13, generalizing the mp3 gate —
see tests/test_mp3_gate.py for the m3 contract). Same soundness rule:
a gate drops a hit only when the evidence bytes prove the carver would
return None; carved rows are identical with the gate on or off (and on
the ungated chunk-table scan); raw and
E01 evidence gate hit-for-hit alike.
"""

from __future__ import annotations

import dataclasses
import random
import struct

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.fused_scan import scan_all_from_evidence
from tests.fixtures import assert_gates_sound, mk_bmp, ungated_hits

GATE_CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    file_types=tuple(
        dataclasses.replace(ft, min_size=5)
        for ft in DEFAULT_CONFIG.file_types
        if ft.type_id in ("bmp", "ico")
    ),
    chunk_size=64 * 1024,
    overlap=4096,
)


def _mk_ico() -> bytes:
    # 1-entry icon: BMP-style image (28 00 DIB) at offset 22
    img = struct.pack("<IiiHH", 40, 16, 32, 1, 32) + b"\x00" * 24
    directory = struct.pack("<BBBBHHII", 16, 16, 0, 0, 1, 32, len(img), 22)
    return struct.pack("<HHH", 0, 1, 1) + directory + img


def _evidence() -> tuple[bytes, set[int], set[int]]:
    buf = bytearray(200_000)
    kept: set[int] = set()
    dropped: set[int] = set()

    bmp = mk_bmp()
    buf[1_000 : 1_000 + len(bmp)] = bmp
    kept.add(1_000)

    # "BM" + garbage: file_size < 14
    buf[20_000 : 20_000 + 6] = b"BM\x01\x00\x00\x00"
    dropped.add(20_000)
    # "BM" + plausible sizes but invalid DIB size
    buf[30_000 : 30_000 + 18] = b"BM" + struct.pack("<IHHII", 5000, 0, 0, 54, 39)
    dropped.add(30_000)
    # "BM" at evidence EOF (short header read)
    buf[len(buf) - 10 : len(buf) - 8] = b"BM"
    dropped.add(len(buf) - 10)

    ico = _mk_ico()
    buf[50_000 : 50_000 + len(ico)] = ico
    kept.add(50_000)

    # ico type word with count 0 (zero-fill false positive)
    buf[60_000 : 60_000 + 6] = b"\x00\x00\x01\x00\x00\x00"
    dropped.add(60_000)
    # count past _ICO_MAX_ENTRIES
    buf[70_000 : 70_000 + 6] = b"\x00\x00\x01\x00\xff\x00"
    dropped.add(70_000)
    # plausible count but first entry img_off inside the directory
    buf[80_000 : 80_000 + 6] = b"\x00\x00\x02\x00\x01\x00"
    buf[80_006 : 80_006 + 16] = struct.pack("<BBBBHHII", 16, 16, 0, 0, 1, 32, 64, 3)
    dropped.add(80_000)

    return bytes(buf), kept, dropped


def _scan_offsets(spark, path: str) -> dict[str, set[int]]:
    out: dict[str, set[int]] = {}
    for r in scan_all_from_evidence(spark, path, GATE_CFG)["hits"].collect():
        out.setdefault(r.file_type_id, set()).add(r.global_offset)
    return out


def test_gates_drop_false_headers_keep_real(spark, tmp_path):
    buf, kept, dropped = _evidence()
    path = str(tmp_path / "gate.raw")
    with open(path, "wb") as fh:
        fh.write(buf)
    by_type = _scan_offsets(spark, path)
    got = set().union(*by_type.values()) if by_type else set()
    assert kept <= got
    assert not (dropped & got), sorted(dropped & got)
    assert 1_000 in by_type.get("bmp", set())
    assert 50_000 in by_type.get("ico", set())


def test_gates_python_fallback_and_e01_identical(spark, tmp_path):
    from swiftbeaver_spark.ewf import write_ewf

    rng = random.Random(31)
    buf = bytearray(rng.randbytes(256 * 1024))
    planted, _, _ = _evidence()
    buf[: len(planted)] = planted  # reals + planted negatives + random noise
    path = str(tmp_path / "gate.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(buf))
    e01 = str(tmp_path / "gate.E01")
    write_ewf(e01, bytes(buf))

    assert_gates_sound(spark, path, GATE_CFG)
    assert _scan_offsets(spark, e01) == _scan_offsets(spark, path)


def test_carved_rows_identical_gates_on_off(spark, tmp_path):
    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.scanner import compile_patterns

    from tests.oracles.scan import find_all

    rng = random.Random(32)
    buf = bytearray(rng.randbytes(128 * 1024))
    planted, _, _ = _evidence()
    buf[: len(planted)] = planted
    buf = bytes(buf)
    path = str(tmp_path / "gate.raw")
    with open(path, "wb") as fh:
        fh.write(buf)

    rows = []
    for pat, pid, ftid in compile_patterns(GATE_CFG):
        for off in find_all(buf, pat):
            rows.append((off, ftid, pid))
    ungated = spark.createDataFrame(
        rows, "global_offset long, file_type_id string, pattern_id string"
    )
    gated = scan_all_from_evidence(spark, path, GATE_CFG)["hits"]
    assert gated.count() < len(rows)

    sel = ["file_type", "global_start", "global_end", "size", "sha256", "errors"]
    got = sorted(
        map(tuple, carve_hits_with_evidence(gated, path, GATE_CFG).select(*sel).collect())
    )
    want = sorted(
        map(
            tuple, carve_hits_with_evidence(ungated, path, GATE_CFG).select(*sel).collect()
        )
    )
    assert got == want != []


def test_bmp_min_size_hoisted_into_gate(spark, tmp_path):
    """r14: a bmp whose full header cascade PASSES but whose declared
    file_size is below the type's min_size is dropped at scan time —
    finalize()'s min-size rejection (carvers/base.py:219) is a pure
    function of the declared size, which the carved size can only
    shrink, so the drop is provably what the pipeline would do. The
    ungated hit carves to
    zero rows, proving soundness directly; the ungated chunk-table scan
    keeps it for the carver to reject."""
    import dataclasses as dc

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence

    cfg = dc.replace(
        GATE_CFG,
        file_types=tuple(
            dc.replace(ft, min_size=200) if ft.type_id == "bmp" else ft
            for ft in GATE_CFG.file_types
        ),
    )
    bmp = mk_bmp()  # header-valid, declared file_size = 58 < 200
    buf = bytearray(100_000)
    buf[1_000 : 1_000 + len(bmp)] = bmp
    path = str(tmp_path / "small_bmp.raw")
    with open(path, "wb") as fh:
        fh.write(bytes(buf))

    def bmp_offsets(hits):
        return {r.global_offset for r in hits.collect() if r.file_type_id == "bmp"}

    assert 1_000 not in bmp_offsets(scan_all_from_evidence(spark, path, cfg)["hits"])
    assert 1_000 in bmp_offsets(ungated_hits(spark, path, cfg))

    # soundness: the carver itself rejects the very hit the gate dropped
    ungated = spark.createDataFrame(
        [(1_000, "bmp", "bmp_header")],
        "global_offset long, file_type_id string, pattern_id string",
    )
    assert carve_hits_with_evidence(ungated, path, cfg).count() == 0
    # and with min_size back at 5 the same hit survives BOTH stages
    assert 1_000 in bmp_offsets(scan_all_from_evidence(spark, path, GATE_CFG)["hits"])
    assert carve_hits_with_evidence(ungated, path, GATE_CFG).count() == 1
