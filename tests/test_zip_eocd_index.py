"""Shared zip EOCD index parity (round 11).

carve_zip's require_eocd semantics sweep up to max_size forward per
hit; the evidence carve path now collects the EOCD magic index once
per range bucket (collect_zip_eocds) and hands it to every co-located
hit — results must be bit-identical to the per-hit scanning path on
every geometry: valid archives, comments, concatenated archives in one
window (LAST valid wins), invalid-geometry magics, magic past the
window edge, require_eocd=False first-magic semantics, and hypothesis-
fuzzed layouts.
"""

from __future__ import annotations

import random

import pytest

from swiftbeaver_spark.carvers.archives import carve_zip, collect_zip_eocds

from tests.fixtures import BytesReader, mk_zip


def _outcome_tuple(o):
    if o is None:
        return None
    return (
        o.end,
        o.validated,
        o.truncated,
        tuple(o.errors),
        o.file_type,
        o.extension,
    )


def both_ways(data: bytes, offset: int, max_size: int, require_eocd=True, kinds=None):
    """carve_zip scanning vs carve_zip over the precollected index."""
    reader = BytesReader(data)
    scanned = carve_zip(
        reader, offset, max_size, require_eocd=require_eocd, zip_allowed_kinds=kinds
    )
    cands = collect_zip_eocds(reader, offset, min(offset + max_size, len(data)))
    indexed = carve_zip(
        reader,
        offset,
        max_size,
        require_eocd=require_eocd,
        zip_allowed_kinds=kinds,
        eocd_candidates=cands,
    )
    assert _outcome_tuple(scanned) == _outcome_tuple(indexed)
    return scanned


def test_valid_zip_identical():
    z = mk_zip()
    data = b"\x00" * 64 + z + b"\x00" * 256
    out = both_ways(data, 64, 1 << 20)
    assert out is not None and out.validated and out.end == 64 + len(z)


def test_concatenated_zips_last_valid_wins():
    """Two complete archives inside one hit's window: the sweep keeps
    the LAST EOCD whose geometry anchors at the HIT, which for the hit
    at the first archive is only the first archive's EOCD (the second
    EOCD's cd_offset is relative to the second start) — the index path
    must reproduce exactly that selection."""
    z = mk_zip()
    data = z + b"\x00" * 10 + z + b"\x00" * 64
    out = both_ways(data, 0, 1 << 20)
    assert out is not None and out.end == len(z)
    out2 = both_ways(data, len(z) + 10, 1 << 20)
    assert out2 is not None and out2.end == len(z) + 10 + len(z)


def test_fake_magic_bad_geometry_rejected():
    """EOCD magic with nonsense geometry in the window must be ignored
    by both paths (no last_valid -> None)."""
    fake = b"PK\x05\x06" + b"\xff" * 18
    data = b"PK\x03\x04" + b"\x00" * 40 + fake + b"\x00" * 40
    assert both_ways(data, 0, 1 << 16) is None


def test_magic_cut_by_window_edge_excluded():
    """An EOCD magic CUT by offset+max_size must not validate the carve
    in either path (scan_forward never sees bytes >= max_end, so a
    match must fit fully inside the window)."""
    z = mk_zip()
    eocd = z.rfind(b"PK\x05\x06")
    window = eocd + 3  # window ends mid-magic
    assert both_ways(z + b"\x00" * 64, 0, window) is None
    # and the smallest window containing the full magic DOES validate
    out = both_ways(z + b"\x00" * 64, 0, eocd + 4)
    assert out is not None and out.validated


def test_require_eocd_false_first_magic():
    z = mk_zip()
    data = z + b"\x00" * 32 + b"PK\x05\x06" + b"\x00" * 18 + b"\x00" * 32
    out = both_ways(data, 0, 1 << 20, require_eocd=False)
    assert out is not None


def test_kind_filter_applies_identically():
    z = mk_zip("docx")
    data = z + b"\x00" * 32
    out = both_ways(data, 0, 1 << 20, kinds=("zip",))
    assert out is None  # docx filtered out
    out2 = both_ways(data, 0, 1 << 20, kinds=("docx",))
    assert out2 is not None and out2.file_type == "docx"


def test_collect_spanning_buffer_boundaries():
    """Magic straddling the 64 KiB collect buffer boundary is found
    exactly once (the 3-byte carry)."""
    from swiftbeaver_spark.carvers.base import IO_BUF

    z = mk_zip()
    # place the archive so its EOCD magic straddles the IO_BUF edge
    eocd_rel = z.rfind(b"PK\x05\x06")
    pad = IO_BUF - (eocd_rel + 2)  # magic bytes 2..3 land past the edge
    data = b"\x00" * pad + z + b"\x00" * 128
    reader = BytesReader(data)
    cands = collect_zip_eocds(reader, 0, len(data))
    assert [p for p, _ in cands] == [pad + eocd_rel]
    out = both_ways(data, pad, 1 << 20)
    assert out is not None and out.end == pad + len(z)


def test_unbounded_zip_window_routes_to_scan_path(spark, tmp_path):
    """max_size=0 means carve_zip scans to EOF — no finite bucket can
    cover that window, so the evidence path must route the zip family
    through the per-hit scan branch (review finding: the bucketed index
    would under-cover and silently drop such carves)."""
    import dataclasses

    from swiftbeaver_spark.carve_op import carve_hits_with_evidence
    from swiftbeaver_spark.config import DEFAULT_CONFIG

    z = mk_zip()
    data = b"\x00" * 4096 + z + b"\x00" * 4096
    path = tmp_path / "ev.raw"
    path.write_bytes(data)
    zip_ft = next(ft for ft in DEFAULT_CONFIG.file_types if ft.type_id == "zip")
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        file_types=(dataclasses.replace(zip_ft, max_size=0, min_size=5),),
    )
    hits = spark.createDataFrame(
        [(4096, "zip", "zip_header")],
        "global_offset long, file_type_id string, pattern_id string",
    )
    rows = carve_hits_with_evidence(hits, str(path), cfg).collect()
    assert len(rows) == 1
    assert rows[0].global_start == 4096 and rows[0].size == len(z)
    assert rows[0].validated


@pytest.mark.parametrize("seed", range(8))
def test_fuzzed_layouts_identical(seed):
    """Random soup of archives, stray magics, and junk: every PK-local
    hit carves identically via scan and via the shared index collected
    over an arbitrary covering range (superset candidates filter down
    to the window exactly)."""
    rng = random.Random(seed)
    parts = []
    for _ in range(rng.randrange(3, 9)):
        k = rng.randrange(4)
        if k == 0:
            parts.append(mk_zip())
        elif k == 1:
            parts.append(b"PK\x05\x06" + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 22))))
        elif k == 2:
            parts.append(b"PK\x03\x04" + rng.randbytes(rng.randrange(4, 64)))
        else:
            parts.append(rng.randbytes(rng.randrange(1, 200)))
    data = b"".join(parts) + b"\x00" * 32
    reader = BytesReader(data)
    cands_all = collect_zip_eocds(reader, 0, len(data))
    hits = []
    i = data.find(b"PK\x03\x04")
    while i != -1:
        hits.append(i)
        i = data.find(b"PK\x03\x04", i + 1)
    max_size = rng.choice([128, 1 << 12, 1 << 20])
    for off in hits:
        scanned = carve_zip(reader, off, max_size)
        indexed = carve_zip(reader, off, max_size, eocd_candidates=cands_all)
        assert _outcome_tuple(scanned) == _outcome_tuple(indexed), (seed, off)
