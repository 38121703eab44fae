"""String/artefact and entropy pipeline tests (FIXTURES.md §4/§5,
mirroring reference src/strings/mod.rs:324-435 and src/entropy.rs:93-112)."""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F

from swiftbeaver_spark.chunking import chunks_from_bytes
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.entropy import entropy_regions
from swiftbeaver_spark.strings_scan import (
    enrich_emails,
    enrich_urls,
    is_plausible_phone,
    normalize_email,
    normalize_url,
    scan_string_artefacts,
    scan_string_spans,
)

STR_CFG = dataclasses.replace(
    DEFAULT_CONFIG, enable_string_scan=True, string_scan_utf16=True
)


def _artefacts(spark, data: bytes, cfg=STR_CFG):
    chunks = chunks_from_bytes(spark, data, chunk_size=1 << 20, overlap=0)
    spans = scan_string_spans(chunks, cfg)
    return scan_string_artefacts(spans, cfg).collect()


def test_url_and_email(spark):
    rows = _artefacts(spark, b"visit https://example.com and mail test@example.com ok")
    kinds = {(r.artefact_kind, r.content) for r in rows}
    assert ("Url", "https://example.com") in kinds
    assert ("Email", "test@example.com") in kinds


def test_url_trailing_punct_trimmed(spark):
    rows = _artefacts(spark, b"see (https://example.com/login), thanks")
    urls = [r.content for r in rows if r.artefact_kind == "Url"]
    assert urls == ["https://example.com/login"]


def test_email_trailing_dot_trimmed(spark):
    rows = _artefacts(spark, b"contact user@example.com. end")
    emails = [r.content for r in rows if r.artefact_kind == "Email"]
    assert emails == ["user@example.com"]


def test_phone_plausibility(spark):
    # reference test (src/strings/mod.rs:365-374) asserts the 415 number
    # survives and the low-entropy 0000000000 is filtered; the leading '+'
    # is not captured by the reference regex either (\b\+? after a space)
    rows = _artefacts(spark, b"0000000000 bad +1 (415) 555-1234 good")
    phones = [r.content for r in rows if r.artefact_kind == "Phone"]
    assert any("415" in p for p in phones)
    assert not any(p.startswith("0000") for p in phones)


def test_utf16le_url(spark):
    data = b"\x00\x00" + "https://example.com".encode("utf-16-le") + b"\x00\x00"
    rows = _artefacts(spark, data)
    urls = [(r.content, r.encoding) for r in rows if r.artefact_kind == "Url"]
    assert ("https://example.com", "utf-16le") in urls


def test_utf8_span_detected(spark):
    cfg = dataclasses.replace(STR_CFG, string_min_len=4)
    chunks = chunks_from_bytes(spark, b"\x00\x00caf\xc3\xa9\x00\x00", 1 << 20, 0)
    spans = scan_string_spans(chunks, cfg).collect()
    utf8 = [s for s in spans if s.encoding == "utf-8"]
    assert len(utf8) == 1
    assert utf8[0].content == "café"
    assert utf8[0].byte_length == 5


def test_min_len_split(spark):
    cfg = dataclasses.replace(STR_CFG, string_min_len=4, string_max_len=1024)
    chunks = chunks_from_bytes(spark, b"abc\x00defg\nxyz", 1 << 20, 0)
    spans = scan_string_spans(chunks, cfg).collect()
    assert [(s.global_start, s.byte_length) for s in spans] == [(4, 4)]


def test_max_len_split(spark):
    cfg = dataclasses.replace(STR_CFG, string_min_len=4, string_max_len=4)
    chunks = chunks_from_bytes(spark, b"\x00abcdefgh\x00", 1 << 20, 0)
    spans = scan_string_spans(chunks, cfg).collect()
    assert [(s.global_start, s.byte_length) for s in spans] == [(1, 4), (5, 4)]


def test_normalizers():
    assert normalize_url("https://example.com/x),") == "https://example.com/x"
    assert normalize_url("https://nodot") is None
    assert normalize_url("ftp://example.com") is None
    assert normalize_email("user@example.com.") == "user@example.com"
    assert normalize_email("u@x") is None
    assert is_plausible_phone("+1 (415) 555-1234")
    assert not is_plausible_phone("0000000000")
    assert not is_plausible_phone("123")


def test_artefact_positions(spark):
    data = b"\x00\x00ab https://example.com xy"
    rows = _artefacts(spark, data)
    url = [r for r in rows if r.artefact_kind == "Url"][0]
    assert url.global_start == 5
    assert url.global_end == 5 + len("https://example.com") - 1


def test_enriched_projections(spark):
    data = b"x https://example.com:8080/path?q=1#frag y bob@mail.example.org z"
    chunks = chunks_from_bytes(spark, data, 1 << 20, 0)
    spans = scan_string_spans(chunks, STR_CFG)
    arts = scan_string_artefacts(spans, STR_CFG)
    url = enrich_urls(arts).collect()[0]
    assert (url.scheme, url.host, url.port, url.path) == ("https", "example.com", 8080, "/path")
    assert url.query == "q=1" and url.fragment == "frag"
    email = enrich_emails(arts).collect()[0]
    assert (email.local_part, email.domain) == ("bob", "mail.example.org")


ENT_CFG = dataclasses.replace(
    DEFAULT_CONFIG,
    enable_entropy_detection=True,
    entropy_window_size=256,
    entropy_threshold=7.5,
)


def test_entropy_full_range(spark):
    data = bytes(range(256))
    regions = entropy_regions(chunks_from_bytes(spark, data, 1 << 20, 0), ENT_CFG).collect()
    assert len(regions) == 1
    r = regions[0]
    assert (r.global_start, r.global_end, r.entropy, r.window_size) == (0, 255, 8.0, 256)


def test_entropy_zeros_no_regions(spark):
    cfg = dataclasses.replace(ENT_CFG, entropy_threshold=7.0)
    regions = entropy_regions(chunks_from_bytes(spark, b"\x00" * 1024, 1 << 20, 0), cfg).collect()
    assert regions == []


def test_entropy_gap_two_regions(spark):
    win = bytes(range(256))
    data = win + b"\x00" * 256 + win
    regions = (
        entropy_regions(chunks_from_bytes(spark, data, 1 << 20, 0), ENT_CFG)
        .orderBy("global_start")
        .collect()
    )
    assert [(r.global_start, r.global_end) for r in regions] == [(0, 255), (512, 767)]


def test_entropy_adjacent_merge(spark):
    win = bytes(range(256))
    data = win + win[::-1]
    regions = entropy_regions(chunks_from_bytes(spark, data, 1 << 20, 0), ENT_CFG).collect()
    assert [(r.global_start, r.global_end) for r in regions] == [(0, 511)]


def test_entropy_merges_across_chunks(spark):
    win = bytes(range(256))
    data = win * 8  # 2048 bytes, chunked at 1024
    regions = entropy_regions(chunks_from_bytes(spark, data, 1024, 64), ENT_CFG).collect()
    assert [(r.global_start, r.global_end) for r in regions] == [(0, 2047)]


def test_entropy_merges_across_level_buckets(spark):
    """A region straddling the level-1 merge bucket edge (window_size *
    4096 = 1 MiB here) must still come out as ONE region — the boundary
    islands escalate to the stitch level."""
    win = bytes(range(256))
    span = 256 * 4096
    data = win * (2 * 4096)  # 2 MiB of qualifying windows
    regions = entropy_regions(chunks_from_bytes(spark, data, 4 << 20, 0), ENT_CFG).collect()
    assert [(r.global_start, r.global_end) for r in regions] == [(0, 2 * span - 1)]


def test_entropy_gap_at_level_bucket_edge(spark):
    """A gap exactly at the bucket edge must NOT be merged: the edge
    island escalates but stitching still requires contiguity."""
    win = bytes(range(256))
    span = 256 * 4096
    data = win * 4096 + b"\x00" * 256 + win * 10
    regions = (
        entropy_regions(chunks_from_bytes(spark, data, 4 << 20, 0), ENT_CFG)
        .orderBy("global_start")
        .collect()
    )
    assert [(r.global_start, r.global_end) for r in regions] == [
        (0, span - 1),
        (span + 256, span + 256 + 10 * 256 - 1),
    ]


def _naive_merge(windows):
    """Ground truth: single-pass merge of (start, end, entropy) rows."""
    out = []
    for s, e, ent in sorted(windows):
        if out and s <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], e)
            out[-1][2] = max(out[-1][2], ent)
        else:
            out.append([s, e, ent])
    return {(s, e, round(ent, 9)) for s, e, ent in out}


def test_merge_regions_bucket_edges_misaligned(spark, monkeypatch):
    """Regression: islands whose window grid is NOT aligned to the
    bucket span (chunk-relative grids) must still merge across bucket
    edges — the old exact-edge escalation test silently split them."""
    import random

    import swiftbeaver_spark.entropy as ent_mod

    monkeypatch.setattr(ent_mod, "_LEVEL_SPAN", 8)  # tiny buckets
    ws = 100
    for seed in range(5):
        rng = random.Random(seed)
        offset = rng.randrange(1, ws)  # misaligned grid start
        rows = []
        pos = offset
        # windows spread far enough to cross level-1 (800) and level-2
        # (6400) bucket edges, with random qualifying gaps
        for _ in range(200):
            if rng.random() < 0.7:
                rows.append((pos, pos + ws - 1, 7.9))
            pos += ws * (1 if rng.random() < 0.8 else rng.randrange(2, 5))
        wdf = spark.createDataFrame(
            [(s, e, x) for s, e, x in rows],
            "win_start long, win_end long, entropy double",
        )
        got = {
            (r.global_start, r.global_end, round(r.entropy, 9))
            for r in ent_mod.merge_regions(wdf, ws).collect()
        }
        assert got == _naive_merge(rows), f"seed {seed} offset {offset}"


def test_utf16_regex_matches_state_machine():
    """The round-7 regex rewrite of the oracle's scan_utf16 must reproduce the
    original two-alignment per-byte state machine span-for-span
    (reference src/strings/cpu.rs:143-216 semantics): seeded fuzz over
    blobs mixing LE/BE runs at both alignments, boundary runs, and the
    max_len segmentation."""
    import random

    from tests.oracles.strings import scan_utf16

    def reference_scan(data, min_len, max_len, little_endian):
        # the pre-round-7 loop, verbatim
        out = []
        n = len(data)
        for align in (0, 1):
            i = align
            while i + 1 < n:
                a, b = data[i], data[i + 1]
                ok = (
                    (a == 9 or 0x20 <= a <= 0x7E) and b == 0
                    if little_endian
                    else a == 0 and (b == 9 or 0x20 <= b <= 0x7E)
                )
                if not ok:
                    i += 2
                    continue
                run_start = i
                chars = 0
                j = i
                while j + 1 < n:
                    a, b = data[j], data[j + 1]
                    ok = (
                        (a == 9 or 0x20 <= a <= 0x7E) and b == 0
                        if little_endian
                        else a == 0 and (b == 9 or 0x20 <= b <= 0x7E)
                    )
                    if not ok:
                        break
                    chars += 1
                    if chars >= max_len:
                        break
                    j += 2
                if chars >= min_len:
                    out.append((run_start, data[run_start : run_start + chars * 2]))
                i = j + 2
        return out

    for seed in range(30):
        rng = random.Random(seed)
        blob = bytearray()
        for _ in range(rng.randrange(1, 12)):
            kind = rng.randrange(4)
            if kind == 0:  # noise
                blob += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 9)))
            elif kind == 1:  # LE run
                s = "".join(chr(rng.randrange(0x20, 0x7F)) for _ in range(rng.randrange(1, 30)))
                blob += s.encode("utf-16le")
            elif kind == 2:  # BE run
                s = "".join(chr(rng.randrange(0x20, 0x7F)) for _ in range(rng.randrange(1, 30)))
                blob += s.encode("utf-16be")
            else:  # zeros (pairable with either side)
                blob += b"\x00" * rng.randrange(1, 5)
        data = bytes(blob)
        for min_len, max_len in ((4, 64), (1, 5), (2, 3)):
            for le in (True, False):
                got = sorted(scan_utf16(data, min_len, max_len, le))
                want = sorted(reference_scan(data, min_len, max_len, le))
                assert got == want, (seed, min_len, max_len, le, data.hex())


def test_entropy_window_kernel_matches_scalar():
    """The oracle's per-window fold must equal the scalar
    shannon_entropy fold exactly — the two numpy forms the JVM kernel
    is pinned against cannot disagree with each other."""
    import numpy as np

    from tests.oracles.entropy import entropy_all_windows, shannon_entropy

    rng = np.random.default_rng(3)
    mat = rng.integers(0, 256, size=(37, 64), dtype=np.uint8)
    got = entropy_all_windows(mat, 64)
    scalar = np.array([shannon_entropy(mat[i]) for i in range(37)])
    assert (got == scalar).all()
