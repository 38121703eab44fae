"""Reference-parity full-pipeline throughput at >= 1 GiB (VERDICT r8
task 3 — the stress_tests.rs:83-103 analog run END TO END).

The reference's stress shapes are (a) a large sparse image scanned for
bytes/s and (b) a dense tiling of minimal JPEGs
(tests/stress_tests.rs:83-124); its published scan-only bench
(benches/throughput.rs:69-81) was matched at 256 MiB in round 2
(343 MiB/s on 2 cores, BASELINE.md). This tool runs the FULL pipeline
— signature scan + carve + string scan + entropy + sqlite/browser
stage — over a synthetic >= 1 GiB image with realistic hit density,
and hash-checks the carves against the planted manifest, so the
100 TB throughput claim rests on an end-to-end measurement instead of
the scan-only row.

Image layout: 1 MiB stripes cycling three textures (zero fill / seeded
pseudo-random / ASCII text with URLs+emails — so the entropy and
string scanners both do real work), with one planted file at each
MiB boundary cycling {jpeg, png, sqlite, pdf, gzip, bmp} — ~1 file
per MiB, the reference's dense-test density order. Every planted
file must come back from the carve stage with its exact offset, size
and sha256 (the golden-image contract).

Stage walls are measured as separate actions over the fused
evidence-path plan (each stage re-reads its own byte ranges — the
positioned-read strategy), then ONE combined run gives the end-to-end
wall: the carve collect plus every table driven through the sink
(write_tables, fmt="dryrun"), whose run_summary row the JSON reports;
MiB/s = image_size / wall.

Usage: python tools/bench_engine_1gib.py [mib] [e01]
  -> one JSON line {"engine_full_pipeline_1gib": {...}}
Passing the literal arg `e01` converts the image to an EWF/E01
container first (write_ewf, zlib per chunk) and runs the WHOLE
pipeline against the container — the distributed-E01-source stress
(every stage decompresses only the chunks its reads touch). The JSON
records host-load snapshots at run start and end (VERDICT r11 task 3 —
self-adjudicating rows).
"""
import dataclasses
import hashlib
import json
import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine, write_tables
from swiftbeaver_spark.session import get_spark
from tests.fixtures import mk_bmp, mk_jpeg, mk_pdf, mk_png, mk_sqlite, mk_zip
from tools.hostinfo import host_snapshot

MIB = 1 << 20
SIZE_MIB = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
# only formats with EXACT end detection (EOI / IEND / page table /
# %%EOF / EOCD / size field): best-effort scan-to-next-magic formats
# (gzip et al.) legitimately extend into random fill — reference
# parity — so exact-size manifest checks would be testing the wrong
# contract there
PLANT = [
    ("jpeg", mk_jpeg()),
    ("png", mk_png()),
    ("sqlite", mk_sqlite()),
    ("pdf", mk_pdf()),
    ("zip", mk_zip()),
    ("bmp", mk_bmp()),
]
# textures cycle per MiB stripe: zeros (low entropy), random (high
# entropy -> entropy regions), ASCII text (string/URL/email hits).
# One artefact-bearing line per ~40 lorem lines — realistic string
# density (a dense every-line layout measured 295k artefacts in
# 21 MiB of text and the bench degenerated into regex extraction)
_LOREM = (
    b"Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do "
    b"eiusmod tempor incididunt ut labore et dolore magna aliqua. "
)
TEXT_BLOCK = (
    _LOREM * 40
    + b"Contact alice@example.com or visit https://example.com/data "
    b"call +1-555-0142 for details. "
)


def build_image(path: str, size_mib: int) -> list[dict]:
    rng = np.random.RandomState(20260815)
    manifest = []
    text = (TEXT_BLOCK * (MIB // len(TEXT_BLOCK) + 1))[:MIB]
    with open(path, "wb") as fh:
        for i in range(size_mib):
            kind = i % 3
            if kind == 0:
                stripe = bytearray(MIB)
            elif kind == 1:
                stripe = bytearray(rng.bytes(MIB))
            else:
                stripe = bytearray(text)
            name, blob = PLANT[i % len(PLANT)]
            off = 4096  # 4096-aligned inside the stripe, like generate.sh
            stripe[off : off + len(blob)] = blob
            manifest.append(
                {
                    "type": name,
                    "offset": i * MIB + off,
                    "size": len(blob),
                    "sha256": hashlib.sha256(blob).hexdigest(),
                }
            )
            fh.write(stripe)
    return manifest


def main() -> None:
    host_start = host_snapshot()
    spark = get_spark(app_name="swiftbeaver-engine-1gib")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="sb1gib_")
    path = os.path.join(tmp, "stress.raw")
    t0 = time.time()
    manifest = build_image(path, SIZE_MIB)
    gen_wall = round(time.time() - t0, 3)
    size = os.path.getsize(path)
    e01 = "e01" in sys.argv[2:]
    if e01:
        from swiftbeaver_spark.ewf import write_ewf

        with open(path, "rb") as fh:
            raw = fh.read()
        os.unlink(path)
        path = os.path.join(tmp, "stress.E01")
        t0 = time.time()
        write_ewf(path, raw, sectors_per_chunk=64)
        del raw
        print(f"# E01 container: {os.path.getsize(path) / MIB:.0f} MiB on disk, "
              f"convert {time.time() - t0:.1f}s", file=sys.stderr)
    print(f"# image: {size / MIB:.0f} MiB, {len(manifest)} planted, "
          f"gen {gen_wall}s, container={'e01' if e01 else 'raw'}", file=sys.stderr)

    planted_types = {m["type"] for m in manifest}
    cfg = dataclasses.replace(
        DEFAULT_CONFIG,
        file_types=tuple(
            dataclasses.replace(ft, min_size=5)
            for ft in DEFAULT_CONFIG.file_types
            if ft.type_id in planted_types
        ),
        enable_string_scan=True,
        enable_entropy_detection=True,
        enable_sqlite_page_recovery=True,
    )
    engine = Engine(spark, cfg)

    # per-stage walls (separate actions over the fused plan). Under
    # one-pass the FIRST driven stage pays the single fused read (the
    # persisted raw metadata frame); later scan stages read the cache —
    # the per-stage split is no longer read-dominated by construction.
    stages = {}
    run = engine.run(evidence_path=path)
    for stage in ("hits", "carved_files", "string_spans", "string_artefacts",
                  "entropy_regions", "browser_history"):
        t0 = time.time()
        cnt = run[stage].count()
        stages[stage] = {"rows": cnt, "wall_sec": round(time.time() - t0, 3)}
        if stage == "browser_history":
            # the run persists the carve frame, and carved_files was
            # driven just above, so this is the parse pass over the
            # cached carve (the parse-only wall is measured again below)
            stages[stage]["note"] = "parse over the persisted carve"
        if stage == "string_artefacts":
            # same derived-stage shape: artefacts re-derive the span
            # scan when driven standalone; the extraction-only wall is
            # measured over persisted spans below
            stages[stage]["note"] = "uncached: includes span-subtree re-derivation"
        print(f"# stage {stage}: {cnt} rows, {stages[stage]['wall_sec']}s",
              file=sys.stderr)
    run.unpersist()  # free the one-pass raw cache before the e2e run

    # end-to-end: one fresh run, ALL tables driven to completion
    # through the sink — with stage caching on (the multi-table
    # production setting; the per-stage walls above stay uncached so
    # each stage's own cost is honest)
    t0 = time.time()
    run2 = engine.run(evidence_path=path, cache_intermediates=True)
    carved = run2["carved_files"].select("global_start", "size", "sha256").collect()
    summary = write_tables(run2, tmp, fmt="dryrun")
    e2e = round(time.time() - t0, 3)
    run2.unpersist()

    # browser parse-only (AFTER e2e so the extra warm run cannot flatter
    # the cross-round e2e row): a cache_intermediates run persists the
    # stage frames; driving carved_files populates the cache, so the
    # browser action pays only sqlite parse + page recovery
    run_c = engine.run(evidence_path=path, cache_intermediates=True)
    run_c["carved_files"].count()
    t0 = time.time()
    browser_cnt = run_c["browser_history"].count()
    stages["browser_history_cached"] = {
        "rows": browser_cnt,
        "wall_sec": round(time.time() - t0, 3),
        "note": "parse-only over persisted carve",
    }
    if "string_spans" in run_c.tables:
        run_c["string_spans"].count()
        t0 = time.time()
        cnt = run_c["string_artefacts"].count()
        stages["string_artefacts_cached"] = {
            "rows": cnt,
            "wall_sec": round(time.time() - t0, 3),
            "note": "extraction-only over persisted spans",
        }
        print(f"# stage string_artefacts_cached: {cnt} rows, "
              f"{stages['string_artefacts_cached']['wall_sec']}s", file=sys.stderr)
    run_c.unpersist()
    print(f"# stage browser_history_cached: {browser_cnt} rows, "
          f"{stages['browser_history_cached']['wall_sec']}s", file=sys.stderr)

    got = {(r.global_start, r.size, r.sha256) for r in carved}
    missing = [
        m for m in manifest if (m["offset"], m["size"], m["sha256"]) not in got
    ]
    out = {
        "image_mib": size // MIB,
        "container": "e01" if e01 else "raw",
        "host_start": host_start,
        "host_end": host_snapshot(),
        "planted": len(manifest),
        "recovered": len(manifest) - len(missing),
        "missing": len(missing),
        "stages": stages,
        "end_to_end_sec": e2e,
        "mib_per_sec": round(size / MIB / e2e, 1),
        "bytes_scanned": summary["bytes_scanned"],
        "hits_found": summary["hits_found"],
        "files_carved": summary["files_carved"],
    }
    if missing:
        print(f"# MISSING {len(missing)}: {missing[:5]}", file=sys.stderr)
    print(json.dumps({"engine_full_pipeline_1gib": out}))
    os.unlink(path)


if __name__ == "__main__":
    main()
