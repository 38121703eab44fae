"""Scan-throughput benchmark matching the reference's criterion harness
(benches/throughput.rs): scan_only over zero-filled images (8 & 32 MiB)
and jpeg_dense (500 x 64 B minimal JPEGs, max_files=200), same geometry
(2 workers, 4 MiB chunks, 64 KiB overlap, full default pattern set).

Reports best-of-N wall seconds after session warmup (criterion also
excludes process startup). Usage: python tools/bench_scan.py [N]
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine
from swiftbeaver_spark.session import get_spark

CHUNK = 4 * 1024 * 1024
OVERLAP = 64 * 1024


def timeit(fn, n: int) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(master="local[2]", shuffle_partitions=2, app_name="bench-scan")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = dataclasses.replace(DEFAULT_CONFIG, chunk_size=CHUNK, overlap=OVERLAP)
    engine = Engine(spark, cfg)
    results = {}

    # JVM kernel single-core: one 256 MiB chunk = one task = one core,
    # through one sb_scan_all call, signature scan only (includes file
    # read) — the number that extrapolates to per-core cluster throughput
    import numpy as np

    from swiftbeaver_spark.jvm import ensure_kernel, spec_for
    from swiftbeaver_spark.scanner import MAX_HITS_PER_CHUNK, compile_patterns

    ensure_kernel(spark)
    tmp = tempfile.mkdtemp()
    spec = spec_for(compile_patterns(cfg), MAX_HITS_PER_CHUNK)
    rng = np.random.default_rng(7)
    for name, data in (
        ("zero", bytes(256 << 20)),
        ("rand", rng.integers(0, 256, 256 << 20, dtype=np.uint8).tobytes()),
    ):
        path = os.path.join(tmp, f"jvm_{name}.raw")
        with open(path, "wb") as fh:
            fh.write(data)
        q = f"SELECT size(sb_scan_all('{path}', 0L, {len(data)}L, '0\\n{spec}\\n\\n').hits) AS n"
        spark.sql(q).collect()  # warm JIT + page cache
        secs = timeit(lambda q=q: spark.sql(q).collect(), n)
        results[f"jvm_kernel_{name}_256mib_1core"] = {
            "sec": round(secs, 4),
            "mib_per_s": round(256 / secs, 1),
        }
        os.unlink(path)

    for mib in (8, 32, 256):
        path = os.path.join(tmp, f"zero_{mib}.raw")
        with open(path, "wb") as fh:
            fh.write(b"\x00" * (mib * 1024 * 1024))

        def scan_only(path=path):
            from swiftbeaver_spark.fused_scan import scan_all_from_evidence

            assert scan_all_from_evidence(spark, path, cfg)["hits"].count() == 0

        secs = timeit(scan_only, n)
        results[f"scan_only_{mib}mib"] = {
            "sec": round(secs, 4),
            "mib_per_s": round(mib / secs, 1),
        }

    # jpeg_dense: 500 x (32 B minimal JPEG + 32 B pad), carve 200
    jpeg = b"\xff\xd8\xff\xe0" + b"\x11" * 26 + b"\xff\xd9"
    assert len(jpeg) == 32
    dense = (jpeg + b"\x00" * 32) * 500
    dense_path = os.path.join(tmp, "dense.raw")
    with open(dense_path, "wb") as fh:
        fh.write(dense)
    dense_cfg = dataclasses.replace(
        cfg,
        max_files=200,
        file_types=tuple(
            dataclasses.replace(ft, min_size=16)
            for ft in cfg.file_types
            if ft.type_id == "jpeg"
        ),
    )
    dense_engine = Engine(spark, dense_cfg)

    def jpeg_dense():
        from swiftbeaver_spark.fused_scan import scan_all_from_evidence

        hits = scan_all_from_evidence(spark, dense_path, dense_cfg)["hits"]
        carved = dense_engine.carve(hits, evidence_path=dense_path)
        assert carved.count() == 200

    results["jpeg_dense_200"] = {"sec": round(timeit(jpeg_dense, n), 4)}

    print(json.dumps(results, indent=2))


if __name__ == "__main__":
    main()
