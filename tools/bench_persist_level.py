"""One-pass raw-frame persist-level A/B (r13).

Cross-run 10 GiB walls this round scattered 21-57 s across persist
configs AND external host spikes, so single observations cannot
attribute a persist-level effect (host-variance discipline: only
in-session alternating measurements count). This tool builds the
stress image ONCE, then alternates MEMORY_AND_DISK / DISK_ONLY for
the one-pass raw frame (engine.ONE_PASS_RAW_STORAGE) in one
SparkSession, driving the full e2e table set per round
(cache_intermediates, blocking unpersist between runs) with carved
outputs asserted identical across modes.

Usage: python tools/bench_persist_level.py [mib] [rounds]
  -> one JSON line {"persist_level_ab": {...}}
"""
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import dataclasses

from pyspark.storagelevel import StorageLevel

import swiftbeaver_spark.engine as engine_mod
from swiftbeaver_spark.config import DEFAULT_CONFIG
from swiftbeaver_spark.engine import Engine
from swiftbeaver_spark.session import get_spark
from tools.bench_engine_1gib import build_image
from tools.hostinfo import host_snapshot

SIZE_MIB = int(sys.argv[1]) if len(sys.argv) > 1 else 4096
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 2

LEVELS = {
    "memory_and_disk": StorageLevel.MEMORY_AND_DISK,
    "disk_only": StorageLevel.DISK_ONLY,
}


def main() -> None:
    host_start = host_snapshot()
    spark = get_spark(app_name="swiftbeaver-persist-ab")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="sbpersist_")
    path = os.path.join(tmp, "stress.raw")
    manifest = build_image(path, SIZE_MIB)

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

    def one_mode(level_name: str) -> tuple[float, list]:
        engine_mod.ONE_PASS_RAW_STORAGE = LEVELS[level_name]
        t0 = time.time()
        run = engine.run(evidence_path=path, cache_intermediates=True)
        assert "data" not in run["chunks"].columns, "the one-pass scan needs the JVM kernel"
        carved = sorted(
            (r.global_start, r.size, r.sha256)
            for r in run["carved_files"].select("global_start", "size", "sha256").collect()
        )
        for t in ("hits", "string_artefacts", "entropy_regions", "browser_history"):
            run[t].count()
        run["run_summary"].collect()
        wall = round(time.time() - t0, 3)
        run.unpersist()
        return wall, carved

    obs = {name: [] for name in LEVELS}
    ref = None
    try:
        for r in range(ROUNDS):
            for name in LEVELS:
                wall, carved = one_mode(name)
                if ref is None:
                    ref = carved
                assert carved == ref, f"carved rows differ in {name} round {r}"
                obs[name].append(wall)
                print(f"# round {r} {name}: {wall}s", file=sys.stderr)
    finally:
        engine_mod.ONE_PASS_RAW_STORAGE = StorageLevel.MEMORY_AND_DISK
        os.unlink(path)
    print(
        json.dumps(
            {
                "persist_level_ab": {
                    "image_mib": SIZE_MIB,
                    "rounds": ROUNDS,
                    "walls": obs,
                    "best": {k: min(v) for k, v in obs.items()},
                    "outputs_identical": True,
                    "host_start": host_start,
                    "host_end": host_snapshot(),
                }
            }
        )
    )


if __name__ == "__main__":
    main()
